package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Stages
import graft.io.{CsvMatrixSink, LongParquetSink, MatrixWriter}
import graft.model.{EventSource, IntervalTime, PointTime}

/** Task statistics per stage, tagged with the job group that was set when
  * the stage's first job started. The benchmark registers it only for the
  * traced run, never for the timed ones.
  */
final class StageRecorder extends SparkListener {
  final class StageStat(val stageId: Int, val jobId: Int, val group: String) {
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var maxTaskMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var rowsIn = 0L
    var recordsRead = 0L
    var bytesRead = 0L
  }

  private val stageOwner = mutable.Map[Int, (Int, String)]()
  private val jobList = mutable.ArrayBuffer[(Int, String)]()
  private val stageMap = mutable.LinkedHashMap[Int, StageStat]()
  private val endedGroups = mutable.Set[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobList += ((e.jobId, group))
    e.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, (e.jobId, group)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobList.find(_._1 == e.jobId).foreach(j => endedGroups += j._2)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (job, group) = stageOwner.getOrElse(e.stageId, (-1, ""))
    val st = stageMap.getOrElseUpdate(e.stageId, new StageStat(e.stageId, job, group))
    st.tasks += 1
    st.maxTaskMs = math.max(st.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.spill += m.diskBytesSpilled
      st.recordsRead += m.inputMetrics.recordsRead
      st.bytesRead += m.inputMetrics.bytesRead
      st.rowsIn += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
    }
  }

  def ended(group: String): Boolean = synchronized(endedGroups.contains(group))
  def stages: Seq[StageStat] = synchronized(stageMap.values.toSeq)
  def jobs(group: String): Seq[Int] = synchronized(jobList.filter(_._2 == group).map(_._1).toSeq)
}

/** The traced run: one `EventsAggregator.run` under a [[StageRecorder]],
  * then every source's pipeline cut into cumulative prefixes built from the
  * layers' public functions (`Stages.*`, `MatrixWriter.*`), each executed
  * in full with Spark's built-in `noop` sink. A layer's self time is the
  * difference between its prefix and the one before it; the sink's is the
  * real write minus the `noop` of the same densified plan.
  *
  * The prefixes repeat the composition in `EventsAggregator.aggregate`; the
  * densify prefix is compared against `aggregate`'s own plan and any source
  * whose plans differ is listed under `plan_mismatch` in the reply.
  */
final class Trace(spark: SparkSession, wl: Workload) {

  private val rec = new StageRecorder
  private val Reps = 2

  private var drains = 0

  /** Wait until the recorder has seen every event posted so far: listener
    * events arrive asynchronously, in order, so once a sentinel job's end
    * is seen, every earlier task's end has been seen too.
    */
  private def drain(): Unit = {
    drains += 1
    val tag = s"drain#$drains"
    timed(tag)(spark.sparkContext.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30e9.toLong
    while (!rec.ended(tag) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private def timed(group: String)(f: => Unit): Double = {
    spark.sparkContext.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try { f; (System.nanoTime() - t0) / 1e9 }
    finally spark.sparkContext.clearJobGroup()
  }

  /** Execute `df` in full (noop sink); returns (rows out, wall seconds). */
  private def noop(df: DataFrame, group: String): (Long, Double) = {
    val obs = Observation(group)
    val s = timed(group) {
      df.observe(obs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
    }
    (obs.get("rows").asInstanceOf[Long], s)
  }

  private def readCsv(fileName: String, schema: org.apache.spark.sql.types.StructType) =
    spark.read.schema(schema).option("header", "true").csv(s"${wl.input}/icu/$fileName")

  /** Cumulative prefixes of one source's pipeline, in layer order. */
  private def prefixes(src: EventSource, stayIdx: DataFrame): Seq[(String, DataFrame)] = {
    val raw = readCsv(src.fileName, src.schema)
    val keyed = raw
      .withColumn("feature_id", src.featureExpr.cast("long"))
      .withColumn("value", src.valueExpr.cast("double"))
    val (scanned, expanded) = src.timeSpec match {
      case PointTime(c) =>
        (keyed.withColumn("event_epoch_time", Stages.epochSeconds(col(c)))
          .select("stay_id", "event_epoch_time", "feature_id", "value"), None)
      case IntervalTime(s, e) =>
        val iv = keyed
          .withColumn("start_epoch_time", Stages.epochSeconds(col(s)))
          .withColumn("end_epoch_time", Stages.epochSeconds(col(e)))
          .select("stay_id", "start_epoch_time", "end_epoch_time", "feature_id", "value")
        (iv, Some(Stages.intervalExpand(iv, wl.timestep)
          .select("stay_id", "event_epoch_time", "feature_id", "value")))
    }
    val bucketized = Stages.bucketize(expanded.getOrElse(scanned), stayIdx, wl.timestep)
    val combined = Stages.combine(bucketized, src.combiner)
    val densified = Stages.densify(combined, wl.fill)
    Seq("scan" -> scanned) ++ expanded.map("etl.expand" -> _) ++
      Seq("etl.bucketize" -> bucketized, "etl.combine" -> combined, "etl.densify" -> densified)
  }

  private def sizeOf(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }

  /** One prefix measurement: the fastest of [[Reps]] executions. */
  private final case class Cut(layer: String, group: String, rows: Long, s: Double)

  private def fastest(layer: String, src: String)(exec: String => (Long, Double)): Cut =
    (1 to Reps).map { r =>
      val g = s"$src/$layer#$r"
      val (rows, s) = exec(g)
      Cut(layer, g, rows, s)
    }.minBy(_.s)

  private def sum(group: String)(f: rec.StageStat => Long): Long =
    rec.stages.filter(_.group == group).map(f).sum

  /** Stages a layer adds: the jobs of its prefix past the shuffle jobs the
    * previous prefix already ran (with AQE every exchange is its own job,
    * and the previous prefix's last job is its result stage).
    */
  private def ownStages(cut: Cut, prev: Option[Cut]): Seq[rec.StageStat] = {
    val skip = prev.map(p => math.max(0, rec.jobs(p.group).size - 1)).getOrElse(0)
    val own = rec.jobs(cut.group).drop(skip).toSet
    rec.stages.filter(s => own.contains(s.jobId))
  }

  def run(dst: String): String = {
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      val agg = wl.aggregator(spark, dst)
      val runS = timed("run")(agg.run(wl.sink))
      drain()
      val runStages = rec.stages.filter(_.group == "run")

      val probe = wl.aggregator(spark, s"$dst.trace")
      val stayIdx = probe.stayIndex
      val stayIndexS = timed("api.stay_index")(stayIdx.persist().count())

      val m = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
      val perSource = mutable.ArrayBuffer[String]()
      val mismatch = mutable.ArrayBuffer[String]()
      var serial = stayIndexS
      try wl.sources.foreach { src =>
        val pre = prefixes(src, stayIdx)
        if (!pre.last._2.queryExecution.optimizedPlan
            .sameResult(probe.aggregate(src).queryExecution.optimizedPlan))
          mismatch += src.name
        val cuts = pre.map { case (layer, df) => fastest(layer, src.name)(g => noop(df, g)) }
        val sinkDir = Paths.get(s"$dst.trace", src.name)
        val sink = fastest("io.write", src.name) { g =>
          val s = timed(g)(wl.sink match {
            case CsvMatrixSink =>
              MatrixWriter.write(pre.last._2, stayIdx, sinkDir.toString, src.name)
            case LongParquetSink =>
              MatrixWriter.writeLongForm(pre.last._2, sinkDir.toString, src.name)
          })
          (0L, s)
        }
        drain()
        val all = cuts :+ sink
        val prev: Map[String, Cut] = all.zip(all.tail).map { case (a, b) => b.layer -> a }.toMap
        val byLayer = all.map(c => c.layer -> c).toMap
        def self(c: Cut): Double = c.s - prev.get(c.layer).map(_.s).getOrElse(0.0)
        def selfSum(c: Cut)(f: rec.StageStat => Long): Long =
          sum(c.group)(f) - prev.get(c.layer).map(p => sum(p.group)(f)).getOrElse(0L)
        def add(k: String, v: Double): Unit = m(k) += v
        def maxOf(k: String, v: Double): Unit = m(k) = math.max(m(k), v)

        serial += sink.s
        val scan = byLayer("scan")
        add("scan.s", scan.s)
        add("scan.rows", sum(scan.group)(_.recordsRead).toDouble)
        add("scan.bytes_in", sum(scan.group)(_.bytesRead).toDouble)
        byLayer.get("etl.expand").foreach { c =>
          add("etl.expand.s", self(c))
          add("etl.expand.rows_in", scan.rows.toDouble)
          add("etl.expand.rows_out", c.rows.toDouble)
        }
        val b = byLayer("etl.bucketize")
        add("etl.bucketize.s", self(b))
        add("etl.bucketize.rows_out", b.rows.toDouble)
        add("etl.bucketize.rows_dropped", (prev(b.layer).rows - b.rows).toDouble)
        val c = byLayer("etl.combine")
        add("etl.combine.s", self(c))
        add("etl.combine.rows_out", c.rows.toDouble)
        add("etl.combine.shuffle_bytes", selfSum(c)(_.shuffleWrite).toDouble)
        val d = byLayer("etl.densify")
        val dOwn = ownStages(d, prev.get(d.layer))
        add("etl.densify.s", self(d))
        add("etl.densify.cells", d.rows.toDouble)
        add("etl.densify.tasks", dOwn.map(_.tasks).sum.toDouble)
        maxOf("etl.densify.max_task_s", (dOwn.map(_.maxTaskMs) :+ 0L).max / 1e3)
        add("etl.densify.spill_bytes", dOwn.map(_.spill).sum.toDouble)
        val wOwn = ownStages(sink, Some(d))
        val (files, bytes) = sizeOf(sinkDir)
        add("io.write.s", self(sink))
        add("io.write.files", files.toDouble)
        add("io.write.bytes", bytes.toDouble)
        add("io.write.shuffle_bytes", selfSum(sink)(_.shuffleWrite).toDouble)
        maxOf("io.write.max_task_s", (wOwn.map(_.maxTaskMs) :+ 0L).max / 1e3)
        perSource += s"${Harness.jsonString(src.name)}: {" + all.map { c =>
          s"${Harness.jsonString(c.layer)}: {" +
            s""""s": ${c.s}, "self_s": ${self(c)}, "rows": ${c.rows}}"""
        }.mkString(", ") + "}"
      } finally stayIdx.unpersist()

      m("api.stay_index.s") = stayIndexS
      m("api.sources_serial.s") = serial
      m("spark.stages") = runStages.size
      m("spark.tasks") = runStages.map(_.tasks).sum
      m("spark.task_s") = runStages.map(_.runMs).sum / 1e3
      m("spark.gc_s") = runStages.map(_.gcMs).sum / 1e3
      m("spark.shuffle_bytes") = runStages.map(_.shuffleWrite).sum.toDouble
      m("spark.spill_bytes") = runStages.map(_.spill).sum.toDouble
      m("spark.max_single_task_stage_rows") =
        (runStages.filter(_.tasks == 1).map(_.rowsIn) :+ 0L).max.toDouble
      val stageRows = runStages.map { s =>
        s"""{"stage": ${s.stageId}, "job": ${s.jobId}, "tasks": ${s.tasks}, """ +
          s""""task_s": ${s.runMs / 1e3}, "max_task_s": ${s.maxTaskMs / 1e3}, """ +
          s""""rows_in": ${s.rowsIn}, "shuffle_bytes": ${s.shuffleWrite}, "spill_bytes": ${s.spill}}"""
      }
      s"""{"run_s": $runS, "metrics": {""" +
        m.map { case (k, v) => s"${Harness.jsonString(k)}: $v" }.mkString(", ") +
        "}, \"sources\": {" + perSource.mkString(", ") + "}, \"run_stages\": [" +
        stageRows.mkString(", ") + "], \"plan_mismatch\": [" +
        mismatch.map(Harness.jsonString).mkString(", ") + "]}"
    } finally sc.removeSparkListener(rec)
  }
}
