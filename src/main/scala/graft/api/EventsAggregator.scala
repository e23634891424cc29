package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Stages
import graft.io.MatrixWriter
import graft.model._

/** Library facade mirroring the reference's `EventsAggregator`
  * (`/root/reference/src/mimic2ts/__init__.py:461-539`): one call aggregates
  * every enabled source over the CSVs in `{mimicPath}/icu/` into per-stay
  * feature × window matrices under `dstPath`.
  *
  * Differences from the reference, all deliberate (SURVEY.md §2.2):
  *  - `stayIds` / `featureIds` actually FILTER the data (the reference's
  *    `_do_filter` is dead code, `__init__.py:204-206`), with predicate
  *    pushdown to the CSV scan via Catalyst.
  *  - the whole pipeline is one declarative Spark plan per source: scan →
  *    project → [interval expand] → broadcast stay join → bucketize → one
  *    exchange → combine → densify → sink. No per-group Python, no driver
  *    loops over facts.
  *
  * @param stayIds    stays to keep and to emit (dummy matrices for stays with
  *                   no events). None = all stays in `icustays`.
  * @param featureIds features to keep. None = all.
  */
class EventsAggregator(
    spark: SparkSession,
    mimicPath: String,
    dstPath: String,
    stayIds: Option[Seq[Long]] = None,
    featureIds: Option[Seq[Long]] = None,
    timestepSeconds: Long = 3600,
    ffill: Boolean = false,
    sources: Seq[EventSource] = Sources.all,
    fillMode: Option[graft.etl.Stages.FillMode] = None) {

  /** Effective fill policy: explicit `fillMode` wins; else the reference's
    * boolean (`--ffill`) semantics.
    */
  private val fill: graft.etl.Stages.FillMode =
    fillMode.getOrElse(
      if (ffill) graft.etl.Stages.ForwardFill else graft.etl.Stages.ZeroFill)

  private def readCsv(fileName: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(s"$mimicPath/icu/$fileName")

  /** Stay dimension with epoch times and window counts, filtered to
    * `stayIds`; small — broadcast at every use. Collected once into a local
    * relation, so icustays.csv is scanned once per aggregator and every
    * pipeline's stay join and CSV header rows read the driver's copy.
    */
  lazy val stayIndex: DataFrame = {
    val idx0 = Stages.stayIndex(readCsv("icustays.csv", graft.schemas.MimicSchemas.icustays),
      timestepSeconds)
    val idx = stayIds.fold(idx0)(ids => Stages.membershipFilter(idx0, "stay_id", ids))
    spark.createDataFrame(java.util.Arrays.asList(idx.collect(): _*), idx.schema)
  }

  /** Long-form `(stay_id, feature_id, tidx, value)` densified series for one
    * source — the engine's canonical output (the CSV sink densifies the same
    * cells in its writer).
    */
  def aggregate(source: EventSource): DataFrame =
    Stages.densify(Stages.combine(bucketized(source), source.combiner), fill)

  /** One source's bucketized events `(stay_id, feature_id, tidx, value, total_windows)`. */
  private def bucketized(source: EventSource): DataFrame = {
    val raw = readCsv(source.fileName, source.schema)
    val keyed0 = raw
      .withColumn("feature_id", source.featureExpr.cast("long"))
      .withColumn("value", source.valueExpr.cast("double"))
    val keyed1 = stayIds.fold(keyed0)(ids =>
      Stages.membershipFilter(keyed0, "stay_id", ids))
    val keyed = featureIds.fold(keyed1)(ids =>
      Stages.membershipFilter(keyed1, "feature_id", ids))

    val pointed = source.timeSpec match {
      case PointTime(c) =>
        keyed.withColumn("event_epoch_time", Stages.epochSeconds(col(c)))
          .select("stay_id", "event_epoch_time", "feature_id", "value")
      case IntervalTime(s, e) =>
        Stages.intervalExpand(
          keyed.withColumn("start_epoch_time", Stages.epochSeconds(col(s)))
            .withColumn("end_epoch_time", Stages.epochSeconds(col(e)))
            .select("stay_id", "start_epoch_time", "end_epoch_time", "feature_id", "value"),
          timestepSeconds)
          .select("stay_id", "event_epoch_time", "feature_id", "value")
    }

    Stages.bucketize(pointed, stayIndex, timestepSeconds)
  }

  /** Run all sources: write matrices + dummy files + manifest (K1-K3).
    * `sink` picks the layout: [[graft.io.CsvMatrixSink]] (reference
    * contract, one CSV per stay) or [[graft.io.LongParquetSink]] (long-form
    * partitioned parquet + companion stay table — the layout that survives
    * millions of stays, where per-stay files are themselves the bottleneck).
    */
  def run(sink: graft.io.SinkMode = graft.io.CsvMatrixSink): Unit = {
    val t0 = System.nanoTime()
    // parallel pipelines write per-name output paths — a duplicate name
    // would race two writers on the same files (sequentially it was a
    // deterministic overwrite)
    require(sources.map(_.name).distinct.size == sources.size,
      s"source names must be distinct: ${sources.map(_.name)}")
    // source pipelines are independent (separate input files, separate
    // output trees) — submit them from parallel threads so one source's
    // sink/scan phases overlap another's compute; Spark schedules
    // concurrent jobs from multiple threads natively.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(sources.size, 4)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Try}
    val writeOne: EventSource => Unit = sink match {
      case graft.io.CsvMatrixSink => source =>
        MatrixWriter.writeMatrices(bucketized(source), stayIndex, source.combiner, fill,
          dstPath, source.name)
      case graft.io.LongParquetSink => source =>
        MatrixWriter.writeLongForm(aggregate(source), dstPath, source.name)
    }
    try {
      // all-settled await: no pipeline is abandoned mid-write on a sibling
      // failure, and EVERY failure is reported (first thrown, rest
      // suppressed) instead of only the one Await happened to see
      val results = Await.result(
        Future.sequence(sources.map(s => Future(Try(writeOne(s))))),
        Duration.Inf)
      val failures = results.collect { case Failure(e) => e }
      failures.headOption.foreach { first =>
        failures.drop(1).foreach(first.addSuppressed)
        throw first
      }
      if (sink == graft.io.LongParquetSink)
        MatrixWriter.writeStayIndex(stayIndex, dstPath)
    } finally pool.shutdown()
    MatrixWriter.writeManifest(spark, dstPath, timestepSeconds, ffill,
      fill.name, sources.map(_.name), (System.nanoTime() - t0) / 1e9)
  }
}
