package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import graft.api.{EventsAggregator, Sources}
import graft.etl.Stages
import graft.io.{CsvMatrixSink, LongParquetSink, SinkMode}
import graft.model.EventSource

/** One workload's engine configuration, as passed by `perfbench/run.py`. */
final case class Workload(
    input: String,
    timestep: Long,
    fill: Stages.FillMode,
    sink: SinkMode,
    sources: Seq[EventSource]) {

  def aggregator(spark: SparkSession, dst: String): EventsAggregator =
    new EventsAggregator(spark, input, dst, None, None, timestep,
      ffill = false, sources, Some(fill))
}

/** The largest heap in use right after a garbage collection since the last
  * [[reset]]: the program's own memory at its peak, give or take objects
  * promoted and not yet collected. Unlike the resident set, it does not
  * follow the heap size the JVM was given.
  */
object HeapAfterGc extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, used) }
    }

  /** Collect the heap, so every run starts from the same state, and start
    * the peak at what is left.
    */
  def reset(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { peak = used }
  }

  def peakMb: Double = synchronized(peak.toDouble) / (1024.0 * 1024.0)
}

/** JVM side of the ETL benchmark. It builds one `SparkSession`, reports how
  * long that took from process start, then serves commands read from stdin,
  * one a line, so `perfbench/run.py` can check every output between runs
  * without the checks landing inside a timed call:
  *
  *  - `run <dst>`: one `EventsAggregator.run` writing to `dst`; replies
  *    `@@done {"s": wall seconds of the call, "heap_mb": the peak of
  *    [[HeapAfterGc]] during the call}`. The heap is collected before the
  *    clock starts.
  *  - `trace <dst>`: the traced run and per-layer prefixes ([[Trace]]);
  *    replies `@@trace {...}`.
  *  - `quit`: stops the session and exits.
  *
  * Replies go to stdout behind an `@@` marker; Spark logs to stderr. A
  * command that throws replies `@@error {"message": ...}` and the loop
  * goes on, so `run.py` counts the failure and decides what to do.
  *
  * Usage: `perfbench.Harness --input DIR --timestep N --fill zero|interp
  *   --sink csv|long-parquet --sources a,b --cores N --start-ms EPOCH_MS`
  */
object Harness {

  def emit(kind: String, json: String): Unit = {
    System.out.println(s"@@$kind $json")
    System.out.flush()
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = opts("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    emit("ready", s"""{"setup_s": ${(System.currentTimeMillis() - opts("start-ms").toLong) / 1e3}}""")

    val byName = Sources.all.map(s => s.name -> s).toMap
    val wl = Workload(
      input = opts("input"),
      timestep = opts("timestep").toLong,
      fill = opts("fill") match {
        case "zero" => Stages.ZeroFill
        case "interp" => Stages.LinearInterp
      },
      sink = opts("sink") match {
        case "csv" => CsvMatrixSink
        case "long-parquet" => LongParquetSink
      },
      sources = opts("sources").split(",").toSeq.map(byName))
    HeapAfterGc.install()

    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val Array(cmd, dst) = line.trim.split(" ", 2)
      try cmd match {
        case "run" =>
          HeapAfterGc.reset()
          val t0 = System.nanoTime()
          wl.aggregator(spark, dst).run(wl.sink)
          val s = (System.nanoTime() - t0) / 1e9
          emit("done", s"""{"s": $s, "heap_mb": ${HeapAfterGc.peakMb}}""")
        case "trace" =>
          emit("trace", new Trace(spark, wl).run(dst))
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          emit("error", s"""{"message": ${jsonString(e.toString)}}""")
      }
      line = in.readLine()
    }
    spark.stop()
  }
}
