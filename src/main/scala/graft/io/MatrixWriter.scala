package graft.io

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

import graft.etl.Stages
import graft.functions.DensifyFillKernel
import graft.model.Combiner

/** Sink selection for [[graft.api.EventsAggregator.run]]. */
sealed trait SinkMode
/** One CSV matrix per (stay, source) — the reference's layout. */
case object CsvMatrixSink extends SinkMode
/** Long-form partitioned parquet — the >100k-stays scale layout. */
case object LongParquetSink extends SinkMode

/** The per-(stay, source) matrix CSV sink (SURVEY.md §7.4 hard part #1).
  *
  * Contract (reference `/root/reference/src/mimic2ts/__init__.py:174`,
  * `tests/test_EventsAggregator.py:65-72`): one file
  * `{dst}/{stay_id}/{source}_features.csv`, header `feature_id,0,1,...,n`
  * with `n = total_windows` (per-stay dynamic width), rows sorted by
  * `feature_id`, cells = combined value with 0.0 fill. A requested stay with
  * no events still gets a header-only file (`__init__.py:218-225`).
  *
  * Spark-first shape ([[writeMatrices]]), one exchange and one streaming
  * pass per source: one header row per stay-index stay (`tidx = -1`, which
  * bucketize never emits) is unioned into the bucketized events, and
  * [[graft.etl.Stages.combine]]'s `repartition($"stay_id")` — the one
  * exchange — gives each stay's rows to one task, with no partial
  * aggregate in front of it (see combine). `sortWithinPartitions(
  * stay_id, feature_id, tidx)` puts each stay's header first and each
  * (stay, feature) run's cells in window order, and a [[CsvPartitionWriter]]
  * streams the stays: it opens a stay's file at its header, densifies and
  * fills each feature run with [[graft.functions.DensifyFillKernel.walk]]
  * — the walk [[graft.etl.Stages.densify]] runs — and writes each series
  * as a line straight to the file. An eventless stay has a header row and
  * no cells, so K2's header-only file needs no anti-join and no second
  * job. No global pivot —
  * width is a per-stay function, so a single wide schema cannot exist
  * (SURVEY.md §1.3) — and only executor tasks touch the facts.
  *
  * The header rows share the events' exchange on purpose: under a `Union`
  * of two separately repartitioned sides, AQE coalesces each side's
  * partitions on its own, so a stay's header and its lines can land in
  * different tasks. [[writeCombined]], whose cells skip combine, makes
  * the same exchange itself.
  *
  * `dstPath` may carry any supported scheme: remote schemes (hdfs://,
  * s3a://, ...) write through the Hadoop `FileSystem` resolved from the
  * session's Hadoop configuration — the cluster-correct path a raw
  * `java.io.FileWriter` would break (it writes to the EXECUTOR-local disk
  * of whichever machine ran the task). The local scheme takes a direct
  * `java.nio` branch: without libhadoop (NativeCodeLoader warns), Hadoop's
  * RawLocalFileSystem applies permissions by EXEC'ING a `chmod` process per
  * created file — measured ~5 ms/file, +60% wall on a 2001-file run. Only
  * a remote destination ships the session's Hadoop configuration to the
  * tasks (Spark's `SerializableConfiguration`), so a task opens the
  * filesystem the driver resolved, credentials and all, not the one a
  * fresh `Configuration` would load.
  *
  * For >100k stays the per-stay-file layout itself is the bottleneck
  * (millions of small files); [[writeLongForm]] is the scale alternative.
  */
object MatrixWriter {

  /** Scheme of `path` by prefix scan — NOT `new java.net.URI(path)`, which
    * throws on URI-illegal characters (spaces, '%', '#') that are legal in
    * plain filesystem paths. A scheme needs >= 2 chars so `C:\out` stays a
    * local path (the standard Hadoop convention).
    */
  private def schemeOf(path: String): Option[String] = {
    val i = path.indexOf(':')
    if (i >= 2 && path(0).isLetter &&
        path.substring(1, i).forall(c => c.isLetterOrDigit || "+.-".contains(c)))
      Some(path.substring(0, i).toLowerCase(java.util.Locale.ROOT))
    else None
  }

  private def isLocal(path: String): Boolean = schemeOf(path) match {
    case None | Some("file") => true
    case Some(_) => false
  }

  /** UTF-8 buffered writer at `fullPath`, parents created; scheme dispatch
    * per the class note above. `conf` is read for remote schemes only.
    */
  private[io] def openWriter(conf: Configuration, fullPath: String): BufferedWriter =
    if (isLocal(fullPath)) {
      val p =
        if (fullPath.startsWith("file:"))
          java.nio.file.Paths.get(new java.net.URI(fullPath))
        else java.nio.file.Paths.get(fullPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    } else {
      // no setWriteChecksum here: Path.getFileSystem returns the
      // JVM-cached shared instance, and mutating it would disable
      // client checksums for every other writer in the process (.crc
      // sidecars only afflict the LOCAL ChecksumFileSystem, which the
      // java.nio branch bypasses entirely)
      val fs = new Path(fullPath).getFileSystem(conf)
      new BufferedWriter(new OutputStreamWriter(
        fs.create(new Path(fullPath), true), StandardCharsets.UTF_8))
    }

  /** The run's CSV sink for one source: `bucketized` events
    * `(stay_id, feature_id, tidx, value)` are combined per (stay, feature,
    * window) with `combiner`, densified and filled per `fill`, and written
    * with one header per `stayIdx` (`stay_id`, `total_windows`) stay — one
    * exchange, one job.
    */
  def writeMatrices(bucketized: DataFrame, stayIdx: DataFrame, combiner: Combiner,
      fill: Stages.FillMode, dstPath: String, sourceName: String): Unit =
    writeSorted(Stages.combine(withHeaders(bucketized, stayIdx), combiner),
      fill, dstPath, sourceName)

  /** Write already combined `(stay_id, feature_id, tidx, value)` cells, at
    * most one per (stay, feature, window), densified and filled per `fill`.
    */
  def writeCombined(combined: DataFrame, stayIdx: DataFrame, fill: Stages.FillMode,
      dstPath: String, sourceName: String): Unit =
    writeSorted(withHeaders(combined, stayIdx).repartition(col("stay_id")),
      fill, dstPath, sourceName)

  /** Long-form adapter: writes the dense `(stay_id, feature_id, tidx,
    * value)` rows of [[graft.api.EventsAggregator.aggregate]] as they are
    * (the zero fill of a dense series is the identity). Every row's stay
    * must be in `stayIdx`; a row of any other stay fails the write.
    */
  def write(densified: DataFrame, stayIdx: DataFrame, dstPath: String,
      sourceName: String): Unit =
    writeCombined(densified, stayIdx, Stages.ZeroFill, dstPath, sourceName)

  /** `cells` plus one `tidx = -1` header row per `stayIdx` stay. */
  private def withHeaders(cells: DataFrame, stayIdx: DataFrame): DataFrame =
    stayIdx.select(col("stay_id"), lit(null).cast("long").as("feature_id"),
        lit(-1L).as("tidx"), lit(null).cast("double").as("value"), col("total_windows"))
      .unionByName(cells.select("stay_id", "feature_id", "tidx", "value"),
        allowMissingColumns = true)

  private def writeSorted(cells: DataFrame, fill: Stages.FillMode, dstPath: String,
      sourceName: String): Unit = {
    val hconf =
      if (isLocal(dstPath)) None
      else Some(new SerializableConfiguration(cells.sparkSession.sparkContext.hadoopConfiguration))
    cells.select("stay_id", "feature_id", "tidx", "value", "total_windows")
      .sortWithinPartitions("stay_id", "feature_id", "tidx")
      .foreachPartition(new CsvPartitionWriter(dstPath, sourceName, fill, hconf))
  }

  /** Long-form partitioned-parquet sink — the >100k-stays alternative to
    * per-stay CSV files (SCALE.md): at millions of stays the matrix layout
    * IS the bottleneck (millions of tiny files and directories), so the
    * scale path keeps the engine's canonical long form
    * `(stay_id, feature_id, tidx, value)` as one parquet dataset per source
    * under `{dst}/long/source={name}/` (sources as Hive-style partitions —
    * `spark.read.parquet("{dst}/long")` exposes a `source` column with
    * partition pruning). `densified` is [[graft.etl.Stages.densify]]'s
    * output, already clustered by stay by [[graft.etl.Stages.combine]]'s
    * exchange (the write's only one, with no partial aggregate in front of
    * it; see combine) and sorted by `(stay_id, feature_id, tidx)` within
    * each partition, so it is written as it arrives, with no exchange of
    * its own: each stay lives in one
    * file with tight row-group min/max stats on `stay_id` — a per-stay read
    * prunes to one row group instead of scanning the dataset. Another
    * input is written in its own order and layout. Use [[writeStayIndex]]
    * once per run for the companion
    * `(stay_id, total_windows)` table; a reader reconstructs any stay's
    * matrix from the two (dummy stays need no special casing — they are
    * simply absent from the long table).
    */
  def writeLongForm(densified: DataFrame, dstPath: String,
      sourceName: String): Unit =
    densified.select("stay_id", "feature_id", "tidx", "value")
      .write.mode("overwrite")
      .parquet(s"$dstPath/long/source=$sourceName")

  /** Companion stay dimension for [[writeLongForm]] readers. */
  def writeStayIndex(stayIdx: DataFrame, dstPath: String): Unit =
    stayIdx.select("stay_id", "total_windows")
      .coalesce(1) // dimension-sized
      .write.mode("overwrite").parquet(s"$dstPath/long_stays")

  private[io] def header(totalWindows: Long): String =
    (0L to totalWindows).mkString("feature_id,", ",", "")

  /** K3: run manifest, mirroring `/root/reference/src/mimic2ts/__main__.py:83-91`
    * plus the RESOLVED fill policy (the raw `ffill` flag alone misreports
    * runs using the fillMode override).
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, dstPath: String,
      timestepSeconds: Long, ffill: Boolean, fillPolicy: String,
      sources: Seq[String], runtimeSec: Double): Unit = {
    val out = openWriter(spark.sparkContext.hadoopConfiguration, s"$dstPath/readme.txt")
    try out.write(
      s"""graft spark-native events aggregator
         |version: 0.1.0
         |runtime: $runtimeSec sec
         |timestep_seconds: $timestepSeconds
         |ffill: $ffill
         |fill_policy: $fillPolicy
         |sources: ${sources.mkString(", ")}
         |""".stripMargin)
    finally out.close()
  }
}

/** The [[MatrixWriter]] task body over rows `(stay_id, feature_id, tidx,
  * value, total_windows)` sorted by `(stay_id, feature_id, tidx)`: a
  * `tidx = -1` row opens its stay's file and writes the header of width
  * `total_windows + 1`; the [[DensifyFillKernel.walk]] over the cells up
  * to the next header fills each (feature, window) run per `mode`, and
  * each series is written as one line, its `feature_id` first. A cell
  * whose stay has no open header, or whose `feature_id` is null, fails
  * the task: no run reaches either case (bucketize drops a null feature),
  * and writing the line without its header or its id would corrupt the
  * file silently.
  */
private final class CsvPartitionWriter(dstPath: String, sourceName: String,
    mode: Stages.FillMode, hconf: Option[SerializableConfiguration])
    extends (Iterator[Row] => Unit) with Serializable {

  override def apply(rows: Iterator[Row]): Unit = {
    val in = rows.buffered
    def isHeader(r: Row): Boolean = !r.isNullAt(2) && r.getLong(2) == -1L
    def headerless(stay: Long): Nothing = throw new IllegalStateException(
      s"$sourceName: cells of stay $stay reached the writer without its header row")
    while (in.hasNext) {
      val h = in.next()
      val stay = h.getLong(0)
      if (!isHeader(h)) headerless(stay)
      val totalWindows = h.getLong(4)
      val n = DensifyFillKernel.seriesLength(totalWindows)
      val cells = new scala.collection.AbstractIterator[Row] {
        override def hasNext: Boolean = in.hasNext && !isHeader(in.head)
        override def next(): Row = {
          val r = in.next()
          if (r.getLong(0) != stay) headerless(r.getLong(0))
          r
        }
      }
      val out = MatrixWriter.openWriter(hconf.map(_.value).orNull,
        s"$dstPath/$stay/${sourceName}_features.csv")
      try {
        out.write(MatrixWriter.header(totalWindows))
        out.newLine()
        DensifyFillKernel.walk(cells, mode)(_ => n).foreach { s =>
          if (s.feature == null) throw new IllegalStateException(
            s"$sourceName: a cell of stay $stay with a null feature_id reached the writer")
          out.write(s.feature.toString)
          out.write(',')
          var t = 0
          while (t < n) {
            if (t > 0) out.write(',')
            val v = s.values(t)
            // +0.0, the gap fill, is most of the cells
            out.write(if (java.lang.Double.doubleToRawLongBits(v) == 0L) "0.0"
              else java.lang.Double.toString(v))
            t += 1
          }
          out.newLine()
        }
      } finally out.close()
    }
  }
}
