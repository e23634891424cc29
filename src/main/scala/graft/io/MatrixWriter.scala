package graft.io

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hadoop `Configuration` is not `Serializable`; this wrapper ships it to
  * executor tasks via its `Writable` form (public Hadoop API) so tasks can
  * open the SAME filesystem the driver resolved (s3a/hdfs credentials and
  * all) instead of whatever a fresh `new Configuration()` would load.
  */
private class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
  }
}

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
  * Spark-first shape ([[writeSeries]]): each densify-kernel series becomes
  * one CSV line as data (`concat_ws` + `array_join`, codegen'd), one header
  * row per `stayIdx` stay is unioned in, and ONE job writes both:
  * `repartition($"stay_id")` gives a stay's rows to one task, the sort puts
  * its header first, and `foreachPartition` opens the file at the header and
  * streams the lines after it. An eventless stay has a header row and no
  * lines, so K2's header-only file needs no anti-join and no second job. No
  * global pivot — width is a per-stay function, so a single wide schema
  * cannot exist (SURVEY.md §1.3) — and only executor tasks touch the facts.
  *
  * `dstPath` may carry any supported scheme: remote schemes (hdfs://,
  * s3a://, ...) write through the Hadoop `FileSystem` resolved from the
  * session's Hadoop configuration — the cluster-correct path a raw
  * `java.io.FileWriter` would break (it writes to the EXECUTOR-local disk
  * of whichever machine ran the task). The local scheme takes a direct
  * `java.nio` branch: without libhadoop (NativeCodeLoader warns), Hadoop's
  * RawLocalFileSystem applies permissions by EXEC'ING a `chmod` process per
  * created file — measured ~5 ms/file, +60% wall on a 2001-file run.
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

  /** UTF-8 buffered writer at `fullPath`, parents created; scheme dispatch
    * per the class note above.
    */
  private def openWriter(conf: Configuration, fullPath: String): BufferedWriter =
    schemeOf(fullPath) match {
      case None | Some("file") =>
        val p =
          if (fullPath.startsWith("file:"))
            java.nio.file.Paths.get(new java.net.URI(fullPath))
          else java.nio.file.Paths.get(fullPath)
        if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.newBufferedWriter(p, StandardCharsets.UTF_8)
      case Some(_) =>
        // no setWriteChecksum here: Path.getFileSystem returns the
        // JVM-cached shared instance, and mutating it would disable
        // client checksums for every other writer in the process (.crc
        // sidecars only afflict the LOCAL ChecksumFileSystem, which the
        // java.nio branch bypasses entirely)
        val fs = new Path(fullPath).getFileSystem(conf)
        new BufferedWriter(new OutputStreamWriter(
          fs.create(new Path(fullPath), true), StandardCharsets.UTF_8))
    }

  /** Long-form adapter over [[writeSeries]]: regroups `(stay_id,
    * feature_id, tidx, value)` rows into one `tidx`-ordered series per
    * (stay, feature). Rows of stays missing from `stayIdx` are not written.
    */
  def write(densified: DataFrame, stayIdx: DataFrame, dstPath: String,
      sourceName: String): Unit =
    writeSeries(
      densified.groupBy("stay_id", "feature_id")
        .agg(array_sort(collect_list(struct(col("tidx"), col("value"))))
          .getField("value").as("series")),
      stayIdx, dstPath, sourceName)

  /** One matrix line per `(stay_id, feature_id, series: array<double>)` row
    * and one header per `stayIdx` (`stay_id`, `total_windows`) stay. */
  def writeSeries(series: DataFrame, stayIdx: DataFrame, dstPath: String,
      sourceName: String): Unit = {
    val hconf = new SerializableHadoopConf(
      series.sparkSession.sparkContext.hadoopConfiguration)
    // kind 0 = header row, 1 = matrix line: a null feature_id is a real
    // (unparseable-itemid) line, so it cannot mark the header
    val lines = series
      .select(col("stay_id"), lit(1).as("kind"), col("feature_id"),
        concat_ws(",", col("feature_id").cast("string"),
          array_join(col("series").cast("array<string>"), ",")).as("line"))
    stayIdx.select(col("stay_id"), lit(0).as("kind"), col("total_windows"))
      .unionByName(lines, allowMissingColumns = true)
      .repartition(col("stay_id"))
      .sortWithinPartitions("stay_id", "kind", "feature_id")
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        var openStay = Long.MinValue
        var out: BufferedWriter = null
        def close(): Unit = if (out != null) { out.close(); out = null }
        try {
          rows.foreach { r =>
            val stay = r.getLong(0)
            if (r.getInt(1) == 0) {
              close()
              openStay = stay
              out = openWriter(hconf.value,
                s"$dstPath/$stay/${sourceName}_features.csv")
              out.write(header(r.getLong(2)))
              out.newLine()
            } else if (out != null && stay == openStay) {
              out.write(r.getString(4))
              out.newLine()
            }
          }
        } finally close()
      }
  }

  /** Long-form partitioned-parquet sink — the >100k-stays alternative to
    * per-stay CSV files (SCALE.md): at millions of stays the matrix layout
    * IS the bottleneck (millions of tiny files and directories), so the
    * scale path keeps the engine's canonical long form
    * `(stay_id, feature_id, tidx, value)` as one parquet dataset per source
    * under `{dst}/long/source={name}/` (sources as Hive-style partitions —
    * `spark.read.parquet("{dst}/long")` exposes a `source` column with
    * partition pruning). Rows are repartitioned and sorted by stay so each
    * stay lives in one file with tight row-group min/max stats on `stay_id`
    * — a per-stay read prunes to one row group instead of scanning the
    * dataset. Use [[writeStayIndex]] once per run for the companion
    * `(stay_id, total_windows)` table; a reader reconstructs any stay's
    * matrix from the two (dummy stays need no special casing — they are
    * simply absent from the long table).
    */
  def writeLongForm(densified: DataFrame, dstPath: String,
      sourceName: String): Unit =
    densified.select("stay_id", "feature_id", "tidx", "value")
      .repartition(col("stay_id"))
      .sortWithinPartitions("stay_id", "feature_id", "tidx")
      .write.mode("overwrite")
      .parquet(s"$dstPath/long/source=$sourceName")

  /** Companion stay dimension for [[writeLongForm]] readers. */
  def writeStayIndex(stayIdx: DataFrame, dstPath: String): Unit =
    stayIdx.select("stay_id", "total_windows")
      .coalesce(1) // dimension-sized
      .write.mode("overwrite").parquet(s"$dstPath/long_stays")

  private def header(totalWindows: Long): String =
    (0L to totalWindows).mkString("feature_id,", ",", "")

  /** K3: run manifest, mirroring `/root/reference/src/mimic2ts/__main__.py:83-91`
    * plus the RESOLVED fill policy (the raw `ffill` flag alone misreports
    * runs using the fillMode override).
    */
  def writeManifest(spark: org.apache.spark.sql.SparkSession, dstPath: String,
      timestepSeconds: Long, ffill: Boolean, fillPolicy: String,
      sources: Seq[String], runtimeSec: Double): Unit = {
    val out = openWriter(spark.sparkContext.hadoopConfiguration,
      s"$dstPath/readme.txt")
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
