package graft.cli

import graft.api.{EventsAggregator, Sources}

/** CLI mirroring the reference's `python -m mimic2ts src dst [--exclude
  * --timestep --ffill --stay-ids --feature-ids]`
  * (`/root/reference/src/mimic2ts/__main__.py:7-91`). `--blocksize` maps to
  * Spark's `spark.sql.files.maxPartitionBytes` knob.
  */
object Main {
  private val usage =
    """usage: graft.cli.Main <mimic_path> <dst_path>
      |  [--exclude chartevents,inputevents,...]
      |  [--timestep SECONDS]            (default 3600)
      |  [--ffill]
      |  [--fill zero|ffill|interp]       (overrides --ffill)
      |  [--stay-ids id,id,...]
      |  [--feature-ids id,id,...]
      |  [--max-partition-bytes N]
      |  [--sink csv|long-parquet]        (default csv: per-stay matrices)
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println(usage); sys.exit(2) }
    val src = args(0)
    val dst = args(1)
    var exclude = Set.empty[String]
    var timestep = 3600L
    var ffill = false
    var fillMode: Option[graft.etl.Stages.FillMode] = None
    var stayIds: Option[Seq[Long]] = None
    var featureIds: Option[Seq[Long]] = None
    var maxPartitionBytes = "134217728"
    var sink: graft.io.SinkMode = graft.io.CsvMatrixSink
    var i = 2
    while (i < args.length) {
      args(i) match {
        case "--exclude" => exclude = args(i + 1).split(",").map(_.trim).toSet; i += 2
        case "--timestep" => timestep = args(i + 1).toLong; i += 2
        case "--ffill" => ffill = true; i += 1
        case "--fill" =>
          fillMode = Some(args(i + 1) match {
            case "zero" => graft.etl.Stages.ZeroFill
            case "ffill" => graft.etl.Stages.ForwardFill
            case "interp" => graft.etl.Stages.LinearInterp
            case other => System.err.println(s"unknown fill mode: $other"); sys.exit(2)
          }); i += 2
        case "--stay-ids" => stayIds = Some(args(i + 1).split(",").map(_.trim.toLong).toSeq); i += 2
        case "--feature-ids" => featureIds = Some(args(i + 1).split(",").map(_.trim.toLong).toSeq); i += 2
        case "--max-partition-bytes" => maxPartitionBytes = args(i + 1); i += 2
        case "--sink" =>
          sink = args(i + 1) match {
            case "csv" => graft.io.CsvMatrixSink
            case "long-parquet" => graft.io.LongParquetSink
            case other => System.err.println(s"unknown sink: $other"); sys.exit(2)
          }; i += 2
        case other => System.err.println(s"unknown arg: $other\n$usage"); sys.exit(2)
      }
    }
    val spark = graft.util.LocalSession(
      master = Some(sys.env.getOrElse("SPARK_MASTER", "local[*]")),
      conf = Map("spark.sql.files.maxPartitionBytes" -> maxPartitionBytes))
    // stage/row progress on the console — the reference's ProgressBar analog
    spark.sparkContext.addSparkListener(new ProgressListener)
    val sources = Sources.all.filterNot(s => exclude.contains(s.name))
    new EventsAggregator(spark, src, dst, stayIds, featureIds, timestep, ffill,
      sources, fillMode).run(sink)
    spark.stop()
  }
}
