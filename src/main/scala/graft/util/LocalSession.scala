package graft.util

import org.apache.spark.sql.SparkSession

/** The one session policy of the entry points: `local[cores]` with as
  * many shuffle partitions as cores, UTC session time, no UI, WARN
  * logging, and parquet nanosecond timestamps read as longs instead of
  * failing the scan. AQE is Spark's default and stays on.
  * A caller passes only what really differs: `cores` (default
  * `SPARK_GRAFT_CPUS`, else 32), a `master` other than `local[cores]`,
  * and extra `conf`.
  */
object LocalSession {

  def defaultCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(cores: String = defaultCores, master: Option[String] = None,
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
