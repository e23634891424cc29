package graft.cli

import java.nio.file.Files

/** Bucketing demo/check: persist two tables bucketed by the join key, then
  * prove the join plans WITHOUT a shuffle on either side (no Exchange above
  * the scans) — the co-located-join strategy for repeated large-large joins
  * at scale, where pre-shuffling once at write time amortizes every later
  * join/aggregation on that key.
  *
  * Usage: `runMain graft.cli.BucketingDemo [sfDir]`. Exits nonzero if an
  * Exchange appears above the bucketed scans.
  */
object BucketingDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wh = Files.createTempDirectory("graft-warehouse").toString
    val spark = graft.util.LocalSession("4", conf = Map(
      "spark.sql.warehouse.dir" -> wh,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) // force the issue

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_b")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_b")

    val joined = spark.table("li_b")
      .join(spark.table("o_b"),
        spark.table("li_b")("l_orderkey") === spark.table("o_b")("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    val rows = joined.count()
    println(s"[bucketing-demo] rows=$rows exchanges_in_plan=$exchanges")
    println(plan.linesIterator.take(12).mkString("\n"))
    spark.stop()
    if (rows == 0 || exchanges > 0) sys.exit(1)
  }
}
