package graft.cli

import graft.api.CorpusCleaner

/** CLI for the corpus-cleaning pipeline.
  *
  * Usage: `runMain graft.cli.CorpusClean <documentsParquet> <outDir>
  * [minQuality]` — writes cleaned parquet + prints per-stage drop counts.
  */
object CorpusClean {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val minQuality = if (args.length > 2) args(2).toDouble else 0.3
    val spark = graft.util.LocalSession()
    val docs = spark.read.parquet(in)
    val report = new CorpusCleaner(minQuality = minQuality).clean(docs)
    report.docs.write.mode("overwrite").parquet(out)
    report.dropCounts.toSeq.sortBy(_._1)
      .foreach { case (k, v) => println(s"[corpus-clean] $k=$v") }
    println(s"[corpus-clean] near_dup_converged=${report.nearDupConverged} " +
      s"(iterations=${report.nearDupIterations})")
    if (!report.nearDupConverged)
      System.err.println("[corpus-clean] WARNING: near-dup components hit " +
        "maxIters — output may keep under-merged duplicate chains")
    spark.stop()
  }
}
