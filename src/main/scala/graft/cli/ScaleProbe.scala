package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The empirical scale probe's corpus: a `factor`× replica of the gate
  * corpus. `graft.Bench scale` builds it and times named gates against the
  * base and scaled dirs, reporting wall-clock scaling factors (SCALE.md's
  * measured complement to the plan-shape review).
  *
  * Replication is deterministic and STRUCTURE-PRESERVING: replica r of a
  * document rotates its lowercase letters by r (`translate`), so texts
  * stay realistic but shingles/fingerprints are disjoint across replicas —
  * dedup/near-dup group structure repeats per replica instead of forming
  * factor-sized cross-replica mega-groups (which would measure a workload
  * BLOWUP the real corpus doesn't have, not the operator's scaling).
  * Embeddings shift dim 0 by r/10 (cosine structure preserved within a
  * replica, no cross-replica collinearity); events replicate users with
  * fresh ids (per-user series identical, 10× users).
  *
  * `scaleTpch` also replicates the TPC-H star fk-preservingly — the
  * corpus for the full-surface sf1 sweep (`Bench scale … buildfull`);
  * without it the star is copied untouched (`build`).
  */
object ScaleProbe {

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  def buildScaled(spark: SparkSession, sfDir: String, outDir: String,
      factor: Int, scaleTpch: Boolean = false): Unit = {
    def t(name: String): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet")

    if (!scaleTpch) {
      // per-gate probes: the TPC-H star copies through untouched (the
      // probed gates are documents/embeddings/events consumers)
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem").foreach { name =>
        t(name).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      }
    } else {
      // full-surface scale build (the sf1 sweep): replicate the star too,
      // FK-PRESERVING — each replica shifts every key by r·(max+1) on
      // BOTH sides of each fk edge, so join fan-outs per key are
      // unchanged and the relational gates measure a genuinely 10×
      // corpus, not 10× fan-out. region/nation stay fixed (constant-size
      // in TPC-H at every SF; nationkey references stay valid).
      Seq("region", "nation").foreach { name =>
        t(name).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      }
      val maxCust = t("customer").agg(max("c_custkey")).head.getLong(0) + 1
      val maxSupp = t("supplier").agg(max("s_suppkey")).head.getLong(0) + 1
      val maxPart = t("part").agg(max("p_partkey")).head.getLong(0) + 1
      val maxOrd = t("orders").agg(max("o_orderkey")).head.getLong(0) + 1
      def reps(name: String, shifts: Map[String, Long]): Unit = {
        val base = t(name)
        (0 until factor).map { r =>
          base.select(base.columns.map { c =>
            shifts.get(c) match {
              case Some(m) => (col(c) + lit(r * m)).as(c)
              case None => col(c)
            }
          }: _*)
        }.reduce(_.unionAll(_)).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
      }
      reps("customer", Map("c_custkey" -> maxCust))
      reps("supplier", Map("s_suppkey" -> maxSupp))
      reps("part", Map("p_partkey" -> maxPart))
      reps("orders", Map("o_orderkey" -> maxOrd, "o_custkey" -> maxCust))
      reps("lineitem", Map("l_orderkey" -> maxOrd, "l_partkey" -> maxPart,
        "l_suppkey" -> maxSupp))
    }

    val docs = t("documents")
    val maxDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    val docReps = (0 until factor).map { r =>
      docs.select(
        (col("doc_id") + lit(r * maxDoc)).as("doc_id"),
        (if (r == 0) col("text")
         else translate(col("text"), alpha,
           alpha.drop(r % 26) + alpha.take(r % 26))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    docReps.reduce(_.unionAll(_)).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    val emb = t("embeddings")
    val maxVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    val embCols = emb.columns
    val embReps = (0 until factor).map { r =>
      emb.select(embCols.map {
        case "vec_id" => (col("vec_id") + lit(r * maxVec)).as("vec_id")
        case "embedding" => transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(r / 10.0f)).otherwise(x))
          .as("embedding")
        case other => col(other)
      }: _*)
    }
    embReps.reduce(_.unionAll(_)).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    val ev = t("events")
    val maxUser = ev.agg(max("user_id")).head.getLong(0) + 1
    val maxEvent = ev.agg(max("event_id")).head.getLong(0) + 1
    val evReps = (0 until factor).map { r =>
      ev.select((col("event_id") + lit(r * maxEvent)).as("event_id"),
        col("ts"), (col("user_id") + lit(r * maxUser)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    evReps.reduce(_.unionAll(_)).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")
  }
}
