package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count estimation (Bar-Yossef et al.
  * 2002; the bottom-k / theta-sketch family): hash every key, keep only
  * the k SMALLEST distinct hash values, and estimate the cardinality from
  * the k-th order statistic —
  *
  *   N̂ = (k−1)·M div h₍k₎   (M = hash-space size; exact count when the
  *                            sketch never filled)
  *
  * Why it exists next to `approx_count_distinct` (HLL++) and the linear-
  * counting bitmap: the HLL estimate runs through a float harmonic mean
  * an external engine cannot replay bit-for-bit, and the bitmap needs a
  * bucket range chosen up front. KMV state is k longs per group on every
  * mapper (mergeable: sorted union trimmed to k — a union of sketches is
  * the sketch of the union, so per-partition partials compose exactly),
  * and the estimate is PURE INTEGER rank algebra over a portable md5
  * prefix — the oracle recomputes the identical estimate, so "the sketch
  * is right" is a bit-exact gate, not a tolerance check.
  *
  * Hash family: the first 13 md5 nibbles (52 bits, M = 2⁵²), keeping
  * `(k−1)·M` inside a signed long for k ≤ 2047 — the same ANSI-envelope
  * reasoning as the 60-bit identity keys (Dedup header); standard error
  * is ~1/√(k−2) (k = 128 → ~9%).
  *
  * Scale shape: one projection (md5 per row), one grouped aggregate with
  * k-bounded buffers — no distinct shuffle of the raw keys, which is the
  * entire point at a 10¹² -key domain.
  */
object Kmv {

  val HashSpace: Long = 1L << 52

  /** 52-bit md5-prefix hash of a key column — non-negative, portable. */
  def hash52(key: Column): Column =
    conv(substring(md5(key), 1, 13), 16, 10).cast("long")

  /** Theta-sketch set algebra over two KMV sketches (the Datasketches
    * theta idiom): with θ = min of the two k-th order statistics (an
    * unfilled side contributes θ = M), every retained hash below θ is a
    * uniform sample of the union at rate θ/M, so
    *
    *   est_union     = |{h ∈ A ∪ B : h < θ}| · M div θ
    *   est_intersect = |{h ∈ A ∩ B : h < θ}| · M div θ
    *
    * — distinct-set overlap between two corpora (vocabulary drift,
    * cross-snapshot dedup pressure) from two k-long sketches, never a
    * shuffle of either key domain, and the whole algebra integer rank
    * arithmetic an oracle replays bit-for-bit. Exact when both sides
    * fit their sketches. Returns per group:
    * (groupCols…, est_a, est_b, est_union, est_intersect).
    */
  private def theta(mins: Column, k: Int): Column =
    when(size(mins) < k, lit(HashSpace))
      .otherwise(try_element_at(mins, lit(k)))

  private def estFromSketch(mins: Column, k: Int): Column =
    when(size(mins) < k, size(mins).cast("long"))
      .otherwise(call_function("div", lit((k - 1).toLong * HashSpace),
        try_element_at(mins, lit(k))))

  private def scaledBelow(n: Column, th: Column): Column =
    call_function("div", n.cast("long") * lit(HashSpace), th)

  /** The theta set-algebra columns over two sketch columns `ma`/`mb`:
    * (est_a, est_b, est_union, est_intersect). */
  private def thetaAlgebra(ma: Column, mb: Column, k: Int): Seq[Column] = {
    val th = least(theta(ma, k), theta(mb, k))
    Seq(
      estFromSketch(ma, k).as("est_a"),
      estFromSketch(mb, k).as("est_b"),
      scaledBelow(size(filter(array_union(ma, mb), x => x < th)), th)
        .as("est_union"),
      scaledBelow(size(filter(array_intersect(ma, mb), x => x < th)), th)
        .as("est_intersect"))
  }

  def overlapEstimate(dfA: DataFrame, dfB: DataFrame,
      groupCols: Seq[String], key: Column, k: Int = 128): DataFrame = {
    require(k >= 2 && k <= 2047, "k must be in [2, 2047]")
    val sk = graft.functions.SigAggregators.kmv_sketch(k)
    def side(df: DataFrame, out: String): DataFrame =
      df.select(groupCols.map(col) :+ hash52(key).as("__h"): _*)
        .groupBy(groupCols.map(col): _*)
        .agg(sk(col("__h")).as(out))
    side(dfA, "ma").join(side(dfB, "mb"), groupCols)
      .select(groupCols.map(col) ++ thetaAlgebra(col("ma"), col("mb"), k): _*)
  }

  /** Pairwise overlap MATRIX across the values of one group column: every
    * unordered group pair scored by the same theta algebra, plus the
    * derived Jaccard in ppm — "how much vocabulary do my m sources /
    * snapshots / shards share", m²/2 answers from m k-long sketches.
    *
    * Scale shape: ONE sketch aggregate over the corpus (k-bounded
    * buffers), then a broadcast self-join of the m-row sketch table —
    * the corpus is read once and the pair stage's size is m²·k longs,
    * independent of corpus size. The `<` pairing is a genuine non-equi
    * join of a tiny table with itself; the hint keeps Spark's cartesian
    * guard out of the way.
    *
    * Returns (grp_a, grp_b, est_a, est_b, est_union, est_intersect,
    * jaccard_ppm), grp_a < grp_b.
    */
  def overlapMatrix(df: DataFrame, groupCol: String, key: Column,
      k: Int = 128): DataFrame = {
    require(k >= 2 && k <= 2047, "k must be in [2, 2047]")
    val sk = graft.functions.SigAggregators.kmv_sketch(k)
    val sketches = df.select(col(groupCol), hash52(key).as("__h"))
      .groupBy(groupCol).agg(sk(col("__h")).as("m"))
    val a = sketches.select(col(groupCol).as("grp_a"), col("m").as("ma"))
    val b = sketches.select(col(groupCol).as("grp_b"), col("m").as("mb"))
    a.join(broadcast(b).hint("broadcast"), col("grp_a") < col("grp_b"))
      .select(Seq(col("grp_a"), col("grp_b")) ++
        thetaAlgebra(col("ma"), col("mb"), k): _*)
      .withColumn("jaccard_ppm", call_function("div",
        col("est_intersect") * lit(1000000L),
        greatest(col("est_union"), lit(1L))))
  }

  /** Per-group distinct estimate: (groupCols…, k_used, kth_min, est).
    * `k_used < k` means the sketch holds every distinct hash — the
    * estimate IS the exact hash-distinct count (md5-prefix collisions
    * under-count by ~n²/2⁵³, the documented envelope).
    */
  def distinctEstimate(df: DataFrame, groupCols: Seq[String], key: Column,
      k: Int = 128): DataFrame = {
    require(k >= 2 && k <= 2047,
      "k must be in [2, 2047] — (k-1)*2^52 must stay inside a long")
    val sk = graft.functions.SigAggregators.kmv_sketch(k)
    df.select(groupCols.map(col) :+ hash52(key).as("__h"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(sk(col("__h")).as("mins"))
      .select(groupCols.map(col) ++ Seq(
        size(col("mins")).cast("long").as("k_used"),
        // try_element_at: an unfilled sketch has no kth value (NULL),
        // and ANSI element_at would throw there
        try_element_at(col("mins"), lit(k)).as("kth_min"),
        when(size(col("mins")) < k, size(col("mins")).cast("long"))
          .otherwise(call_function("div",
            lit((k - 1).toLong * HashSpace),
            try_element_at(col("mins"), lit(k)))).as("est")): _*)
  }
}
