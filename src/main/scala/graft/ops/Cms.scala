package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min Sketch frequency estimation (Cormode & Muthukrishnan 2005):
  * `d` hash rows of `w` counters; every key occurrence increments one
  * counter per row, and a key's estimate is the MIN of its `d` counters —
  * an overestimate by construction (collisions only ever ADD), with
  * `est ≤ n + 2N/w` at probability `1 − 2⁻ᵈ` (N = stream length).
  *
  * Why next to the Misra-Gries tracker ([[graft.functions.FreqSketch]]):
  * MG answers "which keys are heavy" (top-capacity set, no per-key
  * estimate for evicted keys); CMS answers "how often did THIS key occur"
  * for ANY key, from the same d·w-bounded state — the point-query side of
  * the frequency-sketch coin, and the structure a rate-limiter or df-cap
  * consults when the key domain (URLs, hosts, shingles) never fits a
  * groupBy.
  *
  * Determinism/portability: plain CMS counters are SUMS — order-free and
  * mergeable (the conservative-update variant is NOT: its increments
  * depend on arrival order, so it can never be bit-exact under Spark's
  * partitioning and is deliberately not offered). The hash family is the
  * portable 52-bit md5 prefix through the same seeded odd-multiplier/φ64
  * mix the b-bit MinHash registers use ([[Dedup.bbitMinhashPairsScoped]]),
  * with power-of-two `w` so the bucket is a sign-safe bit mask — an
  * external engine replays the whole sketch AND every estimate
  * bit-for-bit.
  *
  * Scale shape: the build is one projection + one (seed, bucket) count
  * whose map-side partials bound the shuffle at partitions × d·w rows
  * regardless of corpus size; estimates broadcast the d·w-row sketch. No
  * distinct shuffle, no state proportional to the key domain.
  */
object Cms {

  /** φ64 seed constant — the [[graft.functions.SigAggregators]] family. */
  val Phi: Long = -0x61c8864680b583ebL

  /** 52-bit md5-prefix base hash (15 nibbles, top 8 bits dropped so seeded
    * odd multipliers ≤ 15 stay inside a signed long in BOTH engines —
    * DuckDB raises on BIGINT overflow where the JVM would wrap).
    */
  def base52(key: Column): Column =
    shiftrightunsigned(
      conv(substring(md5(key), 1, 15), 16, 10).cast("long"), 8)

  private def bucketOf(base: Column, i: Int, w: Int): Column =
    (base * lit(2L * i + 1)).bitwiseXOR(lit(i * Phi))
      .bitwiseAND(lit((w - 1).toLong))

  private def checkParams(d: Int, w: Int): Unit = {
    require(d >= 1 && d <= 8, "d in [1, 8] — base52 * 15 must stay in a long")
    require(w >= 2 && (w & (w - 1)) == 0, "w must be a power of two (bit mask)")
  }

  /** Build the sketch: one row per non-empty counter —
    * (seed: int, bucket: long, n: long), at most d·w rows.
    */
  def sketch(rows: DataFrame, key: Column, d: Int, w: Int): DataFrame = {
    checkParams(d, w)
    rows.select(base52(key).as("__b"))
      .select(posexplode(array((0 until d).map(bucketOf(col("__b"), _, w)): _*))
        .as(Seq("seed", "bucket")))
      .groupBy("seed", "bucket").agg(count(lit(1)).as("n"))
  }

  /** Point-query estimates for `queries`' distinct `keyCol` values:
    * (keyCol…, est). The d·w-row sketch broadcasts; counters the build
    * never touched are zeros restored by the left join, so a never-seen
    * key estimates the min over its d counters like any other (possibly
    * 0, always ≥ its true count — the CMS overestimate contract).
    */
  def estimate(sk: DataFrame, queries: DataFrame, keyCol: String,
      d: Int, w: Int): DataFrame = {
    checkParams(d, w)
    val probes = queries.select(col(keyCol), base52(col(keyCol)).as("__b"))
      .select(col(keyCol),
        posexplode(array((0 until d).map(bucketOf(col("__b"), _, w)): _*))
          .as(Seq("seed", "bucket")))
    probes.join(broadcast(sk), Seq("seed", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("n"), lit(0L))).as("est"))
  }
}
