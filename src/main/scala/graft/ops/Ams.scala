package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** AMS second-moment (F₂) sketch (Alon, Matias & Szegedy 1996): s₁·s₂
  * independent ±1 hash signs; estimator `e` keeps the running sum
  * `Z_e = Σ_k f_k·s_e(k)` (one long!) and `Z_e²` is an unbiased estimate
  * of `F₂ = Σ_k f_k²`. Concentration uses the paper's OWN two-level
  * shape: MEAN over s₁ estimators per block (drives variance down by
  * s₁), then MEDIAN over s₂ block means (drives failure probability down
  * exponentially in s₂). A plain median over all d squares — tempting,
  * simpler — is systematically LOW: Z is approximately N(0, √F₂), so Z²
  * is F₂·χ²₁ whose median is ≈ 0.455·F₂; the mean step restores
  * unbiasedness before the median robustifies. F₂ is the self-join size
  * / skew mass of a key's frequency vector — the number a join planner
  * or hot-key guard wants ("how bad would joining on this key be") at
  * s₁·s₂ longs of state per group, when the key domain (URLs, shingles,
  * user ids) never fits a groupBy.
  *
  * Determinism/portability: sign `s_e(k)` is BIT e of md5(key) — one
  * digest per occurrence serves all d ≤ 64 seeds, and distinct digest
  * bits are independent ±1 functions of the key (a seeded
  * odd-multiplier family over one base hash is NOT: with odd
  * multipliers and an odd φ step, bit 0 collapses to bit0(base) XOR
  * (e mod 2) and all estimators coincide up to global negation, voiding
  * every concentration bound). The Z sums are order-free longs, block
  * means are integer floor division, and the median is a rank statistic
  * over s₂ sorted means — an external engine replays the sketch and the
  * estimate bit-for-bit.
  * |Z| ≤ stream length n, so Σ_{s₁} Z² stays in a long for n up to
  * ~10⁹/√s₁ occurrences per group (the envelope; beyond that, shard the
  * group and merge Z sums — they are additive).
  *
  * Scale shape: one projection + one (group, seed) hash aggregate whose
  * map-side partials bound the shuffle at partitions × groups × s₁·s₂
  * rows; the mean/median stage folds s₁·s₂ longs per group. Relative
  * error ~ 1/√s₁ with failure probability 2^−Ω(s₂).
  *
  * Returns (groupCols…, f2_est).
  */
object Ams {

  /** The d per-seed running sums Z_e — (groupCols…, seed, z). Exposed so
    * callers (and the estimator-independence spec) can see the sketches
    * individually; Z sums are additive, so shards merge by summing z per
    * (group, seed).
    *
    * Sign `s_e(k)` = bit e of md5(key): ONE digest per occurrence serves
    * all d seeds (bit e = bit (e mod 4) of hex nibble (e div 4)), and the
    * d sums aggregate as d COLUMNS of one hash aggregate — no per-seed
    * row multiplication anywhere; the seed dimension unfolds only AFTER
    * the agg, d rows per group. A 10× corpus costs one 10× md5 scan, not
    * 10·d.
    */
  def zSums(rows: DataFrame, groupCols: Seq[String], key: Column,
      d: Int): DataFrame = {
    require(d >= 1 && d <= 64, s"d must be in [1, 64], got $d")
    val base = rows.select(groupCols.map(col) :+
      md5(key.cast("string")).as("__dg"): _*)
    val sums = (0 until d).map { e =>
      val nib = conv(substring(col("__dg"), e / 4 + 1, 1), 16, 10)
        .cast("long")
      sum(lit(1L) -
        shiftrightunsigned(nib, e % 4).bitwiseAND(lit(1L)) * lit(2L))
        .as(s"__z$e")
    }
    base.groupBy(groupCols.map(col): _*)
      .agg(sums.head, sums.tail: _*)
      .select(groupCols.map(col) :+ posexplode(
        array((0 until d).map(e => col(s"__z$e")): _*))
        .as(Seq("seed", "z")): _*)
  }

  /** Median over s2 blocks of the mean over s1 squared sums (both
    * integer: block mean is `Σ Z² div s1`, median is the exact middle
    * element of the s2 sorted block means — s2 odd keeps it rank-exact).
    */
  def f2Estimate(rows: DataFrame, groupCols: Seq[String], key: Column,
      s1: Int = 8, s2: Int = 5): DataFrame = {
    require(s1 >= 1 && s2 >= 1 && s2 % 2 == 1,
      s"need s1 >= 1 and odd s2 >= 1, got s1=$s1 s2=$s2")
    require(s1 * s2 <= 64, s"s1*s2 must be <= 64, got ${s1 * s2}")
    zSums(rows, groupCols, key, s1 * s2)
      .groupBy(groupCols.map(col) :+
        call_function("div", col("seed"), lit(s1.toLong)).as("blk"): _*)
      .agg(call_function("div", sum(col("z") * col("z")), lit(s1.toLong))
        .as("blk_mean"))
      .groupBy(groupCols.map(col): _*)
      .agg(array_sort(collect_list(col("blk_mean"))).as("mm"))
      .select(groupCols.map(col) :+
        try_element_at(col("mm"), lit((s2 + 1) / 2)).as("f2_est"): _*)
  }
}
