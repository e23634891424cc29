package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count estimation (Flajolet et al. 2007) with a
  * PURE-INTEGER estimate chain — the industry-standard sketch, made
  * oracle-replayable.
  *
  * Spark's own `approx_count_distinct` is HLL++ and its estimate runs
  * through a float harmonic mean plus empirically-tuned bias tables an
  * external engine cannot replay bit-for-bit (the reason [[Kmv]] exists).
  * This operator keeps the HLL STATE — m = 2^p max-of-leading-zero-rank
  * registers, the fixed-size-forever alternative to KMV's k longs — but
  * defines the estimate as integer algebra both engines compute
  * identically:
  *
  *   idx  = h div 2^r            (top p bits of the 52-bit md5 hash)
  *   w    = h mod 2^r            (remaining r = 52 − p bits)
  *   rank = r − bitlen(w) + 1    (leading zeros + 1; w = 0 → r + 1)
  *   M_j  = max rank in register j
  *   T    = Σ_j 2^(S − M_j)      (S = r + 1; empty register ⇒ 2^S)
  *   est  = (m²·2^S div T) · α_ppm div 10^6
  *
  * The harmonic mean is exact: every 2^−M_j term is scaled by 2^S into
  * an integer, so T is the float denominator times 2^S with zero
  * rounding. Only the final α scaling floor-divides — a DEFINED chain,
  * not an approximation of the float one, and the oracle replays it.
  *
  * Regime: raw-HLL only (no small-range linear-counting switch — that
  * needs a logarithm; `v_empty` is emitted so callers see the regime:
  * the estimate is trustworthy once distinct ≳ 2.5·m). Standard error
  * ~1.04/√m (p = 8 → ~6.5%). Estimates past ~1.2·10^13 raise rather
  * than silently wrap the α multiply — the same loud-envelope
  * discipline as `prioritySample`.
  *
  * Scale shape: one projection (md5 per row), ONE grouped aggregate to
  * (group, idx) max — map-side combinable, at most m rows per group
  * regardless of key cardinality — then an m-bounded per-group fold.
  * No distinct shuffle of the raw key domain. State is m small ints per
  * group FOREVER, mergeable by register-wise max (union of sketches =
  * sketch of the union), which is what the persisted serving path
  * ([[mergeRegisters]]) keys on.
  */
object Hll {

  /** Register count m = 2^p, rank width r = 52 − p, max rank S = r + 1. */
  def m(p: Int): Int = 1 << p

  /** Precision guard shared by every HLL entry point.
    * Upper bound is 9, NOT 12: the integer estimate's numerator is
    * m²·2^S = 2^(p+53), which fits a signed Long only for p ≤ 9 — at
    * p = 10 it wraps to Long.MinValue and at 11/12 to 0, silently
    * corrupting every estimate. Loud here beats wrong there (p = 9 is
    * m = 512 registers, ~4.6% standard error — plenty for this engine's
    * sketch use; a wider p needs a 128-bit or floating estimate chain).
    */
  def requireP(p: Int): Unit =
    require(p >= 4 && p <= 9,
      "p must be in [4, 9]: the integer estimate numerator 2^(p+53) " +
        "overflows Long for p >= 10")

  /** α_m in ppm — the Flajolet bias constant for the raw estimate:
    * 0.673 (m=16), 0.697 (m=32), 0.709 (m=64), else 0.7213/(1+1.079/m);
    * rounded once here and baked as the SAME literal into the plan and
    * the oracle.
    */
  def alphaPpm(p: Int): Long = {
    val mm = m(p)
    val a = mm match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / mm)
    }
    math.round(a * 1e6)
  }

  /** The register table: (groupCols…, idx, reg) with reg = max rank —
    * the mergeable HLL state, at most 2^p rows per group.
    */
  def registerTable(df: DataFrame, groupCols: Seq[String], key: Column,
      p: Int): DataFrame = {
    requireP(p)
    val r = 52 - p
    val h = Kmv.hash52(key)
    val idx = call_function("div", h, lit(1L << r))
    val w = pmod(h, lit(1L << r))
    // bitlen via bin(): '101' for 5 — both engines render base-2 the
    // same way; w = 0 has no leading-one so the rank is the full r + 1
    val rank = when(w === 0, lit(r + 1))
      .otherwise(lit(r + 1) - length(bin(w)))
    df.select(groupCols.map(col) :+ idx.as("idx") :+ rank.as("__rk"): _*)
      .groupBy((groupCols :+ "idx").map(col): _*)
      .agg(max(col("__rk")).cast("int").as("reg"))
  }

  /** Scalar estimate off a full register array (index j ⇒ registers(j),
    * 0 = empty) — the scalar reference for the columnar chain
    * [[estimateFromRegisters]]: identical registers give the identical
    * number.
    */
  def estimateOf(registers: Array[Int], p: Int): Long = {
    requireP(p)
    val s = 52 - p + 1
    val mm = m(p).toLong
    var t = 0L
    var j = 0
    while (j < registers.length) { t += 1L << (s - registers(j)); j += 1 }
    val e1 = (mm * mm * (1L << s)) / t
    val a = alphaPpm(p)
    require(e1 <= Long.MaxValue / a, "Hll: estimate exceeds the integer envelope")
    e1 * a / 1000000L
  }

  /** Register-wise merge of two register tables — union of sketches =
    * sketch of the union (max is commutative, associative, idempotent),
    * which is what makes the PERSISTED serving path sound: store
    * yesterday's registers, merge today's batch, never rescan history.
    */
  def mergeRegisters(a: DataFrame, b: DataFrame,
      groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols :+ "idx").map(col): _*)
      .agg(max(col("reg")).as("reg"))

  /** The estimate off a register table ([[registerTable]] /
    * [[mergeRegisters]] output): (groupCols…, v_empty, est) — the same
    * integer chain [[estimateOf]] computes per scalar array.
    */
  def estimateFromRegisters(regs: DataFrame, groupCols: Seq[String],
      p: Int): DataFrame = {
    requireP(p)
    val s = 52 - p + 1
    val mm = m(p).toLong
    val tPresent = sum(call_function("shiftleft", lit(1L),
      lit(s) - col("reg")))
    val t = tPresent + (lit(mm) - count(lit(1))) * lit(1L << s)
    val e1 = call_function("div", lit(mm * mm * (1L << s)), t)
    val a = alphaPpm(p)
    val est = when(e1 <= lit(Long.MaxValue / a),
        call_function("div", e1 * lit(a), lit(1000000L)))
      .otherwise(raise_error(
        lit("Hll: estimate exceeds the integer envelope")))
    regs.groupBy(groupCols.map(col): _*)
      .agg((lit(mm) - count(lit(1))).as("v_empty"), est.as("est"))
  }

  /** Per-group distinct estimate: (groupCols…, v_empty, est).
    * `v_empty` = registers never hit (the regime dial: raw HLL is
    * unbiased once most registers are occupied).
    */
  def distinctEstimate(df: DataFrame, groupCols: Seq[String], key: Column,
      p: Int = 8): DataFrame =
    estimateFromRegisters(registerTable(df, groupCols, key, p),
      groupCols, p)
}
