package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Signature aggregators for MinHash / SimHash, as typed `Aggregator`s over
  * primitive arrays instead of 64 separate aggregate expressions.
  *
  * Why not 64 codegen'd `min(...)`/`sum(...)` columns (the round-1 shape)?
  * Catalyst generates ONE giant class for such an aggregate; Janino
  * compilation plus C2 JIT of it cost ~10 s of first-run wall clock at
  * sf0.1 (measured: 12.6 s first run vs 2.3 s steady state for the LSH
  * pipeline), and on a contended machine the JIT queue starves and the
  * giant methods run INTERPRETED — the round-1 driver bench measured 24.7 s
  * for q_doc_minhash_lsh this way. An Aggregator is ordinary library
  * bytecode: small methods, compiled once, immune to generated-code-size
  * hazards, while still aggregating partially (ObjectHashAggregate keeps
  * the Array buffer as a JVM object per group; partial buffers — 64 longs
  * per doc — shuffle exactly like the 64-column partials did).
  */
object SigAggregators {

  /** Per-seed re-hash of a base 64-bit hash: `((h >>> 8) * (2i+1)) XOR
    * (i * φ64)` — identical to the SQL form used in round 1 (shift first
    * keeps the product under 2^63 for i < 64; deterministic, engine-wide).
    */
  @inline private def seeded(base: Long, i: Int): Long =
    (base * (2L * i + 1)) ^ (-0x61c8864680b583ebL * i)

  /** MinHash: elementwise-min of `n` seeded hashes per group. Input is the
    * precomputed xxhash64 of the shingle; output the signature array.
    */
  final class MinHashAggregator(n: Int)
      extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {

    override def zero: Array[Long] = Array.fill(n)(Long.MaxValue)

    override def reduce(buf: Array[Long], h: java.lang.Long): Array[Long] = {
      val base = h.longValue() >>> 8
      var i = 0
      while (i < n) {
        val v = seeded(base, i)
        if (v < buf(i)) buf(i) = v
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < n) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** `minhash_combine(n)(xxhash64(sh))` → `array<long>[n]` signature. */
  def minhash_combine(n: Int): Column => Column = {
    val fn = udaf(new MinHashAggregator(n), Encoders.LONG)
    h => fn(h)
  }

  /** SimHash bit-majority: input is the md5 hex string of a NORMALIZED
    * token; buffer = 64 per-bit counters + the token count (one Array[Int]
    * of 65, counters first). Bit j of a token's hash is bit (j mod 4) of
    * hex nibble (j div 4) — the same engine-portable definition the DuckDB
    * oracle recomputes ([[graft.ops.Dedup.simhashBands]]). Output: 4
    * little-endian 16-bit band values, bit set iff 2·count > n (ties → 0).
    */
  object SimHashAggregator
      extends Aggregator[String, Array[Int], Array[Int]] {

    override def zero: Array[Int] = new Array[Int](65)

    override def reduce(buf: Array[Int], hx: String): Array[Int] = {
      var p = 0
      while (p < 16) {
        val c = hx.charAt(p)
        val nib = if (c <= '9') c - '0' else c - 'a' + 10
        var b = 0
        while (b < 4) {
          buf(4 * p + b) += (nib >>> b) & 1
          b += 1
        }
        p += 1
      }
      buf(64) += 1
      buf
    }

    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 65) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Int]): Array[Int] = {
      val n = buf(64)
      val bands = new Array[Int](4)
      var t = 0
      while (t < 4) {
        var band = 0
        var k = 0
        while (k < 16) {
          if (2 * buf(16 * t + k) > n) band |= 1 << k
          k += 1
        }
        bands(t) = band
        t += 1
      }
      bands
    }

    override def bufferEncoder: Encoder[Array[Int]] =
      ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Array[Int]] =
      ExpressionEncoder[Array[Int]]()
  }

  private lazy val simhashFn = udaf(SimHashAggregator, Encoders.STRING)

  /** `simhash_combine(md5(tk))` → `array<int>[4]` of 16-bit bands. */
  def simhash_combine(hx: Column): Column = simhashFn(hx)

  /** Bounded-memory distinct sketch: a fixed m-bit bitmap per group (the
    * linear-counting register file) — input is a bucket id in [0, m),
    * output the occupied-bucket count. State is m/8 bytes per group
    * REGARDLESS of key cardinality (m=4096 → 512 bytes), buffers are
    * mergeable bitwise-OR partials, so the shuffle carries one small
    * array per (partition, group) where `count(distinct term)` carries
    * every distinct key through an Expand. The occupied count is EXACT
    * integer state (engine-replayable as count-distinct-of-buckets); the
    * cardinality estimate −m·ln(1−V/m) is one driver-side float op away
    * and deliberately not computed in-engine (the Search.rankedSearch ln
    * portability caveat).
    */
  final class BitmapDistinctAggregator(m: Int)
      extends Aggregator[java.lang.Long, Array[Long], Long] {
    private val words = (m + 63) / 64

    override def zero: Array[Long] = new Array[Long](words)

    override def reduce(buf: Array[Long], b: java.lang.Long): Array[Long] = {
      val i = b.longValue().toInt
      buf(i >>> 6) |= 1L << (i & 63)
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < words) { a(i) |= b(i); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Long = {
      var c = 0L; var i = 0
      while (i < words) { c += java.lang.Long.bitCount(buf(i)); i += 1 }
      c
    }

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** `bitmap_distinct(m)(bucket)` → occupied-bucket count (long). */
  def bitmap_distinct(m: Int): Column => Column = {
    val fn = udaf(new BitmapDistinctAggregator(m), Encoders.LONG)
    b => fn(b)
  }

  /** KMV (k-minimum-values) distinct sketch: the k smallest DISTINCT
    * hash values seen, as a sorted array — `O(k)` state per group on
    * every mapper, k-bounded through the shuffle, merge = sorted union
    * trimmed to k. Unlike [[BitmapDistinctAggregator]] (fixed bucket
    * range) or HLL (float harmonic mean), the KMV ESTIMATE is a pure
    * integer rank statistic — `(k−1)·M div h₍k₎` — so an external engine
    * replays it bit-for-bit from the same hashes
    * ([[graft.ops.Kmv]] holds the estimate algebra and the envelope).
    * Input hash values must be non-negative (the md5-prefix family).
    */
  /** Sorted-insert of a distinct value, trimmed to k. */
  private[graft] def kmvInsert(buf: Array[Long], v: Long,
      k: Int): Array[Long] = {
    val pos = java.util.Arrays.binarySearch(buf, v)
    if (pos >= 0) buf // already present
    else {
      val ins = -pos - 1
      if (buf.length == k && ins == k) buf // larger than the current kth
      else {
        val n = math.min(buf.length + 1, k)
        val out = new Array[Long](n)
        System.arraycopy(buf, 0, out, 0, ins)
        out(ins) = v
        System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
        out
      }
    }
  }

  /** Sorted-merge with dedup, trimmed to k. */
  private[graft] def kmvMerge(a: Array[Long], b: Array[Long],
      k: Int): Array[Long] = {
    val out = new Array[Long](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) {
          val x = a(i); if (j < b.length && b(j) == x) j += 1; i += 1; x
        } else { val x = b(j); j += 1; x }
      out(n) = v; n += 1
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  final class KmvAggregator(k: Int)
      extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {
    require(k >= 2, "k must be >= 2")

    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(buf: Array[Long], h: java.lang.Long): Array[Long] =
      kmvInsert(buf, h.longValue(), k)

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      kmvMerge(a, b, k)

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** `kmv_sketch(k)(h)` → sorted array of the k smallest distinct hashes. */
  def kmv_sketch(k: Int): Column => Column = {
    val fn = udaf(new KmvAggregator(k), Encoders.LONG)
    h => fn(h)
  }

  /** Elementwise exact sum of `array<long>` rows per group — the k-means
    * centroid-sum kernel: one dims-long buffer per group, mergeable
    * partials, so the trainer's per-round statistics need NO posexplode
    * of the corpus (the (cluster, dim) melt multiplied rows ×dims and —
    * worse — a projection computed next to a generator is collapsed
    * above it and re-evaluated per exploded row, which made the argmin
    * cost ×dims; measured 1.4 s vs 0.2 s per round at sf0.1). Integer
    * math is order-free, so totals are bit-identical to the melted
    * shape's per-(cluster, dim) sums. Rows must share one width per
    * group (the trainers guarantee it).
    */
  final class LongVecSumAggregator
      extends Aggregator[Seq[Long], Array[Long], Array[Long]] {

    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(buf: Array[Long], v: Seq[Long]): Array[Long] =
      if (v == null) buf // null row: the melted shape produced no rows
      else if (buf.isEmpty) v.toArray
      else {
        var i = 0
        while (i < buf.length) {
          buf(i) = Math.addExact(buf(i), v(i)); i += 1
        }
        buf
      }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        var i = 0
        while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
        a
      }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  private lazy val vecSumFn =
    udaf(new LongVecSumAggregator, ExpressionEncoder[Seq[Long]]())

  /** `vec_sum(qv)` → elementwise array<long> sum per group. */
  def vec_sum(v: Column): Column = vecSumFn(v)

  /** One power-iteration round's statistics in ONE pass per row:
    * `w_d = Σ_rows (qv_d − mu_d) · ((qv − mu)·v)` — the per-row dot and
    * the weighted accumulation both live in the aggregator, so neither
    * the centered vector nor the dot is ever re-evaluated per melted
    * element (the generator-collapse hazard [[LongVecSumAggregator]]
    * documents: the old `select(dot, posexplode(centered))` shape
    * re-ran the interpreted dot fold ×dims per row). Integer math is
    * order-free → bit-identical sums; overflow throws (`Math.*Exact`)
    * exactly like the ANSI arithmetic it replaces.
    */
  final class PowerIterAggregator(mu: Array[Long], v: Array[Long])
      extends Aggregator[Seq[Long], Array[Long], Array[Long]] {

    override def zero: Array[Long] = new Array[Long](mu.length)

    override def reduce(buf: Array[Long], qv: Seq[Long]): Array[Long] = {
      if (qv == null) return buf // null row: melted shape produced no rows
      val d = mu.length
      var dt = 0L
      var i = 0
      while (i < d) {
        dt = Math.addExact(dt,
          Math.multiplyExact(Math.subtractExact(qv(i), mu(i)), v(i)))
        i += 1
      }
      i = 0
      while (i < d) {
        buf(i) = Math.addExact(buf(i),
          Math.multiplyExact(Math.subtractExact(qv(i), mu(i)), dt))
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
  }

  /** `power_iter_round(mu, v)(qv)` → the round's w vector. */
  def power_iter_round(mu: Seq[Long], v: Seq[Long]): Column => Column = {
    val fn = udaf(new PowerIterAggregator(mu.toArray, v.toArray),
      ExpressionEncoder[Seq[Long]]())
    qv => fn(qv)
  }
}
