package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** In-row banded MinHash bucket keys: the [[MinHashSigKernel.compute]]
  * signature sliced into `bands` sub-signatures of `r = n/bands`
  * registers, each hashed to its band-bucket key with the SAME
  * `xxhash64(slice, band)` the Column form computed — calling
  * [[XxHash64Function]] over the slice (array<long> semantics:
  * element-chained seeds) then the band index, so the bucket values are
  * bit-identical. Why a fused kernel:
  * the Column form (`posexplode(transform(seq, b => xxhash64(slice(sig,
  * …), b)))`) references `sig` inside the lambda, and when the
  * signature is NOT a materialized attribute CollapseProject inlines the
  * whole signature computation into the lambda — re-evaluated per band
  * (×32; measured +9 s on q_doc_incremental_dedup whose index side is
  * unpersisted). Empty/null shingle array → NULL (no banded rows).
  */
case class MinHashBuckets(child: Expression, n: Int, bands: Int)
    extends UnaryExpression {
  require(n % bands == 0, "bands must divide n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<string>, got $t")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashSigKernel.computeBuckets(input.asInstanceOf[ArrayData], n, bands)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} =
         |  graft.functions.MinHashSigKernel.computeBuckets($c, $n, $bands);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashBuckets = copy(child = newChild)
}

/** In-row MinHash over the md5-prefix base hash — the
  * [[MinHashSigKernel.compute]] signature of the b-bit sketch path: per
  * element the base is the 60-bit md5 prefix
  * (`conv(substring(md5(sh), 1, 15), 16, 10)`, i.e. the first 15 hex
  * nibbles = big-endian first-8-bytes >>> 4), fed through the identical
  * seeded family. Same empty-array → NULL drop-out semantics.
  */
case class MinHashSigMd5(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<string>, got $t")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashSigKernel.computeMd5(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinHashSigKernel.computeMd5($c, $n);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSigMd5 = copy(child = newChild)
}

/** In-row SimHash bands over a document's normalized-token ARRAY —
  * bit-identical to explode → `md5(tk)` →
  * [[SigAggregators.SimHashAggregator]]: per token, bit j is bit
  * (j mod 4) of md5 hex nibble (j div 4); band bit set iff
  * 2·count > n_tokens (ties → 0). Returns `array<int>[4]` of 16-bit
  * little-endian band values; empty token array → NULL (the agg produced
  * no group).
  */
case class SimHashBandsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"expected array<string>, got $t")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    MinHashSigKernel.computeSimhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.MinHashSigKernel.computeSimhash($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): SimHashBandsExpr = copy(child = newChild)
}

/** The shared eval/codegen kernels — ordinary library bytecode (small
  * methods, JIT-compiled once), the [[SigAggregators]] discipline.
  */
object MinHashSigKernel {

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** In-row MinHash signature over a document's distinct-shingle array —
    * bit-identical to the former explode → `xxhash64(sh)` →
    * [[SigAggregators.MinHashAggregator]] grouping, with no exploded rows
    * and no aggregation shuffle: the per-doc signature is a pure function
    * of the doc's own shingle set, so it belongs in the row, not behind a
    * `groupBy(doc_id)` exchange of every (doc, shingle) pair.
    *
    * Per element: `base = xxhash64(sh) >>> 8` (the same seed-42
    * [[XxHash64Function]] hash the SQL `xxhash64` computes; a null element
    * hashes to the untouched seed, as the SQL function does), then the
    * elementwise min over the seeded rehash family
    * `(base · (2i+1)) XOR (i · φ64)`, overflow-free for `n <= 64`
    * (callers enforce it). An empty shingle array yields null: generators
    * over a null signature produce no rows, so such a doc drops out.
    */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len == 0) return null
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < len) {
      // xxhash64(sh): seed 42; null element leaves the seed untouched,
      // exactly like the SQL function's null-skipping codegen
      val h =
        if (arr.isNullAt(j)) 42L
        else XxHash64Function.hash(arr.getUTF8String(j), StringType, 42L)
      val base = h >>> 8
      var i = 0
      while (i < n) {
        val v = (base * (2L * i + 1)) ^ (-0x61c8864680b583ebL * i)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** First 15 hex nibbles of md5(s) as a long — the value of
    * `conv(substring(md5(s), 1, 15), 16, 10)`.
    */
  private def md5Prefix60(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val d = md.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (bytes(i) & 0xffL); i += 1 }
    v >>> 4
  }

  private val sliceType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  def computeBuckets(arr: ArrayData, n: Int, bands: Int): ArrayData = {
    val sig = compute(arr, n)
    if (sig == null) return null
    val r = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      val sl = new Array[Long](r)
      var i = 0
      while (i < r) { sl(i) = sig.getLong(b * r + i); i += 1 }
      // xxhash64(slice, b): array elements seed-chained, then the int
      // band index — exactly the SQL expression's evaluation order
      val h1 = XxHash64Function.hash(new GenericArrayData(sl), sliceType, 42L)
      out(b) = XxHash64Function.hash(b,
        org.apache.spark.sql.types.IntegerType, h1)
      b += 1
    }
    new GenericArrayData(out)
  }

  def computeMd5(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    if (len == 0) return null
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < len) {
      if (!arr.isNullAt(j)) {
        // the aggregator shifts ITS input too: base = h >>> 8
        val base = md5Prefix60(arr.getUTF8String(j)) >>> 8
        var i = 0
        while (i < n) {
          val v = (base * (2L * i + 1)) ^ (-0x61c8864680b583ebL * i)
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(sig)
  }

  def computeSimhash(arr: ArrayData): ArrayData = {
    val len = arr.numElements()
    if (len == 0) return null
    val counts = new Array[Int](64)
    var nTok = 0
    var j = 0
    while (j < len) {
      if (!arr.isNullAt(j)) {
        val d = md.get()
        d.reset()
        val bytes = d.digest(arr.getUTF8String(j).getBytes)
        // hex nibble p = high/low half of byte p/2; bit (4p+b) of the
        // token hash = bit b of nibble p — the SimHashAggregator layout
        var p = 0
        while (p < 16) {
          val nib =
            if ((p & 1) == 0) (bytes(p >> 1) >>> 4) & 0xf
            else bytes(p >> 1) & 0xf
          var b = 0
          while (b < 4) {
            counts(4 * p + b) += (nib >>> b) & 1
            b += 1
          }
          p += 1
        }
        nTok += 1
      }
      j += 1
    }
    val bands = new Array[Int](4)
    var t = 0
    while (t < 4) {
      var band = 0
      var k = 0
      while (k < 16) {
        if (2 * counts(16 * t + k) > nTok) band |= 1 << k
        k += 1
      }
      bands(t) = band
      t += 1
    }
    new GenericArrayData(bands)
  }
}
