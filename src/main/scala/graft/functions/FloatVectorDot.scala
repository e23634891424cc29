package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd dot product of two `array<float>` columns, accumulated in
  * double with a sequential left fold — bit-identical to the composed
  * `aggregate(zip_with(cast, cast, _*_), 0.0, _+_)` form it replaces, but
  * a tight primitive loop instead of per-element interpreted lambda calls.
  *
  * This is the one place the engine drops to a custom Catalyst `Expression`
  * (SURVEY.md §7.3): the built-in higher-order functions express the
  * semantics but can't give the hot path (millions of candidate pairs ×
  * vector width) a codegen inner loop.
  *
  * Null semantics mirror the HOF form: any null element (or null array)
  * → null result.
  */
case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expected array<float> on both sides, got ${left.dataType} / ${right.dataType}")
    }
  }

  // always nullable: a null ELEMENT nulls the result even when the array
  // columns themselves are non-nullable, and the generated code assigns
  // ev.isNull (which only exists as a variable when nullable is true)
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    // unequal lengths → null, matching the HOF form (zip_with pads the
    // shorter side with null, which nulls the whole fold)
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVectorDot =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  import org.apache.spark.sql.graftshim.ColumnBridge

  /** Dot product over float-array columns via the codegen'd expression. */
  def float_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      FloatVectorDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact squared L2 over long-array columns via the codegen'd expression. */
  def long_dist2(a: Column, b: Column): Column =
    ColumnBridge.column(
      LongVectorDist2(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Exact integer dot over long-array columns via the codegen'd expression. */
  def long_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      LongVectorDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** PSL registered domain of a host column (rule table rides in the
    * expression; see [[PslDomain]]). */
  def psl_domain(host: Column,
      rules: Seq[String] = graft.ops.PublicSuffixes.Default): Column =
    ColumnBridge.column(PslDomain(ColumnBridge.expression(host), rules))

  /** In-row MinHash signature over the 60-bit md5-prefix base — see
    * [[MinHashSigMd5]]. */
  def minhash_sig_md5(shingles: Column, n: Int): Column =
    ColumnBridge.column(MinHashSigMd5(ColumnBridge.expression(shingles), n))

  /** In-row SimHash 4×16-bit bands of a token array — see
    * [[SimHashBandsExpr]]. */
  def simhash_bands(tokens: Column): Column =
    ColumnBridge.column(SimHashBandsExpr(ColumnBridge.expression(tokens)))

  /** In-row banded MinHash bucket keys off the shingle array — see
    * [[MinHashBuckets]]. */
  def minhash_buckets(shingles: Column, n: Int, bands: Int): Column =
    ColumnBridge.column(
      MinHashBuckets(ColumnBridge.expression(shingles), n, bands))

  /** In-row winnowing window selection over normalized text — see
    * [[WinnowSelect]]. */
  def winnow_select(nm: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowSelect(ColumnBridge.expression(nm), k, w))

  /** Distinct word k-shingles of a normalized string — see
    * [[WordShinglesExpr]]. */
  def word_shingles(nm: Column, k: Int): Column =
    ColumnBridge.column(WordShinglesExpr(ColumnBridge.expression(nm), k))

  /** In-row WHT frame signatures of a PCM sample array — see
    * [[WhtSigs]]. */
  def wht_sigs(samples: Column, nFrames: Int): Column =
    ColumnBridge.column(WhtSigs(ColumnBridge.expression(samples), nFrames))
}
