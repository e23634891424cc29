package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** In-row Walsh–Hadamard frame signatures over a decoded PCM sample
  * array — bit-identical to the former staged-column chain in
  * [[graft.ops.Multimodal.wavWhtFp]] (per-frame posexplode → six
  * `zip_with` butterfly stage columns → sign-pack aggregate →
  * per-media `collect_list` re-assembly), which paid interpreted
  * higher-order-function lambda calls per sample per stage AND a per-doc
  * aggregation shuffle to put the frame signatures back on one row. One
  * compiled pass per row, no shuffle:
  *
  *  - frame f = samples[64f .. 64f+63]; a complete frame transforms with
  *    the exact integer fast WHT and packs the signs of AC coefficients
  *    1..16 ([[graft.ops.Multimodal.whtFrameSig]], the one shared scalar
  *    kernel, already spec-pinned bit-equal to the staged columns). The
  *    [[graft.ops.Multimodal.wavSamples]] seam zero-pads to 64·nFrames,
  *    so every frame it feeds is complete — short audio transforms with
  *    its zero tail, exactly as the staged chain did;
  *  - off that seam, a frame the input array cannot fill, or one that
  *    holds a null sample, yields signature 0 — the staged chain's value
  *    there (a missing or null sample nulls its butterfly pair, the null
  *    closure covers all 64 outputs in 6 stages, and the sign-pack's
  *    `if(null > 0)` packs 0 bits).
  *
  * Returns `array<bigint>` of exactly `nFrames` signatures in frame
  * order; null samples → null.
  */
case class WhtSigs(child: Expression, nFrames: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"expected array<bigint>, got $t")
    }

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    WhtSigsKernel.compute(input.asInstanceOf[ArrayData], nFrames)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.WhtSigsKernel.compute($c, $nFrames);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): WhtSigs = copy(child = newChild)
}

object WhtSigsKernel {
  private val FrameLen = 64

  def compute(samples: ArrayData, nFrames: Int): GenericArrayData = {
    val n = samples.numElements()
    val out = new Array[Any](nFrames)
    var f = 0
    while (f < nFrames) {
      val start = f * FrameLen
      // a frame the array cannot fill, or one with a null sample, signs 0
      var whole = start + FrameLen <= n
      val frame = new Array[Long](FrameLen)
      var i = 0
      while (whole && i < FrameLen) {
        whole = !samples.isNullAt(start + i)
        if (whole) frame(i) = samples.getLong(start + i)
        i += 1
      }
      out(f) = if (whole) graft.ops.Multimodal.whtFrameSig(frame) else 0L
      f += 1
    }
    new GenericArrayData(out)
  }
}
