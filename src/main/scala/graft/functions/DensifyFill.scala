package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}
import org.apache.spark.unsafe.array.ByteArrayMethods

/** In-row densify + fill of one (stay, feature) series — the core of
  * [[graft.etl.Stages.densify]]. One compiled O(total_windows + cells)
  * pass per row, where a Window with a `currentRow..unboundedFollowing`
  * frame re-aggregates the rest of the series for every row:
  *
  *  - scatter the `(tidx, value)` cells onto `0..total_windows`; a cell
  *    whose value is null, or a window with no cell, is a gap; cells
  *    outside `0..total_windows` are ignored; a repeated in-range or a
  *    null `tidx` raises, as `map_from_entries` does;
  *  - walk the observations in order and fill the gaps between and after
  *    them: `zero` leaves 0.0, `ffill` carries the previous observation,
  *    `interp` computes `pv + (nv - pv) * (t - pt) / (nt - pt)` in exactly
  *    that double operation order (bit-equal to the DuckDB oracle's
  *    window formulation); leading gaps are 0.0 in every mode and
  *    trailing gaps carry the last observation in `ffill` and `interp`.
  *
  * Inputs: `cells: array<struct<tidx: bigint, value: double>>` (no null
  * entries, as `collect_list(struct(...))` makes it) and
  * `total_windows: bigint`. Returns `array<double>` of length
  * `total_windows + 1` with no null element; a negative `total_windows`
  * yields an empty array, a null input yields null.
  */
case class DensifyFill(cells: Expression, totalWindows: Expression, mode: String)
    extends BinaryExpression {

  private val modeCode = DensifyFillKernel.modeCode(mode)

  override def left: Expression = cells
  override def right: Expression = totalWindows

  override def prettyName: String = "densify_fill"

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (cells.dataType, totalWindows.dataType) match {
      case (ArrayType(StructType(Array(t, v)), false), LongType)
          if t.dataType == LongType && v.dataType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case (c, w) => TypeCheckResult.TypeCheckFailure(
        s"expected (array<struct<bigint, double>> without null entries, bigint), got ($c, $w)")
    }

  override def nullSafeEval(c: Any, tw: Any): Any =
    DensifyFillKernel.compute(c.asInstanceOf[ArrayData], tw.asInstanceOf[Long], modeCode)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, tw) => {
      s"""
         |${ev.value} = graft.functions.DensifyFillKernel.compute($c, $tw, $modeCode);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DensifyFill =
    copy(cells = newLeft, totalWindows = newRight)
}

object DensifyFillKernel {
  val Zero = 0
  val Forward = 1
  val Interp = 2

  def modeCode(mode: String): Int = mode match {
    case "zero" => Zero
    case "ffill" => Forward
    case "interp" => Interp
    case m => throw new IllegalArgumentException(
      s"densify_fill: unknown fill mode '$m' (zero, ffill, interp)")
  }

  // per-window cell state while scattering
  val Absent: Byte = 0
  private val NullCell: Byte = 1
  private val Observed: Byte = 2

  def compute(cells: ArrayData, totalWindows: Long, mode: Int): ArrayData = {
    require(totalWindows < ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
      s"densify_fill: total_windows $totalWindows exceeds the array limit")
    val n = math.max(totalWindows + 1, 0L).toInt
    val out = new Array[Double](n) // gaps read 0.0 until filled
    val state = new Array[Byte](n)
    var i = 0
    while (i < cells.numElements()) {
      val cell = cells.getStruct(i, 2)
      if (cell.isNullAt(0))
        throw new IllegalArgumentException("densify_fill: null tidx in a cell")
      scatter(out, state, n, cell.getLong(0), cell.isNullAt(1),
        if (cell.isNullAt(1)) 0.0 else cell.getDouble(1))
      i += 1
    }
    fill(out, state, n, mode)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Place one cell on the series `out(0 until n)`, whose `state` starts
    * [[Absent]] and `out` 0.0: a cell outside `0 until n` is ignored, a
    * null value marks a gap, a second cell for one window raises.
    */
  def scatter(out: Array[Double], state: Array[Byte], n: Int, t: Long,
      isNull: Boolean, value: Double): Unit =
    if (t >= 0 && t < n) {
      val w = t.toInt
      if (state(w) != Absent) throw new IllegalArgumentException(
        s"densify_fill: duplicate tidx $t in one series")
      if (isNull) state(w) = NullCell
      else { state(w) = Observed; out(w) = value }
    }

  /** Fill the gaps of a scattered series `out(0 until n)` in place, per
    * `mode` (see [[DensifyFill]]).
    */
  def fill(out: Array[Double], state: Array[Byte], n: Int, mode: Int): Unit =
    if (mode != Zero) {
      // prev: the last observation so far (-1 = none, the leading gap
      // keeps 0.0); each gap between prev and the next observation t is
      // filled once, so the walk is linear
      var prev = -1
      var t = 0
      while (t < n) {
        if (state(t) == Observed) {
          val pv = if (prev >= 0) out(prev) else 0.0
          val nv = out(t)
          var g = prev + 1
          while (prev >= 0 && g < t) {
            out(g) =
              if (mode == Interp) pv + (nv - pv) * (g - prev).toDouble / (t - prev).toDouble
              else pv
            g += 1
          }
          prev = t
        }
        t += 1
      }
      if (prev >= 0) java.util.Arrays.fill(out, prev + 1, n, out(prev))
    }
}
