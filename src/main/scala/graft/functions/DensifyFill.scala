package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.array.ByteArrayMethods

import graft.etl.Stages.{FillMode, LinearInterp, ZeroFill}

/** The engine's one densify + fill, shared by [[graft.etl.Stages.densify]]
  * and the CSV sink: a walk over rows sorted by `(stay_id, feature_id,
  * tidx)` that turns each (stay, feature) run of cells into its dense
  * series in O(total_windows + cells), in arrays reused across runs.
  *
  *  - scatter the `(tidx, value)` cells onto `0..total_windows`; a cell
  *    whose value is null, or a window with no cell, is a gap; cells
  *    outside `0..total_windows` are ignored; a repeated in-range or a
  *    null `tidx` raises;
  *  - walk the observations in order and fill the gaps between and after
  *    them per [[graft.etl.Stages.FillMode]]: `ZeroFill` leaves 0.0,
  *    `ForwardFill` carries the previous observation, `LinearInterp`
  *    computes `pv + (nv - pv) * (t - pt) / (nt - pt)` in exactly that
  *    double operation order (bit-equal to the DuckDB oracle's
  *    window formulation); leading gaps are 0.0 in every mode and
  *    trailing gaps carry the last observation in the other two.
  *
  * A run is the longest stretch of rows with equal `stay_id` and
  * `feature_id`; a null `feature_id` is a run of its own. A negative or
  * null `total_windows` makes an empty series.
  */
object DensifyFillKernel {
  // per-window cell state while scattering
  private val Absent: Byte = 0
  private val NullCell: Byte = 1
  private val Observed: Byte = 2

  /** Windows `0..totalWindows` of one series: `totalWindows + 1`, 0 for a
    * negative `totalWindows`; one past the array limit fails.
    */
  def seriesLength(totalWindows: Long): Int = {
    require(totalWindows < ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
      s"densify: total_windows $totalWindows exceeds the array limit")
    math.max(totalWindows + 1, 0L).toInt
  }

  /** One dense, filled series of [[walk]]: `values(0 until n)`. The walk
    * reuses the object and its array, so it is valid until the walk
    * advances.
    */
  final class Series {
    var stay: Any = _
    var feature: Any = _
    var n = 0
    var values = new Array[Double](0)
  }

  /** Densify and fill, per `mode`, each (stay, feature) run of `rows`
    * `(stay_id, feature_id, tidx: bigint, value: double, ...)` sorted by
    * `(stay_id, feature_id, tidx)`; `width` gives the series length of
    * the run that a row starts (see [[seriesLength]]).
    */
  def walk(rows: Iterator[Row], mode: FillMode)(width: Row => Int): Iterator[Series] =
    new scala.collection.AbstractIterator[Series] {
      private val in = rows.buffered
      private val s = new Series
      private var state = new Array[Byte](0)

      override def hasNext: Boolean = in.hasNext

      override def next(): Series = {
        val first = in.head
        s.stay = first.get(0)
        s.feature = first.get(1)
        s.n = width(first)
        if (s.values.length < s.n) {
          s.values = new Array[Double](s.n)
          state = new Array[Byte](s.n)
        } else {
          java.util.Arrays.fill(s.values, 0, s.n, 0.0)
          java.util.Arrays.fill(state, 0, s.n, Absent)
        }
        while (in.hasNext && in.head.get(0) == s.stay && in.head.get(1) == s.feature) {
          val r = in.next()
          if (r.isNullAt(2)) throw new IllegalArgumentException("densify: null tidx in a cell")
          scatter(s.values, state, s.n, r.getLong(2), r.isNullAt(3),
            if (r.isNullAt(3)) 0.0 else r.getDouble(3))
        }
        fill(s.values, state, s.n, mode)
        s
      }
    }

  /** Place one cell on the series `out(0 until n)`, whose `state` starts
    * [[Absent]] and `out` 0.0: a cell outside `0 until n` is ignored, a
    * null value marks a gap, a second cell for one window raises.
    */
  private def scatter(out: Array[Double], state: Array[Byte], n: Int, t: Long,
      isNull: Boolean, value: Double): Unit =
    if (t >= 0 && t < n) {
      val w = t.toInt
      if (state(w) != Absent) throw new IllegalArgumentException(
        s"densify: duplicate tidx $t in one series")
      if (isNull) state(w) = NullCell
      else { state(w) = Observed; out(w) = value }
    }

  /** Fill the gaps of a scattered series `out(0 until n)` in place, per
    * `mode` (see [[DensifyFillKernel]]).
    */
  private def fill(out: Array[Double], state: Array[Byte], n: Int, mode: FillMode): Unit =
    if (mode != ZeroFill) {
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
              if (mode == LinearInterp) pv + (nv - pv) * (g - prev).toDouble / (t - prev).toDouble
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
