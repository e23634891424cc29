package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded PER-GROUP top-k as a typed `Aggregator` — the scale-safe
  * replacement for `row_number().over(Window.partitionBy(group))` ranking.
  *
  * The window form shuffles EVERY scored row of a group to one task and
  * sorts it there: for similarity search that is a query's entire scored
  * corpus on a single executor — the same scale hazard the q_topk fix
  * (TakeOrderedAndProject) removed for GLOBAL top-k. TakeOrderedAndProject
  * cannot rank within groups; this Aggregator is the per-group analog. It
  * runs under ObjectHashAggregate WITH partial aggregation: each mapper
  * keeps at most ~4k entries per group (trim-to-k amortized), the shuffle
  * carries k-bounded buffers instead of the scored corpus, and merges are
  * k-bounded too.
  *
  * Ordering contract: ascending (key, id) — a strict total order because
  * ids are unique within a group, so results are deterministic under any
  * partitioning. Callers rank a DESCENDING score by negating it (an IEEE
  * sign-bit flip — bit-exact, reversible) and carry the original score in
  * `value`. NULL keys must be filtered upstream (a null similarity means a
  * degenerate zero-norm vector — excluded from ranking; the window form
  * would admit such rows only when a group had fewer than k finite
  * candidates, a divergence documented at the call sites).
  */
object TopKAgg {

  /** (sort key asc, unique id asc, carried payload). */
  final case class Entry(key: Double, id: Long, value: Double)

  /** (sort key asc, unique id asc) — exact integer keys (no double
    * round-trip: a long key above 2^53 would lose ordering in a double).
    */
  final case class LongEntry(key: Long, id: Long)

  private def trimmed[T](b: ArrayBuffer[T], k: Int, trimAt: Int)(
      implicit ord: Ordering[T]): ArrayBuffer[T] =
    if (b.length <= trimAt) b
    else {
      val kept = b.sorted.take(k)
      b.clear()
      b ++= kept
    }

  final class DoubleTopK(k: Int)
      extends Aggregator[Entry, ArrayBuffer[Entry], Seq[Entry]] {
    require(k >= 1, "k must be positive")
    private val trimAt = math.max(4 * k, 64)
    private implicit val ord: Ordering[Entry] =
      Ordering.by((e: Entry) => (e.key, e.id))

    override def zero: ArrayBuffer[Entry] = ArrayBuffer.empty
    override def reduce(b: ArrayBuffer[Entry], e: Entry): ArrayBuffer[Entry] =
      trimmed(b += e, k, trimAt)
    override def merge(a: ArrayBuffer[Entry], b: ArrayBuffer[Entry]): ArrayBuffer[Entry] =
      trimmed(a ++= b, k, trimAt)
    override def finish(b: ArrayBuffer[Entry]): Seq[Entry] =
      b.sorted.take(k).toSeq
    override def bufferEncoder: Encoder[ArrayBuffer[Entry]] =
      ExpressionEncoder[ArrayBuffer[Entry]]()
    override def outputEncoder: Encoder[Seq[Entry]] =
      ExpressionEncoder[Seq[Entry]]()
  }

  final class LongTopK(k: Int)
      extends Aggregator[LongEntry, ArrayBuffer[LongEntry], Seq[LongEntry]] {
    require(k >= 1, "k must be positive")
    private val trimAt = math.max(4 * k, 64)
    private implicit val ord: Ordering[LongEntry] =
      Ordering.by((e: LongEntry) => (e.key, e.id))

    override def zero: ArrayBuffer[LongEntry] = ArrayBuffer.empty
    override def reduce(b: ArrayBuffer[LongEntry], e: LongEntry): ArrayBuffer[LongEntry] =
      trimmed(b += e, k, trimAt)
    override def merge(a: ArrayBuffer[LongEntry], b: ArrayBuffer[LongEntry]): ArrayBuffer[LongEntry] =
      trimmed(a ++= b, k, trimAt)
    override def finish(b: ArrayBuffer[LongEntry]): Seq[LongEntry] =
      b.sorted.take(k).toSeq
    override def bufferEncoder: Encoder[ArrayBuffer[LongEntry]] =
      ExpressionEncoder[ArrayBuffer[LongEntry]]()
    override def outputEncoder: Encoder[Seq[LongEntry]] =
      ExpressionEncoder[Seq[LongEntry]]()
  }

  /** `smallest_k(k)(key, id, value)` → `array<struct<key,id,value>>` of the
    * k smallest (key, id) entries, ascending — posexplode for 1-based ranks.
    */
  def smallest_k(k: Int): (Column, Column, Column) => Column = {
    val fn = udaf(new DoubleTopK(k), Encoders.product[Entry])
    (key, id, value) => fn(key, id, value)
  }

  /** `smallest_k_long(k)(key, id)` → `array<struct<key,id>>`, k smallest. */
  def smallest_k_long(k: Int): (Column, Column) => Column = {
    val fn = udaf(new LongTopK(k), Encoders.product[LongEntry])
    (key, id) => fn(key, id)
  }
}
