package graft.util

import org.apache.spark.sql.DataFrame

/** Pre-materialization plan capture for the audit tools.
  *
  * An eager `localCheckpoint()` inside an operator truncates every plan a
  * downstream tool can see — `Bench plans`/`ExplainCheck` dump an
  * `ExistingRDD` scan and the shape evidence for the expensive upstream
  * (the round-16 verdict's item 5: the trainer gates' "after" dumps were
  * 8-line checkpoint scans). Operators route gate-relevant checkpoints
  * through [[local]], which — only while a tool holds capture open —
  * records the INPUT's formatted plan before checkpointing. Off by
  * default: the bench/verify hot paths pay one volatile read.
  *
  * Capture is process-wide, not per thread: between [[start]] and [[stop]]
  * every [[local]] call in the JVM records into the same buffer. It
  * assumes one thread constructs the plans being audited, as
  * `ExplainCheck` and `Bench plans` do. A caller that builds plans from
  * several threads at once would see their captures interleaved;
  * `EventsAggregator.run` does (up to four source threads), but its
  * pipelines do not route through `local`.
  */
object PlanTap {
  @volatile private var capturing = false
  private val buf =
    scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  /** Begin capture (clears previously captured plans). */
  def start(): Unit = synchronized { capturing = true; buf.clear() }

  /** End capture, returning (tag, formatted plan) in record order. */
  def stop(): Seq[(String, String)] = synchronized {
    capturing = false
    val r = buf.toList
    buf.clear()
    r
  }

  /** `df.localCheckpoint()`, recording `df`'s formatted physical plan
    * under `tag` when capture is open.
    */
  def local(df: DataFrame, tag: String): DataFrame = {
    if (capturing) synchronized {
      if (capturing) buf += tag -> df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    }
    df.localCheckpoint()
  }
}
