package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import graft.etl.Stages
import graft.model.{Combiner, MeanCombine, SumCombine}

/** Structured Streaming variant of the engine's bucketize → combine core
  * (SURVEY.md §7.5) — the reference is batch-only; this is the
  * beyond-reference streaming path.
  *
  * Design: stay-relative windows (`tidx`) are NOT epoch-aligned — each stay's
  * grid starts at its own `intime` — so Spark's `window()` (global origin)
  * cannot be the grouping key, and a bare `groupBy(stay, feature, tidx)`
  * would never evict state in append mode. The engine therefore emits
  * watermark-evictable PARTIAL aggregates keyed by
  * (stay, feature, tidx, epoch-window): a stay-relative window overlaps at
  * most two epoch windows of the same width, each partial carries
  * (sum, count), and [[finalizeView]] folds partials into final values —
  * mean = Σsum/Σn is exact, so the split loses nothing. State per key is
  * bounded and leaves memory as the watermark passes; the fold is a cheap
  * batch aggregation over the sink (or a `foreachBatch` merge).
  *
  * Late/early semantics are the batch path's, because the window
  * assignment IS the batch [[graft.etl.Stages.bucketize]] (SURVEY.md §2.5
  * W4): events before `intime` clamp into window 0; events after the stay
  * end, and events with a null time or feature, are dropped; events later
  * than the watermark are dropped by Spark.
  */
object StreamingAggregator {

  /** Streaming partial aggregation of (stay_id, event_time: timestamp,
    * feature_id, value) against a static stay index (stay_id, intime,
    * total_windows), which [[graft.etl.Stages.bucketize]] broadcasts.
    */
  def partials(events: DataFrame, stayIndex: DataFrame,
      timestepSeconds: Long, watermark: String = "2 hours"): DataFrame =
    Stages.bucketize(
        events
          .withWatermark("event_time", watermark)
          .withColumn("event_epoch_time", unix_timestamp(col("event_time"))),
        stayIndex, timestepSeconds)
      .groupBy(col("stay_id"), col("feature_id"), col("tidx"),
        window(col("event_time"), s"$timestepSeconds seconds"))
      .agg(sum(col("value")).as("value_sum"), count(col("value")).as("value_n"))
      .select("stay_id", "feature_id", "tidx", "value_sum", "value_n")

  /** Fold partials into final combined values (batch view over the sink).
    * Only mean/sum are finalizable from (sum, count) partials — an arbitrary
    * `CustomCombine` (e.g. median) is NOT decomposable this way and is
    * rejected here; custom combiners belong to the batch path (or a
    * flatMapGroupsWithState stream keeping full per-key state).
    */
  def finalizeView(partials: DataFrame, combiner: Combiner): DataFrame = {
    val folded = partials.groupBy("stay_id", "feature_id", "tidx")
      .agg(sum(col("value_sum")).as("s"), sum(col("value_n")).as("n"))
    val value = combiner match {
      case MeanCombine => col("s") / col("n")
      case SumCombine => col("s")
      case other => throw new IllegalArgumentException(
        s"combiner $other cannot be finalized from (sum, count) partials; " +
          "use the batch path for custom combiners")
    }
    folded.select(col("stay_id"), col("feature_id"), col("tidx"),
      value.as("value"))
  }

  /** foreachBatch sink closing the streaming → matrix loop (SURVEY.md §7.5's
    * last step): each microbatch writes its watermark-evicted partials to a
    * batch-id-keyed partition of the parquet partial store. foreachBatch is
    * at-least-once — a crash between the parquet commit and the checkpoint
    * commit replays the same batchId — so the write is mode("overwrite") of
    * THAT batch's own directory, making replays idempotent (a blind append
    * would duplicate partials and double-count sums). Partials for a key may
    * still land in several batches; the store is fold-on-read. Call
    * [[materializeMatrices]] against the store to produce the SAME per-stay
    * matrix files as the batch engine.
    */
  def matrixSink(partials: DataFrame, storePath: String,
      checkpoint: String): DataStreamWriter[Row] =
    partials.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$storePath/batch_id=$batchId")
        ()
      }

  /** Fold the partial store and write the per-stay matrices through the
    * batch run's own CSV writer ([[graft.io.MatrixWriter.writeCombined]]) —
    * a consumer cannot tell whether a matrix came from the batch or the
    * streaming path. `stayIndex` needs (stay_id, total_windows) and must
    * hold every stay of the store, as the one [[partials]] joined does.
    */
  def materializeMatrices(spark: SparkSession, storePath: String,
      stayIndex: DataFrame, dstPath: String, sourceName: String,
      combiner: Combiner, fill: graft.etl.Stages.FillMode): Unit =
    graft.io.MatrixWriter.writeCombined(
      finalizeView(spark.read.parquet(storePath), combiner),
      stayIndex, fill, dstPath, sourceName)
}
