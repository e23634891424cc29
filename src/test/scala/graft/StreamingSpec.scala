package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Stages
import graft.model.MeanCombine
import graft.streaming.StreamingAggregator

// boxed feature_id: a stream event may carry a null one
case class StreamEv(stay_id: Long, event_time: Timestamp, feature_id: java.lang.Long,
    value: Double)

/** Streaming bucketize/combine must agree with the batch path on the same
  * data, including a stay-relative (non-epoch-aligned) window grid and
  * multi-microbatch arrival.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** The four events of the matrix-sink tests. */
  private def sinkEvents: Seq[StreamEv] = Seq(
    StreamEv(1L, ts("2020-01-01 00:40:00"), 7L, 2.0),
    StreamEv(1L, ts("2020-01-01 01:20:00"), 7L, 4.0),
    StreamEv(1L, ts("2020-01-01 01:40:00"), 7L, 6.0),
    StreamEv(1L, ts("2020-01-01 03:05:00"), 9L, 5.0))

  /** Stream `evs` in two microbatches through the foreachBatch matrix sink,
    * materialize the matrix, and assert it is byte-identical to the batch
    * sink's on the same events.
    */
  private def assertStreamedMatchesBatch(evs: Seq[StreamEv]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val stayIdx = Seq((1L, ts("2020-01-01 00:30:00").getTime / 1000, 5L))
      .toDF("stay_id", "intime", "total_windows")
    val store = Files.createTempDirectory("graft-stream-store").toString + "/p"
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    val streamDst = Files.createTempDirectory("graft-stream-dst")
    val batchDst = Files.createTempDirectory("graft-batch-dst")

    val source = MemoryStream[StreamEv]
    val partials = StreamingAggregator.partials(
      source.toDF(), stayIdx, 3600L, watermark = "10 hours")
    val q = StreamingAggregator.matrixSink(partials, store, ckpt).start()
    try {
      source.addData(evs.take(2)); q.processAllAvailable()
      source.addData(evs.drop(2)); q.processAllAvailable()
      // append mode emits a group only once the watermark passes its
      // window: push far-future events (post-stay → dropped from the
      // aggregation itself) to advance the watermark, then one more
      // microbatch so the flushed groups reach the store
      source.addData(StreamEv(1L, ts("2020-01-03 00:00:00"), 7L, 99.0))
      q.processAllAvailable()
      source.addData(StreamEv(1L, ts("2020-01-04 00:00:00"), 7L, 99.0))
      q.processAllAvailable()
    } finally q.stop()
    StreamingAggregator.materializeMatrices(spark, store, stayIdx,
      streamDst.toString, "chartevents", MeanCombine, Stages.ZeroFill)

    // batch reference through the SAME sink on identical input
    val batchEvents = evs.toDF()
      .select(col("stay_id"), unix_timestamp(col("event_time")).as("event_epoch_time"),
        col("feature_id"), col("value"))
    graft.io.MatrixWriter.write(
      Stages.densify(
        Stages.combine(Stages.bucketize(batchEvents, stayIdx, 3600L), MeanCombine),
        Stages.ZeroFill),
      stayIdx, batchDst.toString, "chartevents")

    val a = Files.readAllLines(streamDst.resolve("1/chartevents_features.csv"))
    val b = Files.readAllLines(batchDst.resolve("1/chartevents_features.csv"))
    assert(a == b, "streamed matrix must be byte-identical to the batch matrix")
  }

  test("foreachBatch matrix sink produces byte-identical files to the batch sink") {
    assertStreamedMatchesBatch(sinkEvents)
  }

  test("a streaming event with a null event_time or null feature_id is dropped, as in batch") {
    // batch bucketize drops both; the writer fails on a null feature
    assertStreamedMatchesBatch(sinkEvents ++ Seq(
      StreamEv(1L, null, 7L, 50.0),
      StreamEv(1L, ts("2020-01-01 02:10:00"), null, 60.0)))
  }

  test("streaming partials fold to the batch result across microbatches") {
    implicit val sqlCtx = spark.sqlContext
    // intime 00:30 → stay-relative windows straddle epoch-hour boundaries
    val stayIdx = Seq((1L, ts("2020-01-01 00:30:00").getTime / 1000, 5L))
      .toDF("stay_id", "intime", "total_windows")

    val evs = Seq(
      StreamEv(1L, ts("2020-01-01 00:40:00"), 7L, 2.0), // tidx 0
      StreamEv(1L, ts("2020-01-01 01:20:00"), 7L, 4.0), // tidx 0 (same tidx, different epoch hour)
      StreamEv(1L, ts("2020-01-01 01:40:00"), 7L, 6.0), // tidx 1
      StreamEv(1L, ts("2020-01-01 00:10:00"), 7L, 8.0), // pre-intime → clamp 0
      StreamEv(1L, ts("2020-01-01 07:00:00"), 7L, 9.0)) // post-stay → dropped

    val source = MemoryStream[StreamEv]
    val partials = StreamingAggregator.partials(
      source.toDF(), stayIdx, 3600L, watermark = "10 hours")
    val q = partials.writeStream.outputMode("complete")
      .format("memory").queryName("stream_out").start()
    try {
      source.addData(evs.take(2))
      q.processAllAvailable()
      source.addData(evs.drop(2))
      q.processAllAvailable()
      val streamed = StreamingAggregator.finalizeView(
        spark.table("stream_out"), MeanCombine)
        .select("stay_id", "feature_id", "tidx", "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet

      // batch reference on identical input
      val batchEvents = evs.toDF()
        .select(col("stay_id"), unix_timestamp(col("event_time")).as("event_epoch_time"),
          col("feature_id"), col("value"))
      val batch = Stages.combine(
        Stages.bucketize(batchEvents, stayIdx, 3600L), MeanCombine)
        .select("stay_id", "feature_id", "tidx", "value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet

      assert(streamed == batch)
      // tidx 0 mean over {2.0, 4.0, 8.0} despite spanning two epoch windows
      assert(streamed.contains((1L, 7L, 0L, 14.0 / 3)))
      assert(streamed.contains((1L, 7L, 1L, 6.0)))
      assert(!streamed.exists(_._3 > 5L)) // post-stay dropped
    } finally q.stop()
  }

  test("streaming media decode matches the batch decoder per record") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Multimodal
    def pixel(x: Int, y: Int): Int = (x * 31 + y * 7) % 256 << 16 | 0x4080
    val records = Seq(
      Multimodal.MediaRecord(0L, "image", Multimodal.makePng(4, 3, pixel), "s"),
      Multimodal.MediaRecord(1L, "image", Multimodal.makeBmp(4, 3, pixel), "s"),
      Multimodal.MediaRecord(2L, "image", "junk".getBytes("UTF-8"), "s"))
    val source = MemoryStream[Multimodal.MediaRecord]
    // the decoder is a plain typed mapPartitions — it must compose with a
    // streaming Dataset unchanged (per-micro-batch codec contexts)
    val q = Multimodal.decodeImages(source.toDS()).writeStream
      .outputMode("append").format("memory").queryName("mm_decode_out")
      .start()
    try {
      source.addData(records.take(2): _*)
      q.processAllAvailable()
      source.addData(records.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("mm_decode_out")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.get(8)).map(_.asInstanceOf[Long])))).toMap
    val batch = Multimodal.decodeImages(records.toDS())
      .collect().map(f => f.media_id -> ((f.decoded, f.px_fp))).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (id, (dec, fp)) =>
      assert(streamed(id) == ((dec, fp)), s"media $id")
    }
    // PNG and BMP of the same grid agree in the stream too
    assert(batch(0L)._2.nonEmpty && batch(0L)._2 == batch(1L)._2)
  }

  test("streaming audio energy windows match the batch profile per record") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Multimodal
    val records = Seq(
      Multimodal.MediaRecord(0L, "audio",
        Multimodal.makeWav(8000, Seq(100, -200, 300, 0, 0, 0, 7)), "s"),
      Multimodal.MediaRecord(1L, "audio",
        Multimodal.makeWav(8000, Seq(0, 0, 0)), "s"), // fully silent
      Multimodal.MediaRecord(2L, "audio", "junk".getBytes("UTF-8"), "s"))
    val source = MemoryStream[Multimodal.MediaRecord]
    // the window profiler is a typed flatMap-shaped mapPartitions — it
    // must compose with a streaming Dataset unchanged
    val q = Multimodal.wavEnergyWindows(source.toDS(), 3).writeStream
      .outputMode("append").format("memory").queryName("mm_energy_out")
      .start()
    try {
      source.addData(records.take(2): _*)
      q.processAllAvailable()
      source.addData(records.drop(2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("mm_energy_out").collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    val batch = Multimodal.wavEnergyWindows(records.toDS(), 3).collect()
      .map(w => (w.media_id, w.win_idx) ->
        ((w.n, w.energy, w.peak_abs, w.silent))).toMap
    assert(streamed == batch)
    assert(batch((1L, 0)) == ((3L, 0L, 0L, true))) // silent stream flagged
    assert(!batch.keySet.exists(_._1 == 2L)) // junk quarantines to no rows
  }
}
