package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Stages
import graft.model.MeanCombine
import graft.streaming.StreamingAggregator

case class StreamEv(stay_id: Long, event_time: Timestamp, feature_id: Long, value: Double)

/** Streaming bucketize/combine must agree with the batch path on the same
  * data, including a stay-relative (non-epoch-aligned) window grid and
  * multi-microbatch arrival.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("stateful sessionizer closes sessions on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{SessionEvent, StreamingSessionizer}
    val source = MemoryStream[SessionEvent]
    val sessions = StreamingSessionizer.sessionize(
      source.toDS(), gapSeconds = 1800, watermarkDelay = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      // batch 1: user 1 has two events 10 min apart (one session), then a
      // 2-hour gap to a third event -> first session closes mid-batch
      source.addData(
        SessionEvent(1L, ts("2020-01-01 00:00:00"), 1.0),
        SessionEvent(1L, ts("2020-01-01 00:10:00"), 2.0),
        SessionEvent(1L, ts("2020-01-01 02:10:00"), 4.0))
      q.processAllAvailable()
      // batch 2: far-future event for user 2 advances the watermark past
      // user 1's open session + gap -> timeout closes it
      source.addData(SessionEvent(2L, ts("2020-01-02 00:00:00"), 8.0))
      q.processAllAvailable()
      source.addData(SessionEvent(2L, ts("2020-01-03 00:00:00"), 16.0))
      q.processAllAvailable()

      val got = spark.table("sessions_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
      // user 1: session {1.0, 2.0} closed by gap; session {4.0} by timeout
      assert(got.contains((1L, 2L, 3.0)))
      assert(got.contains((1L, 1L, 4.0)))
      // user 2's first event closed by the day-3 watermark advance
      assert(got.contains((2L, 1L, 8.0)))
    } finally q.stop()
  }

  test("streaming burst detector evaluates closed hours against trailing rate") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingBursts
    // hours 0..6: one event each (the quiet baseline); hour 7: a 10-event
    // spike; batch 2's hour-8 event CLOSES hour 7 and must fire the alert.
    // Hours 1..6 close with either trail_n < 6 or cnt below 3x — no alert.
    val baseline = (0 to 6).map(h =>
      ("api", ts(f"2020-01-01 $h%02d:15:00")))
    val spike = (0 until 10).map(m =>
      ("api", ts(f"2020-01-01 07:${m * 5}%02d:00")))
    val b2 = Seq(("api", ts("2020-01-01 08:01:00")))
    val source = MemoryStream[(String, Timestamp)]
    val out = StreamingBursts.detect(
      source.toDF().toDF("event_type", "event_time"),
      horizonSeconds = 86400, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("burst_out").start()
    try {
      source.addData(baseline ++ spike: _*); q.processAllAvailable()
      val afterB1 = spark.table("burst_out").count()
      assert(afterB1 == 0, s"no hour with >=6h evidence bursts in batch 1")
      source.addData(b2: _*); q.processAllAvailable()
      val got = spark.table("burst_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      // hour 7 = epoch hour 438295 + 7? No: epoch hours for 2020-01-01 are
      // absolute — recompute from the timestamp itself for robustness
      val hr7 = ts("2020-01-01 07:00:00").getTime / 1000 / 3600
      assert(got == Set(("api", hr7, 10L, 7L, 7L)), s"got $got")
    } finally q.stop()
  }

  test("streaming dedup keeps first-seen per fingerprint, re-admits after horizon") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    case class Doc(doc_id: Long, event_time: Timestamp, text: String)
    val source = MemoryStream[(Long, Timestamp, String)]
    val kept = StreamingDedup.firstSeen(
      source.toDF().toDF("doc_id", "event_time", "text"),
      horizonSeconds = 3600, watermarkDelay = "0 seconds")
    val q = kept.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      // batch 1: two copies of A (case/whitespace variants → same
      // fingerprint) + one B → keep the earliest A (id 2) and B
      source.addData(
        (5L, ts("2020-01-01 00:10:00"), "Hello  World"),
        (2L, ts("2020-01-01 00:05:00"), "hello world"),
        (3L, ts("2020-01-01 00:06:00"), "something else"))
      q.processAllAvailable()
      // batch 2: another A inside the horizon → dropped
      source.addData((7L, ts("2020-01-01 00:30:00"), "HELLO WORLD"))
      q.processAllAvailable()
      // advance the watermark past lastSeen(00:30) + 1h, expiring A's state
      source.addData((8L, ts("2020-01-01 02:00:00"), "unrelated new doc"))
      q.processAllAvailable()
      source.addData((9L, ts("2020-01-01 03:00:00"), "another unrelated"))
      q.processAllAvailable()
      // batch 5: A returns AFTER the horizon → re-admitted
      source.addData((11L, ts("2020-01-01 03:10:00"), "hello world"))
      q.processAllAvailable()
      source.addData((12L, ts("2020-01-02 00:00:00"), "watermark pusher"))
      q.processAllAvailable()

      val keptIds = spark.table("dedup_out")
        .collect().map(_.getLong(0)).toSet
      assert(keptIds.contains(2L) && !keptIds.contains(5L) && !keptIds.contains(7L),
        s"first-seen A must win: $keptIds")
      assert(keptIds.contains(3L) && keptIds.contains(8L) && keptIds.contains(9L))
      assert(keptIds.contains(11L), s"post-horizon duplicate must re-admit: $keptIds")
    } finally q.stop()
  }

  test("streaming segment dedup: batch parity in arrival order, horizon re-admit") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingSegmentDedup
    val source = MemoryStream[(Long, Timestamp, String)]
    val kept = StreamingSegmentDedup.keptSegments(
      source.toDF().toDF("doc_id", "event_time", "text"),
      sep = "\n", horizonSeconds = 3600, watermarkDelay = "0 seconds")
    val q = kept.writeStream.outputMode("append")
      .format("memory").queryName("segdedup_out").start()
    try {
      // batch 1: nav repeats across docs 1/2 AND within doc 2
      source.addData(
        (1L, ts("2020-01-01 00:01:00"), "nav\nalpha one\nfoot"),
        (2L, ts("2020-01-01 00:02:00"), "nav\nbeta two\nnav"))
      q.processAllAvailable()
      // batch 2: doc 3 re-sights foot and nav inside the horizon
      source.addData((3L, ts("2020-01-01 00:03:00"), "gamma three\nfoot\nnav"))
      q.processAllAvailable()
      // advance watermark past lastSeen(nav)=00:03 + 1h, expiring state
      source.addData((8L, ts("2020-01-01 02:00:00"), "unrelated text here"))
      q.processAllAvailable()
      source.addData((9L, ts("2020-01-01 03:00:00"), "more unrelated"))
      q.processAllAvailable()
      // nav returns AFTER the horizon -> re-admitted
      source.addData((11L, ts("2020-01-01 03:10:00"), "nav"))
      q.processAllAvailable()
      source.addData((12L, ts("2020-01-02 00:00:00"), "watermark pusher"))
      q.processAllAvailable()

      val got = spark.table("segdedup_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      // batch parity: arrival order == id order, so first-seen-wins must
      // reproduce the batch operator's (min doc, min pos) canonical set
      val batchDocs = Seq(
        (1L, "nav\nalpha one\nfoot"), (2L, "nav\nbeta two\nnav"),
        (3L, "gamma three\nfoot\nnav")).toDF("doc_id", "text")
      val clean = graft.ops.Dedup.segmentDedup(batchDocs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(6)).toMap
      val stitched = got.filter(_._1 <= 3L).groupBy(_._1)
        .view.mapValues(s => s.toSeq.sortBy(_._2).map(_._3).mkString("\n"))
        .toMap
      Seq(1L, 2L, 3L).foreach { id =>
        assert(stitched.getOrElse(id, "") == clean(id),
          s"doc $id: ${stitched.get(id)} vs batch ${clean(id)}")
      }
      assert(got.contains((11L, 0, "nav")),
        s"post-horizon segment must re-admit: $got")
      assert(!got.exists(k => k._1 == 3L && k._3 == "nav"))
    } finally q.stop()
  }

  test("foreachBatch matrix sink produces byte-identical files to the batch sink") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    val stayIdx = Seq((1L, ts("2020-01-01 00:30:00").getTime / 1000, 5L))
      .toDF("stay_id", "intime", "total_windows")
    val evs = Seq(
      StreamEv(1L, ts("2020-01-01 00:40:00"), 7L, 2.0),
      StreamEv(1L, ts("2020-01-01 01:20:00"), 7L, 4.0),
      StreamEv(1L, ts("2020-01-01 01:40:00"), 7L, 6.0),
      StreamEv(1L, ts("2020-01-01 03:05:00"), 9L, 5.0))
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

  test("stream-stream join pairs within the time bound, matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingJoin
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val joined = StreamingJoin.withinTime(
      imps.toDF().toDF("ad_id", "imp_time"),
      clicks.toDF().toDF("ad_id", "click_time"),
      "ad_id", "imp_time", "click_time",
      maxDelay = "10 minutes", watermarkDelay = "0 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    val impRows = Seq(
      (1L, ts("2020-01-01 00:00:00")),
      (2L, ts("2020-01-01 00:05:00")),
      (3L, ts("2020-01-01 00:10:00")))
    val clickRows = Seq(
      (1L, ts("2020-01-01 00:04:00")),  // in window -> pair
      (1L, ts("2020-01-01 00:20:00")),  // 20 min late -> out of window
      (2L, ts("2020-01-01 00:04:00")),  // BEFORE its impression -> no pair
      (3L, ts("2020-01-01 00:19:59")))  // just inside -> pair
    try {
      imps.addData(impRows.take(2): _*)
      clicks.addData(clickRows.take(2): _*)
      q.processAllAvailable()
      imps.addData(impRows.drop(2): _*)
      clicks.addData(clickRows.drop(2): _*)
      q.processAllAvailable()
      // push the watermark far forward so every joinable pair is emitted
      imps.addData((99L, ts("2020-01-02 00:00:00")))
      clicks.addData((99L, ts("2020-01-03 00:00:00")))
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .select("ad_id", "imp_time", "click_time").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString)).toSet
      // batch parity: same condition over the full static frames
      val expected = impRows.toDF("ad_id", "imp_time").as("l")
        .join(clickRows.toDF("ad_id", "click_time").as("r"),
          col("l.ad_id") === col("r.ad_id") &&
            col("click_time") >= col("imp_time") &&
            col("click_time") <= col("imp_time") + expr("INTERVAL 10 minutes"))
        .select(col("l.ad_id"), col("imp_time"), col("click_time")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString)).toSet
      assert(got == expected)
      assert(got == Set(
        (1L, "2020-01-01 00:00:00.0", "2020-01-01 00:04:00.0"),
        (3L, "2020-01-01 00:10:00.0", "2020-01-01 00:19:59.0")))
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

  test("streaming quantiles: running estimates equal batch per prefix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingQuantiles
    import graft.ops.QuantileSketch
    val source = MemoryStream[(String, Timestamp, String, Long)]
    val ps = Seq(25, 50, 99)
    val q = StreamingQuantiles.estimates(
        source.toDF().toDF("grp", "event_time", "key", "value"),
        k = 16, ps = ps, watermarkDelay = "0 seconds")
      .writeStream.outputMode("update")
      .format("memory").queryName("qs_out").start()
    def latest(): Map[(String, Int), (Long, Long)] = spark.table("qs_out")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .groupBy(x => (x._1, x._2)).map { case (k0, rows) =>
        k0 -> (rows.last._3, rows.last._4) } // Update mode: last row wins
    def batchOf(rows: Seq[(String, String, Long)]): Map[(String, Int), (Long, Long)] =
      QuantileSketch.quantiles(rows.toDF("grp", "key", "v"),
          Seq("grp"), col("v"), col("key"), k = 16, ps = ps)
        .collect().map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3)))).toMap
    try {
      // prefix 1: 10 rows in g1 (sample unfilled -> exact quantiles)
      val p1 = (0 until 10).map(i => ("g1", s"a$i", (i * 11 % 97).toLong))
      source.addData(p1.map { case (g, k, v) =>
        (g, ts("2020-01-01 00:00:01"), k, v) }: _*)
      q.processAllAvailable()
      assert(latest() == batchOf(p1))
      // prefix 2: push g1 well past k=16 — tracker sample must equal the
      // batch sample of the FULL prefix, estimates included
      val more = (10 until 80).map(i => ("g1", s"a$i", (i * 7 % 89).toLong))
      source.addData(more.map { case (g, k, v) =>
        (g, ts("2020-01-01 00:00:02"), k, v) }: _*)
      q.processAllAvailable()
      val want = batchOf(p1 ++ more)
      assert(latest() == want, s"stream ${latest()} vs batch $want")
      assert(latest()(("g1", 50))._1 == 16L) // genuinely in the filled regime
    } finally q.stop()
  }

  test("streaming KMV distinct: running estimate equals batch per prefix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDistinct
    import graft.ops.Kmv
    val source = MemoryStream[(String, Timestamp, String)]
    val q = StreamingDistinct.estimates(
        source.toDF().toDF("grp", "event_time", "key"),
        k = 16, watermarkDelay = "0 seconds")
      .writeStream.outputMode("update")
      .format("memory").queryName("kmv_out").start()
    def latest(): Map[String, (Int, Long)] = spark.table("kmv_out")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (g, rows) =>
        g -> (rows.last._2, rows.last._3) } // Update mode: last row wins
    def batchOf(keys: Seq[(String, String)]): Map[String, (Int, Long)] =
      Kmv.distinctEstimate(keys.toDF("grp", "key"), Seq("grp"),
          col("key"), k = 16)
        .collect().map(r =>
          r.getString(0) -> ((r.getLong(1).toInt, r.getLong(3)))).toMap
    try {
      // prefix 1: 10 distinct in g1 (sketch unfilled -> exact), 3 in g2
      val p1 = (0 until 10).map(i => ("g1", s"a$i")) ++
        (0 until 3).map(i => ("g2", s"b$i"))
      source.addData(p1.map { case (g, k) =>
        (g, ts("2020-01-01 00:00:01"), k) }: _*)
      q.processAllAvailable()
      assert(latest() == batchOf(p1))
      // prefix 2: push g1 past k=16 with duplicates mixed in — the
      // tracker's sketch must equal the batch sketch of the FULL prefix
      val more = (5 until 60).map(i => ("g1", s"a$i")) ++
        (0 until 10).map(i => ("g1", s"a$i")) // dups, must not change it
      source.addData(more.map { case (g, k) =>
        (g, ts("2020-01-01 00:00:02"), k) }: _*)
      q.processAllAvailable()
      val want = batchOf(p1 ++ more)
      assert(latest() == want, s"stream ${latest()} vs batch $want")
      assert(latest()("g1")._1 == 16) // genuinely in the filled regime
    } finally q.stop()
  }

  test("streaming HLL: running estimate equals batch per prefix") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingHll
    import graft.ops.Hll
    val source = MemoryStream[(String, Timestamp, String)]
    val q = StreamingHll.estimates(
        source.toDF().toDF("grp", "event_time", "key"),
        p = 6, watermarkDelay = "0 seconds")
      .writeStream.outputMode("update")
      .format("memory").queryName("hll_out").start()
    def latest(): Map[String, (Long, Long)] = spark.table("hll_out")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (g, rows) =>
        g -> (rows.last._2.toLong, rows.last._3) }
    def batchOf(keys: Seq[(String, String)]): Map[String, (Long, Long)] =
      Hll.distinctEstimate(keys.toDF("grp", "key"), Seq("grp"),
          col("key"), p = 6)
        .collect().map(r =>
          r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    try {
      val p1 = (0 until 40).map(i => ("g1", s"a$i")) ++
        (0 until 5).map(i => ("g2", s"b$i"))
      source.addData(p1.map { case (g, k) =>
        (g, ts("2020-01-01 00:00:01"), k) }: _*)
      q.processAllAvailable()
      assert(latest() == batchOf(p1))
      // prefix 2: push g1 well past m = 64, duplicates must be no-ops
      // (register max is idempotent)
      val more = (20 until 400).map(i => ("g1", s"a$i")) ++
        (0 until 40).map(i => ("g1", s"a$i"))
      source.addData(more.map { case (g, k) =>
        (g, ts("2020-01-01 00:00:02"), k) }: _*)
      q.processAllAvailable()
      val want = batchOf(p1 ++ more)
      assert(latest() == want, s"stream ${latest()} vs batch $want")
    } finally q.stop()
  }
}
