package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Restart-recovery contract for the stateful trackers: a query killed
  * between micro-batches and restarted FROM ITS CHECKPOINT (same source,
  * same pipeline, same checkpoint dir) must resume with its state intact —
  * pairs/sessions/alerts that straddle the restart boundary still fire,
  * nothing already emitted is emitted again, and the combined output is
  * the batch-parity set. This is Spark's own StopStream/StartStream-
  * from-checkpoint discipline: the foreachBatch sink is the
  * fault-tolerant deployment sink, and the HDFS-backed state store +
  * commit log carry the tracker state and watermark across the restart.
  */
class StreamingRecoverySpec extends AnyFunSuite {

  lazy val spark = SparkTest.session
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Runs `mkQuery` twice against the same checkpoint dir — add `first`
    * batches, stop (the mid-stream kill), restart, add `second` — and
    * returns every row the two incarnations emitted, tagged by phase.
    */
  private def runWithRestart[A](
      mkQuery: () => Dataset[_],
      addFirst: () => Unit, addSecond: () => Unit): (Seq[Row], Seq[Row]) = {
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def start() = {
      val sink: (Dataset[Row], Long) => Unit =
        (b, _) => b.collect().foreach(buf.add)
      mkQuery().toDF().writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink).start()
    }
    val q1 = start()
    try { addFirst(); q1.processAllAvailable() } finally q1.stop()
    val phase1 = buf.toArray(Array.empty[Row]).toSeq
    val q2 = start()
    try { addSecond(); q2.processAllAvailable() } finally q2.stop()
    val all = buf.toArray(Array.empty[Row]).toSeq
    (phase1, all.drop(phase1.size))
  }

  test("burst detector survives restart: trailing-rate evidence persists") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingBursts
    val source = MemoryStream[(String, Timestamp)]
    val baseline = (0 to 6).map(h => ("api", ts(f"2020-01-01 $h%02d:15:00")))
    val spike = (0 until 10).map(m => ("api", ts(f"2020-01-01 07:${m * 5}%02d:00")))
    val (p1, p2) = runWithRestart(
      () => StreamingBursts.detect(
        source.toDF().toDF("event_type", "event_time"),
        horizonSeconds = 86400, watermarkDelay = "0 seconds"),
      () => source.addData(baseline ++ spike: _*),
      () => source.addData(("api", ts("2020-01-01 08:01:00"))))
    // the hour-8 event closes spike hour 7 AFTER the restart; the alert's
    // 7-hour trailing evidence only exists in the recovered state
    assert(p1.isEmpty, s"no closed hour had full evidence pre-restart: $p1")
    val hr7 = ts("2020-01-01 07:00:00").getTime / 1000 / 3600
    assert(p2.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet == Set(("api", hr7, 10L, 7L, 7L)),
      s"got ${p2.mkString(",")}")
  }

  test("segment dedup survives restart: first-seen state persists") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingSegmentDedup
    val source = MemoryStream[(Long, Timestamp, String)]
    val (p1, p2) = runWithRestart(
      () => StreamingSegmentDedup.keptSegments(
        source.toDF().toDF("doc_id", "event_time", "text"),
        sep = "\n", horizonSeconds = 86400, watermarkDelay = "0 seconds"),
      () => source.addData(
        (1L, ts("2020-01-01 00:00:00"), "nav bar\nreal one")),
      () => source.addData(
        (2L, ts("2020-01-01 00:10:00"), "nav bar\nreal two")))
    def kept(rs: Seq[Row]) = rs.map(r => (r.getLong(0), r.getString(2))).toSet
    // doc 2's "nav bar" arrived after the restart; the reloaded state
    // must drop it (first-seen was doc 1), keeping only the fresh line
    assert(kept(p1) == Set((1L, "nav bar"), (1L, "real one")))
    assert(kept(p2) == Set((2L, "real two")),
      s"state lost across restart: ${kept(p2)}")
  }

  test("stream-stream join survives restart: buffered left side still pairs") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingJoin
    val imps = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val (p1, p2) = runWithRestart(
      () => StreamingJoin.withinTime(
        imps.toDF().toDF("ad_id", "imp_time"),
        clicks.toDF().toDF("ad_id", "click_time"),
        "ad_id", "imp_time", "click_time",
        maxDelay = "30 minutes", watermarkDelay = "0 seconds"),
      // the impression arrives, no click yet: buffered as join state
      () => imps.addData((7L, ts("2020-01-01 00:00:00"))),
      // the click arrives only AFTER the restart — the pair requires the
      // pre-kill impression from the recovered join buffer; the second
      // click is outside the 30-minute bound and must not pair
      () => clicks.addData(
        (7L, ts("2020-01-01 00:10:00")),
        (7L, ts("2020-01-01 00:45:00"))))
    assert(p1.isEmpty)
    val pairs = p2.map(r => (r.getLong(0), r.getTimestamp(1).toString,
      r.getTimestamp(2).toString)).toSet
    assert(pairs == Set(
      (7L, "2020-01-01 00:00:00.0", "2020-01-01 00:10:00.0")),
      s"got $pairs")
  }

  test("exact dedup survives restart: duplicate arriving after resume drops") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDedup
    val source = MemoryStream[(Long, Timestamp, String)]
    val (p1, p2) = runWithRestart(
      () => StreamingDedup.firstSeen(
        source.toDF().toDF("doc_id", "event_time", "text"),
        horizonSeconds = 86400, watermarkDelay = "0 seconds"),
      () => source.addData(
        (1L, ts("2020-01-01 00:00:00"), "the quick brown fox"),
        (2L, ts("2020-01-01 00:05:00"), "something else entirely")),
      () => source.addData(
        // same normalized fingerprint as doc 1 — only the RECOVERED
        // seen-set can know to drop it
        (3L, ts("2020-01-01 00:10:00"), "THE  Quick  Brown   Fox"),
        (4L, ts("2020-01-01 00:15:00"), "a genuinely new document")))
    def kept(rs: Seq[Row]) = rs.map(_.getLong(0)).toSet
    assert(kept(p1) == Set(1L, 2L))
    assert(kept(p2) == Set(4L),
      s"duplicate re-admitted after restart: ${kept(p2)}")
  }

  test("sessionizer survives restart: open session closes with pre-kill sums") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{SessionEvent, StreamingSessionizer}
    val source = MemoryStream[SessionEvent]
    val (p1, p2) = runWithRestart(
      () => StreamingSessionizer.sessionize(
        source.toDS(), gapSeconds = 1800, watermarkDelay = "0 seconds"),
      () => source.addData(
        SessionEvent(1L, ts("2020-01-01 00:00:00"), 1.0),
        SessionEvent(1L, ts("2020-01-01 00:10:00"), 2.0)),
      () => source.addData(SessionEvent(2L, ts("2020-01-02 00:00:00"), 8.0)))
    // user 1's session was OPEN at the kill; the post-restart watermark
    // advance must close it with the pre-kill (n=2, sum=3.0) aggregates
    assert(p1.isEmpty)
    val closed = p2.map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))).toSet
    assert(closed.contains((1L, 2L, 3.0)),
      s"recovered session state lost: $closed")
  }

  test("KMV distinct tracker survives restart: sketch state intact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingDistinct
    import graft.ops.Kmv
    val source = MemoryStream[(String, Timestamp, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_kmv").toString
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def start() = StreamingDistinct.estimates(
        source.toDF().toDF("grp", "event_time", "key"),
        k = 16, watermarkDelay = "0 seconds")
      .toDF().writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: Dataset[Row], _: Long) =>
        b.collect().foreach(buf.add)).start()
    val first = (0 until 10).map(i => ("g1", ts("2020-01-01 00:00:01"),
      s"a$i"))
    val second = (5 until 60).map(i => ("g1", ts("2020-01-01 00:00:02"),
      s"a$i"))
    val q1 = start()
    try { source.addData(first: _*); q1.processAllAvailable() }
    finally q1.stop() // the mid-stream kill: sketch holds 10 hashes
    val q2 = start()
    try { source.addData(second: _*); q2.processAllAvailable() }
    finally q2.stop()
    val last = buf.toArray(Array.empty[Row]).toSeq.last
    // the recovered sketch must fold phase 2 INTO phase 1's state: the
    // final estimate equals the batch sketch of the FULL stream (a lost
    // sketch would re-count a5..a9 fresh and miss a0..a4 entirely)
    val want = Kmv.distinctEstimate(
        (first ++ second).map(t => (t._1, t._3)).toDF("grp", "key"),
        Seq("grp"), col("key"), k = 16)
      .select("k_used", "est").head()
    assert((last.getInt(1).toLong, last.getLong(2))
      == ((want.getLong(0), want.getLong(1))),
      s"recovered $last vs batch $want")
  }

  test("HLL distinct tracker survives restart: registers intact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingHll
    import graft.ops.Hll
    val source = MemoryStream[(String, Timestamp, String)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_hll").toString
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def start() = StreamingHll.estimates(
        source.toDF().toDF("grp", "event_time", "key"),
        p = 6, watermarkDelay = "0 seconds")
      .toDF().writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: Dataset[Row], _: Long) =>
        b.collect().foreach(buf.add)).start()
    val first = (0 until 40).map(i => ("g1", ts("2020-01-01 00:00:01"),
      s"a$i"))
    val second = (20 until 200).map(i => ("g1", ts("2020-01-01 00:00:02"),
      s"a$i"))
    val q1 = start()
    try { source.addData(first: _*); q1.processAllAvailable() }
    finally q1.stop() // mid-stream kill: registers hold phase 1's maxes
    val q2 = start()
    try { source.addData(second: _*); q2.processAllAvailable() }
    finally q2.stop()
    val last = buf.toArray(Array.empty[Row]).toSeq.last
    // the recovered registers must fold phase 2 into phase 1's state:
    // the final estimate equals the batch sketch of the FULL stream
    val want = Hll.distinctEstimate(
        (first ++ second).map(t => (t._1, t._3)).toDF("grp", "key"),
        Seq("grp"), col("key"), p = 6)
      .select("v_empty", "est").head()
    assert((last.getInt(1).toLong, last.getLong(2))
      == ((want.getLong(0), want.getLong(1))),
      s"recovered $last vs batch $want")
  }

  test("quantile tracker survives restart: sample state intact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingQuantiles
    import graft.ops.QuantileSketch
    val source = MemoryStream[(String, Timestamp, String, Long)]
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_qs").toString
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    def start() = StreamingQuantiles.estimates(
        source.toDF().toDF("grp", "event_time", "key", "value"),
        k = 16, ps = Seq(50, 99), watermarkDelay = "0 seconds")
      .toDF().writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: Dataset[Row], _: Long) =>
        b.collect().foreach(buf.add)).start()
    val first = (0 until 10).map(i =>
      ("g1", ts("2020-01-01 00:00:01"), s"a$i", (i * 11 % 97).toLong))
    val second = (10 until 80).map(i =>
      ("g1", ts("2020-01-01 00:00:02"), s"a$i", (i * 7 % 89).toLong))
    val q1 = start()
    try { source.addData(first: _*); q1.processAllAvailable() }
    finally q1.stop() // mid-stream kill: sample holds phase 1's 10 rows
    val q2 = start()
    try { source.addData(second: _*); q2.processAllAvailable() }
    finally q2.stop()
    val lastByP = buf.toArray(Array.empty[Row]).toSeq
      .groupBy(_.getInt(1)).map { case (p, rs) => p -> rs.last }
    // the recovered sample must fold phase 2 into phase 1's rows: the
    // final estimates equal the batch sketch of the FULL stream (a lost
    // sample would resample phase 2 alone and shift every rank pick)
    val want = QuantileSketch.quantiles(
        (first ++ second).map(t => (t._1, t._3, t._4)).toDF("grp", "key", "v"),
        Seq("grp"), col("v"), col("key"), k = 16, ps = Seq(50, 99))
      .collect().map(r => r.getInt(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    want.foreach { case (p, (n, est)) =>
      val got = lastByP(p)
      assert((got.getLong(2), got.getLong(3)) == ((n, est)),
        s"recovered p$p $got vs batch ($n, $est)")
    }
  }
}
