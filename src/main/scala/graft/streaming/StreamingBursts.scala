package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A typed event entering the burst detector (only the key and time
  * matter — bursts are rate anomalies, not value anomalies).
  */
final case class RateEvent(event_type: String,
    event_time: java.sql.Timestamp)

/** Detector state per event type: the trailing hourly counts, ascending by
  * hour index, pruned to the 24 hours behind the open (= last) bucket —
  * O(25) longs per live type, independent of traffic.
  */
final case class HourCounts(counts: Seq[(Long, Long)])

/** An emitted burst verdict for a CLOSED hour. */
final case class BurstAlert(event_type: String, hr: Long, cnt: Long,
    trail_n: Long, trail_sum: Long)

/** Streaming burst detection: per event type, flag any hour that ran at
  * ≥ `factor`× its trailing-24h rate with ≥ `minTrail` prior hours of
  * evidence — the streaming counterpart of the batch q_ts_burst_detect
  * gate (log storms, scraper spikes), evaluated at ingest so the alert
  * fires one event into the NEXT hour instead of at end of day.
  *
  * An hour is evaluated exactly once, when it CLOSES — i.e. when the
  * first event of a later hour arrives on the same type (stream order;
  * the watermark bounds lateness). The comparison is the gate's integer
  * cross-multiplication `cnt·trail_n ≥ factor·trail_sum` — no mean
  * division. Hours with no events produce no verdict (exactly like the
  * batch RANGE window, which only sees existing hourly rows). The
  * still-open hour never evaluates (a monitor never sees its end);
  * events older than the open hour are DROPPED from burst accounting
  * (documented divergence, watermark-bounded).
  *
  * State is ≤ 25 (hour, count) pairs per live type, GC'd after
  * `horizonSeconds` of silence; a type's next event after expiry starts a
  * cold 24h baseline again (re-admit trade as [[StreamingDedup]]).
  */
object StreamingBursts {

  /** `events` needs (event_type: string, event_time: timestamp). */
  def detect(events: DataFrame, horizonSeconds: Long,
      watermarkDelay: String, factor: Long = 3L,
      minTrail: Long = 6L): Dataset[BurstAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select("event_type", "event_time").as[RateEvent]
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HourCounts, BurstAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (et, batch, state: GroupState[HourCounts]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var counts = state.getOption
              .map(_.counts.toVector).getOrElse(Vector.empty)
            val out = Seq.newBuilder[BurstAlert]
            var lastEpoch = Long.MinValue
            val hours = batch.toSeq
              .map { e =>
                lastEpoch = math.max(lastEpoch, e.event_time.getTime / 1000)
                e.event_time.getTime / 1000 / 3600
              }
              .sorted
            hours.foreach { h =>
              counts.lastOption match {
                case None => counts = Vector((h, 1L))
                case Some((open, c)) if h == open =>
                  counts = counts.init :+ (open, c + 1)
                case Some((open, c)) if h > open =>
                  // the open hour closes: evaluate it against its
                  // trailing-24h window (existing hourly rows only)
                  val trail = counts.init
                    .filter { case (hr, _) => hr >= open - 24 }
                  val tn = trail.size.toLong
                  val ts = trail.map(_._2).sum
                  if (tn >= minTrail && c * tn >= factor * ts)
                    out += BurstAlert(et, open, c, tn, ts)
                  counts = (counts.filter { case (hr, _) => hr >= h - 24 }
                    :+ (h, 1L))
                case Some(_) => // h < open hour: late beyond the open
                  // bucket — dropped from accounting (contract above)
              }
            }
            if (hours.nonEmpty) {
              state.update(HourCounts(counts))
              // clamp to just past the watermark: a key lagging the watermark
              // by > horizon would otherwise throw and kill the query
              state.setTimeoutTimestamp(math.max((lastEpoch + horizonSeconds) * 1000,
                state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
      }
  }
}
