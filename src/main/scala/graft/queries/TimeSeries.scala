package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.etl.Stages
import graft.model.{MeanCombine, SumCombine}

/** The engine's time-series operators (SURVEY.md §2.3 J4/J5, §2.4, §2.5,
  * §2.7) exercised over the driver's `events` table: `user_id` plays
  * `stay_id`, `event_type` plays `feature_id`, and each user's stay spans
  * `[min(ts), max(ts)]`. Every query routes through the same
  * [[graft.etl.Stages]] code the MIMIC facade uses — the DuckDB oracles
  * check the engine itself, not a SQL re-implementation.
  *
  * All aggregates here are small-group (events per (user, type, window) are
  * few), so `round(x, 6)` makes double reduction order irrelevant.
  */
object TimeSeries {

  private[queries] val Step = 3600L

  /** events with epoch seconds — `ts` encoding-adaptive (nanos-long or
    * timestamp) via [[graft.queries.epochSeconds]]; both paths floor toward
    * -inf, same as the oracle's `floor(epoch(ts))`.
    */
  private[queries] def ev(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    e.withColumn("event_epoch_time", epochSeconds(e))
  }

  /** Per-user stay analog: intime = min epoch, outtime = max epoch,
    * `total_windows = floor((outtime-intime)/step)` (W2 semantics).
    */
  private[queries] def userIndex(events: DataFrame): DataFrame =
    events.groupBy(col("user_id").as("stay_id"))
      .agg(min(col("event_epoch_time")).as("intime"),
        max(col("event_epoch_time")).as("outtime"))
      .withColumn("total_windows",
        floor((col("outtime") - col("intime")) / lit(Step)).cast("long"))

  private[queries] def bucketized(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    Stages.bucketize(
      e.select(col("user_id").as("stay_id"), col("event_epoch_time"),
        col("event_type").as("feature_id"), col("value")),
      userIndex(e), Step)
  }

  /** Shared oracle CTE prelude: per-user index + bucketized events. */
  private[queries] val idxSql =
    """WITH idx AS (
      |  SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS intime,
      |         CAST(floor(epoch(max(ts))) AS BIGINT) AS outtime,
      |         CAST(floor((CAST(floor(epoch(max(ts))) AS BIGINT)
      |           - CAST(floor(epoch(min(ts))) AS BIGINT)) / 3600) AS BIGINT) AS tw
      |  FROM events GROUP BY user_id),
      |b AS (
      |  SELECT e.user_id, e.event_type,
      |    greatest(CAST(floor((CAST(floor(epoch(e.ts)) AS BIGINT) - i.intime) / 3600)
      |      AS BIGINT), 0) AS tidx,
      |    e.value, i.tw
      |  FROM events e JOIN idx i USING (user_id))
      |""".stripMargin

  val defs: Map[String, QueryFn] = Map(
    // J1+J4+P8+P10: stay join, window assignment, clamp, bound filter
    "q_ts_bucketize" -> ((s, dir) =>
      bucketized(s, dir)
        .select(col("stay_id").as("user_id"), col("feature_id").as("event_type"),
          col("tidx"), col("value"))
        .orderBy("user_id", "event_type", "tidx", "value")),

    // A3: mean combine via Stages.combine
    "q_ts_combine_mean" -> ((s, dir) =>
      Stages.combine(bucketized(s, dir), MeanCombine)
        .select(col("stay_id").as("user_id"), col("feature_id").as("event_type"),
          col("tidx"), round(col("value"), 6).as("avg_value"))
        .orderBy("user_id", "event_type", "tidx")),

    // A4: sum combine + per-window count
    "q_ts_combine_sum" -> ((s, dir) =>
      bucketized(s, dir)
        .groupBy("stay_id", "feature_id", "tidx")
        .agg(round(sum(col("value")), 6).as("sum_value"), count(lit(1)).as("n"))
        .select(col("stay_id").as("user_id"), col("feature_id").as("event_type"),
          col("tidx"), col("sum_value"), col("n"))
        .orderBy("user_id", "event_type", "tidx")),

    // A5/J5: dense grid + zero fill via Stages.densify
    "q_ts_densify" -> ((s, dir) => {
      val combined = Stages.combine(bucketized(s, dir), MeanCombine)
        .withColumn("value", round(col("value"), 6))
      Stages.densify(combined, Stages.ZeroFill)
        .select(col("stay_id").as("user_id"), col("feature_id").as("event_type"),
          col("tidx"), col("value"))
        .orderBy("user_id", "event_type", "tidx")
    }),

    // A6/W3: forward fill (leading gaps stay 0.0)
    "q_ts_ffill" -> ((s, dir) => {
      val combined = Stages.combine(bucketized(s, dir), MeanCombine)
        .withColumn("value", round(col("value"), 6))
      Stages.densify(combined, Stages.ForwardFill)
        .select(col("stay_id").as("user_id"), col("feature_id").as("event_type"),
          col("tidx"), col("value"))
        .orderBy("user_id", "event_type", "tidx")
    }),

    // beyond-ffill: linear interpolation between observations
    "q_ts_interpolate" -> ((s, dir) => {
      val combined = Stages.combine(bucketized(s, dir), MeanCombine)
        .withColumn("value", round(col("value"), 6))
      // NO round on the output: interpolating 6-decimal inputs lands on
      // 7th-decimal .5 boundaries systematically (denominators 2^k·5^j),
      // where Spark's decimal-string rounding and DuckDB's multiply-based
      // rounding disagree. The raw doubles are bit-exact across engines
      // (identical rounded inputs, identical op order).
      Stages.densify(combined, Stages.LinearInterp)
        .select(col("stay_id").as("user_id"), col("feature_id").as("event_type"),
          col("tidx"), col("value"))
        .orderBy("user_id", "event_type", "tidx")
    }),

    // bounded-frame + offset window functions per (user, type) event
    // stream, ordered by the (unique) event timestamp: 3-row rolling sum
    // in exact integer cents (double sums would re-associate), lag delta
    // (one subtraction of identical doubles — exact), and row index
    "q_ts_rolling" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // event_id tiebreak: (user, type, ts) is tie-free in the shipped
      // corpora, but lag/row_number under a ts tie would be sort-order
      // lottery — pin the total order so the gate is corpus-independent
      // (the q_ts_interval_merge duplicate-span lesson)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      ev(s, dir)
        .withColumn("cents", round(col("value") * 100, 0).cast("long"))
        .select(col("user_id"), col("event_type"),
          col("event_epoch_time").as("ts_epoch"),
          sum(col("cents")).over(w.rowsBetween(-2, 0)).as("roll3_cents"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"),
          row_number().over(w).as("rn"))
        .orderBy("user_id", "event_type", "ts_epoch")
    }),

    // time-RANGE frame (vs q_ts_rolling's ROWS frame): trailing 1-hour
    // sum/count per (user, type) — the rate-limit/monitoring window,
    // where the frame is defined by event-time distance, not row count;
    // exact integer cents keep the moving sum order-free
    "q_ts_rolling_range" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("event_epoch_time").rangeBetween(-3599, 0)
      ev(s, dir)
        .withColumn("cents", round(col("value") * 100, 0).cast("long"))
        .select(col("user_id"), col("event_type"),
          col("event_epoch_time").as("ts_epoch"),
          sum(col("cents")).over(w).as("trail1h_cents"),
          count(lit(1)).over(w).as("n_trail"))
        .orderBy("user_id", "event_type", "ts_epoch", "trail1h_cents")
    }),

    // exponentially-weighted trailing average (α = ½): the decay-weighted
    // analog of q_ts_rolling_range's flat trailing sum — the recency-
    // weighted smoothing shape (monitoring EWMAs, feature freshness decay).
    // The recursion y_i = x_i/2 + y_{i−1}/2 is truncated at 16 lags (the
    // dropped tail weighs 2⁻¹⁶ < 2e-5) and computed EXACTLY: micro-unit
    // ints × power-of-two weights are plain BIGINT adds, so no engine's
    // float fold order can drift the gate (the q_ts_rolling cents idiom,
    // extended to weighted sums). Emitted as the fixed-point numerator
    // (Σ lag_d·2^(15−d), denominator 2¹⁶−2^(16−n) for the n lags present)
    // plus the normalized double — one int division both engines perform
    // identically under IEEE-754. One window, 16 lag slots, no shuffle
    // beyond the (user, type) partition the family already keys by.
    "q_ts_ewma" -> ((s, dir) => {
      // event_id tiebreak — see q_ts_rolling; the EWMA recursion is
      // intrinsically order-dependent, so a ts tie MUST be broken
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      def micro(c: org.apache.spark.sql.Column) =
        round(c * 1e6, 0).cast("long")
      val num = (0 until 16).map { d =>
        coalesce(micro(lag(col("value"), d).over(w)), lit(0L)) *
          lit(1L << (15 - d))
      }.reduce(_ + _)
      val nLags = least(row_number().over(w), lit(16))
      ev(s, dir)
        .select(col("user_id"), col("event_type"),
          col("event_epoch_time").as("ts_epoch"),
          num.as("ewma_fp"), nLags.as("__n"))
        .withColumn("ewma", round(col("ewma_fp").cast("double")
          / (lit(65536L)
             - expr("shiftleft(CAST(1 AS BIGINT), 16 - __n)")).cast("double")
          / lit(1e6), 6))
        .drop("__n")
        .orderBy("user_id", "event_type", "ts_epoch")
    }),

    // anomaly flagging: per-(user, type) z-scores, |z| > 2 outliers
    "q_ts_zscore" -> ((s, dir) => {
      val e = ev(s, dir)
      val stats = e.groupBy("user_id", "event_type")
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      // nullif guard: a constant group has sd = 0 and must yield NULL z
      // (filtered out), not a divide-by-zero — mirrored in the oracle
      e.join(stats, Seq("user_id", "event_type"))
        .withColumn("z", (col("value") - col("mu")) / nullif(col("sd"), lit(0.0)))
        .where(abs(col("z")) > 2)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_outliers"), round(max(abs(col("z"))), 6).as("max_z"))
        .orderBy("user_id", "event_type")
    }),

    // robust anomaly flagging: median/MAD z-scores (outlier-resistant
    // where mean/stddev are themselves dragged by the outliers they're
    // meant to find); |z| > 3.5 at the standard 1.4826 consistency factor.
    // Same double op order as the oracle; zero-MAD groups yield NULL z
    "q_ts_robust_z" -> ((s, dir) => {
      val e = ev(s, dir)
      val med = e.groupBy("user_id", "event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val mad = e.join(med, Seq("user_id", "event_type"))
        .withColumn("adev", abs(col("value") - col("med")))
        .groupBy("user_id", "event_type")
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      val z = (col("value") - col("med")) /
        nullif(col("mad") * lit(1.4826), lit(0.0))
      e.join(med, Seq("user_id", "event_type"))
        .join(mad, Seq("user_id", "event_type"))
        .where(abs(z) > 3.5)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_outliers"),
          round(max(abs(z)), 6).as("max_rz"))
        .orderBy("user_id", "event_type")
    }),

    // per-series linear trend: least-squares slope of value-vs-time in
    // EXACT integer sums (value in micro-units; time recentred to the
    // group's min epoch — shift-invariant, and keeps x small enough that
    // every per-row product fits a long), combined in decimal(38,0) with
    // ONE final double division of exact integers → bit-equal across
    // engines and partitionings (the q_ts_ewma fixed-point discipline
    // applied to regression). Two linear aggs + one equi-join; never a
    // window, never per-row doubles
    "q_ts_trend" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("event_epoch_time").as("tsec"),
        expr("CAST(round(value * 1e6, 0) AS BIGINT)").as("y"))
      val x0 = e.groupBy("user_id", "event_type")
        .agg(min(col("tsec")).as("x0"))
      val dec = "decimal(38,0)"
      e.join(x0, Seq("user_id", "event_type"))
        .withColumn("x", col("tsec") - col("x0"))
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum((col("x") * col("y")).cast(dec)).as("sxy"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"))
        .select(col("user_id"), col("event_type"), col("n"),
          round(
            (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              nullif((col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
                .cast("double"), lit(0.0)),
            6).as("slope_upsec"))
        .orderBy("user_id", "event_type")
    }),

    // telemetry downsampling: LAST value per (user, type, 6h bucket) —
    // the keep-latest-reading combiner (vs bucketize's mean/sum), as ONE
    // struct-max argmax aggregate with map-side partials; never a
    // per-bucket window sort
    "q_ts_downsample_last" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("bucket", expr("event_epoch_time DIV 21600"))
        .groupBy("user_id", "event_type", "bucket")
        .agg(max(struct(col("event_epoch_time").as("t"), col("value")))
          .as("m"), count(lit(1)).as("n_in_bucket"))
        .select(col("user_id"), col("event_type"), col("bucket"),
          col("m.t").as("last_epoch"), col("m.value").as("last_value"),
          col("n_in_bucket"))
        .orderBy("user_id", "event_type", "bucket")),

    // winsorization: clip each type's values at its exact p01/p99 —
    // the outlier-robust preprocessing step before training on event
    // values. Cutoffs from ONE grouped percentile agg broadcast back;
    // clipped values summed in micro-units (post-clip round → exact
    // integer sum, order-free)
    // winsorize at EXACT integer-cent order statistics (ceil-rank p01 /
    // p99 — the classic trim-to-order-statistic definition), not at
    // interpolated quantiles: float interpolation formulas differ
    // between engines (v[lo]+f·(v[hi]−v[lo]) vs (1−f)·v[lo]+f·v[hi]) and
    // diverge by an ulp exactly when the rank lands inside a run of tied
    // values — surfaced by the sf1 sweep, where 10× replicas put ties at
    // the 0.99 boundary. The cumulative window runs over DISTINCT cents
    // per type (a value-domain-bounded table, not the event stream — the
    // Rank.scala bounded-by-construction discipline); cutoffs broadcast
    // back onto the scan.
    "q_ts_winsorize" -> ((s, dir) => {
      val e = ev(s, dir).select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("c"))
      val n = e.groupBy("event_type").agg(count(lit(1)).as("n"))
      val dist = e.groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("c")
      val cum = dist.withColumn("cum", sum("cnt").over(w))
      val cuts = cum.join(n, Seq("event_type"))
        .groupBy("event_type")
        .agg(
          min(when(col("cum") >= call_function("div",
            col("n") + 99, lit(100L)), col("c"))).as("lo_c"),
          min(when(col("cum") >= call_function("div",
            col("n") * 99 + 99, lit(100L)), col("c"))).as("hi_c"))
      e.join(broadcast(cuts), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("c") < col("lo_c")).cast("long")).as("n_clipped_low"),
          sum((col("c") > col("hi_c")).cast("long")).as("n_clipped_high"),
          (sum(greatest(least(col("c"), col("hi_c")), col("lo_c")))
            * 10000L).as("sum_clipped_micro"))
        .orderBy("event_type")
    }),

    // arrival-rate profile: inter-event gap stats per type — the
    // monitoring cut that catches a stalled producer (max gap) or a
    // duplicate storm (p50 gap collapse). One lag window + one agg;
    // gaps are exact integer seconds
    "q_ts_gaps" -> ((s, dir) => {
      // event_id tiebreak — see q_ts_rolling
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      ev(s, dir)
        .withColumn("gap", col("event_epoch_time")
          - lag(col("event_epoch_time"), 1).over(w))
        .where(col("gap").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          round(expr("percentile(gap, 0.5)"), 6).as("p50_gap"),
          max("gap").as("max_gap"))
        .orderBy("event_type")
    }),

    // monitoring bands: weekly p50/p95 per event type — the SLO/drift
    // dashboard cut. Exact interpolated percentile per (type, week)
    // group, 6dp-rounded (the q_percentile parity discipline); one
    // grouped aggregate, group count bounded by types × weeks
    "q_ts_weekly_bands" -> ((s, dir) =>
      ev(s, dir)
        .select(col("event_type"),
          expr("event_epoch_time DIV 604800").as("week"), col("value"))
        .groupBy("event_type", "week")
        .agg(count(lit(1)).as("n"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"))
        .orderBy("event_type", "week")),

    // power-of-two value histogram (the DDSketch-flavored heavy-tail
    // profile, exact where a float log would drift): cents rounded
    // half-up, bucket = sign · length(bin(|cents|)) — floor(log2)+1 via
    // STRING length of the binary form, no libm anywhere; zero keeps its
    // own bucket. Every 5th user's values negated and every 11th zeroed
    // so the sign and zero branches are real verdicts. One linear agg,
    // output bounded by types × 64 buckets
    "q_ts_exp_histogram" -> ((s, dir) => {
      val signed = when(pmod(col("user_id"), lit(11)) === 0, lit(0.0))
        .when(pmod(col("user_id"), lit(5)) === 0, -col("value"))
        .otherwise(col("value"))
      ev(s, dir)
        .select(col("event_type"), signed.as("v"))
        .select(col("event_type"),
          expr("CAST(floor(v * 100 + 0.5) AS BIGINT)").as("c"))
        .select(col("event_type"),
          when(col("c") === 0, lit(0))
            .when(col("c") > 0, length(bin(col("c"))))
            .otherwise(-length(bin(-col("c")))).as("bucket"),
          col("c"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"), min("c").as("min_cents"),
          max("c").as("max_cents"))
        .orderBy("event_type", "bucket")
    }),

    // consecutive-duplicate compression: drop events repeating the
    // previous value per (user, type) stream — the sensor/log dedup that
    // shrinks hold-steady telemetry to its change points. One lag per
    // key-partitioned window; first row always kept; a null run keeps
    // only nulls' first? No: null != null is NULL → dropped, mirrored
    // exactly in the oracle (both engines treat the predicate identically)
    "q_ts_dedup_consecutive" -> ((s, dir) => {
      // event_id tiebreak — see q_ts_rolling
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      ev(s, dir)
        .withColumn("prev", lag(col("value"), 1).over(w))
        .where(col("prev").isNull || col("value") =!= col("prev"))
        .select(col("user_id"), col("event_type"),
          col("event_epoch_time").as("ts_epoch"), col("value"))
        .orderBy("user_id", "event_type", "ts_epoch")
    }),

    // conversion funnel: view → click → purchase, each stage gated on
    // happening AT-OR-AFTER the user's previous stage entry (min-time
    // semantics, not sessionized) — per-stage user counts and the total
    // stage-transition delay in exact integer seconds. Three per-user
    // min aggregates + two user-keyed joins: linear, no window, no
    // funnel-step cross product
    "q_ts_funnel" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_type"),
        col("event_epoch_time").as("t"))
      val v = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("t").as("t0"))
      val c = e.where(col("event_type") === "click").join(v, Seq("user_id"))
        .where(col("t") >= col("t0"))
        .groupBy("user_id").agg(min("t").as("t1"), min("t0").as("t0"))
      val p = e.where(col("event_type") === "purchase").join(c, Seq("user_id"))
        .where(col("t") >= col("t1"))
        .groupBy("user_id").agg(min("t").as("t2"), min("t1").as("t1"))
      val s1 = v.agg(count(lit(1)).as("n_users"))
        .select(lit(1).as("stage_idx"), lit("view").as("stage"),
          col("n_users"), lit(0L).as("sum_delay_s"))
      val s2 = c.agg(count(lit(1)).as("n_users"),
          coalesce(sum(col("t1") - col("t0")), lit(0L)).as("sum_delay_s"))
        .select(lit(2).as("stage_idx"), lit("click").as("stage"),
          col("n_users"), col("sum_delay_s"))
      val s3 = p.agg(count(lit(1)).as("n_users"),
          coalesce(sum(col("t2") - col("t1")), lit(0L)).as("sum_delay_s"))
        .select(lit(3).as("stage_idx"), lit("purchase").as("stage"),
          col("n_users"), col("sum_delay_s"))
      s1.union(s2).union(s3).orderBy("stage_idx")
    }),

    // cohort retention: users grouped by first-activity week, distinct
    // activity counted per (cohort, week offset), retention as exact ppm
    // of the cohort's size. Two user-keyed aggregates + one distinct —
    // all linear in events; integer week math end to end
    "q_ts_cohort" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        expr("event_epoch_time DIV 604800").as("week"))
      val first = e.groupBy("user_id").agg(min("week").as("cohort"))
      val act = e.join(first, Seq("user_id"))
        .select(col("user_id"), col("cohort"),
          (col("week") - col("cohort")).as("week_offset"))
        .distinct()
      val base = act.where(col("week_offset") === 0)
        .groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
      act.groupBy("cohort", "week_offset").agg(count(lit(1)).as("n_users"))
        .join(base, Seq("cohort"))
        .select(col("cohort"), col("week_offset"), col("n_users"),
          expr("(n_users * 1000000L) div cohort_size").as("retention_ppm"))
        .orderBy("cohort", "week_offset")
    }),

    // as-of join (point-in-time lookup): each purchase gets the latest
    // at-or-before click by the same user — Spark side is the union+window
    // merge (graft.ops.AsOf), oracle is DuckDB's native ASOF LEFT JOIN.
    // Clicks are pre-aggregated to one row per (user, epoch) so "latest"
    // is deterministic in both engines.
    "q_ts_asof" -> ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("event_epoch_time").as("purchase_epoch"),
          col("value").as("purchase_value"))
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("event_epoch_time").as("click_epoch"))
        .agg(max(col("value")).as("click_value"))
      graft.ops.AsOf.asofJoin(purchases, clicks, Seq("user_id"),
          "purchase_epoch", "click_epoch", "click_value",
          outTime = "click_epoch", outValue = "click_value")
        .orderBy("event_id")
    }),

    // interval merge (gaps-and-islands): per-supplier shipping-coverage
    // windows — sparse spans ([ship, ship+7d] where qty > 45) consolidate
    // into maximal covered islands via ONE running-max window + one agg;
    // merged output is tie-order invariant (equal starts always co-island)
    "q_ts_interval_merge" -> ((s, dir) => {
      val spans = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select(col("l_suppkey"),
          col("l_shipdate").cast("timestamp").cast("long").as("st"),
          (col("l_shipdate").cast("timestamp").cast("long")
            + lit(604800L)).as("en"))
      graft.ops.Intervals.mergeIntervals(spans, "l_suppkey", "st", "en")
        .orderBy("l_suppkey", "start")
    }),

    // Allen's 13 interval relations: per-doc (a, b) pairs constructed to
    // hit every relation by doc_id mod 13, classified by the exhaustive
    // mutually-exclusive CASE ladder — the temporal-reasoning vocabulary
    // over the interval family; pure codegen'd scalar, zero shuffle
    "q_ts_allen" -> ((s, dir) => {
      val d = col("doc_id")
      val aS = lit(10L) + pmod(d, lit(40))
      val aE = aS + lit(3) + pmod(d, lit(5))
      val c = pmod(d, lit(13))
      val bS = when(c === 0, aE + 2).when(c === 1, aE)
        .when(c === 2, aS - 5).when(c === 3, aS - 3)
        .when(c === 4, aS).when(c === 5, aS)
        .when(c === 6, aS).when(c === 7, aS - 2)
        .when(c === 8, aS + 1).when(c === 9, aS - 1)
        .when(c === 10, aS + 1).when(c === 11, aS + 2)
        .otherwise(aS - 2)
      val bE = when(c === 0, aE + 4).when(c === 1, aE + 3)
        .when(c === 2, aS - 3).when(c === 3, aS)
        .when(c === 4, aE).when(c === 5, aE + 2)
        .when(c === 6, aE - 1).when(c === 7, aE)
        .when(c === 8, aE).when(c === 9, aE + 1)
        .when(c === 10, aE - 1).when(c === 11, aE + 2)
        .otherwise(aS + 1)
      t(s, dir, "documents")
        .select(d, aS.as("a_s"), aE.as("a_e"), bS.as("b_s"), bE.as("b_e"),
          graft.ops.Intervals.allenRelation(aS, aE, bS, bE).as("rel"))
        .orderBy("doc_id")
    }),

    // range join: in-window click attribution. Purchases open a
    // value-scaled attribution window; same-user clicks land in it via
    // the grid-cell equi-join (RangeJoin — a naive lo<=pt<=hi join has no
    // equi-key and plans as a nested-loop product). Integer-cents sums.
    "q_ts_interval_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("event_epoch_time").as("lo"),
          (col("event_epoch_time") + floor(col("value") * 120).cast("long"))
            .as("hi"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("event_epoch_time").as("click_epoch"),
          col("value"))
      graft.ops.RangeJoin.pointInInterval(clicks, "click_epoch",
          purchases, "lo", "hi", grid = 3600, keys = Seq("user_id"))
        .groupBy("purchase_id")
        .agg(count(lit(1)).as("n_clicks"),
          sum(round(col("value") * 100, 0).cast("long")).as("click_value_c"))
        .orderBy("purchase_id")
    }),

    // G1-G3: interval explode + even split + sum, via Stages.intervalExpand.
    // Synthetic intervals: [ts, ts + floor(value*60) s] — value minutes.
    "q_ts_interval_expand" -> ((s, dir) => {
      val e = ev(s, dir)
      val iv = e.select(col("user_id").as("stay_id"),
        col("event_type").as("feature_id"),
        col("event_epoch_time").as("start_epoch_time"),
        (col("event_epoch_time") + floor(col("value") * 60)).as("end_epoch_time"),
        col("value"))
      val expanded = Stages.intervalExpand(iv, Step)
      val b = Stages.bucketize(expanded, userIndex(e), Step)
      Stages.combine(b, SumCombine)
        .select(col("stay_id").as("user_id"), col("feature_id").as("event_type"),
          col("tidx"), round(col("value"), 6).as("sum_value"))
        .orderBy("user_id", "event_type", "tidx")
    }),

    // W1 batch analog: epoch-aligned tumbling window via window()
    "q_ts_window_tumbling" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("ts_sec", timestamp_seconds(col("event_epoch_time")))
        .groupBy(window(col("ts_sec"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("wstart"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("wstart", "event_type")),

    // session windows: 30-min inactivity gap (beyond-reference analytic)
    "q_ts_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("event_epoch_time", "event_id")
      ev(s, dir)
        .withColumn("prev", lag(col("event_epoch_time"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("event_epoch_time") - col("prev") > 1800, 1)
            .otherwise(0))
        .groupBy("user_id")
        .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    }),

    // user lifecycle: per-user span days, distinct active days, and the
    // activity ratio in exact ppm — the DAU/retention base cut. One
    // user-keyed aggregate (count-distinct rewrites as a two-level
    // agg, no Expand); integer epoch-day math
    "q_ts_lifecycle" -> ((s, dir) =>
      ev(s, dir)
        .select(col("user_id"), expr("event_epoch_time DIV 86400").as("day"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("day").as("active_days"),
          (max("day") - min("day") + 1).as("span_days"))
        .withColumn("activity_ppm",
          expr("active_days * 1000000 DIV greatest(span_days, 1)"))
        .orderBy("user_id")),

    // power-user skew: top-20 users by event count with their exact
    // corpus share — the salting-decision audit (is one key hot enough
    // to skew a user-keyed shuffle). Partial-agg count + k-bounded
    // ranking + 1-row total broadcast
    "q_ts_power_users" -> ((s, dir) => {
      val e = ev(s, dir)
      val total = e.agg(count(lit(1)).as("tot"))
      e.groupBy("user_id").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(20)
        .crossJoin(broadcast(total))
        .withColumn("share_ppm", expr("n * 1000000 DIV tot"))
        .select("user_id", "n", "share_ppm")
        .orderBy(col("n").desc, col("user_id"))
    }),

    // first/last-touch attribution: per user the first and last event
    // type (struct-argmin/argmax on the unique (ts, event_id) order),
    // rolled up to (first, last) path counts — the marketing
    // attribution cut. Both argmaxes ride ONE map-side-partial pass;
    // output is at most types² rows
    "q_ts_attribution" -> ((s, dir) =>
      ev(s, dir)
        .groupBy("user_id")
        .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
            .getField("event_type").as("first_type"),
          max(struct(col("ts"), col("event_id"), col("event_type")))
            .getField("event_type").as("last_type"))
        .groupBy("first_type", "last_type")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("first_type", "last_type")),

    // behavioral sequence mining: top-20 event-type trigrams across
    // per-user ordered streams — the path-analysis staple (what do
    // users DO around a purchase). Two lead() slots on one
    // user-partitioned window (per-partition size = one user's
    // stream), then a trigram-keyed partial-agg count with k-bounded
    // ranking — never a global sort
    "q_ts_event_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .where(col("t3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("t2"), col("t3"))
          .as("trigram"))
        .groupBy("trigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("trigram")).limit(20)
    }),

    // value-distribution drift between stream halves (first vs second
    // half of the time span — yesterday/today stand-ins): per event
    // type, decile-bucket shares of each half and their L1/L∞ distance
    // in exact ppm — the count-space drift verdict (no libm PSI; the
    // shares carry the same signal). Bucket edges come from the FIRST
    // half's exact deciles so "drift" means "moved against the old
    // baseline"; two grouped passes + a types×10 reshape
    "q_ts_value_drift" -> ((s, dir) => {
      val e = ev(s, dir)
      val span = e.agg(min("event_epoch_time").as("t0"),
        max("event_epoch_time").as("t1"))
      val halved = e.crossJoin(broadcast(span))
        .withColumn("half",
          when(expr("(event_epoch_time - t0) * 2 <= (t1 - t0)"), lit("old"))
            .otherwise(lit("new")))
        .withColumn("c", expr("CAST(round(value * 1000000, 0) AS BIGINT)"))
      val edges = halved.where(col("half") === "old")
        .groupBy("event_type")
        .agg(expr("percentile(c, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
          .as("es"))
      val bucketed = halved.join(broadcast(edges), Seq("event_type"))
        .withColumn("bucket",
          (0 until 9).map(i => when(col("c") > col("es")(i), 1).otherwise(0))
            .reduce(_ + _))
        .groupBy("event_type", "half", "bucket")
        .agg(count(lit(1)).as("n"))
      val totals = bucketed.groupBy("event_type", "half")
        .agg(sum("n").as("tot"))
      bucketed.join(broadcast(totals), Seq("event_type", "half"))
        .withColumn("share_ppm", expr("n * 1000000 DIV tot"))
        .groupBy("event_type", "bucket")
        .agg(sum(when(col("half") === "old", col("share_ppm"))
            .otherwise(0L)).as("old_ppm"),
          sum(when(col("half") === "new", col("share_ppm"))
            .otherwise(0L)).as("new_ppm"))
        .withColumn("abs_diff_ppm", abs(col("old_ppm") - col("new_ppm")))
        .orderBy("event_type", "bucket")
    }),

    // abuse/ops audit: per-user hours exceeding a rate cap — the
    // rate-limiter tuning view (who would a 2/hour cap throttle and how
    // hard). Two nested integer aggregates, both partially aggregated;
    // output is offending users only
    "q_ts_rate_limit" -> ((s, dir) =>
      ev(s, dir)
        .select(col("user_id"), expr("event_epoch_time DIV 3600").as("hr"))
        .groupBy("user_id", "hr").agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(sum(when(col("n") > 2, 1L).otherwise(0L)).as("n_hot_hours"),
          max("n").as("max_per_hour"))
        .where(col("n_hot_hours") > 0)
        .orderBy("user_id")),

    // seasonality profile: exact event counts + micro-unit value sums
    // per (day-of-week, hour-of-day) cell — the calendar heatmap a
    // scheduler or anomaly baseline consumes. Pure integer epoch math
    // ((epoch DIV 86400 + 4) % 7; epoch day 0 was a Thursday), one
    // 168-cell partially-aggregated pass
    "q_ts_dow_profile" -> ((s, dir) =>
      ev(s, dir)
        .select(expr("(event_epoch_time DIV 86400 + 4) % 7").as("dow"),
          expr("(event_epoch_time % 86400) DIV 3600").as("hour"),
          col("value"))
        .groupBy("dow", "hour")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 1000000, 0) AS BIGINT)"))
            .as("sum_value_micro"))
        .orderBy("dow", "hour")),

    // burst detection: hourly event counts vs the trailing-24h mean per
    // type, flagged when the hour runs ≥3× its trailing rate with ≥6
    // prior hours of evidence — the log-storm / scraper-spike monitor.
    // The comparison stays integer (cnt·n ≥ 3·sum, never a mean
    // division); the RANGE window is over the hour index, so sparse
    // hours don't smear the baseline. Hourly rollup first: the window
    // runs over types×hours rows, not raw events
    "q_ts_burst_detect" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("hr")
        .rangeBetween(-24, -1)
      ev(s, dir)
        .select(col("event_type"), expr("event_epoch_time DIV 3600").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("cnt"))
        .withColumn("trail_n", count(lit(1)).over(w))
        .withColumn("trail_sum", sum("cnt").over(w))
        .where(col("trail_n") >= 6 &&
          col("cnt") * col("trail_n") >= lit(3L) * col("trail_sum"))
        .select(col("event_type"), col("hr"), col("cnt"),
          col("trail_n"), col("trail_sum"))
        .orderBy("event_type", "hr")
    }),

    // serial-correlation audit: lag-1 autocorrelation components per
    // event stream, emitted as EXACT integer sums over milli-quantized
    // values (n, Σx, Σy, Σxy, Σx², Σy²) so the gate carries no libm
    // division — consumers derive Pearson r in one expression. The lag
    // runs per (user, type) series (the partitioning a per-entity
    // telemetry stream already has); the reduce is map-side partial.
    // Milli (not micro) quantization keeps Σx² under the long envelope
    // to ~10⁹ rows per type at |value| ≤ 100
    "q_ts_autocorr" -> ((s, dir) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .withColumn("x", expr("CAST(round(value * 1000, 0) AS BIGINT)"))
        .withColumn("y", lag(col("x"), 1).over(w))
        .where(col("y").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sum_x"),
          sum("y").as("sum_y"), sum(expr("x * y")).as("sum_xy"),
          sum(expr("x * x")).as("sum_x2"), sum(expr("y * y")).as("sum_y2"))
        .orderBy("event_type")
    }),

    // leakage-safe temporal split: train on the first 80% of the global
    // time span, test on the last 20%, and DROP a 1-day embargo zone
    // before the cut — a forecasting label whose window straddles the
    // boundary would leak future into train. Cut epochs are integer
    // arithmetic off one global min/max reduce (two longs, broadcast
    // back over the scan); the label pass fuses into the scan and the
    // per-(type, split) counts are one grouped aggregate. Integer-only:
    // no double boundary can flip a row between engines
    "q_ts_embargo_split" -> ((s, dir) => {
      val e = ev(s, dir)
      val span = e.agg(min("event_epoch_time").as("t0"),
        max("event_epoch_time").as("t1"))
      e.crossJoin(broadcast(span))
        .withColumn("cut", expr("t0 + (t1 - t0) * 8 DIV 10"))
        .withColumn("split",
          when(col("event_epoch_time") >= col("cut"), lit("test"))
            .when(col("event_epoch_time") < col("cut") - lit(86400L),
              lit("train"))
            .otherwise(lit("embargo")))
        .groupBy("event_type", "split")
        .agg(count(lit(1)).as("n"),
          min("event_epoch_time").as("min_ts"),
          max("event_epoch_time").as("max_ts"))
        .orderBy("event_type", "split")
    }),

    // semi-structured: JSON field extraction from the props column.
    // from_json parses each row ONCE into a typed struct (get_json_object
    // re-walks the JSON text per extraction).
    "q_ts_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          countDistinct(col("k")).as("n_k"))
        .orderBy("event_type")))

  val oracles: Map[String, String] = Map(
    "q_ts_bucketize" -> (idxSql +
      """SELECT user_id, event_type, tidx, value FROM b
        |WHERE tidx <= tw
        |ORDER BY user_id, event_type, tidx, value""".stripMargin),

    "q_ts_combine_mean" -> (idxSql +
      """SELECT user_id, event_type, tidx, round(avg(value), 6) AS avg_value
        |FROM b WHERE tidx <= tw
        |GROUP BY user_id, event_type, tidx
        |ORDER BY user_id, event_type, tidx""".stripMargin),

    "q_ts_combine_sum" -> (idxSql +
      """SELECT user_id, event_type, tidx, round(sum(value), 6) AS sum_value,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM b WHERE tidx <= tw
        |GROUP BY user_id, event_type, tidx
        |ORDER BY user_id, event_type, tidx""".stripMargin),

    "q_ts_densify" -> (idxSql +
      """, agg AS (
        |  SELECT user_id, event_type, tidx, round(avg(value), 6) AS v
        |  FROM b WHERE tidx <= tw GROUP BY user_id, event_type, tidx),
        |spine AS (
        |  SELECT p.user_id, p.event_type,
        |    unnest(generate_series(0, i.tw)) AS tidx
        |  FROM (SELECT DISTINCT user_id, event_type FROM agg) p
        |  JOIN idx i USING (user_id))
        |SELECT s.user_id, s.event_type, s.tidx,
        |  coalesce(a.v, 0.0) AS value
        |FROM spine s LEFT JOIN agg a
        |  ON s.user_id = a.user_id AND s.event_type = a.event_type
        |  AND s.tidx = a.tidx
        |ORDER BY s.user_id, s.event_type, s.tidx""".stripMargin),

    "q_ts_ffill" -> (idxSql +
      """, agg AS (
        |  SELECT user_id, event_type, tidx, round(avg(value), 6) AS v
        |  FROM b WHERE tidx <= tw GROUP BY user_id, event_type, tidx),
        |spine AS (
        |  SELECT p.user_id, p.event_type,
        |    unnest(generate_series(0, i.tw)) AS tidx
        |  FROM (SELECT DISTINCT user_id, event_type FROM agg) p
        |  JOIN idx i USING (user_id))
        |SELECT s.user_id, s.event_type, s.tidx,
        |  coalesce(last_value(a.v IGNORE NULLS) OVER (
        |    PARTITION BY s.user_id, s.event_type ORDER BY s.tidx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS value
        |FROM spine s LEFT JOIN agg a
        |  ON s.user_id = a.user_id AND s.event_type = a.event_type
        |  AND s.tidx = a.tidx
        |ORDER BY s.user_id, s.event_type, s.tidx""".stripMargin),

    "q_ts_interpolate" -> (idxSql +
      """, agg AS (
        |  SELECT user_id, event_type, tidx, round(avg(value), 6) AS v
        |  FROM b WHERE tidx <= tw GROUP BY user_id, event_type, tidx),
        |spine AS (
        |  SELECT p.user_id, p.event_type,
        |    unnest(generate_series(0, i.tw)) AS tidx
        |  FROM (SELECT DISTINCT user_id, event_type FROM agg) p
        |  JOIN idx i USING (user_id)),
        |d AS (
        |  SELECT s.user_id, s.event_type, s.tidx, a.v
        |  FROM spine s LEFT JOIN agg a
        |    ON s.user_id = a.user_id AND s.event_type = a.event_type
        |    AND s.tidx = a.tidx),
        |w AS (
        |  SELECT user_id, event_type, tidx, v,
        |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id, event_type
        |      ORDER BY tidx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN tidx END IGNORE NULLS)
        |      OVER (PARTITION BY user_id, event_type ORDER BY tidx
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id, event_type
        |      ORDER BY tidx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN tidx END IGNORE NULLS)
        |      OVER (PARTITION BY user_id, event_type ORDER BY tidx
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM d)
        |SELECT user_id, event_type, tidx,
        |  CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NULL THEN 0.0
        |    WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) * CAST(tidx - pt AS DOUBLE)
        |      / CAST(nt - pt AS DOUBLE) END AS value
        |FROM w ORDER BY user_id, event_type, tidx""".stripMargin),

    "q_ts_rolling" ->
      """SELECT user_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER
        |    (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS roll3_cents,
        |  value - lag(value, 1) OVER
        |    (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS delta,
        |  CAST(row_number() OVER
        |    (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS INT) AS rn
        |FROM events
        |ORDER BY user_id, event_type, ts_epoch""".stripMargin,

    "q_ts_rolling_range" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, event_type, ts_epoch,
        |  CAST(sum(cents) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts_epoch RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS trail1h_cents,
        |  CAST(count(*) OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts_epoch RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS n_trail
        |FROM e
        |ORDER BY user_id, event_type, ts_epoch, trail1h_cents""".stripMargin,

    "q_ts_ewma" -> {
      val terms = (0 until 16).map { d =>
        s"coalesce(lag(mu, $d) OVER w, 0) * ${1L << (15 - d)}"
      }.mkString(" + ")
      s"""WITH e AS (
         |  SELECT user_id, event_type, ts,
         |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
         |    CAST(round(value * 1e6, 0) AS BIGINT) AS mu, event_id
         |  FROM events),
         |f AS (
         |  SELECT user_id, event_type, ts_epoch,
         |    CAST($terms AS BIGINT) AS ewma_fp,
         |    least(row_number() OVER w, 16) AS n
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id, event_type
         |    ORDER BY ts, event_id))
         |SELECT user_id, event_type, ts_epoch, ewma_fp,
         |  round(CAST(ewma_fp AS DOUBLE)
         |    / CAST(65536 - (CAST(1 AS BIGINT) << (16 - n)) AS DOUBLE)
         |    / 1e6, 6) AS ewma
         |FROM f ORDER BY user_id, event_type, ts_epoch""".stripMargin
    },

    // quantile_cont == Spark's exact interpolated percentile; identical
    // op order keeps the raw doubles bit-equal (the q_ts_zscore idiom)
    "q_ts_robust_z" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value FROM events),
        |med AS (
        |  SELECT user_id, event_type, quantile_cont(value, 0.5) AS med
        |  FROM e GROUP BY user_id, event_type),
        |mad AS (
        |  SELECT e.user_id, e.event_type,
        |    quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM e JOIN med m USING (user_id, event_type)
        |  GROUP BY e.user_id, e.event_type)
        |SELECT e.user_id, e.event_type,
        |  CAST(count(*) AS BIGINT) AS n_outliers,
        |  round(max(abs((e.value - m.med) / nullif(d.mad * 1.4826, 0))), 6)
        |    AS max_rz
        |FROM e JOIN med m USING (user_id, event_type)
        |JOIN mad d USING (user_id, event_type)
        |WHERE abs((e.value - m.med) / nullif(d.mad * 1.4826, 0)) > 3.5
        |GROUP BY e.user_id, e.event_type
        |ORDER BY e.user_id, e.event_type""".stripMargin,

    // exact-integer replay: DuckDB's sum(BIGINT) widens to HUGEINT, so
    // n*sxy - sx*sy equals Spark's decimal(38,0) combination exactly; the
    // single double division of identical integers is bit-equal
    "q_ts_trend" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    CAST(round(value * 1e6, 0) AS BIGINT) AS y
        |  FROM events),
        |m AS (SELECT user_id, event_type, min(tsec) AS x0
        |  FROM e GROUP BY user_id, event_type),
        |s AS (SELECT e.user_id, e.event_type,
        |    count(*) AS n, sum(tsec - x0) AS sx, sum(y) AS sy,
        |    sum((tsec - x0) * y) AS sxy,
        |    sum((tsec - x0) * (tsec - x0)) AS sxx
        |  FROM e JOIN m USING (user_id, event_type)
        |  GROUP BY e.user_id, e.event_type)
        |SELECT user_id, event_type, CAST(n AS BIGINT) AS n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / nullif(CAST(n * sxx - sx * sx AS DOUBLE), 0), 6) AS slope_upsec
        |FROM s ORDER BY user_id, event_type""".stripMargin,

    "q_ts_zscore" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value FROM events),
        |stats AS (
        |  SELECT user_id, event_type, avg(value) AS mu,
        |    stddev_samp(value) AS sd
        |  FROM e GROUP BY user_id, event_type)
        |SELECT e.user_id, e.event_type,
        |  CAST(count(*) AS BIGINT) AS n_outliers,
        |  round(max(abs((e.value - s.mu) / nullif(s.sd, 0))), 6) AS max_z
        |FROM e JOIN stats s USING (user_id, event_type)
        |WHERE abs((e.value - s.mu) / nullif(s.sd, 0)) > 2
        |GROUP BY e.user_id, e.event_type
        |ORDER BY e.user_id, e.event_type""".stripMargin,

    "q_ts_downsample_last" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, value FROM events)
        |SELECT user_id, event_type, t // 21600 AS bucket,
        |  CAST(max(t) AS BIGINT) AS last_epoch,
        |  arg_max(value, t) AS last_value,
        |  CAST(count(*) AS BIGINT) AS n_in_bucket
        |FROM e GROUP BY user_id, event_type, bucket
        |ORDER BY user_id, event_type, bucket""".stripMargin,

    // ceil-rank order-statistic cutoffs over integer cents — no float
    // interpolation anywhere (see the gate comment: interpolated
    // quantiles diverge between engines on replica ties at the rank)
    "q_ts_winsorize" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
        |n AS (SELECT event_type, count(*) AS n FROM e GROUP BY 1),
        |d AS (SELECT event_type, c, count(*) AS cnt FROM e GROUP BY 1, 2),
        |cum AS (SELECT event_type, c,
        |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM d),
        |cuts AS (SELECT cum.event_type,
        |    min(CASE WHEN cum.cum >= (n.n + 99) // 100 THEN cum.c END)
        |      AS lo_c,
        |    min(CASE WHEN cum.cum >= (n.n * 99 + 99) // 100 THEN cum.c END)
        |      AS hi_c
        |  FROM cum JOIN n USING (event_type) GROUP BY cum.event_type)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN e.c < t.lo_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_low,
        |  CAST(sum(CASE WHEN e.c > t.hi_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clipped_high,
        |  CAST(sum(greatest(least(e.c, t.hi_c), t.lo_c)) AS BIGINT) * 10000
        |    AS sum_clipped_micro
        |FROM e JOIN cuts t USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_ts_exp_histogram" ->
      """WITH s AS (SELECT event_type,
        |    CASE WHEN user_id % 11 = 0 THEN 0.0
        |         WHEN user_id % 5 = 0 THEN -value
        |         ELSE value END AS v
        |  FROM events),
        |e AS (SELECT event_type,
        |    CAST(floor(v * 100 + 0.5) AS BIGINT) AS c FROM s),
        |b AS (SELECT event_type, c,
        |    CASE WHEN c = 0 THEN 0
        |         WHEN c > 0 THEN CAST(length(bin(c)) AS INT)
        |         ELSE -CAST(length(bin(-c)) AS INT) END AS bucket
        |  FROM e)
        |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(c) AS min_cents, max(c) AS max_cents
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_ts_gaps" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id FROM events),
        |g AS (
        |  SELECT event_type,
        |    t - lag(t, 1) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS gap
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap, 0.5), 6) AS p50_gap,
        |  CAST(max(gap) AS BIGINT) AS max_gap
        |FROM g WHERE gap IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_ts_weekly_bands" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week, value
        |  FROM events)
        |SELECT event_type, week, CAST(count(*) AS BIGINT) AS n,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM e GROUP BY event_type, week
        |ORDER BY event_type, week""".stripMargin,

    "q_ts_dedup_consecutive" ->
      """WITH e AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch, value,
        |    lag(value, 1) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, event_type, ts_epoch, value
        |FROM e WHERE prev IS NULL OR value != prev
        |ORDER BY user_id, event_type, ts_epoch""".stripMargin,

    "q_ts_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS t0 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.t) AS t1, min(v.t0) AS t0
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.t >= v.t0
        |  GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.t) AS t2, min(c.t1) AS t1
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.t >= c.t1
        |  GROUP BY e.user_id)
        |SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(0 AS BIGINT) AS sum_delay_s FROM v
        |UNION ALL
        |SELECT 2, 'click', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(t1 - t0), 0) AS BIGINT) FROM c
        |UNION ALL
        |SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(t2 - t1), 0) AS BIGINT) FROM p
        |ORDER BY stage_idx""".stripMargin,

    "q_ts_cohort" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week FROM events),
        |f AS (SELECT user_id, min(week) AS cohort FROM e GROUP BY user_id),
        |act AS (SELECT DISTINCT e.user_id, f.cohort,
        |    e.week - f.cohort AS week_offset
        |  FROM e JOIN f ON e.user_id = f.user_id),
        |base AS (SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM act WHERE week_offset = 0 GROUP BY cohort)
        |SELECT a.cohort, a.week_offset, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST((count(*) * 1000000) // b.cohort_size AS BIGINT)
        |    AS retention_ppm
        |FROM act a JOIN base b ON a.cohort = b.cohort
        |GROUP BY a.cohort, a.week_offset, b.cohort_size
        |ORDER BY a.cohort, a.week_offset""".stripMargin,

    "q_ts_asof" ->
      """WITH p AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS purchase_epoch,
        |    value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS click_epoch,
        |    max(value) AS click_value
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY user_id, click_epoch)
        |SELECT p.event_id, p.user_id, p.purchase_epoch, p.purchase_value,
        |  c.click_epoch, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.purchase_epoch >= c.click_epoch
        |ORDER BY p.event_id""".stripMargin,

    // window replay: same running-max island scan; "end" quoted (reserved)
    // Allen replay: same pair synthesis, same exhaustive CASE ladder in
    // the same arm order (exclusion arms match the engine's)
    "q_ts_allen" ->
      """WITH p AS (SELECT doc_id,
        |    10 + doc_id % 40 AS a_s,
        |    10 + doc_id % 40 + 3 + doc_id % 5 AS a_e,
        |    CAST(doc_id % 13 AS INT) AS c
        |  FROM documents),
        |b AS (SELECT doc_id, a_s, a_e,
        |    CASE c WHEN 0 THEN a_e+2 WHEN 1 THEN a_e WHEN 2 THEN a_s-5
        |      WHEN 3 THEN a_s-3 WHEN 4 THEN a_s WHEN 5 THEN a_s
        |      WHEN 6 THEN a_s WHEN 7 THEN a_s-2 WHEN 8 THEN a_s+1
        |      WHEN 9 THEN a_s-1 WHEN 10 THEN a_s+1 WHEN 11 THEN a_s+2
        |      ELSE a_s-2 END AS b_s,
        |    CASE c WHEN 0 THEN a_e+4 WHEN 1 THEN a_e+3 WHEN 2 THEN a_s-3
        |      WHEN 3 THEN a_s WHEN 4 THEN a_e WHEN 5 THEN a_e+2
        |      WHEN 6 THEN a_e-1 WHEN 7 THEN a_e WHEN 8 THEN a_e
        |      WHEN 9 THEN a_e+1 WHEN 10 THEN a_e-1 WHEN 11 THEN a_e+2
        |      ELSE a_s+1 END AS b_e
        |  FROM p)
        |SELECT doc_id, a_s, a_e, b_s, b_e,
        |  CASE WHEN a_e < b_s THEN 'before'
        |    WHEN a_e = b_s THEN 'meets'
        |    WHEN b_e < a_s THEN 'after'
        |    WHEN b_e = a_s THEN 'met_by'
        |    WHEN a_s = b_s AND a_e = b_e THEN 'equals'
        |    WHEN a_s = b_s AND a_e < b_e THEN 'starts'
        |    WHEN a_s = b_s THEN 'started_by'
        |    WHEN a_e = b_e AND a_s > b_s THEN 'finishes'
        |    WHEN a_e = b_e THEN 'finished_by'
        |    WHEN a_s > b_s AND a_e < b_e THEN 'during'
        |    WHEN a_s < b_s AND a_e > b_e THEN 'contains'
        |    WHEN a_s < b_s THEN 'overlaps'
        |    ELSE 'overlapped_by' END AS rel
        |FROM b ORDER BY doc_id""".stripMargin,

    "q_ts_interval_merge" ->
      """WITH s AS (
        |  SELECT l_suppkey, CAST(floor(epoch(l_shipdate)) AS BIGINT) AS st,
        |    CAST(floor(epoch(l_shipdate)) AS BIGINT) + 604800 AS en
        |  FROM lineitem WHERE l_quantity > 45),
        |f AS (SELECT l_suppkey, st, en,
        |    CASE WHEN max(en) OVER w IS NULL OR st > max(en) OVER w
        |      THEN 1 ELSE 0 END AS flag
        |  FROM s WINDOW w AS (PARTITION BY l_suppkey ORDER BY st, en
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (SELECT l_suppkey, st, en,
        |    sum(flag) OVER (PARTITION BY l_suppkey ORDER BY st, en, flag DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM f)
        |SELECT l_suppkey, CAST(island AS BIGINT) AS island, min(st) AS start,
        |  max(en) AS "end", CAST(count(*) AS BIGINT) AS n_spans
        |FROM i GROUP BY l_suppkey, island
        |ORDER BY l_suppkey, start""".stripMargin,

    "q_ts_interval_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS lo,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + CAST(floor(value * 120) AS BIGINT) AS hi
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS click_epoch,
        |    value
        |  FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, CAST(count(*) AS BIGINT) AS n_clicks,
        |  CAST(sum(CAST(round(c.value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS click_value_c
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_epoch >= p.lo AND c.click_epoch <= p.hi
        |GROUP BY p.purchase_id ORDER BY p.purchase_id""".stripMargin,

    "q_ts_interval_expand" ->
      """WITH idx AS (
        |  SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS intime,
        |         CAST(floor((CAST(floor(epoch(max(ts))) AS BIGINT)
        |           - CAST(floor(epoch(min(ts))) AS BIGINT)) / 3600) AS BIGINT) AS tw
        |  FROM events GROUP BY user_id),
        |iv AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS st,
        |    CAST(floor(epoch(ts)) AS BIGINT) + CAST(floor(value*60) AS BIGINT) AS en,
        |    value
        |  FROM events),
        |marks AS (
        |  SELECT user_id, event_type,
        |    value / (CAST(floor((en - st) / 3600) AS BIGINT) + 1) AS v,
        |    unnest(generate_series(st, en, 3600)) AS m
        |  FROM iv),
        |bk AS (
        |  SELECT mk.user_id, mk.event_type,
        |    greatest(CAST(floor((mk.m - i.intime) / 3600) AS BIGINT), 0) AS tidx,
        |    mk.v, i.tw
        |  FROM marks mk JOIN idx i USING (user_id))
        |SELECT user_id, event_type, tidx, round(sum(v), 6) AS sum_value
        |FROM bk WHERE tidx <= tw
        |GROUP BY user_id, event_type, tidx
        |ORDER BY user_id, event_type, tidx""".stripMargin,

    "q_ts_window_tumbling" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS wstart,
        |  event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 6) AS sum_value
        |FROM events GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin,

    "q_ts_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS et
        |  FROM events),
        |l AS (
        |  SELECT user_id,
        |    lag(et) OVER (PARTITION BY user_id ORDER BY et, event_id) AS prev, et
        |  FROM e)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN prev IS NULL OR et - prev > 1800 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_ts_lifecycle" ->
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT day) AS BIGINT) AS active_days,
        |  CAST(max(day) - min(day) + 1 AS BIGINT) AS span_days,
        |  CAST(count(DISTINCT day) * 1000000
        |    // greatest(max(day) - min(day) + 1, 1) AS BIGINT)
        |    AS activity_ppm
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_ts_power_users" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id
        |  ORDER BY n DESC, user_id LIMIT 20),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM events)
        |SELECT user_id, n,
        |  CAST(n * 1000000 // tot AS BIGINT) AS share_ppm
        |FROM c CROSS JOIN t
        |ORDER BY n DESC, user_id""".stripMargin,

    "q_ts_attribution" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events)
        |SELECT f.event_type AS first_type, l.event_type AS last_type,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM (SELECT user_id, event_type FROM o WHERE rn = 1) f
        |JOIN (SELECT user_id, event_type FROM o WHERE rn = cnt) l
        |  USING (user_id)
        |GROUP BY first_type, last_type
        |ORDER BY first_type, last_type""".stripMargin,

    "q_ts_event_trigrams" ->
      """WITH l AS (
        |  SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t3
        |  FROM events)
        |SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM l WHERE t3 IS NOT NULL
        |GROUP BY trigram ORDER BY n DESC, trigram LIMIT 20""".stripMargin,

    "q_ts_value_drift" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et,
        |    CAST(round(value * 1000000, 0) AS BIGINT) AS c
        |  FROM events),
        |s AS (SELECT min(et) AS t0, max(et) AS t1 FROM e),
        |h AS (
        |  SELECT event_type, c,
        |    CASE WHEN (et - t0) * 2 <= (t1 - t0) THEN 'old' ELSE 'new' END
        |      AS half
        |  FROM e CROSS JOIN s),
        |ed AS (
        |  SELECT event_type,
        |    quantile_cont(c, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS es
        |  FROM h WHERE half = 'old' GROUP BY event_type),
        |b AS (
        |  SELECT h.event_type, h.half,
        |    (CASE WHEN c > es[1] THEN 1 ELSE 0 END)
        |    + (CASE WHEN c > es[2] THEN 1 ELSE 0 END)
        |    + (CASE WHEN c > es[3] THEN 1 ELSE 0 END)
        |    + (CASE WHEN c > es[4] THEN 1 ELSE 0 END)
        |    + (CASE WHEN c > es[5] THEN 1 ELSE 0 END)
        |    + (CASE WHEN c > es[6] THEN 1 ELSE 0 END)
        |    + (CASE WHEN c > es[7] THEN 1 ELSE 0 END)
        |    + (CASE WHEN c > es[8] THEN 1 ELSE 0 END)
        |    + (CASE WHEN c > es[9] THEN 1 ELSE 0 END) AS bucket
        |  FROM h JOIN ed USING (event_type)),
        |g AS (SELECT event_type, half, bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY event_type, half, bucket),
        |t AS (SELECT event_type, half, sum(n) AS tot FROM g
        |  GROUP BY event_type, half),
        |sh AS (SELECT g.event_type, g.half, g.bucket,
        |    CAST(g.n * 1000000 // t.tot AS BIGINT) AS share_ppm
        |  FROM g JOIN t USING (event_type, half))
        |SELECT event_type, bucket,
        |  CAST(sum(CASE WHEN half = 'old' THEN share_ppm ELSE 0 END)
        |    AS BIGINT) AS old_ppm,
        |  CAST(sum(CASE WHEN half = 'new' THEN share_ppm ELSE 0 END)
        |    AS BIGINT) AS new_ppm,
        |  CAST(abs(sum(CASE WHEN half = 'old' THEN share_ppm ELSE 0 END)
        |    - sum(CASE WHEN half = 'new' THEN share_ppm ELSE 0 END))
        |    AS BIGINT) AS abs_diff_ppm
        |FROM sh GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "q_ts_rate_limit" ->
      """WITH m AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id, hr)
        |SELECT user_id,
        |  CAST(sum(CASE WHEN n > 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hot_hours,
        |  CAST(max(n) AS BIGINT) AS max_per_hour
        |FROM m GROUP BY user_id
        |HAVING sum(CASE WHEN n > 2 THEN 1 ELSE 0 END) > 0
        |ORDER BY user_id""".stripMargin,

    "q_ts_dow_profile" ->
      """WITH e AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS et, value FROM events)
        |SELECT (et // 86400 + 4) % 7 AS dow,
        |  (et % 86400) // 3600 AS hour,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS BIGINT)
        |    AS sum_value_micro
        |FROM e GROUP BY dow, hour ORDER BY dow, hour""".stripMargin,

    "q_ts_burst_detect" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr
        |  FROM events),
        |h AS (
        |  SELECT event_type, hr, CAST(count(*) AS BIGINT) AS cnt
        |  FROM e GROUP BY event_type, hr),
        |t AS (
        |  SELECT event_type, hr, cnt,
        |    count(*) OVER (PARTITION BY event_type ORDER BY hr
        |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_n,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY hr
        |      RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING) AS trail_sum
        |  FROM h)
        |SELECT event_type, hr, cnt,
        |  CAST(trail_n AS BIGINT) AS trail_n,
        |  CAST(trail_sum AS BIGINT) AS trail_sum
        |FROM t
        |WHERE trail_n >= 6 AND cnt * trail_n >= 3 * trail_sum
        |ORDER BY event_type, hr""".stripMargin,

    "q_ts_autocorr" ->
      """WITH e AS (
        |  SELECT event_type, user_id, ts, event_id,
        |    CAST(round(value * 1000, 0) AS BIGINT) AS x
        |  FROM events),
        |l AS (
        |  SELECT event_type, x,
        |    lag(x, 1) OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) AS y
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(sum(x * y) AS BIGINT) AS sum_xy,
        |  CAST(sum(x * x) AS BIGINT) AS sum_x2,
        |  CAST(sum(y * y) AS BIGINT) AS sum_y2
        |FROM l WHERE y IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_ts_embargo_split" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS et
        |  FROM events),
        |s AS (SELECT min(et) AS t0, max(et) AS t1 FROM e),
        |l AS (
        |  SELECT event_type, et,
        |    CASE WHEN et >= t0 + (t1 - t0) * 8 // 10 THEN 'test'
        |         WHEN et < t0 + (t1 - t0) * 8 // 10 - 86400 THEN 'train'
        |         ELSE 'embargo' END AS split
        |  FROM e CROSS JOIN s)
        |SELECT event_type, split, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(et) AS BIGINT) AS min_ts,
        |  CAST(max(et) AS BIGINT) AS max_ts
        |FROM l GROUP BY event_type, split
        |ORDER BY event_type, split""".stripMargin,

    "q_ts_json_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
