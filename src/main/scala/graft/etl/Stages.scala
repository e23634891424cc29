package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

import graft.functions.DensifyFillKernel

/** The core ETL stages, each a pure `DataFrame => DataFrame` transform over
  * the long-form model `(stay_id, feature_id, tidx, value)` (SURVEY.md §1.1).
  * Every stage but [[densify]] is declarative Column algebra that Catalyst
  * fuses with whole-stage codegen (scan → project → broadcast join →
  * exchange by stay → agg); [[densify]] walks each task's sorted cells.
  * The one exchange by stay is [[combine]]'s. Nothing here iterates rows
  * on the driver.
  */
object Stages {

  val TimestampFmt = "yyyy-MM-dd HH:mm:ss"

  /** Parse a `yyyy-MM-dd HH:mm:ss` (timezone-naive, treated as UTC) string
    * column to epoch seconds. Reference:
    * `/root/reference/src/mimic2ts/__init__.py:84-91` (strict format) and
    * `:113-115,301-306,416-421` (event columns, same data).
    *
    * A string that does not parse is null, also under ANSI mode (where
    * `to_timestamp` aborts the query with `CANNOT_PARSE_TIMESTAMP`):
    * [[bucketize]] drops an event with a null time and [[stayIndex]] a stay
    * with a null `intime` or `outtime`.
    */
  def epochSeconds(c: Column): Column =
    unix_timestamp(try_to_timestamp(c, lit(TimestampFmt)))

  /** Stay dimension: `icustays → (stay_id, intime, outtime, total_windows)`
    * with times in epoch seconds and
    * `total_windows = floor((outtime - intime) / timestep)` — the grid is
    * `0..total_windows` INCLUSIVE, i.e. `floor(dur/step)+1` columns.
    * This replicates the implementation (`__init__.py:93-98`), not the
    * reference's own test which asserts `ceil` (SURVEY.md §2.5 W2 documents
    * the divergence; the goldens encode `floor(...)+1`).
    *
    * A stay whose `intime` or `outtime` is missing or does not parse has a
    * null `total_windows`; it is left out, so no reader of the index meets
    * a null width, and its events drop in [[bucketize]]'s join.
    *
    * The result is small (one row per stay) and is broadcast everywhere it is
    * joined — never shuffled.
    */
  def stayIndex(icustays: DataFrame, timestepSeconds: Long): DataFrame =
    icustays.select(
        col("stay_id").cast("long").as("stay_id"),
        epochSeconds(col("intime")).as("intime"),
        epochSeconds(col("outtime")).as("outtime"))
      .withColumn("total_windows",
        floor((col("outtime") - col("intime")) / lit(timestepSeconds)).cast("long"))
      .where(col("total_windows").isNotNull)

  /** Interval → point expansion for interval-typed sources (inputevents,
    * procedureevents). One mark per spanned window:
    * `sequence(start, end, step)` yields `floor((end-start)/step)+1` marks,
    * element-for-element identical to the reference's
    * `range(start, end+step, step)` (`__init__.py:319-327,435-443`;
    * equivalence proven in SURVEY.md §2.7). The value is split evenly across
    * the marks so totals are conserved (`__init__.py:329-332`).
    *
    * Marks deliberately start at the raw `starttime`, NOT aligned to the
    * stay's window grid — after bucketize's floor-divide two adjacent marks
    * can land in one window (then summed) or skip one. That is the reference
    * behavior the conservation tests encode; do not "fix" it.
    *
    * Input columns: `start_epoch_time`, `end_epoch_time`, `value`.
    * Output: adds `event_epoch_time`, divides `value`; drops the interval
    * columns. Rows with `end < start` or null bounds are dropped (the
    * reference would raise inside the worker; real MIMIC has `end >= start`).
    */
  def intervalExpand(df: DataFrame, timestepSeconds: Long): DataFrame =
    df.where(col("start_epoch_time").isNotNull && col("end_epoch_time").isNotNull &&
        col("end_epoch_time") >= col("start_epoch_time"))
      .withColumn("marks",
        sequence(col("start_epoch_time"), col("end_epoch_time"), lit(timestepSeconds)))
      .withColumn("value", col("value") / size(col("marks")))
      .withColumn("event_epoch_time", explode(col("marks")))
      .drop("marks", "start_epoch_time", "end_epoch_time")

  /** Assign each event to its stay-relative tumbling window:
    * `tidx = floor((event_epoch_time - intime) / timestep)`, clamped below to
    * window 0 (events before `intime`, `__init__.py:160-162`) and dropped
    * above `total_windows` (events after `outtime`, `__init__.py:164-165`).
    *
    * The stay index is broadcast (it is the small dimension side); a stay
    * missing from `icustays` is dropped by the inner join — the reference
    * raises `KeyError` there (`__init__.py:151-152`), so no silent semantic
    * widening either way. An event with a null time is dropped before the
    * clamp, which would otherwise put it in window 0 (`greatest` skips a
    * null). An event with a null `feature_id` (an unparseable itemid) is
    * dropped too: the reference raises on it (`int(row["itemid"])`), and
    * a matrix line needs an id.
    *
    * Input: `(stay_id, event_epoch_time, feature_id, value)` and any
    * other columns, which pass through after the outputs (the streaming
    * path keeps its `event_time` this way).
    * Output: `(stay_id, feature_id, tidx, value, total_windows, ...)`.
    */
  def bucketize(events: DataFrame, stayIdx: DataFrame, timestepSeconds: Long): DataFrame = {
    val extra = events.columns.toSeq
      .filterNot(Set("stay_id", "event_epoch_time", "feature_id", "value"))
    events
      .where(col("event_epoch_time").isNotNull && col("feature_id").isNotNull)
      .join(broadcast(stayIdx.select("stay_id", "intime", "total_windows")),
        Seq("stay_id"), "inner")
      .withColumn("tidx",
        greatest(
          floor((col("event_epoch_time") - col("intime")) / lit(timestepSeconds)).cast("long"),
          lit(0L)))
      .where(col("tidx") <= col("total_windows"))
      .select("stay_id", Seq("feature_id", "tidx", "value", "total_windows") ++ extra: _*)
  }

  /** Per-(stay, feature, window) combine — the reference's three-level
    * groupby-apply pyramid (`__init__.py:213-214,170-173,119-123`) dissolved
    * into ONE multi-key hash aggregation. `avg`/`sum` ignore nulls exactly
    * like pandas skipna (SURVEY.md §2.4 A3).
    *
    * Combine owns the pipeline's one exchange: it starts with
    * `repartition(stay_id)`, which satisfies the grouping's distribution,
    * so every stay's cells leave it in one task — the clustering
    * [[densify]] and both sinks need, with no exchange of their own. The
    * cost is the map-side partial aggregate that an exchange on the three
    * grouping keys would allow; it removes under 2% of rows on the
    * measured traffic (a window rarely holds two events of one feature).
    */
  def combine(bucketized: DataFrame, combiner: graft.model.Combiner): DataFrame =
    bucketized
      .repartition(col("stay_id"))
      .groupBy("stay_id", "feature_id", "tidx")
      .agg(combiner.agg(col("value")).as("value"),
        first("total_windows").as("total_windows"))

  /** Gap policy of [[densify]] and the CSV sink; `name` is the run
    * manifest's fill policy. */
  sealed trait FillMode { def name: String }
  /** Gaps → 0.0 (the reference default, `__init__.py:132-136`). */
  case object ZeroFill extends FillMode { val name = "zero" }
  /** Carry last observation forward; leading gaps → 0.0 (`--ffill`). */
  case object ForwardFill extends FillMode { val name = "ffill" }
  /** Linear interpolation between observations (beyond-reference): interior
    * gaps get `prev + (next-prev)·(t-pt)/(nt-pt)`; leading gaps → 0.0,
    * trailing gaps carry the last observation (pandas-interpolate shape).
    */
  case object LinearInterp extends FillMode { val name = "interp" }

  /** Densify the time axis, gaps filled per [[FillMode]] — the reference's
    * `reindex(0..tidx_max)` + `fillna` (`__init__.py:124-136`). Input: the
    * combined long form; output: the long form
    * `(stay_id, feature_id, tidx, value)` with one row per `tidx ∈
    * 0..total_windows` for every observed (stay, feature) pair.
    *
    * A sort within partitions puts each (stay, feature) pair's cells in
    * window order in the task that [[combine]]'s exchange gave the stay;
    * the [[graft.functions.DensifyFillKernel]] walk turns each run into
    * its dense, filled series in O(total_windows + cells) — no spine join,
    * no Window, no per-pair aggregation buffer — and [[DensifyPartitions]]
    * lays it out. The `repartition(stay_id)` here only serves a caller
    * that passes cells not clustered by stay: after [[combine]], Spark's
    * `EnsureRequirements` removes it as redundant, so the
    * combine → densify plan has one exchange. The output stays clustered
    * by stay and sorted, which [[graft.io.MatrixWriter.writeLongForm]]
    * relies on. A cell whose
    * combined value is null (e.g. the mean of an all-null window) is a gap
    * in every mode, the same as a window with no cell.
    *
    * The walk allocates `total_windows + 1` doubles per series, and
    * nothing here bounds `total_windows`: a stay with a corrupt `outtime`
    * makes one huge series (capping windows per stay is ROADMAP D3).
    */
  def densify(combined: DataFrame, mode: FillMode): DataFrame = {
    val in = combined.schema
    val out = StructType(Seq(in("stay_id"), in("feature_id"),
      StructField("tidx", LongType, nullable = false),
      StructField("value", DoubleType, nullable = false)))
    combined.select("stay_id", "feature_id", "tidx", "value", "total_windows")
      .repartition(col("stay_id"))
      .sortWithinPartitions("stay_id", "feature_id", "tidx")
      .mapPartitions(DensifyPartitions(mode))(Encoders.row(out))
  }

  /** The task body of [[densify]], a value so that two densify plans of
    * one mode compare equal: each series of the walk over rows `(stay_id,
    * feature_id, tidx, value, total_windows)` becomes its
    * `(stay_id, feature_id, tidx, value)` rows.
    */
  final case class DensifyPartitions(mode: FillMode) extends (Iterator[Row] => Iterator[Row]) {
    override def apply(rows: Iterator[Row]): Iterator[Row] =
      DensifyFillKernel.walk(rows, mode) { r =>
        if (r.isNullAt(4)) 0 else DensifyFillKernel.seriesLength(r.getLong(4))
      }.flatMap(s => Iterator.tabulate(s.n)(t => Row(s.stay, s.feature, t.toLong, s.values(t))))
  }

  /** Keep the rows whose `column` is in `keep`; Catalyst pushes the `isin`
    * to the scan and hashes a long list (`OptimizeIn` → `InSet`). Null keys
    * are in no keep-list and drop.
    */
  def membershipFilter(df: DataFrame, column: String, keep: Seq[Long]): DataFrame =
    df.where(col(column).isin(keep: _*))
}
