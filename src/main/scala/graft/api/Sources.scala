package graft.api

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.model._
import graft.schemas.MimicSchemas

/** The four reference aggregators
  * (`/root/reference/src/mimic2ts/__init__.py:228-457`) as declarative
  * configs (SURVEY.md §2.9). Each subclass's row-at-a-time `_value_parser` /
  * `_feature_id_parser` Python hooks become codegen'd Column expressions.
  */
object Sources {

  /** `c` as a double with NaN and non-numeric text read as missing (null),
    * so `avg`/`sum` skip it the way pandas' `skipna` does in the
    * reference's combine. `try_cast`: under ANSI mode a plain `cast` of
    * one non-numeric string aborts the whole run with `CAST_INVALID_INPUT`.
    */
  private def number(c: Column): Column =
    nanvl(c.try_cast("double"), lit(null).cast("double"))

  /** chartevents: point events, MEAN-combined, value = `valuenum`
    * (`__init__.py:228-262`). Null and NaN `valuenum` rows are skipped by
    * `avg`, matching pandas skipna.
    */
  val chartevents: EventSource = EventSource(
    name = "chartevents",
    fileName = "chartevents.csv",
    schema = MimicSchemas.chartevents,
    timeSpec = PointTime("charttime"),
    featureExpr = col("itemid").cast("long"),
    valueExpr = number(col("valuenum")),
    combiner = MeanCombine)

  /** inputevents: interval events, SUM-combined, weight-normalized dose
    * `amount / patientweight` (`__init__.py:265-341`). Note the divergence
    * documented in SURVEY.md §2.8 F6: pandas emits ±inf on zero weight,
    * here `try_divide` emits null, so the row contributes nothing to the sum
    * (a bare `/` would abort the whole run with `DIVIDE_BY_ZERO` under ANSI
    * mode). Real MIMIC weights are > 0.
    */
  val inputevents: EventSource = EventSource(
    name = "inputevents",
    fileName = "inputevents.csv",
    schema = MimicSchemas.inputevents,
    timeSpec = IntervalTime("starttime", "endtime"),
    featureExpr = col("itemid").cast("long"),
    valueExpr = number(try_divide(col("amount").cast("double"),
      col("patientweight").cast("double"))),
    combiner = SumCombine)

  /** outputevents: point events, SUM-combined, value = `float(value)`
    * (`__init__.py:344-377`; `value` is a string column — non-numeric → null).
    */
  val outputevents: EventSource = EventSource(
    name = "outputevents",
    fileName = "outputevents.csv",
    schema = MimicSchemas.outputevents,
    timeSpec = PointTime("charttime"),
    featureExpr = col("itemid").cast("long"),
    valueExpr = number(col("value")),
    combiner = SumCombine)

  /** procedureevents: interval events, SUM-combined (`__init__.py:380-457` —
    * a verbatim copy of the inputevents pipeline minus weight normalization;
    * see the reference's own TODO at `__init__.py:423`).
    */
  val procedureevents: EventSource = EventSource(
    name = "procedureevents",
    fileName = "procedureevents.csv",
    schema = MimicSchemas.procedureevents,
    timeSpec = IntervalTime("starttime", "endtime"),
    featureExpr = col("itemid").cast("long"),
    valueExpr = number(col("value")),
    combiner = SumCombine)

  val all: Seq[EventSource] = Seq(chartevents, inputevents, outputevents, procedureevents)
}
