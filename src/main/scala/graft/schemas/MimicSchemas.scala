package graft.schemas

import org.apache.spark.sql.types._

/** Declared (never inferred) schemas for the MIMIC-IV ICU tables the engine
  * reads. Mirrors the reference's merged dtype dict
  * (`/root/reference/src/mimic2ts/__init__.py:12-46`) with proper Spark types:
  * the reference's `assume_missing=True` float-coercion hack
  * (`__init__.py:241`) is unnecessary because Spark CSV reads nullable longs
  * natively (SURVEY.md §1.2).
  *
  * Datetime columns stay `StringType` at scan time and are parsed to epoch
  * seconds by the ETL stages (format `yyyy-MM-dd HH:mm:ss`, session TZ UTC).
  */
object MimicSchemas {

  val icustays: StructType = StructType(Seq(
    StructField("subject_id", LongType),
    StructField("hadm_id", LongType),
    StructField("stay_id", LongType),
    StructField("first_careunit", StringType),
    StructField("last_careunit", StringType),
    StructField("intime", StringType),
    StructField("outtime", StringType),
    StructField("los", DoubleType)))

  val chartevents: StructType = StructType(Seq(
    StructField("subject_id", LongType),
    StructField("hadm_id", LongType),
    StructField("stay_id", LongType),
    StructField("charttime", StringType),
    StructField("storetime", StringType),
    StructField("itemid", LongType),
    StructField("value", StringType),
    StructField("valuenum", DoubleType),
    StructField("valueuom", StringType),
    StructField("warning", StringType)))

  val inputevents: StructType = StructType(Seq(
    StructField("subject_id", LongType),
    StructField("hadm_id", LongType),
    StructField("stay_id", LongType),
    StructField("starttime", StringType),
    StructField("endtime", StringType),
    StructField("storetime", StringType),
    StructField("itemid", LongType),
    StructField("amount", DoubleType),
    StructField("amountuom", StringType),
    StructField("rate", DoubleType),
    StructField("rateuom", StringType),
    StructField("orderid", LongType),
    StructField("linkorderid", LongType),
    StructField("ordercategoryname", StringType),
    StructField("secondaryordercategoryname", StringType),
    StructField("ordercomponenttypedescription", StringType),
    StructField("ordercategorydescription", StringType),
    StructField("patientweight", DoubleType),
    StructField("totalamount", DoubleType),
    StructField("totalamountuom", StringType),
    StructField("isopenbag", LongType),
    StructField("continueinnextdept", LongType),
    StructField("cancelreason", LongType),
    StructField("statusdescription", StringType),
    StructField("originalamount", DoubleType),
    StructField("originalrate", DoubleType)))

  val outputevents: StructType = StructType(Seq(
    StructField("subject_id", LongType),
    StructField("hadm_id", LongType),
    StructField("stay_id", LongType),
    StructField("charttime", StringType),
    StructField("storetime", StringType),
    StructField("itemid", LongType),
    StructField("value", StringType),
    StructField("valueuom", StringType)))

  val procedureevents: StructType = StructType(Seq(
    StructField("subject_id", LongType),
    StructField("hadm_id", LongType),
    StructField("stay_id", LongType),
    StructField("starttime", StringType),
    StructField("endtime", StringType),
    StructField("storetime", StringType),
    StructField("itemid", LongType),
    StructField("value", DoubleType),
    StructField("valueuom", StringType),
    StructField("location", StringType),
    StructField("locationcategory", StringType),
    StructField("orderid", LongType),
    StructField("linkorderid", LongType),
    StructField("ordercategoryname", StringType),
    StructField("ordercategorydescription", StringType),
    StructField("patientweight", DoubleType),
    StructField("isopenbag", LongType),
    StructField("continueinnextdept", LongType),
    StructField("statusdescription", StringType),
    StructField("originalamount", DoubleType),
    StructField("originalrate", DoubleType)))
}
