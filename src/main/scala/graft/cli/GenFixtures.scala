package graft.cli

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic synthetic MIMIC-shaped fixture generator (FIXTURES.md):
  * every value derives from xxhash64 of the row keys, so the same arguments
  * always produce the same corpus regardless of partitioning — no RNG state.
  *
  * Usage: `runMain graft.cli.GenFixtures <outDir> <nStays> <eventsPerStay>`
  * Writes Spark-readable CSV directories under `<outDir>/icu/` with the
  * exact column order of [[graft.schemas.MimicSchemas]].
  */
object GenFixtures {

  private val Base = 1577836800L // 2020-01-01

  private def h(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Column =
    xxhash64(cols: _*)

  private def fmt(epoch: org.apache.spark.sql.Column) =
    date_format(timestamp_seconds(epoch), "yyyy-MM-dd HH:mm:ss")

  def main(args: Array[String]): Unit = {
    val Array(outDir, nStaysS, perStayS) = args.take(3)
    val nStays = nStaysS.toLong
    val perStay = perStayS.toInt
    val spark = graft.util.LocalSession()

    val stays = spark.range(1, nStays + 1).toDF("stay_id")
      .withColumn("subject_id", col("stay_id") + 1000000)
      .withColumn("hadm_id", col("stay_id") + 2000000)
      .withColumn("intime_e", lit(Base) + pmod(h(col("stay_id"), lit(1)), lit(30 * 24 * 3600L)))
      .withColumn("dur", lit(3600L) + pmod(h(col("stay_id"), lit(2)), lit(9 * 24 * 3600L)))
      .withColumn("outtime_e", col("intime_e") + col("dur"))

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").option("header", "true")
        .csv(s"$outDir/icu/$name")

    write(stays.select(col("subject_id"), col("hadm_id"), col("stay_id"),
      lit("MICU").as("first_careunit"), lit("MICU").as("last_careunit"),
      fmt(col("intime_e")).as("intime"), fmt(col("outtime_e")).as("outtime"),
      (col("dur") / lit(86400.0)).as("los")), "icustays.csv")

    write(spark.range(0, 200).toDF("i")
      .select((lit(220000L) + col("i")).as("itemid"), concat(lit("item"), col("i")).as("label"),
        lit("ab").as("abbreviation"), lit("chartevents").as("linksto"),
        lit("vitals").as("category"), lit("u").as("unitname"),
        lit("Numeric").as("param_type"), lit(null).cast("double").as("lownormalvalue"),
        lit(null).cast("double").as("highnormalvalue")), "d_items.csv")

    def events(n: Int, salt: Int): DataFrame =
      stays.withColumn("i", explode(sequence(lit(0), lit(n - 1))))
        .withColumn("itemid", lit(220000L) + pmod(h(col("stay_id"), col("i"), lit(salt)), lit(200L)))
        .withColumn("off", pmod(h(col("stay_id"), col("i"), lit(salt + 1)), col("dur")))
        .withColumn("t_e", col("intime_e") + col("off"))
        .withColumn("v", pmod(h(col("stay_id"), col("i"), lit(salt + 2)), lit(10000L)) / lit(100.0))

    // chartevents: dominant table, ~3% null valuenum
    write(events(perStay, 10)
      .select(col("subject_id"), col("hadm_id"), col("stay_id"),
        fmt(col("t_e")).as("charttime"), fmt(col("t_e") + 60).as("storetime"),
        col("itemid"),
        col("v").cast("string").as("value"),
        when(pmod(h(col("stay_id"), col("i"), lit(13)), lit(33L)) === 0,
          lit(null).cast("double")).otherwise(col("v")).as("valuenum"),
        lit("u").as("valueuom"), lit("0").as("warning")), "chartevents.csv")

    // inputevents: intervals up to 6 h, weight-normalized
    write(events(math.max(1, perStay / 4), 20)
      .withColumn("end_e", least(col("t_e") + pmod(h(col("stay_id"), col("i"), lit(23)),
        lit(6 * 3600L)), col("outtime_e")))
      .select(col("subject_id"), col("hadm_id"), col("stay_id"),
        fmt(col("t_e")).as("starttime"), fmt(col("end_e")).as("endtime"),
        fmt(col("t_e") + 60).as("storetime"), col("itemid"),
        col("v").as("amount"), lit("mL").as("amountuom"),
        lit(1.0).as("rate"), lit("mL/hour").as("rateuom"),
        col("i").cast("long").as("orderid"), col("i").cast("long").as("linkorderid"),
        lit("Fluids").as("ordercategoryname"), lit("").as("secondaryordercategoryname"),
        lit("Main").as("ordercomponenttypedescription"),
        lit("Continuous").as("ordercategorydescription"),
        (lit(50.0) + pmod(h(col("stay_id"), lit(29)), lit(70L))).as("patientweight"),
        lit(100.0).as("totalamount"), lit("mL").as("totalamountuom"),
        lit(0L).as("isopenbag"), lit(0L).as("continueinnextdept"),
        lit(0L).as("cancelreason"), lit("FinishedRunning").as("statusdescription"),
        col("v").as("originalamount"), lit(1.0).as("originalrate")), "inputevents.csv")

    write(events(math.max(1, perStay / 4), 30)
      .select(col("subject_id"), col("hadm_id"), col("stay_id"),
        fmt(col("t_e")).as("charttime"), fmt(col("t_e") + 60).as("storetime"),
        col("itemid"), col("v").cast("string").as("value"), lit("mL").as("valueuom")),
      "outputevents.csv")

    write(events(math.max(1, perStay / 8), 40)
      .withColumn("end_e", least(col("t_e") + pmod(h(col("stay_id"), col("i"), lit(43)),
        lit(12 * 3600L)), col("outtime_e")))
      .select(col("subject_id"), col("hadm_id"), col("stay_id"),
        fmt(col("t_e")).as("starttime"), fmt(col("end_e")).as("endtime"),
        fmt(col("t_e") + 60).as("storetime"), col("itemid"),
        col("v").as("value"), lit("min").as("valueuom"),
        lit("").as("location"), lit("").as("locationcategory"),
        col("i").cast("long").as("orderid"), col("i").cast("long").as("linkorderid"),
        lit("Ventilation").as("ordercategoryname"), lit("Continuous").as("ordercategorydescription"),
        lit(70.0).as("patientweight"), lit(0L).as("isopenbag"),
        lit(0L).as("continueinnextdept"), lit("FinishedRunning").as("statusdescription"),
        col("v").as("originalamount"), lit(null).cast("double").as("originalrate")),
      "procedureevents.csv")

    println(s"[genfixtures] wrote $outDir: $nStays stays, $perStay chartevents/stay")
    spark.stop()
  }
}
