package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardOpenOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{EventsAggregator, Sources}

/** End-to-end engine spec over synthetic MIMIC-shaped fixtures (FIXTURES.md).
  * Edge cases encoded: exact-multiple stay duration (floor/ceil W2 tension),
  * pre-intime clamp, post-outtime drop, boundary event at exactly
  * `total_windows`, null valuenum, zero-length interval, non-grid-aligned
  * interval, multi-event window (mean vs sum), stay with no events for a
  * source (dummy file), ffill leading gap; on fixture variants, a NaN
  * valuenum, a zero patientweight, a non-numeric outputevents value and
  * an unparseable itemid.
  */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTest.session

  private def writeFixtures(root: Path): Unit = {
    val icu = root.resolve("icu")
    Files.createDirectories(icu)
    def put(name: String, header: String, rows: Seq[String]): Unit =
      Files.write(icu.resolve(name), (header +: rows).asJava)

    // stay 1: 2020-01-01 00:00 → 05:30 (19800 s) → total_windows=5 (6 cols)
    // stay 2: exact multiple 00:00 → 04:00 (14400 s) → floor+1 = 5 cols
    //         (the reference's test asserts ceil = 4 — we encode the impl)
    // stay 3: no events anywhere → dummy files
    put("icustays.csv",
      "subject_id,hadm_id,stay_id,first_careunit,last_careunit,intime,outtime,los",
      Seq(
        "1,10,1,MICU,MICU,2020-01-01 00:00:00,2020-01-01 05:30:00,0.23",
        "2,20,2,SICU,SICU,2020-01-01 00:00:00,2020-01-01 04:00:00,0.17",
        "3,30,3,MICU,MICU,2020-01-01 00:00:00,2020-01-01 02:00:00,0.08"))

    put("d_items.csv",
      "itemid,label,abbreviation,linksto,category,unitname,param_type,lownormalvalue,highnormalvalue",
      Seq("100,HR,HR,chartevents,vitals,bpm,Numeric,60,100",
        "200,RR,RR,chartevents,vitals,insp/min,Numeric,12,20",
        "300,NaCl,NaCl,inputevents,fluids,mL,Numeric,,",
        "400,Urine,UO,outputevents,output,mL,Numeric,,",
        "500,Vent,Vent,procedureevents,procedures,min,Numeric,,"))

    // chartevents (MEAN): stay 1 itemid 100:
    //  w0: 1.0 @00:30, 3.0 @00:45, pre-intime 7.0 @23:50 prev day (clamped) → mean 11/3
    //  w1: null valuenum @01:30 → mean null → filled 0.0
    //  w2: 5.0 @02:10
    //  dropped: 9.9 @06:30 (tidx 6 > 5)
    // stay 1 itemid 200: single event w3 = 4.0 (ffill case: w4,w5 stay 0.0 / 4.0)
    put("chartevents.csv",
      "subject_id,hadm_id,stay_id,charttime,storetime,itemid,value,valuenum,valueuom,warning",
      Seq(
        "1,10,1,2020-01-01 00:30:00,2020-01-01 00:31:00,100,1,1.0,bpm,0",
        "1,10,1,2020-01-01 00:45:00,2020-01-01 00:46:00,100,3,3.0,bpm,0",
        "1,10,1,2019-12-31 23:50:00,2019-12-31 23:51:00,100,7,7.0,bpm,0",
        "1,10,1,2020-01-01 01:30:00,2020-01-01 01:31:00,100,bad,,bpm,0",
        "1,10,1,2020-01-01 02:10:00,2020-01-01 02:11:00,100,5,5.0,bpm,0",
        "1,10,1,2020-01-01 06:30:00,2020-01-01 06:31:00,100,9.9,9.9,bpm,0",
        "1,10,1,2020-01-01 03:10:00,2020-01-01 03:11:00,200,4,4.0,insp/min,0"))

    // inputevents (SUM, amount/patientweight, interval):
    //  stay 1 itemid 300: 00:30→02:30 amount 6 weight 2 → marks 1800,5400,9000
    //    → w0,w1,w2 each 1.0
    //  zero-length interval 03:10→03:10 amount 4 weight 2 → w3 = 2.0
    val ieCols = "subject_id,hadm_id,stay_id,starttime,endtime,storetime,itemid," +
      "amount,amountuom,rate,rateuom,orderid,linkorderid,ordercategoryname," +
      "secondaryordercategoryname,ordercomponenttypedescription," +
      "ordercategorydescription,patientweight,totalamount,totalamountuom," +
      "isopenbag,continueinnextdept,cancelreason,statusdescription," +
      "originalamount,originalrate"
    put("inputevents.csv", ieCols, Seq(
      "1,10,1,2020-01-01 00:30:00,2020-01-01 02:30:00,2020-01-01 00:31:00,300," +
        "6.0,mL,3.0,mL/hour,1,1,Fluids,,Main,Continuous,2.0,100,mL,0,0,0,FinishedRunning,6.0,3.0",
      "1,10,1,2020-01-01 03:10:00,2020-01-01 03:10:00,2020-01-01 03:11:00,300," +
        "4.0,mL,,mL/hour,2,2,Fluids,,Main,Bolus,2.0,100,mL,0,0,0,FinishedRunning,4.0,"))

    // outputevents (SUM, point, string value):
    //  stay 2 itemid 400: w0 5.5+4.5=10.0; boundary @04:00 → tidx 4 == tw → kept 2.0
    put("outputevents.csv",
      "subject_id,hadm_id,stay_id,charttime,storetime,itemid,value,valueuom",
      Seq(
        "2,20,2,2020-01-01 00:10:00,2020-01-01 00:11:00,400,5.5,mL",
        "2,20,2,2020-01-01 00:20:00,2020-01-01 00:21:00,400,4.5,mL",
        "2,20,2,2020-01-01 04:00:00,2020-01-01 04:01:00,400,2.0,mL"))

    // procedureevents (SUM, interval): stay 1 itemid 500:
    //  00:50→03:20 (3000→12000) → marks 3000,6600,10200 → w0,w1,w2 each 3.0
    val peCols = "subject_id,hadm_id,stay_id,starttime,endtime,storetime,itemid," +
      "value,valueuom,location,locationcategory,orderid,linkorderid," +
      "ordercategoryname,ordercategorydescription,patientweight,isopenbag," +
      "continueinnextdept,statusdescription,originalamount,originalrate"
    put("procedureevents.csv", peCols, Seq(
      "1,10,1,2020-01-01 00:50:00,2020-01-01 03:20:00,2020-01-01 00:51:00,500," +
        "9.0,min,,,1,1,Ventilation,Continuous,2.0,0,0,FinishedRunning,9.0,"))
  }

  private def readCsvLines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq

  /** Every matrix file under `dir`, by relative path, with its bytes. */
  private def tree(dir: Path): Map[String, String] =
    Files.walk(dir).iterator.asScala
      .filter(p => p.getFileName.toString.endsWith("_features.csv"))
      .map(p => dir.relativize(p).toString ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .toMap

  /** AQE settings that split a small exchange into many partitions and
    * coalesce each side of a union on its own. */
  private val hostileCoalescing = Seq(
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "50",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1")

  /** Run `body` with the session confs `kvs` set, then restore them. */
  private def withConf[A](kvs: Seq[(String, String)])(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A fresh copy of the fixtures with `extra` (file, row) pairs appended. */
  private def fixturesWith(extra: (String, String)*): Path = {
    val root = Files.createTempDirectory("graft-mimic-x")
    writeFixtures(root)
    for ((file, row) <- extra)
      Files.write(root.resolve(s"icu/$file"), Seq(row).asJava, StandardOpenOption.APPEND)
    root
  }

  lazy val outDir: Path = {
    val root = Files.createTempDirectory("graft-mimic")
    val dst = Files.createTempDirectory("graft-out")
    writeFixtures(root)
    new EventsAggregator(spark, root.toString, dst.toString).run()
    dst
  }

  test("dst dir structure: every stay dir has all four matrices") {
    for (stay <- Seq(1, 2, 3); src <- Sources.all.map(_.name))
      assert(Files.exists(outDir.resolve(s"$stay/${src}_features.csv")),
        s"missing $stay/${src}_features.csv")
    assert(Files.exists(outDir.resolve("readme.txt")))
  }

  test("header width = floor(dur/step)+1 columns (W2 impl semantics)") {
    val h1 = readCsvLines(outDir.resolve("1/chartevents_features.csv")).head
    assert(h1 == "feature_id,0,1,2,3,4,5")
    val h2 = readCsvLines(outDir.resolve("2/outputevents_features.csv")).head
    assert(h2 == "feature_id,0,1,2,3,4") // exact multiple: floor+1 = 5 cols
    val h3 = readCsvLines(outDir.resolve("3/chartevents_features.csv")).head
    assert(h3 == "feature_id,0,1,2") // dummy file still has correct width
  }

  test("MatrixReader loads matrices back: reindex, zero-fill, collate pad") {
    import graft.cli.MatrixReader
    val sources = Sources.all.map(_.name)
    // universe spanning both observed features and one no-stay-has feature
    val universe = Vector(100L, 200L, 300L, 999L)
    val m1 = MatrixReader.readStay(outDir.toString, 1L, sources, universe)
    assert(m1.width == 6) // stay 1 header is feature_id,0..5
    // feature 100 row matches the written chartevents CSV line
    val csvRow = readCsvLines(outDir.resolve("1/chartevents_features.csv"))(1)
      .split(",").drop(1).map(_.toDouble).toSeq
    assert(m1.values(universe.indexOf(100L)).take(csvRow.length).toSeq == csvRow)
    // feature 999 exists nowhere → zero row (reference reindex+fillna)
    assert(m1.values(universe.indexOf(999L)).forall(_ == 0.0))
    // dummy stay 3: header-only files → all-zero (features × 3) matrix
    val m3 = MatrixReader.readStay(outDir.toString, 3L, sources, universe)
    assert(m3.width == 3 && m3.values.flatten.forall(_ == 0.0))
    // collate right-pads the time axis to the widest stay in the batch
    val (n, nf, w, padded) = MatrixReader.collate(Seq(m1, m3))
    assert(n == 2 && nf == universe.size && w == m1.width)
    assert(padded(1).forall(_.length == w))
  }

  test("MatrixReader collate parity: all three reference strategies") {
    import graft.cli.MatrixReader
    val sources = Sources.all.map(_.name)
    val universe = Vector(100L, 200L, 300L, 999L)
    val m1 = MatrixReader.readStay(outDir.toString, 1L, sources, universe)
    val m3 = MatrixReader.readStay(outDir.toString, 3L, sources, universe)
    // truncate_collate: per stay only feature row 0 (universe.head =
    // feature 100), right-padded to the batch's widest time axis
    val (tn, tw, rows) = MatrixReader.truncateCollate(Seq(m1, m3))
    assert(tn == 2 && tw == m1.width)
    assert(rows(0).toSeq == m1.values(0).toSeq) // widest stay: unpadded
    assert(rows(1).toSeq ==
      m3.values(0).padTo(tw, 0.0).toSeq) // narrower stay: zero-padded
    // maxlen_padmask_collate: feature axis padded to maxLen, mask true
    // exactly on the real rows (the reference's 0.0/42.0 sentinel trick
    // marks appended rows — same mask)
    val maxLen = universe.size + 2
    val (pm, mask) = MatrixReader.maxlenPadmaskCollate(Seq(m1, m3), maxLen)
    assert(pm.forall(_.length == maxLen))
    assert(pm.forall(_.forall(_.length == tw)))
    // appended rows are all-zero; mask splits real/pad at universe.size
    assert(mask.forall(mk => mk.count(identity) == universe.size &&
      mk.take(universe.size).forall(identity)))
    assert(pm(0).drop(universe.size).forall(_.forall(_ == 0.0)))
    // real rows survive the pad untouched
    assert(pm(0)(0).toSeq == m1.values(0).toSeq)
    // over-full batch refuses loudly rather than silently truncating
    intercept[IllegalArgumentException] {
      MatrixReader.maxlenPadmaskCollate(Seq(m1), universe.size - 1)
    }
    // padding_collate is the existing collate(); pin the trio's shape
    // contract side by side: (batch, features, time) vs (batch, time)
    val (cn, cf, cw, cp) = MatrixReader.collate(Seq(m1, m3))
    assert(cn == tn && cw == tw && cf == universe.size)
    assert(cp(0).length == universe.size && cp(0)(0).length == cw)
  }

  test("chartevents mean combine + clamp + drop + null skip") {
    val lines = readCsvLines(outDir.resolve("1/chartevents_features.csv"))
    assert(lines.length == 3) // header + itemid 100 + itemid 200 (sorted)
    val r100 = lines(1).split(",")
    assert(r100(0) == "100")
    assert(math.abs(r100(1).toDouble - 11.0 / 3) < 1e-12) // clamped pre-intime joins w0
    assert(r100(2).toDouble == 0.0) // null-only window → 0.0 fill
    assert(r100(3).toDouble == 5.0)
    assert(r100.drop(4).forall(_.toDouble == 0.0)) // post-outtime event dropped
    val r200 = lines(2).split(",")
    assert(r200(0) == "200" && r200(4).toDouble == 4.0)
  }

  test("inputevents interval expand conserves dose and splits evenly") {
    val lines = readCsvLines(outDir.resolve("1/inputevents_features.csv"))
    val r300 = lines(1).split(",").drop(1).map(_.toDouble)
    assert(r300.toSeq == Seq(1.0, 1.0, 1.0, 2.0, 0.0, 0.0))
    assert(math.abs(r300.sum - (6.0 / 2.0 + 4.0 / 2.0)) < 1e-9) // conservation
  }

  test("outputevents sum combine + boundary window kept") {
    val lines = readCsvLines(outDir.resolve("2/outputevents_features.csv"))
    val r400 = lines(1).split(",").drop(1).map(_.toDouble)
    assert(r400.toSeq == Seq(10.0, 0.0, 0.0, 0.0, 2.0))
  }

  test("procedureevents non-grid-aligned interval") {
    val lines = readCsvLines(outDir.resolve("1/procedureevents_features.csv"))
    val r500 = lines(1).split(",").drop(1).map(_.toDouble)
    assert(r500.toSeq == Seq(3.0, 3.0, 3.0, 0.0, 0.0, 0.0))
  }

  test("stay with no events gets header-only dummies for every source") {
    for (src <- Sources.all.map(_.name)) {
      val lines = readCsvLines(outDir.resolve(s"3/${src}_features.csv"))
      assert(lines.length == 1, s"$src dummy should be header-only")
    }
  }

  test("ffill carries last value forward, leading gaps stay 0.0") {
    val root = Files.createTempDirectory("graft-mimic-ff")
    val dst = Files.createTempDirectory("graft-out-ff")
    writeFixtures(root)
    new EventsAggregator(spark, root.toString, dst.toString, ffill = true,
      sources = Seq(Sources.chartevents)).run()
    val lines = readCsvLines(dst.resolve("1/chartevents_features.csv"))
    val r200 = lines(2).split(",").drop(1).map(_.toDouble)
    // single event at w3=4.0: leading gap 0.0, then carried to w4, w5
    assert(r200.toSeq == Seq(0.0, 0.0, 0.0, 4.0, 4.0, 4.0))
    val r100 = lines(1).split(",").drop(1).map(_.toDouble)
    // w1 had a null-only window: ffill carries w0's mean forward over it
    assert(math.abs(r100(1) - 11.0 / 3) < 1e-12)
  }

  test("custom Aggregator combiner plugs into the facade (median chartevents)") {
    val root = Files.createTempDirectory("graft-mimic-med")
    val dst = Files.createTempDirectory("graft-out-med")
    writeFixtures(root)
    val medianSource = graft.api.Sources.chartevents.copy(
      combiner = graft.model.CustomCombine(
        graft.functions.MedianCombine.median_combine))
    new EventsAggregator(spark, root.toString, dst.toString,
      sources = Seq(medianSource)).run()
    val lines = readCsvLines(dst.resolve("1/chartevents_features.csv"))
    val r100 = lines(1).split(",")
    // window 0 values {1.0, 3.0, 7.0} → median 3.0 (mean would be 11/3)
    assert(r100(1).toDouble == 3.0)
  }

  test("--fill interp linearly interpolates interior gaps") {
    val root = Files.createTempDirectory("graft-mimic-li")
    val dst = Files.createTempDirectory("graft-out-li")
    writeFixtures(root)
    new EventsAggregator(spark, root.toString, dst.toString,
      sources = Seq(Sources.chartevents),
      fillMode = Some(graft.etl.Stages.LinearInterp)).run()
    val lines = readCsvLines(dst.resolve("1/chartevents_features.csv"))
    val r100 = lines(1).split(",").drop(1).map(_.toDouble)
    // observations: w0 = 11/3, w2 = 5.0 (w1's null-only window is a gap):
    // w1 = midpoint, trailing gap carries 5.0, leading none
    assert(math.abs(r100(1) - (11.0 / 3 + 5.0) / 2) < 1e-12)
    assert(r100(3) == 5.0 && r100(5) == 5.0)
  }

  test("long-parquet sink roundtrip matches the CSV matrices") {
    import org.apache.spark.sql.functions._
    import graft.etl.Stages.{ForwardFill, LinearInterp, ZeroFill}
    // an unparseable itemid is a null feature_id: dropped by bucketize
    val root = fixturesWith("chartevents.csv" ->
      "2,20,2,2020-01-01 01:10:00,2020-01-01 01:11:00,x,2,2.0,bpm,0")
    for (mode <- Seq(ZeroFill, ForwardFill, LinearInterp)) {
      val csvDst = Files.createTempDirectory("graft-out-lpcsv")
      val dst = Files.createTempDirectory("graft-out-lp")
      new EventsAggregator(spark, root.toString, csvDst.toString, fillMode = Some(mode)).run()
      // stays spread over several tasks, so one file per stay is a layout
      // the sink keeps, not one that a single task makes by itself
      withConf(hostileCoalescing) {
        new EventsAggregator(spark, root.toString, dst.toString, fillMode = Some(mode))
          .run(graft.io.LongParquetSink)
      }
      val long = spark.read.parquet(dst.resolve("long").toString)
      // sources surface as a Hive partition column (partition-pruned reads)
      assert(long.columns.toSet ==
        Set("stay_id", "feature_id", "tidx", "value", "source"))
      // every (source, stay, feature) series, cell for cell; every CSV line
      // has its header's width
      val fromCsv = tree(csvDst).toSeq.flatMap { case (rel, text) =>
        val path = java.nio.file.Paths.get(rel)
        val stay = path.getName(0).toString.toLong
        val source = path.getFileName.toString.stripSuffix("_features.csv")
        val lines = text.linesIterator.toList
        val width = lines.head.split(",").length
        lines.tail.map { l =>
          val f = l.split(",")
          assert(f.length == width, s"$mode $rel: $l")
          (source, stay, f(0).toLong) -> f.tail.map(_.toDouble).toSeq
        }
      }.toMap
      assert(long.where(col("feature_id").isNull).isEmpty, s"$mode")
      val fromParquet = long.collect().groupBy { r =>
        (r.getAs[String]("source"), r.getAs[Long]("stay_id"), r.getAs[Long]("feature_id"))
      }.map { case (k, rs) =>
        val byT = rs.map(r => r.getAs[Long]("tidx") -> r.getAs[Double]("value")).sortBy(_._1)
        assert(byT.map(_._1).toSeq == byT.indices.map(_.toLong), s"$mode $k tidx")
        k -> byT.map(_._2).toSeq
      }
      assert(!fromCsv.keySet.exists { case (s, stay, _) => s == "chartevents" && stay == 2L },
        s"$mode")
      assert(fromParquet == fromCsv, s"$mode")
      // each stay's rows sit in exactly one file of its source
      val files = long.select(col("source"), col("stay_id"), input_file_name().as("file"))
        .distinct().collect()
      val filesPerStay = files.groupBy(r => (r.getString(0), r.getLong(1))).map {
        case (k, rs) => k -> rs.length
      }
      assert(filesPerStay.values.forall(_ == 1), s"$mode: $filesPerStay")
      assert(files.map(_.getString(2)).distinct.length > 1, s"$mode")
      // companion stay table covers ALL requested stays (incl. eventless 3)
      val stays = spark.read.parquet(dst.resolve("long_stays").toString)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(stays == Map(1L -> 5L, 2L -> 4L, 3L -> 2L))
    }
  }

  test("stay filter prunes and still emits dummies for requested empty stays") {
    val root = Files.createTempDirectory("graft-mimic-f")
    val dst = Files.createTempDirectory("graft-out-f")
    writeFixtures(root)
    new EventsAggregator(spark, root.toString, dst.toString,
      stayIds = Some(Seq(2L, 3L)), sources = Seq(Sources.outputevents)).run()
    assert(!Files.exists(dst.resolve("1")))
    assert(readCsvLines(dst.resolve("2/outputevents_features.csv")).length == 2)
    assert(readCsvLines(dst.resolve("3/outputevents_features.csv")).length == 1)
  }

  test("densify: no Window in the executed plan, rows unchanged, every fill mode") {
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import graft.etl.Stages.{FillMode, ForwardFill, LinearInterp, ZeroFill}
    object plans extends AdaptiveSparkPlanHelper
    val root = Files.createTempDirectory("graft-mimic-dense")
    writeFixtures(root)
    // (source, stay, feature) -> values at tidx 0..total_windows, as the
    // window-based densify produced them on this fixture
    val m = 3.6666666666666665 // mean {1, 3, 7} of chartevents w0
    val expected: Map[FillMode, Map[(String, Long, Long), Seq[Double]]] = Map(
      ZeroFill -> Map(
        ("chartevents", 1L, 100L) -> Seq(m, 0.0, 5.0, 0.0, 0.0, 0.0),
        ("chartevents", 1L, 200L) -> Seq(0.0, 0.0, 0.0, 4.0, 0.0, 0.0),
        ("inputevents", 1L, 300L) -> Seq(1.0, 1.0, 1.0, 2.0, 0.0, 0.0),
        ("outputevents", 2L, 400L) -> Seq(10.0, 0.0, 0.0, 0.0, 2.0),
        ("procedureevents", 1L, 500L) -> Seq(3.0, 3.0, 3.0, 0.0, 0.0, 0.0)),
      ForwardFill -> Map(
        ("chartevents", 1L, 100L) -> Seq(m, m, 5.0, 5.0, 5.0, 5.0),
        ("chartevents", 1L, 200L) -> Seq(0.0, 0.0, 0.0, 4.0, 4.0, 4.0),
        ("inputevents", 1L, 300L) -> Seq(1.0, 1.0, 1.0, 2.0, 2.0, 2.0),
        ("outputevents", 2L, 400L) -> Seq(10.0, 10.0, 10.0, 10.0, 2.0),
        ("procedureevents", 1L, 500L) -> Seq(3.0, 3.0, 3.0, 3.0, 3.0, 3.0)),
      LinearInterp -> Map(
        ("chartevents", 1L, 100L) -> Seq(m, 4.333333333333333, 5.0, 5.0, 5.0, 5.0),
        ("chartevents", 1L, 200L) -> Seq(0.0, 0.0, 0.0, 4.0, 4.0, 4.0),
        ("inputevents", 1L, 300L) -> Seq(1.0, 1.0, 1.0, 2.0, 2.0, 2.0),
        ("outputevents", 2L, 400L) -> Seq(10.0, 8.0, 6.0, 4.0, 2.0),
        ("procedureevents", 1L, 500L) -> Seq(3.0, 3.0, 3.0, 3.0, 3.0, 3.0)))
    for ((mode, want) <- expected) {
      val agg = new EventsAggregator(spark, root.toString, root.resolve("unused").toString,
        fillMode = Some(mode))
      val got = Sources.all.flatMap { src =>
        val df = agg.aggregate(src)
        val rows = df.collect()
        // the executed (final AQE) plan: no Window operator of any kind,
        // no per-series object aggregate, and the densify walk does run
        val executed = df.queryExecution.executedPlan
        val windows = plans.collect(executed) {
          case p if p.nodeName.contains("Window") => p.nodeName
        }
        assert(windows.isEmpty, s"$mode/${src.name}: $windows in\n$executed")
        assert(plans.collect(executed) { case a: ObjectHashAggregateExec => a }.isEmpty,
          s"$mode/${src.name}: an ObjectHashAggregate in\n$executed")
        assert(plans.collect(executed) { case m: MapPartitionsExec => m }.nonEmpty,
          s"$mode/${src.name}: no MapPartitions in\n$executed")
        rows.groupBy(r => (src.name, r.getLong(0), r.getLong(1))).map {
          case (k, rs) =>
            val byT = rs.map(r => r.getLong(2) -> r.getDouble(3)).sortBy(_._1)
            assert(byT.map(_._1).toSeq == byT.indices.map(_.toLong), s"$mode $k tidx")
            k -> byT.map(_._2).toSeq
        }
      }.toMap
      assert(got == want, s"$mode")
    }
  }

  test("CSV sink: run() writes the bytes MatrixWriter.write(aggregate) writes, every fill mode") {
    import graft.etl.Stages.{ForwardFill, LinearInterp, ZeroFill}
    // an unparseable itemid is a null feature_id: dropped by bucketize
    val root = fixturesWith("chartevents.csv" ->
      "2,20,2,2020-01-01 01:10:00,2020-01-01 01:11:00,x,2,2.0,bpm,0")
    for (mode <- Seq(ZeroFill, ForwardFill, LinearInterp)) {
      val viaRun = Files.createTempDirectory("graft-out-run")
      val viaWrite = Files.createTempDirectory("graft-out-write")
      new EventsAggregator(spark, root.toString, viaRun.toString,
        fillMode = Some(mode)).run()
      val agg = new EventsAggregator(spark, root.toString, viaWrite.toString,
        fillMode = Some(mode))
      Sources.all.foreach(src => graft.io.MatrixWriter.write(
        agg.aggregate(src), agg.stayIndex, viaWrite.toString, src.name))
      val got = tree(viaRun)
      assert(got.size == 12, s"$mode: ${got.keySet}") // 3 stays × 4 sources
      // stay 2: chartevents and inputevents are header-only although
      // outputevents has events; the null-feature row left no line
      assert(got("2/chartevents_features.csv") == "feature_id,0,1,2,3,4\n", s"$mode")
      assert(got("2/inputevents_features.csv") == "feature_id,0,1,2,3,4\n", s"$mode")
      assert(got == tree(viaWrite), s"$mode")
    }
  }

  test("CSV sink: every file it writes reads back through MatrixReader.readStay, every fill mode") {
    import graft.cli.MatrixReader
    import graft.etl.Stages.{ForwardFill, LinearInterp, ZeroFill}
    // with an unparseable itemid among the events
    val root = fixturesWith("chartevents.csv" ->
      "2,20,2,2020-01-01 01:10:00,2020-01-01 01:11:00,x,2,2.0,bpm,0")
    val sources = Sources.all.map(_.name)
    val universe = Vector(100L, 200L, 300L, 400L, 500L)
    for (mode <- Seq(ZeroFill, ForwardFill, LinearInterp)) {
      val dst = Files.createTempDirectory("graft-out-readback")
      new EventsAggregator(spark, root.toString, dst.toString, fillMode = Some(mode)).run()
      val files = tree(dst)
      assert(files.size == 12, s"$mode: ${files.keySet}")
      for ((rel, text) <- files) {
        val stay = java.nio.file.Paths.get(rel).getName(0).toString.toLong
        val m = MatrixReader.readStay(dst.toString, stay, sources, universe)
        val lines = text.linesIterator.toList
        assert(m.width == lines.head.split(",").length - 1, s"$mode $rel")
        lines.tail.foreach { l =>
          val f = l.split(",")
          assert(m.values(universe.indexOf(f(0).toLong)).toSeq == f.tail.map(_.toDouble).toSeq,
            s"$mode $rel: $l")
        }
      }
    }
  }

  test("inputevents: a zero patientweight row adds nothing and aborts nothing") {
    // same interval and item as the fixture's first stay-1 dose, weight 0
    val root = fixturesWith("inputevents.csv" ->
      ("1,10,1,2020-01-01 00:30:00,2020-01-01 02:30:00,2020-01-01 00:31:00,300," +
        "6.0,mL,3.0,mL/hour,3,3,Fluids,,Main,Continuous,0.0,100,mL,0,0,0,FinishedRunning,6.0,3.0"))
    val dst = Files.createTempDirectory("graft-out-w0")
    new EventsAggregator(spark, root.toString, dst.toString,
      sources = Seq(Sources.inputevents)).run()
    val r300 = readCsvLines(dst.resolve("1/inputevents_features.csv"))(1)
      .split(",").drop(1).map(_.toDouble)
    assert(r300.toSeq == Seq(1.0, 1.0, 1.0, 2.0, 0.0, 0.0))
  }

  test("chartevents: a NaN valuenum is missing, as pandas skipna") {
    val root = fixturesWith(
      "chartevents.csv" -> "2,20,2,2020-01-01 00:10:00,2020-01-01 00:11:00,100,1,1.0,bpm,0",
      "chartevents.csv" -> "2,20,2,2020-01-01 00:20:00,2020-01-01 00:21:00,100,NaN,NaN,bpm,0",
      "chartevents.csv" -> "2,20,2,2020-01-01 01:20:00,2020-01-01 01:21:00,100,NaN,NaN,bpm,0")
    val dst = Files.createTempDirectory("graft-out-nan")
    new EventsAggregator(spark, root.toString, dst.toString,
      sources = Seq(Sources.chartevents)).run()
    val r100 = readCsvLines(dst.resolve("2/chartevents_features.csv"))(1)
      .split(",").drop(1).map(_.toDouble)
    // w0 = mean {1.0, NaN} = 1.0; w1's NaN-only window is a gap → 0.0
    assert(r100.toSeq == Seq(1.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("outputevents: a non-numeric value adds nothing and aborts nothing") {
    // same stay, item and window as the fixture's 5.5 + 4.5 = 10.0 pair
    val root = fixturesWith("outputevents.csv" ->
      "2,20,2,2020-01-01 00:30:00,2020-01-01 00:31:00,400,abc,mL")
    val dst = Files.createTempDirectory("graft-out-nonnum")
    new EventsAggregator(spark, root.toString, dst.toString,
      sources = Seq(Sources.outputevents)).run()
    val r400 = readCsvLines(dst.resolve("2/outputevents_features.csv"))(1)
      .split(",").drop(1).map(_.toDouble)
    assert(r400.toSeq == Seq(10.0, 0.0, 0.0, 0.0, 2.0))
  }

  test("feature filter writes only the requested features") {
    // 100, 200, 300 are more than half of d_items' 100..500, and itemid 999
    // is in no d_items row, so a NOT-isin over d_items' complement keeps it
    val root = fixturesWith("chartevents.csv" ->
      "1,10,1,2020-01-01 01:10:00,2020-01-01 01:11:00,999,8,8.0,bpm,0")
    val dst = Files.createTempDirectory("graft-out-fid")
    new EventsAggregator(spark, root.toString, dst.toString,
      featureIds = Some(Seq(100L, 200L, 300L)),
      sources = Seq(Sources.chartevents)).run()
    val ids = readCsvLines(dst.resolve("1/chartevents_features.csv")).tail
      .map(_.takeWhile(_ != ','))
    assert(ids == Seq("100", "200"))
  }

  test("CSV sink: headers and lines meet however AQE coalesces the exchange") {
    // events for stays 1 and 2 in both point sources: under these confs a
    // header side with its own exchange coalesces to one partition and the
    // event side to two, so headers and lines would meet only by chance
    val extra = for (m <- 0 until 60 by 2) yield Seq(
      "chartevents.csv" -> f"1,10,1,2020-01-01 04:$m%02d:00,2020-01-01 04:$m%02d:30,200,$m,$m.0,bpm,0",
      "chartevents.csv" -> f"2,20,2,2020-01-01 01:$m%02d:00,2020-01-01 01:$m%02d:30,100,$m,$m.0,bpm,0",
      "outputevents.csv" -> f"1,10,1,2020-01-01 02:$m%02d:00,2020-01-01 02:$m%02d:30,400,$m.5,mL",
      "outputevents.csv" -> f"2,20,2,2020-01-01 01:$m%02d:00,2020-01-01 01:$m%02d:30,400,$m.5,mL")
    val root = fixturesWith(extra.flatten: _*)
    val byDefault = Files.createTempDirectory("graft-out-conf0")
    new EventsAggregator(spark, root.toString, byDefault.toString).run()
    val coalesced = Files.createTempDirectory("graft-out-conf1")
    withConf(hostileCoalescing) {
      new EventsAggregator(spark, root.toString, coalesced.toString).run()
    }
    val want = tree(byDefault)
    assert(want.size == 12 && want("2/outputevents_features.csv").linesIterator.size == 2)
    assert(tree(coalesced) == want)
  }

  test("CSV sink: a destination under another Hadoop scheme gets the local run's tree") {
    val root = Files.createTempDirectory("graft-mimic-scheme")
    writeFixtures(root)
    val local = Files.createTempDirectory("graft-out-local")
    new EventsAggregator(spark, root.toString, local.toString).run()
    // the scheme is known to the session's Hadoop conf only (uncached),
    // so a task that opened a fresh Configuration could not resolve it
    val remote = Files.createTempDirectory("graft-out-scheme")
    val hconf = spark.sparkContext.hadoopConfiguration
    val keys = Seq(s"fs.${TestSchemeFs.Scheme}.impl" -> classOf[TestSchemeFs].getName,
      s"fs.${TestSchemeFs.Scheme}.impl.disable.cache" -> "true")
    try {
      keys.foreach { case (k, v) => hconf.set(k, v) }
      new EventsAggregator(spark, root.toString, s"${TestSchemeFs.Scheme}://$remote").run()
    } finally keys.foreach { case (k, _) => hconf.unset(k) }
    val want = tree(local)
    assert(want.size == 12)
    assert(tree(remote) == want)
    assert(Files.exists(remote.resolve("readme.txt")))
  }

  // each source's write, under either sink: combine's one shuffle
  // exchange by stay with every hash aggregate above it (no partial
  // aggregate in front of it), no object aggregate, and no Generate but
  // intervalExpand's explode
  for ((sink, name) <- Seq[(graft.io.SinkMode, String)](
      (graft.io.CsvMatrixSink,
        "CSV sink: each source's write runs one shuffle exchange and no object aggregate"),
      (graft.io.LongParquetSink,
        "long-parquet sink: each source's write runs one shuffle exchange")))
    test(name) {
      import java.util.concurrent.ConcurrentLinkedQueue
      import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution,
        SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
        ObjectHashAggregateExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.util.QueryExecutionListener
      object plans extends AdaptiveSparkPlanHelper
      val root = Files.createTempDirectory("graft-mimic-plan")
      writeFixtures(root)
      val dst = Files.createTempDirectory("graft-out-plan")
      // the source each write scans, with the write's executed plan
      val writes = new ConcurrentLinkedQueue[(graft.model.EventSource, SparkPlan)]()
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (funcName == "foreachPartition" || funcName == "command") {
            val scanned = plans.collect(qe.executedPlan) {
              case scan: FileSourceScanExec => scan.relation.location.rootPaths
            }.flatten.map(_.toString)
            Sources.all
              .find(src => scanned.exists(_.endsWith(s"${root.getFileName}/icu/${src.fileName}")))
              .foreach(src => writes.add(src -> qe.executedPlan))
          }
        override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        new EventsAggregator(spark, root.toString, dst.toString).run(sink)
        // listener events arrive asynchronously
        val deadline = System.nanoTime() + 30e9.toLong
        while (writes.size < Sources.all.size && System.nanoTime() < deadline) Thread.sleep(10)
      } finally spark.listenerManager.unregister(listener)
      assert(writes.asScala.map(_._1).toSet == Sources.all.toSet)
      assert(writes.size == Sources.all.size)
      writes.asScala.foreach { case (src, p) =>
        val shuffles = plans.collect(p) { case e: ShuffleExchangeExec => e }
        assert(shuffles.size == 1, s"${src.name}: $p")
        val aggs = plans.collect(p) { case a: HashAggregateExec => a }
        val aggsAbove = plans.collect(p) { case a: HashAggregateExec
          if plans.find(a)(_.isInstanceOf[ShuffleExchangeExec]).nonEmpty => a }
        assert(aggs.nonEmpty && aggsAbove.size == aggs.size, s"${src.name}: $p")
        assert(plans.collect(p) { case a: ObjectHashAggregateExec => a }.isEmpty,
          s"${src.name}: $p")
        val explodes = src.timeSpec match {
          case _: graft.model.IntervalTime => 1
          case _ => 0
        }
        assert(plans.collect(p) { case g: GenerateExec => g }.size == explodes, s"${src.name}: $p")
      }
    }

  test("CSV sink: a cell whose stay has no header row fails the write") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-mimic-nohdr")
    writeFixtures(root)
    val dst = Files.createTempDirectory("graft-out-nohdr")
    val agg = new EventsAggregator(spark, root.toString, dst.toString)
    val e = intercept[org.apache.spark.SparkException] {
      graft.io.MatrixWriter.write(agg.aggregate(Sources.outputevents),
        agg.stayIndex.where(col("stay_id") =!= 2L), dst.toString, "outputevents")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("stay 2 reached the writer without")))
  }

  test("CSV sink: a cell with a null feature_id fails the write") {
    import org.apache.spark.sql.functions.{col, lit}
    val root = Files.createTempDirectory("graft-mimic-nullfeat")
    writeFixtures(root)
    val dst = Files.createTempDirectory("graft-out-nullfeat")
    val agg = new EventsAggregator(spark, root.toString, dst.toString)
    val cells = agg.aggregate(Sources.chartevents)
    val nullFeature = cells.where(col("stay_id") === 1L && col("feature_id") === 100L)
      .withColumn("feature_id", lit(null).cast(cells.schema("feature_id").dataType))
    val e = intercept[org.apache.spark.SparkException] {
      graft.io.MatrixWriter.write(cells.unionByName(nullFeature), agg.stayIndex,
        dst.toString, "chartevents")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("null feature_id reached the writer")))
  }

  test("point sources: an empty or malformed event time drops the event, aborts nothing") {
    // an empty charttime used to clamp into window 0 (greatest skips the
    // null), and a malformed one aborted the run under ANSI
    val root = fixturesWith(
      "chartevents.csv" -> "1,10,1,,2020-01-01 00:31:00,100,50,50.0,bpm,0",
      "chartevents.csv" -> "1,10,1,2020-01-01 0x:30:00,2020-01-01 00:31:00,100,50,50.0,bpm,0",
      "outputevents.csv" -> "2,20,2,2020-13-01 00:10:00,2020-01-01 00:11:00,400,50.0,mL")
    val dst = Files.createTempDirectory("graft-out-badpt")
    new EventsAggregator(spark, root.toString, dst.toString,
      sources = Seq(Sources.chartevents, Sources.outputevents)).run()
    val r100 = readCsvLines(dst.resolve("1/chartevents_features.csv"))(1)
      .split(",").drop(1).map(_.toDouble)
    assert(math.abs(r100(0) - 11.0 / 3) < 1e-12)
    val r400 = readCsvLines(dst.resolve("2/outputevents_features.csv"))(1)
      .split(",").drop(1).map(_.toDouble)
    assert(r400.toSeq == Seq(10.0, 0.0, 0.0, 0.0, 2.0))
  }

  test("interval sources: a malformed start or end time drops the interval, aborts nothing") {
    val root = fixturesWith(
      "inputevents.csv" -> ("1,10,1,2020-01-01 00:3O:00,2020-01-01 02:30:00,2020-01-01 00:31:00,300," +
        "6.0,mL,3.0,mL/hour,3,3,Fluids,,Main,Continuous,2.0,100,mL,0,0,0,FinishedRunning,6.0,3.0"),
      "procedureevents.csv" -> ("1,10,1,2020-01-01 00:50:00,2020-01-01 03:20,2020-01-01 00:51:00,500," +
        "9.0,min,,,2,2,Ventilation,Continuous,2.0,0,0,FinishedRunning,9.0,"))
    val dst = Files.createTempDirectory("graft-out-badiv")
    new EventsAggregator(spark, root.toString, dst.toString,
      sources = Seq(Sources.inputevents, Sources.procedureevents)).run()
    val r300 = readCsvLines(dst.resolve("1/inputevents_features.csv"))(1)
      .split(",").drop(1).map(_.toDouble)
    assert(r300.toSeq == Seq(1.0, 1.0, 1.0, 2.0, 0.0, 0.0))
    val r500 = readCsvLines(dst.resolve("1/procedureevents_features.csv"))(1)
      .split(",").drop(1).map(_.toDouble)
    assert(r500.toSeq == Seq(3.0, 3.0, 3.0, 0.0, 0.0, 0.0))
  }

  test("a stay with a malformed intime or outtime is left out, its events too") {
    val root = fixturesWith(
      "icustays.csv" -> "4,40,4,MICU,MICU,2020-01-01 00:00:00,2020-01-01 0S:00:00,0.2",
      "icustays.csv" -> "5,50,5,MICU,MICU,,2020-01-01 03:00:00,0.1",
      "chartevents.csv" -> "4,40,4,2020-01-01 00:30:00,2020-01-01 00:31:00,100,1,1.0,bpm,0")
    val dst = Files.createTempDirectory("graft-out-badstay")
    val agg = new EventsAggregator(spark, root.toString, dst.toString,
      sources = Seq(Sources.chartevents))
    assert(agg.stayIndex.collect().map(_.getAs[Long]("stay_id")).toSet == Set(1L, 2L, 3L))
    agg.run()
    assert(!Files.exists(dst.resolve("4")) && !Files.exists(dst.resolve("5")))
    assert(tree(dst).keySet == Set(1, 2, 3).map(s => s"$s/chartevents_features.csv"))
  }
}

/** A local filesystem under the test-only scheme `graftfs`, for the sink's
  * remote-destination branch. */
class TestSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${TestSchemeFs.Scheme}:///")
  override def getScheme: String = TestSchemeFs.Scheme
}

object TestSchemeFs {
  val Scheme = "graftfs"
}
