package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.etl.Stages
import graft.model.{MeanCombine, SumCombine}

/** ScalaCheck properties over GENERATED stays/events (the reference's own
  * test strategy, SURVEY.md §5, upgraded from seeded-Random examples to
  * forAll): conservation for sum sources across the
  * explode/split/bucket/densify chain, grid width, clamp bounds, and the
  * mean combiner vs a plain-Scala oracle.
  *
  * Each trial runs real Spark jobs, so the trial count is lowered from
  * ScalaCheck's default 100 — the generators still explore edge shapes
  * (exact-multiple durations, zero-length intervals, out-of-stay points)
  * that the old fixed fixtures encoded by hand.
  */
object PropertySpec extends Properties("graft.stages") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkTest.session

  private val step = 3600L

  private case class Stay(id: Long, in: Long, out: Long)

  /** 3..10 stays, ~1/4 with exact-multiple durations (the W2 boundary). */
  private val genStays: Gen[List[Stay]] = for {
    n <- Gen.choose(3, 10)
    durs <- Gen.listOfN(n, Gen.frequency(
      1 -> Gen.choose(1L, 72L).map(_ * step), // exact multiple of step
      3 -> Gen.choose(600L, 72L * 3600L)))
    ins <- Gen.listOfN(n, Gen.choose(1577836800L, 1587836800L))
  } yield List.tabulate(n)(i => Stay(i + 1L, ins(i), ins(i) + durs(i)))

  /** Interval events fully inside their stay; zero-length intervals
    * included (len = 0 is generated).
    */
  private def genIntervalEvents(
      stays: List[Stay]): Gen[List[(Long, Long, Long, Long, Double)]] =
    Gen.listOfN(150, for {
      s <- Gen.oneOf(stays)
      startOff <- Gen.choose(0L, math.max(0L, s.out - s.in - 2))
      len <- Gen.choose(0L, 6 * step)
      fid <- Gen.choose(100L, 104L)
      v <- Gen.choose(1, 10000).map(_ / 10.0)
    } yield {
      val start = s.in + startOff
      (s.id, fid, start, math.min(s.out - 1, start + len), v)
    })

  /** Point events, ~1/5 deliberately OUTSIDE the stay bounds. */
  private def genPointEvents(
      stays: List[Stay]): Gen[List[(Long, Long, Long, Double)]] =
    Gen.listOfN(120, for {
      s <- Gen.oneOf(stays)
      kind <- Gen.choose(0, 9)
      off <- Gen.choose(0L, math.max(1L, s.out - s.in - 1))
      spill <- Gen.choose(1L, 100000L)
      fid <- Gen.choose(5L, 7L)
      v <- Gen.choose(0, 100000).map(_ / 1000.0)
    } yield {
      val t = kind match {
        case 0 => s.in - spill // before intime → clamps to window 0
        case 1 => s.out + spill // after outtime → dropped
        case _ => s.in + off
      }
      (s.id, fid, t, v)
    })

  private def stayIdxDf(stays: List[Stay]) = {
    import spark.implicits._
    stays.map(s => (s.id, s.in, s.out)).toDF("stay_id", "intime", "outtime")
      .withColumn("total_windows",
        floor((col("outtime") - col("intime")) / lit(step)).cast("long"))
  }

  private val genCorpus = genStays.flatMap(st =>
    genIntervalEvents(st).map(ev => (st, ev)))

  property("conservation through explode/split/bucket/densify") =
    forAll(genCorpus) { case (stays, events) =>
      import spark.implicits._
      val iv = events
        .toDF("stay_id", "feature_id", "start_epoch_time", "end_epoch_time", "value")
      val dense = Stages.densify(
        Stages.combine(
          Stages.bucketize(Stages.intervalExpand(iv, step), stayIdxDf(stays), step),
          SumCombine), Stages.ZeroFill)
      val got = dense.agg(sum("value")).head().getDouble(0)
      val expected = events.map(_._5).sum
      math.abs(got - expected) / expected < 1e-9
    }

  property("width: every (stay, feature) series has total_windows+1 rows") =
    forAll(genCorpus) { case (stays, events) =>
      import spark.implicits._
      val iv = events
        .toDF("stay_id", "feature_id", "start_epoch_time", "end_epoch_time", "value")
      val idx = stayIdxDf(stays)
      val dense = Stages.densify(
        Stages.combine(Stages.bucketize(Stages.intervalExpand(iv, step), idx, step),
          SumCombine), Stages.ForwardFill)
      dense.groupBy("stay_id", "feature_id").count()
        .join(idx.select("stay_id", "total_windows"), "stay_id")
        .where(col("count") =!= col("total_windows") + 1)
        .count() == 0
    }

  /** One sparse series for the densify kernel: `total_windows` (0 and a
    * negative value included), cells at distinct `tidx` — some with a
    * null value, some outside `0..total_windows`, often one at 0 and one
    * at `total_windows`, and a single cell in about a quarter of them.
    */
  private val genSeries: Gen[(Long, List[(Long, Option[Double])])] = for {
    tw <- Gen.frequency(2 -> Gen.const(0L), 1 -> Gen.const(-1L),
      10 -> Gen.choose(1L, 40L))
    k <- Gen.frequency(2 -> Gen.const(1), 6 -> Gen.choose(0, 12))
    atZero <- Gen.oneOf(true, false)
    atEnd <- Gen.oneOf(true, false)
    picks <- Gen.listOfN(k, Gen.choose(-3L, tw + 3))
    vals <- Gen.listOfN(k + 2, Gen.frequency(
      1 -> Gen.const(None),
      3 -> Gen.choose(-1000000L, 1000000L).map(x => Some(x / 1000.0)),
      1 -> Gen.choose(-1e9, 1e9).map(Some(_))))
  } yield {
    val ts = (Option.when(atZero)(0L) ++ Option.when(atEnd)(tw) ++ picks)
      .toList.distinct
    (tw, ts.zip(vals))
  }

  /** Brute-force reindex + fill, read off the former window formulation:
    * the value at t is the cell's (a null value or no cell is a gap), the
    * previous / next observation is the last / first non-gap at or
    * before / after t, and interpolation uses the same double op order.
    */
  private def denseRef(cells: List[(Long, Option[Double])], tw: Long,
      mode: Stages.FillMode): Seq[Double] = {
    val at = cells.toMap
    val col = (0L to tw).map(t => at.getOrElse(t, None))
    col.indices.map { t =>
      val prev = (0 to t).reverse.find(col(_).isDefined)
      val next = (t until col.size).find(col(_).isDefined)
      if (mode == Stages.ZeroFill) col(t).getOrElse(0.0)
      else if (mode == Stages.ForwardFill) prev.fold(0.0)(col(_).get)
      else (col(t), prev, next) match {
        case (Some(v), _, _) => v
        case (None, None, _) => 0.0
        case (None, Some(p), None) => col(p).get
        case (None, Some(p), Some(q)) =>
          val (pv, nv) = (col(p).get, col(q).get)
          pv + (nv - pv) * (t - p).toLong.toDouble / (q - p).toLong.toDouble
      }
    }
  }

  /** The densify walk over `series`, each one (stay, feature) run of rows
    * `(stay_id, feature_id, tidx, value, total_windows)` in walk order:
    * four runs a stay, the first with a null feature. Returns each run's
    * dense series by its index in `series`; a run without cells has no
    * rows, so it has no series either.
    */
  private def walked(series: List[(Long, List[(Long, Option[Double])])],
      mode: Stages.FillMode): Map[Int, Seq[Double]] = {
    import org.apache.spark.sql.Row
    import graft.functions.DensifyFillKernel.{seriesLength, walk}
    def key(i: Int): (Long, java.lang.Long) =
      (i / 4L, if (i % 4 == 0) null else java.lang.Long.valueOf(i % 4L))
    val rows = series.zipWithIndex.flatMap { case ((tw, cells), i) =>
      val (stay, feature) = key(i)
      cells.sortBy(_._1).map { case (t, v) => Row(stay, feature, t, v.map(Double.box).orNull, tw) }
    }
    walk(rows.iterator, mode)(r => seriesLength(r.getLong(4))).map { s =>
      series.indices.find(key(_) == ((s.stay, s.feature))).get ->
        s.values.take(s.n).toSeq
    }.toMap
  }

  property("densify kernel equals a brute-force reindex + fill, every mode") =
    forAll(Gen.listOfN(300, genSeries)) { series =>
      val bad = for {
        mode <- Seq(Stages.ZeroFill, Stages.ForwardFill, Stages.LinearInterp)
        got = walked(series, mode)
        ((tw, cells), i) <- series.zipWithIndex
        want = Option.when(cells.nonEmpty)(denseRef(cells, tw, mode))
        // exact: == on doubles, no tolerance
        if got.get(i) != want
      } yield s"tw=$tw mode=$mode cells=$cells got=${got.get(i)}"
      bad.isEmpty :| bad.headOption.getOrElse("")
    }

  property("densify: a duplicate tidx in one series raises") = {
    import spark.implicits._
    import scala.util.Try
    def raises(body: => Any): Boolean = Try(body).failed.toOption
      .exists(e => String.valueOf(e.getMessage).contains("duplicate tidx"))
    // straight on the walk, the second cell's value null
    val direct = raises(walked(List(4L -> List(2L -> Some(1.0), 2L -> None)),
      Stages.ZeroFill))
    // and through the stage, in every fill mode
    val dup = Seq((1L, 7L, 2L, 1.0, 4L), (1L, 7L, 2L, 3.0, 4L))
      .toDF("stay_id", "feature_id", "tidx", "value", "total_windows")
    direct && Seq(Stages.ZeroFill, Stages.ForwardFill, Stages.LinearInterp)
      .forall(m => raises(Stages.densify(dup, m).collect()))
  }

  property("densify: a null tidx raises, a negative or null total_windows yields no rows, an oversize one fails") = {
    import spark.implicits._
    import scala.util.Try
    def raises(df: org.apache.spark.sql.DataFrame, msg: String): Boolean =
      Try(df.collect()).failed.toOption.exists(e => Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).exists(t => String.valueOf(t.getMessage).contains(msg)))
    def cells(rows: (Long, Option[Long], Option[Long])*) =
      rows.map { case (stay, tidx, tw) => (stay, 7L, tidx, 1.0, tw) }
        .toDF("stay_id", "feature_id", "tidx", "value", "total_windows")
    Seq(Stages.ZeroFill, Stages.ForwardFill, Stages.LinearInterp).forall { m =>
      Stages.densify(cells((1L, Some(0L), Some(-1L)), (2L, Some(0L), None)), m).count() == 0 &&
        raises(Stages.densify(cells((1L, None, Some(4L))), m), "null tidx") &&
        raises(Stages.densify(cells((1L, Some(0L), Some(Int.MaxValue.toLong))), m),
          "exceeds the array limit")
    }
  }

  property("clamp: tidx in [0, total_windows]; only post-outtime dropped") =
    forAll(genStays.flatMap(st => genPointEvents(st).map(ev => (st, ev)))) {
      case (stays, events) =>
        import spark.implicits._
        val pts = events.toDF("stay_id", "feature_id", "event_epoch_time", "value")
        val b = Stages.bucketize(pts, stayIdxDf(stays), step)
        val late = events.count { case (sid, _, t, _) =>
          val s = stays.find(_.id == sid).get
          (t - s.in) / step > (s.out - s.in) / step || t > s.out
        }
        b.where(col("tidx") < 0 || col("tidx") > col("total_windows"))
          .count() == 0 && b.count() >= events.size - late
    }

  property("as-of join matches a naive per-row latest-at-or-before lookup") = {
    val genCase = for {
      nl <- Gen.choose(5, 40)
      nr <- Gen.choose(0, 40)
      left <- Gen.listOfN(nl, for {
        k <- Gen.choose(1L, 5L); t <- Gen.choose(0L, 100L)
      } yield (k, t))
      right <- Gen.listOfN(nr, for {
        k <- Gen.choose(1L, 5L); t <- Gen.choose(0L, 100L)
        v <- Gen.choose(0, 1000).map(_ / 10.0)
      } yield (k, t, v))
    } yield (left.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) },
      // right must be unique per (key, time): keep max value like the gate
      right.groupBy(r => (r._1, r._2))
        .map { case ((k, t), vs) => (k, t, vs.map(_._3).max) }.toList)
    forAll(genCase) { case (left, right) =>
      import spark.implicits._
      val l = left.toDF("id", "k", "lt")
      val r = right.toDF("k", "rt", "rv")
      val got = graft.ops.AsOf.asofJoin(l, r, Seq("k"), "lt", "rt", "rv")
        .collect().map(row => row.getLong(0) ->
          (Option(row.get(3)).map(_.asInstanceOf[Long]),
            Option(row.get(4)).map(_.asInstanceOf[Double]))).toMap
      val naive = left.map { case (id, k, lt) =>
        val cand = right.filter(rr => rr._1 == k && rr._2 <= lt)
        id -> (if (cand.isEmpty) (None, None)
               else { val b = cand.maxBy(_._2); (Some(b._2), Some(b._3)) })
      }.toMap
      got == naive
    }
  }

  /** Random small documents over a tiny vocabulary (high shingle overlap —
    * the adversarial case for candidate pruning).
    */
  private val genDocs: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(6, 25)
    docs <- Gen.listOfN(n, for {
      len <- Gen.choose(3, 12)
      ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e", "f"))
    } yield ws.mkString(" "))
  } yield docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("prefix-filter Jaccard equals the naive all-pairs computation") =
    forAll(genDocs) { docs =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      val got = graft.ops.Dedup
        .jaccardPairs(df, "doc_id", "text", 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // naive oracle in plain Scala: distinct word-3-shingles, all pairs
      def sh(t: String): Set[String] = {
        val w = t.trim.toLowerCase.split("\\s+").toSeq
        w.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      }
      val sets = docs.map { case (id, t) => id -> sh(t) }.filter(_._2.nonEmpty)
      val naive = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        j = (sa & sb).size.toDouble / (sa | sb).size
        if j >= 0.5
      } yield (ia, ib)).toSet
      got == naive
    }

  property("simhash banded pairs equal brute-force hamming at maxDist 3") =
    forAll(genDocs) { docs =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      val got = graft.ops.Dedup.simhashPairs(df, "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sigs = graft.ops.Dedup.simhashSignatures(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      val naive = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        if java.lang.Long.bitCount(sa ^ sb) <= 3
      } yield (ia, ib)).toSet
      got == naive
    }

  property("mean combine matches a plain-Scala per-window oracle") =
    forAll(genStays.flatMap(st => genPointEvents(st).map(ev => (st, ev)))) {
      case (stays, events) =>
        import spark.implicits._
        val inside = events.filter { case (sid, _, t, _) =>
          val s = stays.find(_.id == sid).get
          t >= s.in && t <= s.out && (t - s.in) / step <= (s.out - s.in) / step
        }
        val df = inside.toDF("stay_id", "feature_id", "event_epoch_time", "value")
        val combined = Stages
          .combine(Stages.bucketize(df, stayIdxDf(stays), step), MeanCombine)
          .select("stay_id", "feature_id", "tidx", "value")
          .as[(Long, Long, Long, Double)]
          .collect().map { case (s, f, t, v) => (s, f, t) -> v }.toMap
        val byStay = stays.map(s => s.id -> s).toMap
        val oracle = inside
          .map { case (sid, fid, t, v) =>
            ((sid, fid, math.max(0L, (t - byStay(sid).in) / step)), v)
          }
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum / vs.size }
        oracle.forall { case (k, v) =>
          combined.contains(k) && math.abs(combined(k) - v) < 1e-9
        }
    }

  /** Random per-group docs with 1..40 tokens (some above small capacities). */
  private val genPackDocs: Gen[List[(String, Long, Int)]] = for {
    nGroups <- Gen.choose(1, 3)
    n <- Gen.choose(1, 25)
    rows <- Gen.listOfN(n, for {
      g <- Gen.choose(0, nGroups - 1).map(i => s"g$i")
      toks <- Gen.choose(1, 40)
    } yield (g, toks))
  } yield rows.zipWithIndex.map { case ((g, t), i) => (g, i.toLong, t) }

  /** Points and intervals on a small integer line (collisions and exact
    * boundary hits likely); spans up to 40 cells at grid=10 to exercise
    * multi-cell explode.
    */
  private val genRangeCase
      : Gen[(List[(Long, Long)], List[(Long, Long, Long)])] = for {
    nP <- Gen.choose(1, 40)
    pts <- Gen.listOfN(nP, for {
      u <- Gen.choose(1L, 4L); x <- Gen.choose(0L, 400L)
    } yield (u, x))
    nI <- Gen.choose(1, 15)
    ivs <- Gen.listOfN(nI, for {
      u <- Gen.choose(1L, 4L); lo <- Gen.choose(0L, 400L)
      len <- Gen.choose(0L, 120L)
    } yield (u, lo, lo + len))
  } yield (pts, ivs)

  property("range join: grid blocking equals the naive cross-filter") =
    forAll(genRangeCase) { case (pts, ivs) =>
      import spark.implicits._
      val points = pts.toDF("uid", "pt")
      val intervals = ivs.zipWithIndex
        .map { case ((u, l, h), i) => (u, i.toLong, l, h) }
        .toDF("uid", "iv_id", "lo", "hi")
      val got = graft.ops.RangeJoin.pointInInterval(points, "pt",
          intervals, "lo", "hi", grid = 10, keys = Seq("uid"))
        .select("iv_id", "pt")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val naive = points.as("p").join(intervals.as("i"),
          col("p.uid") === col("i.uid") &&
            col("p.pt") >= col("i.lo") && col("p.pt") <= col("i.hi"))
        .select("iv_id", "pt")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      got == naive
    }

  property("SQ8 codes stay in [-127,127] and self-score is max per query") =
    forAll(Gen.listOfN(12,
      Gen.listOfN(4, Gen.choose(-1000, 1000).map(_ / 100.0f)))) { vs =>
      import spark.implicits._
      val rows = vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
      val df = rows.toDF("vec_id", "embedding")
      val enc = graft.ops.ScalarQuant.sq8Encode(df, "vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
      enc.values.forall(_.forall(c => c >= -127 && c <= 127))
    }

  private val genSnapshot: Gen[(List[(Long, Int, String)],
      List[(Long, Int, String, Boolean)])] = for {
    nKeys <- Gen.choose(1, 30)
    baseKeys <- Gen.someOf(0L until nKeys.toLong)
    base <- Gen.sequence[List[(Long, Int, String)], (Long, Int, String)](
      baseKeys.toList.map(k => for {
        v <- Gen.choose(1, 3)
        t <- Gen.alphaStr.map(_.take(8))
      } yield (k, v, t)))
    nChanges <- Gen.choose(0, 40)
    changes <- Gen.listOfN(nChanges, for {
      k <- Gen.choose(0L, nKeys.toLong - 1)
      v <- Gen.choose(1, 6)
      t <- Gen.alphaStr.map(_.take(8))
      del <- Gen.oneOf(true, false)
    } yield (k, v, t, del))
  } yield (base,
    // CDC contract: one change row per (key, version) — dedupe the gen
    changes.groupBy(c => (c._1, c._2)).values.map(_.head).toList)

  property("snapshot upsert matches a per-key latest-wins model; idempotent") =
    forAll(genSnapshot) { case (base, changes) =>
      import spark.implicits._
      val baseDf = base.toDF("k", "version", "payload")
      val chDf = changes.toDF("k", "version", "payload", "deleted")
      def run(b: org.apache.spark.sql.DataFrame) =
        graft.ops.Snapshot.upsert(b, chDf, "k", "version")
          .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2))))
          .toMap
      val got = run(baseDf)
      // reference model: per key, the (version, isChange) max wins;
      // winners that are tombstones disappear
      val model = (base.map(b => (b._1, (b._2, 0, b._3, false))) ++
        changes.map(c => (c._1, (c._2, 1, c._3, c._4))))
        .groupBy(_._1).view
        .mapValues(_.map(_._2).maxBy(e => (e._1, e._2)))
        .collect { case (k, (v, _, t, false)) => k -> ((v, t)) }
        .toMap
      val replay = run(got.toSeq.map { case (k, (v, t)) => (k, v, t) }
        .toDF("k", "version", "payload"))
      got == model && replay == got
    }

  property("negative samples: dense coverage, range, no self, any (n, k)") =
    forAll(Gen.choose(2, 200), Gen.choose(1, 8)) { (n, k) =>
      import spark.implicits._
      val ids = spark.range(n.toLong).select(col("id").as("doc_id"))
      val negs = graft.ops.Sampling.negativeSamples(ids, "doc_id", k)
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2))
        .toMap
      negs.size == n * k &&
        negs.forall { case ((a, s), v) =>
          v >= 0 && v < n && v != a && s >= 0 && s < k }
    }

  property("mixture sample: binding stratum exact, unweighted dropped, subset") =
    forAll(Gen.listOfN(150, for {
      g <- Gen.oneOf("a", "b", "c", "z") // z never gets a weight
      id <- Gen.choose(0L, 9999L)
    } yield (g, id)), Gen.choose(1, 8), Gen.choose(1, 8), Gen.choose(1, 8)) {
      (rawRows, wa, wb, wc) =>
        import spark.implicits._
        val rows = rawRows.distinct
        val present = rows.map(_._1).toSet
        // only run when all weighted strata exist (else T is over a subset)
        (Set("a", "b", "c").subsetOf(present)) ==> {
          val tot = (wa + wb + wc).toDouble
          val weights = Seq("a" -> wa / tot, "b" -> wb / tot, "c" -> wc / tot)
          val df = rows.toDF("lang", "id").withColumn("key",
            concat_ws("|", col("lang"), col("id")))
          val kept = graft.ops.Curation
            .mixtureSample(df, "lang", col("key"), weights)
            .select("lang", "key").collect()
            .map(r => (r.getString(0), r.getString(1)))
          val keptByLang = kept.groupBy(_._1).view.mapValues(_.length).toMap
          val n = rows.groupBy(_._1).view.mapValues(_.size).toMap
          val tVal = Seq(n("a") / (wa / tot), n("b") / (wb / tot),
            n("c") / (wc / tot)).min
          // the binding stratum (n/w == T) keeps EVERYTHING, exactly
          val binding = Seq(("a", wa), ("b", wb), ("c", wc))
            .filter { case (s, w) => math.abs(n(s) / (w / tot) - tVal) < 1e-9 }
          val bindingExact = binding.forall { case (s, _) =>
            keptByLang.getOrElse(s, 0) == n(s) }
          val allRows = rows.map { case (g, id) => (g, s"$g|$id") }.toSet
          bindingExact && !keptByLang.contains("z") &&
            kept.forall(allRows.contains) &&
            keptByLang.keySet.subsetOf(Set("a", "b", "c"))
        }
    }

  property("expectations report equals brute-force per-rule filter counts") =
    forAll(Gen.listOfN(60, Gen.option(Gen.choose(-50, 50)))) { vals =>
      import spark.implicits._
      val df = vals.zipWithIndex
        .map { case (v, i) => (i.toLong, v.map(_.toDouble)) }
        .toDF("id", "v")
      val rules = Seq(
        "v_not_null" -> col("v").isNotNull,
        "v_positive" -> (col("v") > 0),
        "v_small" -> (abs(col("v")) <= 25))
      val rep = graft.ops.Expectations.check(df, rules)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      // brute force in plain Scala (null fails every rule)
      val expect = Map(
        "v_not_null" -> vals.count(_.isEmpty),
        "v_positive" -> vals.count(v => !v.exists(_ > 0)),
        "v_small" -> vals.count(v => !v.exists(x => math.abs(x) <= 25)))
      rep == expect.view.mapValues(_.toLong).toMap
    }

  property("group sample: k-cap, subset, full small groups, repartition-stable") =
    forAll(Gen.choose(1, 6), Gen.listOfN(120, for {
      g <- Gen.oneOf("a", "b", "c", "d")
      id <- Gen.choose(0L, 999L)
    } yield (g, id))) { (k, rawRows) =>
      import spark.implicits._
      val rows = rawRows.distinct // (group, id) unique
      val df = rows.toDF("grp", "id")
      def run(d: org.apache.spark.sql.DataFrame) =
        graft.ops.Sampling.groupSample(d, "grp", concat_ws("|",
          col("grp"), col("id")), "id", k)
          .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      val got = run(df)
      val byGroup = got.groupBy(_._1)
      val groupSizes = rows.groupBy(_._1).view.mapValues(_.size).toMap
      val subsetOk = got.forall { case (g, _, id) => rows.contains((g, id)) }
      val capOk = byGroup.forall { case (g, s) =>
        s.length == math.min(k, groupSizes(g)) } // k, or ALL of a small group
      val ranksOk = byGroup.forall { case (_, s) =>
        s.map(_._2).sorted.toSeq == (1 to s.length) }
      val stable = run(df.repartition(7)).toSet == got.toSet
      subsetOk && capOk && ranksOk && stable
    }

  property("sequence packing: greedy invariants hold for any doc stream") =
    forAll(genPackDocs, Gen.choose(8, 64)) { (rows, capacity) =>
      import spark.implicits._
      val docs = rows.map { case (g, id, toks) =>
        (g, id, List.fill(toks)("w").mkString(" "))
      }.toDF("grp", "doc_id", "text")
      val packed = graft.ops.Curation
        .packSequences(docs, "grp", "doc_id", "text", capacity)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      val byGroup = packed.groupBy(_._1)
      packed.length == rows.length && byGroup.forall { case (_, ds) =>
        val inOrder = ds.sortBy(_._2)
        val bins = inOrder.map(_._4)
        val binFills = inOrder.groupBy(_._4).view
          .mapValues(_.map(_._3).sum).toMap
        // bins are contiguous from 0, never decrease along the id order,
        // every multi-doc bin fits capacity (only a single oversize doc
        // may exceed it), and no doc could have fit the PREVIOUS bin
        bins.head == 0 &&
          bins.zip(bins.tail).forall { case (a, b) => b == a || b == a + 1 } &&
          binFills.forall { case (b, fill) =>
            fill <= capacity || inOrder.count(_._4 == b) == 1 } &&
          inOrder.zip(inOrder.tail).forall { case ((_, _, _, ba), (_, _, t, bb)) =>
            bb == ba || binFills(ba) + t > capacity }
      }
    }

  // driver-only (no Spark jobs): BPE training must be independent of the
  // input ORDER of the word-frequency table (the distributed wordFreq
  // makes no ordering promise), and the encoder must partition each word
  // exactly — losing or inventing characters is the classic off-by-one in
  // chained merge application (the adversarial inputs here are runs of
  // repeated characters, where greedy non-overlapping matters)
  private val genWordFreqs: Gen[List[(String, Long)]] = for {
    n <- Gen.choose(1, 10)
    words <- Gen.listOfN(n, for {
      len <- Gen.choose(1, 7)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString)
    freqs <- Gen.listOfN(n, Gen.choose(1L, 50L))
  } yield words.distinct.zip(freqs)

  property("bpe: order-independent training; pieces partition the word") =
    forAll(genWordFreqs) { wf =>
      import graft.ops.Bpe
      val m1 = Bpe.train(wf, 12)
      val m2 = Bpe.train(wf.reverse, 12)
      m1 == m2 && wf.forall { case (w, _) =>
        val pieces = Bpe.tokenize(w, m1)
        pieces.mkString == w && pieces.forall(_.nonEmpty)
      }
    }

  property("embargo split partitions every event; zones ordered in time") =
    forAll(Gen.nonEmptyListOf(Gen.choose(0L, 500000L))) { offsets =>
      import spark.implicits._
      val base = 1577836800L // 2020-01-01
      val e = offsets.zipWithIndex
        .map { case (off, i) => (i.toLong, base + off) }
        .toDF("event_id", "event_epoch_time")
      val span = e.agg(min("event_epoch_time").as("t0"),
        max("event_epoch_time").as("t1"))
      val labeled = e.crossJoin(broadcast(span))
        .withColumn("cut", expr("t0 + (t1 - t0) * 8 DIV 10"))
        .withColumn("split",
          when(col("event_epoch_time") >= col("cut"), lit("test"))
            .when(col("event_epoch_time") < col("cut") - lit(86400L),
              lit("train"))
            .otherwise(lit("embargo")))
        .select(col("event_epoch_time").as("t"), col("split"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val byZone = labeled.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
      def mx(z: String) = byZone.get(z).map(_.max)
      def mn(z: String) = byZone.get(z).map(_.min)
      labeled.length == offsets.length &&
        // zone boundaries never interleave: train < embargo < test
        mx("train").forall(t => mn("embargo").forall(t < _) &&
          mn("test").forall(t < _)) &&
        mx("embargo").forall(t => mn("test").forall(t < _))
    }

  property("per-source top-half rank filter keeps exactly ceil(n/2)") =
    forAll(Gen.choose(1, 40), Gen.choose(1, 3)) { (n, nSrc) =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = (0 until n).map(i =>
        (i.toLong, s"src${i % nSrc}", (i * 37 % 11).toDouble))
        .toDF("doc_id", "source", "quality")
      val w = Window.partitionBy("source")
        .orderBy(col("quality"), col("doc_id"))
      val ws = Window.partitionBy("source")
      val kept = docs
        .withColumn("rk", row_number().over(w))
        .withColumn("n_src", count(lit(1)).over(ws))
        .where(col("rk") * 2 > col("n_src"))
        .groupBy("source").agg(count(lit(1)).as("k"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sizes = (0 until n).groupBy(i => s"src${i % nSrc}").view
        .mapValues(_.size).toMap
      sizes.forall { case (src, sz) =>
        kept.getOrElse(src, 0L) == (sz + 1) / 2
      }
    }

  /** Random word-soup corpora with planted shared runs: spanRemoval must
    * conserve characters (clean + removed = orig), never rewrite a doc
    * with no duplicated window, and keep every byte of each window's
    * canonical (min doc_id) holder.
    */
  private val genSpanCorpus: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(2, 6)
    vocabSize <- Gen.choose(3, 8)
    shared <- Gen.listOfN(12, Gen.choose('a', 'f')).map(_.mkString(" "))
    texts <- Gen.listOfN(n, for {
      words <- Gen.listOfN(8,
        Gen.listOfN(4, Gen.choose('a', ('a' + vocabSize - 1).toChar))
          .map(_.mkString))
      plant <- Gen.oneOf(true, false)
    } yield if (plant) s"$shared ${words.mkString(" ")}"
            else words.mkString(" "))
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  property("spanRemoval conserves chars; untouched docs pass through") =
    forAll(genSpanCorpus) { corpus =>
      import spark.implicits._
      val df = corpus.toDF("doc_id", "text")
      val winLen = 8; val stride = 3
      val out = graft.ops.Dedup.spanRemoval(df, "doc_id", "text",
        winLen, stride).collect()
      val norm = corpus.map { case (id, t) =>
        id -> t.trim.replaceAll("\\s+", " ").toLowerCase
      }.toMap
      out.length == corpus.length && out.forall { r =>
        val id = r.getLong(0)
        val (orig, nSpans, cleanLen, removed, clean) =
          (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getString(5))
        orig == norm(id).length &&
          cleanLen + removed == orig && cleanLen == clean.length &&
          (nSpans > 0 || clean == norm(id)) &&
          (removed == 0 || nSpans > 0)
      }
    }

  /** Same conservation contract for the boundary-exact variant, plus its
    * defining guarantee against a brute-force per-character replay: a char
    * is removed iff it lies in some duplicated non-canonical minLen-window
    * — computed here with plain string scans, no Spark.
    */
  property("spanRemovalExact conserves chars and matches per-char replay") =
    forAll(genSpanCorpus) { corpus =>
      import spark.implicits._
      val minLen = 8
      val norm = corpus.map { case (id, t) =>
        id -> t.trim.replaceAll("\\s+", " ").toLowerCase
      }
      // brute-force replay: window -> (distinct docs, min holder)
      val occ = scala.collection.mutable.Map
        .empty[String, scala.collection.mutable.Set[Long]]
      norm.foreach { case (id, t) =>
        (0 to t.length - minLen).foreach { i =>
          occ.getOrElseUpdate(t.substring(i, i + minLen),
            scala.collection.mutable.Set.empty) += id
        }
      }
      val expect = norm.map { case (id, t) =>
        val drop = Array.fill(t.length)(false)
        (0 to t.length - minLen).foreach { i =>
          val w = t.substring(i, i + minLen)
          val docs = occ(w)
          if (docs.size >= 2 && id != docs.min)
            (i until i + minLen).foreach(drop(_) = true)
        }
        id -> t.zipWithIndex.collect { case (c, i) if !drop(i) => c }.mkString
      }.toMap
      val out = graft.ops.Dedup.spanRemovalExact(
        corpus.toDF("doc_id", "text"), "doc_id", "text", minLen).collect()
      out.length == corpus.length && out.forall { r =>
        val id = r.getLong(0)
        val (orig, cleanLen, removed, clean) =
          (r.getInt(1), r.getInt(3), r.getInt(4), r.getString(5))
        cleanLen + removed == orig && clean == expect(id)
      }
    }
}
