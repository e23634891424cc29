package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling and dataset splitting.
  *
  * Training pipelines need STABLE sampling: the same document must land in
  * the same split on every run, on any engine, regardless of partitioning —
  * which rules out seeded RNG (`df.sample` reseeds per partition and
  * reshuffles on repartition). The standard trick is a content hash mapped
  * to a bucket in [0, buckets): membership is a pure function of the key.
  *
  * The hash here is the first 4 hex nibbles of md5 (16 bits → bucket skew
  * < 2^-16·buckets), the same engine-portable primitive as the SimHash
  * signatures — DuckDB mirrors it exactly, so split assignment is
  * oracle-checkable, and a Python/pandas consumer can reproduce it with
  * two lines of hashlib.
  */
object Sampling {

  /** Bucket in [0, buckets) for a STRING key column: integer value of the
    * first 4 md5 hex nibbles, mod buckets. Engine-portable integer math.
    */
  def hashBucket(key: Column, buckets: Int): Column = {
    require(buckets >= 1 && buckets <= 65536, "buckets must be in [1, 65536]")
    conv(substring(md5(key), 1, 4), 16, 10).cast("int") % buckets
  }

  /** Keep ~`keepBuckets/buckets` of rows, deterministically by key. */
  def hashSample(key: Column, buckets: Int, keepBuckets: Int): Column =
    hashBucket(key, buckets) < keepBuckets

  /** Named split assignment by cumulative bucket ranges, e.g.
    * `split(key, Seq("train" -> 80, "val" -> 10, "test" -> 10))` — weights
    * are bucket counts out of their sum; assignment is stable under any
    * re-partitioning, re-run, or engine.
    */
  def split(key: Column, weights: Seq[(String, Int)]): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0),
      "weights must be positive")
    val total = weights.map(_._2).sum
    val b = hashBucket(key, total)
    val cuts = weights.scanLeft(0)(_ + _._2).tail
    weights.zip(cuts).init.foldRight(lit(weights.last._1): Column) {
      case (((name, _), cut), els) => when(b < cut, lit(name)).otherwise(els)
    }
  }

  /** Deterministic k-per-group sampling ("5 example docs per language"):
    * rank rows within each group by the md5 of their key and keep the k
    * smallest — a pure function of (group, key), so the sample is stable
    * across runs, partitionings, and engines (a per-group `rand()` or
    * `limit` is neither), and uniform-ish because the hash order is
    * unrelated to any data order. Ranking runs through the bounded k-heap
    * Aggregator ([[graft.functions.TopKAgg]]): mappers keep ≤ ~4k rows
    * per group and the shuffle carries k-bounded buffers — never a
    * per-group window sort (one hot group would serialize a task).
    * Returns (group, rank, id) — callers join back for payloads.
    */
  def groupSample(df: org.apache.spark.sql.DataFrame, groupCol: String,
      key: Column, idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val top = graft.functions.TopKAgg.smallest_k_long(k)
    // 32 md5 bits as the sort key (engine-portable integer math, like
    // hashBucket); the id breaks hash ties, making the order total
    val h32 = conv(substring(md5(key), 1, 8), 16, 10).cast("long")
    df.select(col(groupCol), col(idCol).cast("long").as("__id"), h32.as("__h"))
      .groupBy(groupCol)
      .agg(top(col("__h"), col("__id")).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("e.id").as(idCol))
  }

  /** Deterministic epoch shuffle order — the training dataloader's
    * per-epoch permutation, materialized as data: each row gets a shard in
    * [0, shards) and a position within its shard, both pure functions of
    * (epoch, content key), so epoch N's global read order
    * (shard, pos) is identical on every run, partitioning, and engine —
    * resumable mid-epoch by (shard, pos) watermark — and different epochs
    * give unrelated permutations (the epoch is hashed INTO the key, not
    * used as a seed offset). Returns (shard, pos, id).
    *
    * Scale shape: the per-shard `row_number` is the only wide op and each
    * sort is shard-bounded (corpus/shards rows) — the [[graft.ops
    * .Curation.tokenBudget]] discipline; there is never a global sort.
    * Writing the result `partitionBy(shard)` gives the fixed-fan-in shard
    * files a loader consumes ([[graft.io.CorpusLayout]] `writeShards` is
    * the unordered single-epoch special case).
    */
  def epochOrder(df: org.apache.spark.sql.DataFrame, idCol: String,
      key: Column, epoch: Int, shards: Int): org.apache.spark.sql.DataFrame = {
    require(shards >= 1 && shards <= 65536, "shards in [1, 65536]")
    require(epoch >= 0, "epoch must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val h = md5(concat_ws("|", lit(epoch), key))
    val shard = conv(substring(h, 1, 4), 16, 10).cast("int") % shards
    val order = conv(substring(h, 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col("__h"), col(idCol))
    df.select(col(idCol), shard.as("__shard"), order.as("__h"))
      .select(col("__shard").as("shard"),
        row_number().over(w).cast("long").as("pos"), col(idCol))
      .select(col("shard"), col("pos"), col(idCol))
  }

  /** Rendezvous (highest-random-weight) shard assignment: a key's shard
    * is `argmax_s md5(key | s)` over shard ids `0..shards−1` — the
    * classic minimal-movement router (Thaler & Ravishankar 1998; the
    * scheme behind consistent object placement without a ring). Against
    * [[hashBucket]]'s `h mod n`, which remaps ~HALF the corpus when n
    * changes, growing n → n+1 here moves EXACTLY the keys whose new
    * shard's weight wins — an expected 1/(n+1) of the corpus, every one
    * of them onto the NEW shard (no shard-to-shard churn). That is the
    * property a 100 TB layout needs when storage topology changes:
    * resharding cost proportional to the data that actually has a new
    * home.
    *
    * Pure in-row Column algebra — `shards` md5 probes per row folded by
    * `greatest` over (weight, −shard) structs (ties, ~2⁻⁶⁰ likely, break
    * to the LOWEST shard id) — zero shuffle, zero join; weights are
    * 60-bit md5 prefixes (15 nibbles, the ANSI-safe [[graft.ops.Dedup]]
    * identity-key width), engine-replayable as
    * `('0x'||substr(md5(...),1,15))::BIGINT`. The per-row cost is
    * `shards` md5 evaluations: right for routing onto tens-to-hundreds
    * of storage shards, not for millions of buckets ([[hashBucket]]'s
    * job) — the [1, 256] bound documents that intent.
    */
  def rendezvousShard(key: Column, shards: Int): Column = {
    require(shards >= 1 && shards <= 256, "shards must be in [1, 256]")
    def w(s: Int): Column = struct(
      conv(substring(md5(concat_ws("|", key.cast("string"), lit(s))),
        1, 15), 16, 10).cast("long").as("w"),
      lit(-s).as("neg_s"))
    if (shards == 1) lit(0)
    else (-greatest((0 until shards).map(w): _*).getField("neg_s"))
      .cast("int")
  }

  /** Deterministic negative sampling for contrastive training: each
    * anchor gets `k` pseudo-random partner ids, chosen by md5 of
    * (anchor, slot) — reproducible on every run, partitioning, and engine
    * (seeded RNG is not; see [[hashBucket]]). Ids must be DENSE 0..n−1
    * (the standard contrastive-batch layout — hash mod n must hit a real
    * doc); a self-collision remaps to the next id. 32 hash bits keep the
    * modulo skew < n·2⁻³² per id. Returns (anchor_id, slot, neg_id) — one
    * projection over anchors × k, no shuffle, no join until the caller
    * fetches negative payloads.
    */
  def negativeSamples(ids: org.apache.spark.sql.DataFrame, idCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val n = ids.agg(count(lit(1)).as("n_docs"))
    ids.select(col(idCol).cast("long").as("anchor_id"))
      .crossJoin(broadcast(n))
      .select(col("anchor_id"), col("n_docs"),
        explode(sequence(lit(0), lit(k - 1))).as("slot"))
      .withColumn("h",
        conv(substring(
          md5(concat_ws("|", col("anchor_id"), col("slot"))), 1, 8), 16, 10)
          .cast("long") % col("n_docs"))
      .select(col("anchor_id"), col("slot").cast("int").as("slot"),
        when(col("h") === col("anchor_id"),
          (col("h") + 1) % col("n_docs"))
          .otherwise(col("h")).as("neg_id"))
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007): weight-proportional
    * sampling WITHOUT replacement whose kept items carry an UNBIASED
    * subset-sum estimator — the one-pass answer to "sample k docs by token
    * mass, then estimate any stratum's total tokens from just the sample".
    * Each item draws a deterministic uniform from its id hash, gets
    * priority q = w/u, the k highest priorities are kept, and every kept
    * item's estimator weight is ŵ = max(w, τ) with τ the (k+1)-th
    * priority: E[Σ_{kept∩A} ŵ] = Σ_A w for ANY subset A.
    *
    * Integer exactness: u = (h+1)/2⁴⁰ from the first 10 md5 nibbles of
    * the id, so q = w·2⁴⁰ div (h+1) is exact long math (w ≤ 2²² keeps the
    * product inside a signed long — token counts, byte sizes in KB, etc.;
    * the envelope is ENFORCED with raise_error engine-side, matching the
    * oracle's overflow raise, so a violation is loud on both engines).
    * τ and ŵ = max(w, τ) stay in the same floored units; the ≤1-unit
    * floor bias is the house exactness-first trade, documented here.
    * Ties in q break by id ascending — fully deterministic on any
    * partitioning, replayable by any engine with 64-bit integers.
    *
    * Scale shape: ONE TakeOrderedAndProject of (k+1) rows (per-partition
    * top-(k+1) partials merge on the driver-side reduce — no global sort,
    * no window), then broadcast joins of that (k+1)-row set against its
    * own 1-row boundary stats. When the population has ≤ k items the
    * sample is the population, τ = 0 and ŵ = w (the estimator is exact).
    *
    * Returns (idCol, weightCol, prio, tau, w_hat), the k kept rows.
    */
  def prioritySample(df: org.apache.spark.sql.DataFrame, idCol: String,
      weightCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val m40 = 1L << 40
    val h40 = conv(substring(md5(col(idCol).cast("string")), 1, 10), 16, 10)
      .cast("long")
    // enforce the documented w ≤ 2²² envelope ENGINE-SIDE: with non-ANSI
    // Spark, w·2⁴⁰ would silently wrap for larger weights and bias the
    // sample; the oracle (DuckDB) raises on overflow, so the engine must
    // fail equally loudly, not diverge quietly
    val wOk = col(weightCol).cast("long")
    val wChecked = when(wOk.isNull || (wOk >= 0L && wOk <= (1L << 22)),
      wOk).otherwise(raise_error(concat(
        lit("prioritySample: weight outside [0, 2^22] envelope "),
        lit("(w*2^40 must stay in a signed long): "),
        wOk.cast("string"))))
    val scored = df.select(col(idCol), wChecked.as(weightCol))
      .withColumn("prio", call_function("div",
        col(weightCol) * lit(m40), h40 + lit(1L)))
    val topk1 = scored.orderBy(col("prio").desc, col(idCol).asc)
      .limit(k + 1)
    // boundary = last row in (prio desc, id asc) rank order = lexicographic
    // max of (-prio, id) — prio is always a long so -prio is safe, and the
    // id rides in the struct IN ITS NATIVE TYPE (a cast-to-long here would
    // NULL out string ids and the tie predicate below would silently drop
    // every boundary-tied row); n1 < k+1 means the limit never filled, so
    // everything is kept and tau = 0
    val st = topk1
      .agg(count(lit(1)).as("n1"),
        max(struct((-col("prio")).as("np"), col(idCol).as("bid")))
          .as("b"))
      .select(col("n1"), (-col("b.np")).as("bq"), col("b.bid").as("bid"))
    topk1.join(broadcast(st).hint("broadcast"),
        col("n1") < lit(k + 1) ||
          !(col("prio") === col("bq") && col(idCol) === col("bid")))
      .withColumn("tau",
        when(col("n1") === lit(k + 1), col("bq")).otherwise(lit(0L)))
      .select(col(idCol), col(weightCol), col("prio"), col("tau"),
        greatest(col(weightCol), col("tau")).as("w_hat"))
  }

  /** Diversity cap: keep at most `cap` members per key, chosen by
    * (md5(id) asc, id asc) — a deterministic pseudo-random pick with no
    * rand(), the SemDeDup/DiverseEvol-style "spread the budget across
    * semantic clusters" selection when the key is an [[graft.ops
    * .VectorOps.assignCells]] cell (and the per-domain crawl cap when it
    * is a registered domain). Unlike a row_number window (which sorts a
    * key's ENTIRE membership on one task), the bounded TopKAgg carries at
    * most ~4·cap entries per key through the shuffle. Returns one row per
    * KEPT member: (key, n_members, id).
    */
  def diversityCap(df: org.apache.spark.sql.DataFrame, keyCol: String,
      idCol: String, cap: Int): org.apache.spark.sql.DataFrame = {
    require(cap >= 1, s"cap must be positive, got $cap")
    val topC = graft.functions.TopKAgg.smallest_k_long(cap)
    df.select(col(keyCol).as("key"), col(idCol).cast("long").as("id"))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(id AS STRING)), 1, 8), 16, 10)" +
          " AS BIGINT)"))
      .groupBy("key")
      .agg(topC(col("h"), col("id")).as("top"),
        count(lit(1)).as("n_members"))
      .select(col("key"), col("n_members"), explode(col("top")).as("e"))
      .select(col("key"), col("n_members"), col("e.id").as("id"))
  }
}
