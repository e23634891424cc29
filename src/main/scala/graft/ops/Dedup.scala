package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed around
  * its 100 TB shuffle shape:
  *
  *  - exact: one hash-groupBy on a 128-bit fingerprint — a single shuffle of
  *    (fingerprint, id), never of document bodies.
  *  - n-gram Jaccard: candidate generation by equi-join on shared shingles
  *    (only docs sharing ≥1 shingle ever meet a reducer), then exact
  *    verification. Shuffle is (shingle, id) pairs — linear in corpus
  *    shingle count, NOT quadratic in documents.
  *  - MinHash+LSH: constant-size signature per doc (nHashes longs), banded
  *    into buckets; candidate pairs only within equal (band, bucket). At
  *    scale this replaces the shingle join's heavy-hitter risk with a fixed
  *    band-key join; common-shingle skew disappears.
  *  - SimHash: 64-bit signature, 4×16-bit band join for hamming-≤k pairs.
  *
  * Key-width policy (the collision budget, per operator class):
  *  - CANDIDATE hashing (minhash perms, LSH band keys, SimHash planes,
  *    shingle prefix order) is xxhash64 — Spark-native, codegen'd,
  *    deterministic across runs/partitions; a collision only ADDS a
  *    candidate pair that downstream verification re-checks, so 64 bits
  *    is a recall/cost dial, never a correctness key.
  *  - IDENTITY keys (a fingerprint whose equality IS the dedup verdict:
  *    segment canon keys, winnowing fingerprints, CDC chunk fps) are
  *    md5-derived 120/128-bit ([[contentFp]], `md5`): at 10¹² keys the
  *    birthday bound gives ~4e-13 false-merge probability, where a
  *    64-bit key sits at ~0.03 (an expected silent merge of unrelated
  *    content every few corpora) and a 31-bit one collides by n≈2¹⁶.
  *    md5 over xxhash64 for these: externally replayable — an
  *    independent engine can recompute the identical key (the
  *    [[simhashPairs]] discipline).
  */
object Dedup {

  /** 120-bit content fingerprint as `struct<fp_hi: long, fp_lo: long>` —
    * the two 60-bit halves (15 hex nibbles each; nibbles 16/32 dropped so
    * the signed-long cast is ANSI-safe in EVERY engine — 16 nibbles can
    * exceed 2⁶³ and throw) of the value's md5. The IDENTITY-key idiom
    * (see the object scaladoc's key-width policy): 16-byte join/group
    * keys instead of arbitrary-length content bytes or a birthday-prone
    * 64-bit hash, replayable in SQL as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT` (+ offset 17 for the low
    * half).
    */
  def contentFp(c: Column): Column = {
    val h = md5(c)
    struct(
      conv(substring(h, 1, 15), 16, 10).cast("long").as("fp_hi"),
      conv(substring(h, 17, 15), 16, 10).cast("long").as("fp_lo"))
  }

  /** Explicit opt-out for the viral-key guards (`dfCap`/`bucketCap`/
    * `blockCap`): pass this to run a pair operator UNCAPPED — classic
    * exact semantics, with the documented risk that one stopword-like
    * shingle / viral bucket / hot block funnels O(df²) candidate pairs
    * through a single reducer (measured here: a 31-word vocabulary drove
    * ~15M candidate rows through winnowPairs before its cap existed).
    * Deliberate spelling over a bare Int.MaxValue so uncapped runs are
    * grep-able and reviewable.
    */
  val Uncapped: Int = Int.MaxValue

  /** Finite DEFAULT for every viral-key guard in this file (and
    * [[graft.ops.VectorOps]]'s `blockCap`): keys hotter than this are
    * dropped from candidate generation, bounding any single key's pair
    * contribution at ~DefaultCap²/2 ≈ 5·10⁵ — a bare library call can
    * never go quadratic in the corpus. 1024 is far above any honest
    * near-dup group (this corpus maxes at df=25 shingles; a key hotter
    * than 1024 docs is stopword residue or exact-dup mass that belongs
    * to [[exactGroups]] first), so the default is invisible on real
    * data and binds exactly on the degenerate inputs it guards against.
    * Pass [[Uncapped]] (or any explicit cap) to override.
    */
  val DefaultCap: Int = 1024

  /** Exact duplicate groups: fingerprint → (n_docs, keep = min id).
    * Input needs columns (idCol, textCol).
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))

  /** Docs with their distinct word-k-shingle set attached.
    *
    * NOTE for pipeline authors: `explode` this column IN THE SAME select
    * that computes it (as [[shingleRows]] does) — projecting the array
    * column first and exploding in a later select leaves a non-collapsed
    * Project of the higher-order expression in the plan, measured ~14x
    * slower than the fused generate.
    */
  def withShingles(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextOps.wordShingles(col(textCol), k).as("shingles"))

  /** One row per (doc_id, distinct shingle) — the base relation for both
    * Jaccard candidate generation and MinHash signatures.
    */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(TextOps.wordShingles(col(textCol), k)).as("sh"))

  /** A lazily-evaluated pipeline result paired with a `release()` that
    * unpersists the pipeline's cached base relations. Library users in
    * long-lived sessions should call `release()` after their terminal
    * action; the DataFrame-returning convenience overloads document the
    * alternative (`spark.catalog.clearCache()`, as Verify/Bench do).
    */
  final case class Scoped(df: DataFrame, release: () => Unit)

  /** Exact Jaccard-similar pairs (j >= threshold) via the AllPairs PREFIX
    * FILTER (Bayardo/Ma/Srikant, WWW'07), with the cached per-doc shingle
    * arrays scoped to the returned handle. Returns (doc_a, doc_b, jaccard).
    *
    * Candidate pruning, both exact (no recall loss):
    *  - prefix filter: j(A,B) >= t implies |A∩B| >= ceil(t·|A|), so under
    *    ANY agreed global shingle order the first |A| - ceil(t·|A|) + 1
    *    shingles of A must hit B's prefix too — the equi-join runs on ~the
    *    smallest (1-t) fraction of each doc's shingles (xxhash64 order),
    *    cutting candidate pairs ~(1-t)² vs the naive shared-shingle join.
    *    Hash collisions in the join key only ADD candidates (verified
    *    exactly afterwards).
    *  - `dfCap`: shingles with document frequency > dfCap are dropped from
    *    the whole pipeline (candidates AND sizes) — Jaccard restricted to
    *    the informative-shingle universe. A stopword-like shingle at corpus
    *    scale would otherwise funnel O(df²) pairs through one reducer; the
    *    cap bounds every shingle's candidate contribution. Default
    *    [[DefaultCap]]; pass [[Uncapped]] for classic exact Jaccard.
    *
    * Verification rebuilds the shingle sets for CANDIDATES ONLY
    * (array_intersect on the cached arrays) — exact, like the LSH path.
    */
  def jaccardPairsScoped(docs: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, dfCap: Int = DefaultCap): Scoped = {
    val raw = shingleRows(docs, idCol, textCol, k)
    // df-cap as an ANTI join against the HOT set (df > dfCap): the hot
    // set is structurally small (≤ total shingle rows / dfCap distinct
    // values), so AQE turns this into a broadcast anti join and the raw
    // rows never shuffle — the former left_semi against the df ≤ dfCap
    // set keyed a full shuffle of every (doc, shingle) row on `sh`
    // because the keep-set is most of the vocabulary (guide §2.4/§3.1).
    // Exactly equivalent: every shingle has a df, and {df ≤ cap} is the
    // complement of {df > cap}.
    val capped =
      if (dfCap == Uncapped) raw
      else raw.join(
        raw.groupBy("sh").agg(count(lit(1)).as("df"))
          .where(col("df") > dfCap).select("sh"),
        Seq("sh"), "left_anti")
    // per-doc shingle arrays are the cached base: consumed by the prefix
    // candidate join (twice) and the exact verification (twice)
    val arrs = capped.groupBy("doc_id")
      .agg(collect_list(col("sh")).as("shingles"), count(lit(1)).as("n"))
      .persist()
    // prefix rows: hash-sort the shingles (any global total order works),
    // keep the first n - ceil(t·n) + 1, join on the hash alone. The -1e-9
    // guards fp over-ceil at exact multiples (a too-LONG prefix is safe,
    // a too-short one would lose pairs).
    val plen = greatest(
      col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)).cast("long") + 1,
      lit(1L))
    val pref = arrs.select(col("doc_id"),
      explode(slice(array_sort(transform(col("shingles"), s => xxhash64(s))),
        lit(1), plen)).as("h"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // no broadcast hint: arrs is one row per doc (huge at corpus scale) —
    // AQE picks broadcast when it actually fits
    val out = cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("shingles").as("sha"),
        col("n").as("na")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("shingles").as("shb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    Scoped(out, () => { arrs.unpersist(); () })
  }

  /** [[jaccardPairsScoped]] without the handle — callers owning the session
    * lifecycle (or clearing the cache themselves) can ignore scoping.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, threshold: Double, dfCap: Int = DefaultCap): DataFrame =
    jaccardPairsScoped(docs, idCol, textCol, k, threshold, dfCap).df

  /** MinHash signatures for a (doc_id, sh) exploded-row table (see
    * [[shingleRows]]), computed in the scale shape: explode → one xxhash64
    * per (doc, shingle) → ONE elementwise-min Aggregator over the seeded
    * rehash family (NOT a nested per-row higher-order loop, which evaluates
    * nHashes × |shingles| string hashes per document and dominated the
    * first benchmark at 100× the cost; and NOT nHashes separate `min(...)`
    * aggregate expressions, whose single giant generated class cost ~10 s
    * of Janino+JIT per fresh JVM and ran interpreted under machine
    * contention — see [[graft.functions.SigAggregators]]). Docs with empty
    * shingle sets drop out. Returns (doc_id, sig: array<long>[nHashes]).
    */
  def minhashSignatures(shingleRows: DataFrame, nHashes: Int): DataFrame = {
    require(nHashes <= 64,
      "seeded rehash is overflow-free only for nHashes <= 64")
    shingleRows.select(col("doc_id"), xxhash64(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(graft.functions.SigAggregators.minhash_combine(nHashes)(col("h"))
        .as("sig"))
  }

  /** LSH candidate pairs from banded minhash signatures, verified with exact
    * Jaccard. `bands` bands of `nHashes/bands` rows; a pair is a candidate
    * iff some band's sub-signature matches exactly. With 32 bands × 2 rows,
    * P(miss | j=0.8) ≈ 0.36^32 ≈ 6e-15 — recall is effectively 1 at the
    * 0.8 threshold, while the band join keys are fixed-width (no shingle
    * heavy-hitter skew). Returns (doc_a, doc_b, jaccard) with j >= threshold.
    */
  /** Per-doc base relation for the LSH pipelines, built IN-ROW (guide
    * §2.4): the distinct shingle array, its size, and the minhash
    * signature are all pure functions of the doc's own text, so none of
    * them needs the explode → `groupBy(doc_id)` aggregation shuffles the
    * former shape paid (one for the signature, one to re-collect the
    * arrays for verification). `sig` is NULL for empty-shingle docs —
    * callers filter before banding, preserving the old drop-out
    * semantics exactly.
    */
  private def lshBase(docs: DataFrame, idCol: String, textCol: String,
      k: Int, nHashes: Int): DataFrame =
    withShingles(docs, idCol, textCol, k)
      .select(col("doc_id"), col("shingles"),
        size(col("shingles")).cast("long").as("n"))

  /** Banded (doc_id, band, bucket) rows straight off the shingle array —
    * the fused [[graft.functions.MinHashBuckets]] kernel (signature +
    * band slicing + bucket hash in one compiled pass as the GENERATOR
    * input, so nothing is ever re-evaluated per band and the shape is
    * safe with or without a persisted upstream). Empty/null shingle
    * sets produce no rows, the aggregation path's drop-out semantics.
    */
  private def bandedFromShingles(base: DataFrame, nHashes: Int,
      bands: Int): DataFrame =
    base.select(col("doc_id"),
      posexplode(graft.functions.GraftFunctions.minhash_buckets(
        col("shingles"), nHashes, bands)).as(Seq("band", "bucket")))

  def minhashLshPairsScoped(docs: DataFrame, idCol: String, textCol: String,
      k: Int, nHashes: Int, bands: Int, threshold: Double,
      bucketCap: Int = DefaultCap): Scoped = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    require(nHashes <= 64,
      "seeded() rehash is overflow-free (ANSI mode) only for nHashes <= 64")
    val r = nHashes / bands
    // one row per doc, everything in-row ([[lshBase]]): consumed by the
    // banding and both verification sides — persist so the shingle/sig
    // derivation runs once
    val base = lshBase(docs, idCol, textCol, k, nHashes).persist()
    val banded = capBuckets(bandedFromShingles(base, nHashes, bands),
      bucketCap)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // exact-Jaccard verification off the cached per-doc arrays (order
    // inside the arrays is irrelevant to the set intersection)
    val out = cand
      .join(base.select(col("doc_id").as("doc_a"), col("shingles").as("sha"),
        col("n").as("na")), Seq("doc_a"))
      .join(base.select(col("doc_id").as("doc_b"), col("shingles").as("shb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    Scoped(out, () => { base.unpersist(); () })
  }

  /** [[minhashLshPairsScoped]] without the handle — callers owning the
    * session lifecycle (or clearing the cache themselves) can ignore it.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, nHashes: Int, bands: Int, threshold: Double,
      bucketCap: Int = DefaultCap): DataFrame =
    minhashLshPairsScoped(docs, idCol, textCol, k, nHashes, bands,
      threshold, bucketCap).df

  /** FUZZY cross-corpus decontamination — the near-dup complement of
    * [[graft.ops.Curation.contaminationScan]]'s exact n-gram overlap: a
    * benchmark item that was paraphrased, re-wrapped, or lightly edited
    * before landing in the crawl shares few exact 13-gram windows but
    * keeps high shingle Jaccard, so the exact scan misses what this
    * catches. Same MinHash+LSH machinery as the in-corpus pair screen,
    * re-keyed ACROSS two tables: band keys on both sides, candidates
    * only where an (band, bucket) matches, exact-Jaccard verification of
    * candidates only. Output (train_id, eval_id, jaccard_ppm) — the
    * train docs to quarantine — with the Jaccard in floor-div integer
    * ppm (engine-exact; a double j and literal threshold can disagree
    * with an external replay in the last ulp).
    *
    * Scale shape: the EVAL side is benchmark-sized (thousands of docs,
    * not billions) — its banded rows and shingle arrays broadcast
    * (hinted; post-aggregation frames under-estimate), so the train
    * corpus streams through one linear scan + its signature aggregation
    * and NEVER shuffles against eval. `bucketCap` bounds viral-bucket
    * fan-in on the train side exactly as in-corpus LSH does.
    */
  def crossNearDupScoped(train: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, k: Int, nHashes: Int, bands: Int,
      thresholdPpm: Long, bucketCap: Int = DefaultCap): Scoped = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    require(nHashes <= 64,
      "seeded() rehash is overflow-free (ANSI mode) only for nHashes <= 64")
    require(thresholdPpm >= 0 && thresholdPpm <= 1000000,
      "thresholdPpm is parts-per-million of Jaccard")
    val r = nHashes / bands
    // in-row base relations ([[lshBase]]): no signature or array
    // aggregation shuffles on either side
    val et = lshBase(train, idCol, textCol, k, nHashes).persist()
    val ee = lshBase(evalDocs, idCol, textCol, k, nHashes).persist()
    val bt = capBuckets(bandedFromShingles(et, nHashes, bands), bucketCap)
    val be = bandedFromShingles(ee, nHashes, bands)
    val cand = bt.as("a").join(broadcast(be.as("b")),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("train_id"), col("b.doc_id").as("eval_id"))
      .dropDuplicates("train_id", "eval_id")
    val at = et.select(col("doc_id"), col("shingles").as("sht"),
      col("n").as("nt"))
    val ae = ee.select(col("doc_id"), col("shingles").as("she"),
      col("n").as("ne"))
    val out = cand
      .join(at.select(col("doc_id").as("train_id"), col("sht"), col("nt")),
        Seq("train_id"))
      .join(broadcast(ae.select(col("doc_id").as("eval_id"), col("she"),
        col("ne"))), Seq("eval_id"))
      .withColumn("common",
        size(array_intersect(col("sht"), col("she"))).cast("long"))
      .select(col("train_id"), col("eval_id"),
        expr("common * 1000000 div (nt + ne - common)").as("jaccard_ppm"))
      .where(col("jaccard_ppm") >= thresholdPpm)
    Scoped(out, () => { et.unpersist(); ee.unpersist(); () })
  }

  /** One row per (doc_id, band, bucket): fixed-width band keys from the
    * banded minhash signature — the SHARED key derivation for the in-batch
    * pair join and the persistable index.
    */
  private def bandedRows(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * r + lit(1), lit(r)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** Heavy-hitter guard for the band-bucket join: drop buckets holding
    * more than `cap` docs. A bucket of n near-identical docs funnels
    * O(n²) candidate pairs through one reducer — the same skew the jaccard
    * path caps with its shingle df-cap. Buckets that hot are exact-dup
    * residue (run [[exactGroups]] FIRST, as [[graft.api.CorpusCleaner]]
    * does) or boilerplate clusters better collapsed by fingerprint; the
    * cap bounds every bucket's contribution while the 31 other bands still
    * catch pairs the dropped bucket would have. Default = uncapped
    * (exact LSH semantics; production at corpus scale sets a cap).
    */
  private def capBuckets(banded: DataFrame, cap: Int): DataFrame =
    if (cap == Uncapped) banded
    else banded.join(
      // hot-set anti join, not keep-set semi join (see jaccardPairsScoped):
      // buckets over the cap are few by construction, so AQE broadcasts
      // them and the banded rows never shuffle on (band, bucket) here
      banded.groupBy("band", "bucket").agg(count(lit(1)).as("c"))
        .where(col("c") > cap).select("band", "bucket"),
      Seq("band", "bucket"), "left_anti")

  /** The persistable LSH index of a corpus: (doc_id, band, bucket) rows.
    * Write it once (partitioned parquet) when the corpus is ingested; each
    * new batch then dedups against it via [[incrementalNearDupsScoped]]
    * WITHOUT re-shingling or re-hashing the existing corpus — the daily-
    * crawl pattern (at 100 TB, re-hashing the full corpus per batch is the
    * difference between a minutes job and a day one).
    */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      k: Int, nHashes: Int, bands: Int,
      bucketCap: Int = DefaultCap): DataFrame = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    require(nHashes <= 64,
      "seeded() rehash is overflow-free (ANSI mode) only for nHashes <= 64")
    capBuckets(
      bandedFromShingles(lshBase(docs, idCol, textCol, k, nHashes),
        nHashes, bands),
      bucketCap)
  }

  /** Near-dups of a NEW batch against an EXISTING corpus index: candidates
    * come from band-bucket equality between the batch's freshly-hashed
    * index rows and the stored index; exact-Jaccard verification then
    * re-shingles ONLY the candidate old docs (a semi-join prunes
    * `oldDocs` before any text work). The old corpus is never re-hashed.
    * Returns (new_id, old_id, jaccard >= threshold). `k/nHashes/bands`
    * MUST match the parameters the index was built with.
    */
  def incrementalNearDupsScoped(newDocs: DataFrame, oldDocs: DataFrame,
      oldIndex: DataFrame, idCol: String, textCol: String,
      k: Int, nHashes: Int, bands: Int, threshold: Double): Scoped = {
    require(nHashes % bands == 0, "bands must divide nHashes")
    // in-row base ([[lshBase]]): the batch's shingle arrays + signature
    // with no aggregation shuffles
    val eNew = lshBase(newDocs, idCol, textCol, k, nHashes).persist()
    val newIdx = bandedFromShingles(eNew, nHashes, bands)
    // candidate (new, old) pairs; persisted — consumed by the old-doc
    // semi-join and the verification join
    val cand = newIdx.as("n")
      .join(oldIndex.as("o"),
        col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket") &&
          col("n.doc_id") =!= col("o.doc_id"))
      .select(col("n.doc_id").as("new_id"), col("o.doc_id").as("old_id"))
      .dropDuplicates("new_id", "old_id")
      .persist()
    cand.count()
    val oldCand = oldDocs.join(
      cand.select(col("old_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val arrsNew = eNew.select(col("doc_id"), col("shingles").as("sha"),
      col("n").as("na"))
    // candidate old docs re-shingled IN-ROW (no explode + re-collect)
    val arrsOld = withShingles(oldCand, idCol, textCol, k)
      .select(col("doc_id"), col("shingles").as("shb"),
        size(col("shingles")).cast("long").as("nb"))
    val out = cand
      .join(arrsNew.select(col("doc_id").as("new_id"), col("sha"), col("na")),
        Seq("new_id"))
      .join(arrsOld.select(col("doc_id").as("old_id"), col("shb"), col("nb")),
        Seq("old_id"))
      .withColumn("common",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("na") + col("nb") - col("common")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
    Scoped(out, () => { eNew.unpersist(); cand.unpersist(); () })
  }

  /** [[componentsDetailed]]'s result with convergence metadata: whether the
    * label propagation reached a fixpoint (always true on the driver path)
    * and how many distributed rounds ran. A capped (non-converged) result is
    * still a valid refinement — every reported cluster is a subset of a true
    * component — but a pipeline deduplicating on it would under-merge, so
    * the flag must be surfaced, not swallowed.
    */
  final case class ComponentsResult(df: DataFrame, release: () => Unit,
      converged: Boolean, iterations: Int)

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise matches into DUPLICATE CLUSTERS (pairs alone under-specify
    * transitive groups: a~b, b~c must collapse to one cluster keeping one
    * doc). Returns (doc_id, cluster_id = min reachable id) for every doc
    * appearing in a pair; input needs (doc_a, doc_b) with doc_a < doc_b.
    *
    * The pair list is persisted HERE, once, before any consumption: it is
    * read by the node count, the edge derivation, and either the driver
    * collect or every propagation round — and its upstream is typically the
    * whole MinHash-LSH pipeline, which an unpersisted plan would re-execute
    * per consumer (measured: ~3x re-execution cost 2.5x the LSH query
    * itself before this discipline was applied).
    *
    * Hybrid strategy, chosen by MEASURED node AND edge counts:
    *  - `nNodes <= localThreshold` (default 2^20) AND `nEdges <=
    *    localEdgeThreshold` (default 2^23): collect the cached pair list
    *    and run union-find with path compression on the driver — a dup
    *    graph of a million nodes is tens of MB of longs, and the driver
    *    pass costs one collect instead of O(diameter) Spark rounds at
    *    ~0.4 s of fixed job overhead each (measured: the loop's wall
    *    clock is bounded by ROUND COUNT, not data volume — 7-11 s for a
    *    500-node graph). The edge guard matters independently: a dense dup
    *    graph (an exact-dup-heavy corpus hitting LSH) can have O(n²) pairs
    *    over few nodes, which a node-count-only guard would happily
    *    collect onto the driver.
    *  - larger graphs: distributed iterative min-label propagation —
    *    every node takes the min of its own and its neighbors' labels per
    *    round, fixpoint when nothing changes; `maxIters` caps pathological
    *    chains (a capped result is still a valid refinement, just split —
    *    reported via [[ComponentsResult.converged]] and a warning log).
    *    Each round is one join+aggregate over the cached edge table; the
    *    label table is `localCheckpoint`ed every `checkpointEvery` rounds
    *    so plan lineage stays bounded by the checkpoint interval instead
    *    of growing linearly with round count (planning overhead, and a
    *    lost-executor recompute would otherwise replay the whole loop).
    */
  def componentsDetailed(pairs: DataFrame, maxIters: Int = 20,
      localThreshold: Long = 1L << 20,
      localEdgeThreshold: Long = 1L << 23,
      checkpointEvery: Int = 5): ComponentsResult = {
    val spark = pairs.sparkSession
    val p = pairs.select(col("doc_a"), col("doc_b")).persist()
    val nEdges = p.count() // materializes the cache: upstream runs ONCE
    lazy val nodes = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id"))).distinct()
    // nNodes <= 2*nEdges always, so when the edge count alone already
    // clears both guards the distinct+count job is provably redundant —
    // skipping it saves a shuffle job on the common small-graph path
    def localOk = nEdges <= localEdgeThreshold &&
      (nEdges * 2 <= localThreshold || nodes.count() <= localThreshold)

    if (localOk) {
      // driver union-find with path compression: one collect of the CACHED
      // pairs (bounded by both guards above)
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val collected = p.collect()
      p.unpersist()
      val nodeIds = scala.collection.mutable.SortedSet.empty[Long]
      collected.foreach { row =>
        val a = row.getLong(0)
        val b = row.getLong(1)
        nodeIds += a; nodeIds += b
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val assign = nodeIds.toSeq.map(id => (id, find(id)))
      import spark.implicits._
      ComponentsResult(assign.toDF("doc_id", "cluster_id"), () => (),
        converged = true, iterations = 0)
    } else {
      // undirected edge list, both directions, derived from the cached pairs
      val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      var labels = nodes.withColumn("lab", col("doc_id")).persist()
      labels.count()
      var converged = false
      var it = 0
      while (!converged && it < maxIters) {
        val nbrMin = edges
          .join(labels.withColumnRenamed("doc_id", "src")
            .withColumnRenamed("lab", "src_lab"), Seq("src"))
          .groupBy(col("dst").as("doc_id"))
          .agg(min(col("src_lab")).as("nbr_lab"))
        var next = labels.join(nbrMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("lab"), coalesce(col("nbr_lab"), col("lab"))).as("lab"))
          .persist()
        val changed = next
          .join(labels.withColumnRenamed("lab", "old"), Seq("doc_id"))
          .where(col("lab") =!= col("old")).count()
        converged = changed == 0
        if (!converged && (it + 1) % checkpointEvery == 0) {
          // truncate lineage: the plan otherwise accretes one join+agg layer
          // per round (localCheckpoint is eager — computed from the
          // just-materialized cache, then the cache handle is dropped)
          val cp = next.localCheckpoint()
          next.unpersist()
          next = cp
        }
        labels.unpersist()
        labels = next
        it += 1
      }
      if (!converged) log.warn(
        s"componentsDetailed: label propagation hit the maxIters=$maxIters cap " +
          "before fixpoint — clusters are a valid refinement but may be split")
      val out = labels.select(col("doc_id"), col("lab").as("cluster_id"))
      p.unpersist()
      // result is backed by the final persisted/checkpointed label table
      val finalLabels = labels
      ComponentsResult(out, () => { finalLabels.unpersist(); () },
        converged, it)
    }
  }

  /** [[componentsDetailed]] as a plain [[Scoped]] handle. */
  def componentsScoped(pairs: DataFrame, maxIters: Int = 20,
      localThreshold: Long = 1L << 20): Scoped = {
    val r = componentsDetailed(pairs, maxIters, localThreshold)
    Scoped(r.df, r.release)
  }

  /** [[componentsScoped]]'s frame without the release handle. */
  def components(pairs: DataFrame, maxIters: Int): DataFrame =
    componentsScoped(pairs, maxIters).df

  /** b-bit MinHash near-dup pairs (Li & König, WWW 2010): store only the
    * LOWEST `b` bits of each of `nPerms` minhash registers — a sketch of
    * `nPerms·b` bits packed into ONE long (vs `nPerms` full longs, a
    * 64/b× storage cut at equal perm count), with the estimator
    * correcting for accidental b-bit collisions:
    *
    *   Ĵ = (F − C) / (1 − C),  F = eq/nPerms,  C = 2⁻ᵇ
    *
    * (the paper's r→0 simplification of C₁/C₂ — exact for sparse
    * registers, i.e. shingle universes ≫ 2ᵇ; stated in integer ppm with
    * floor division and a 0 clamp, so both engines agree bit-for-bit).
    *
    * Unlike [[minhashSignatures]]'s xxhash64 base (fast, but only
    * jaccard-verifiable by an external engine), the base hash here is the
    * 60-bit md5 prefix — the [[simhashBands]] portability argument — fed
    * through the SAME [[graft.functions.SigAggregators]] seeded arithmetic
    * family, so an independent engine replays the registers, the banding,
    * the sketch, AND the estimate exactly. Candidates come from
    * `bands`-banded register slices joined on VALUE equality (fixed-width
    * keys, replayable — no hash bucketing), capped by `bucketCap` like
    * every blocked self-join here; the exact Jaccard rides along in ppm
    * for calibration. Returns
    * (doc_a, doc_b, eq, jhat_ppm, jaccard_ppm).
    */
  def bbitMinhashPairsScoped(docs: DataFrame, idCol: String,
      textCol: String, k: Int, nPerms: Int, bands: Int, b: Int,
      bucketCap: Int = DefaultCap): Scoped = {
    require(nPerms % bands == 0, "bands must divide nPerms")
    require(b >= 1 && b * nPerms <= 63,
      "need b >= 1 and b*nPerms <= 63 (one sketch word, sign bit free)")
    val r = nPerms / bands
    // in-row base: shingle array + md5-prefix minhash registers, no
    // explode/aggregation shuffles (see [[lshBase]]; md5 base per the
    // portability argument above)
    val base = withShingles(docs, idCol, textCol, k)
      .select(col("doc_id"), col("shingles"),
        size(col("shingles")).cast("long").as("n"),
        graft.functions.GraftFunctions.minhash_sig_md5(col("shingles"),
          nPerms).as("sig"))
      .persist()
    val sigs = base.where(col("sig").isNotNull).select("doc_id", "sig")
    val mask = (1L << b) - 1
    val sk = sigs.select(col("doc_id"), col("sig"),
      (0 until nPerms).map(i =>
        shiftleft(col("sig")(i).bitwiseAND(lit(mask)), b * i))
        .reduce(_ bitwiseOR _).as("sketch"))
    val banded = capBuckets(
      sk.select(col("doc_id"), col("sketch"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bb => slice(col("sig"), bb * r + lit(1), lit(r)))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket"),
      bucketCap)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sketch").as("ska"), col("b.sketch").as("skb"))
      .dropDuplicates("doc_a", "doc_b")
    val eq = (0 until nPerms).map { i =>
      when(shiftrightunsigned(col("ska"), b * i).bitwiseAND(lit(mask)) ===
        shiftrightunsigned(col("skb"), b * i).bitwiseAND(lit(mask)),
        lit(1L)).otherwise(lit(0L))
    }.reduce(_ + _)
    val cPpm = 1000000L / (1L << b)
    val arrs = base.select(col("doc_id"), col("shingles"), col("n"))
    val out = cand
      .withColumn("eq", eq)
      .withColumn("eq_ppm",
        call_function("div", col("eq") * lit(1000000L), lit(nPerms.toLong)))
      .withColumn("jhat_ppm", greatest(lit(0L), call_function("div",
        (col("eq_ppm") - lit(cPpm)) * lit(1000000L),
        lit(1000000L - cPpm))))
      .join(arrs.select(col("doc_id").as("doc_a"), col("shingles").as("sha"),
        col("n").as("na")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("shingles").as("shb"),
        col("n").as("nb")), Seq("doc_b"))
      .withColumn("common",
        size(array_intersect(col("sha"), col("shb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("eq"), col("jhat_ppm"),
        call_function("div", col("common") * lit(1000000L),
          col("na") + col("nb") - col("common")).as("jaccard_ppm"))
    Scoped(out, () => { base.unpersist(); () })
  }

  /** [[bbitMinhashPairsScoped]] without the handle (Verify/Bench own the
    * session cache bound). */
  def bbitMinhashPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, nPerms: Int, bands: Int, b: Int,
      bucketCap: Int = DefaultCap): DataFrame =
    bbitMinhashPairsScoped(docs, idCol, textCol, k, nPerms, bands, b,
      bucketCap).df

  /** Sorted-neighborhood near-dup candidates (Hernández & Stolfo 1995,
    * the merge/purge blocking family): sort the corpus by a domain key —
    * here the NORMALIZED text, so case/whitespace variants and
    * shared-prefix edits sort adjacent — and pair each document with its
    * next `window−1` neighbors in sort order, with exact Jaccard over
    * `shingleK`-shingles riding along for verification. Linear n·(w−1)
    * candidates: the complement to LSH/band blocking (probabilistic,
    * content-global) and SimHash (bit-flip tolerant) — SNM is
    * deterministic-recall for prefix-clustered duplicates and, like every
    * classic SNM deployment, blind to edits at the very start of the key
    * (documented semantics, replayed exactly by the oracle).
    *
    * The global rank is EXACT and distributed: bucket by the sort key's
    * first THREE characters (order-contiguous prefix buckets — on a real
    * English corpus most normalized texts share their first character,
    * so a 1-char bucket degenerates to a near-global single-task sort;
    * 3-char prefixes split "the ", "a ", "in " families apart). The
    * per-bucket counts become cumulative offsets via one running-sum
    * window over the counts table itself — B rows where B = distinct
    * prefixes actually present (≤ a few 10⁴ even on diverse corpora), a
    * single trivially-sized task, NOT a self-join (the old non-equi
    * self-join was O(B²)). rank = per-bucket row_number + offset — a
    * PARTITIONED window over the corpus, never a single-task global
    * sort; cross-bucket neighbor pairs still form because the pairing is
    * an equi-join on the global rank value. Returns
    * (doc_a, doc_b, gap, jaccard_ppm), doc_a the lower-ranked end.
    */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      textCol: String, window: Int, shingleK: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    import org.apache.spark.sql.expressions.Window
    val keyed = docs.select(col(idCol).as("doc_id"),
      TextOps.normalize(col(textCol)).as("skey"),
      TextOps.wordShingles(col(textCol), shingleK).as("shingles"))
      .withColumn("bucket", substring(col("skey"), 1, 3))
    val cnt = keyed.groupBy("bucket").agg(count(lit(1)).as("n"))
    val off = cnt.withColumn("off",
      coalesce(sum(col("n")).over(Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "off")
    val ranked = keyed.join(broadcast(off), Seq("bucket"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("bucket").orderBy("skey", "doc_id"))
        .cast("long") + col("off"))
      .select("doc_id", "rk", "shingles")
    val probes = ranked.select(col("doc_id"), col("rk"), col("shingles"),
      explode(sequence(lit(1L), lit((window - 1).toLong))).as("gap"))
      .withColumn("rk2", col("rk") + col("gap"))
    probes.join(ranked
        .select(col("doc_id").as("doc_b"), col("rk").as("rk2"),
          col("shingles").as("shb")), Seq("rk2"))
      .withColumn("common",
        size(array_intersect(col("shingles"), col("shb"))).cast("long"))
      .withColumn("na", size(col("shingles")).cast("long"))
      .withColumn("nb", size(col("shb")).cast("long"))
      .select(col("doc_id").as("doc_a"), col("doc_b"), col("gap"),
        when(col("na") + col("nb") - col("common") === 0, lit(1000000L))
          .otherwise(call_function("div", col("common") * lit(1000000L),
            col("na") + col("nb") - col("common"))).as("jaccard_ppm"))
  }

  /** Soft dedup: keep EVERY document but down-weight near-dup clusters —
    * each member of a cluster of n carries `weight_ppm = 10⁶ div n`, so a
    * cluster contributes ~one document's worth of sampling mass instead
    * of n (the "don't delete, re-weight" alternative to survivor
    * selection: duplicates often correlate with quality, and hard
    * dropping loses that signal; weighting feeds straight into
    * [[graft.ops.Sampling]]'s weighted/token-proportional samplers).
    * Docs in no pair are their own cluster (weight 10⁶). Integer floor
    * division — bit-identical across engines, order-free.
    *
    * Scale shape: the components frame covers only docs that appear in a
    * pair (dup-rate-bounded, far smaller than the corpus); cluster sizes
    * are one aggregate over it, and the corpus touches exactly one left
    * join against that small map — broadcastable at typical dup rates,
    * AQE decides. Long-lived sessions: wrap the call site with
    * [[componentsScoped]]'s release discipline ([[components]] relies on
    * the session's `clearCache` bound, like every cluster consumer here).
    */
  def softDedupWeights(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 20): DataFrame = {
    val comp = components(pairs, maxIters)
    val sized = comp.join(
      comp.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
      Seq("cluster_id"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(sized.select("doc_id", "cluster_id", "cluster_size"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        call_function("div", lit(1000000L),
          coalesce(col("cluster_size"), lit(1L))).as("weight_ppm"))
  }

  /** Engine-portable 64-bit SimHash, banded as 4×16-bit chunks.
    *
    * The per-token hash is the first 16 hex nibbles of md5(token), chosen
    * over xxhash64 so an INDEPENDENT engine can compute the identical
    * signature: md5 is standardized, while xxhash64 constants differ across
    * implementations. That makes the banded pair query fully verifiable
    * against a brute-force all-pairs oracle (DuckDB mirrors the exact same
    * integer math), instead of a rows-only check.
    *
    * Bit j of a token's hash is bit (j mod 4) of hex nibble (j div 4);
    * signature bit j is set iff 2·Σ_tokens(bit_j) > n_tokens (ties → 0 —
    * the majority-sign rule, stated over integers so both engines agree).
    *
    * Scale shape (same as minhash): explode → one md5 per token → ONE
    * bit-majority Aggregator (64 counters + count in a primitive-array
    * buffer, partial-aggregable — not 64 separate sum expressions, whose
    * giant generated class was the round-1 JIT hazard; see
    * [[graft.functions.SigAggregators]]). Returns (doc_id, band0..band3: int).
    */
  def simhashBands(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // IN-ROW bit-majority over the token array (guide §2.4): the
    // signature is a pure function of the doc's own tokens, so the
    // explode → md5 → groupBy(doc_id) aggregation shuffle is gone; the
    // [[graft.functions.SimHashBandsExpr]] kernel computes the identical
    // nibble-bit counts and majority rule. Null text → null token array
    // → null bands → dropped, matching the old no-rows-from-explode drop.
    docs.select(col(idCol).as("doc_id"),
        graft.functions.GraftFunctions.simhash_bands(
          TextOps.normTokens(col(textCol))).as("bands"))
      .where(col("bands").isNotNull)
      .select(col("doc_id") +:
        (0 until 4).map(t => element_at(col("bands"), t + 1).as(s"band$t")): _*)

  /** Single-long SimHash signature assembled from the 4 bands (bitwise
    * shifts — no ANSI overflow). Returns (doc_id, sig: long).
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashBands(docs, idCol, textCol)
      .select(col("doc_id"),
        (0 until 4).map(t => shiftleft(col(s"band$t").cast("long"), 16 * t))
          .reduce((a, b) => a.bitwiseOR(b)).as("sig"))

  /** SimHash near-dup pairs with hamming distance <= maxDist, candidates via
    * the 4×16-bit band join. maxDist <= 3 is REQUIRED: a pair differing in
    * <= 3 bits must leave one of the 4 bands untouched (pigeonhole), so the
    * banded candidate set provably equals the all-pairs result — which is
    * exactly what the DuckDB oracle computes. For larger distances raise the
    * band count (8×8-bit bands guarantee maxDist <= 7) before relaxing this.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist <= 3,
      "4x16-bit banding guarantees recall only for maxDist <= 3 (pigeonhole)")
    val sig = simhashBands(docs, idCol, textCol)
    val bandCols = (0 until 4).map(t => col(s"band$t"))
    val banded = sig.select(col("doc_id") +: bandCols :+
      posexplode(array(bandCols: _*)).as(Seq("band", "chunk")): _*)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (0 until 4).map(t =>
            bit_count(col(s"a.band$t").bitwiseXOR(col(s"b.band$t"))))
          .reduce(_ + _).cast("int").as("hamming"))
      .dropDuplicates("doc_a", "doc_b") // hamming is functionally dependent
      .where(col("hamming") <= maxDist)
      .select("doc_a", "doc_b", "hamming")
  }

  /** One row per (doc, window): winLen-char windows at `stride`-char steps
    * over the NORMALIZED text (Rabin-Karp-style exact-substring units —
    * the ExactSubstr pass of Lee et al., arXiv:2107.06499). Docs shorter
    * than winLen produce no windows.
    *
    * Scale shape: a linear explode — ≤ len/stride windows per doc, the
    * generate fused into the scan projection (no shuffle until the caller
    * aggregates). The shuffled payload is the window text itself (winLen
    * chars); callers that only count can hash first, but keeping the text
    * lets [[dupSpans]] return the actual offending span.
    */
  def spanWindows(docs: DataFrame, idCol: String, textCol: String,
      winLen: Int, stride: Int): DataFrame = {
    require(winLen >= 1 && stride >= 1, "winLen and stride must be positive")
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.normalize(col(textCol)).as("t"))
      .where(length(col("t")) >= winLen)
      // explode in the SAME select as the sequence (see withShingles note)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - winLen + 1, lit(stride)))
          .as("i"))
      .select(col("doc_id"), col("i"),
        expr(s"substring(t, i, $winLen)").as("win"))
  }

  /** Corpus-wide duplicated exact spans: windows appearing in >= minDocs
    * DISTINCT documents, ranked by spread then frequency. This is the
    * discovery half of exact-substring dedup — the per-doc filter signal
    * is [[dupSpanCoverage]].
    *
    * One shuffle: groupBy(window) with a partial-aggregated distinct count.
    * At 100 TB the group key is bounded (winLen chars) and the output is
    * top-k only; no document pair ever meets a reducer.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      winLen: Int = 40, stride: Int = 10, minDocs: Int = 2,
      topK: Int = 20): DataFrame =
    spanWindows(docs, idCol, textCol, winLen, stride)
      .groupBy("win")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .where(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("win").asc)
      .limit(topK)

  /** Per-document duplicate-span coverage: the fraction of a doc's windows
    * whose exact text also appears in ANOTHER document — the ExactSubstr
    * drop signal (docs above a coverage threshold are removed or trimmed).
    *
    * Reported in micro-units via integer floor division
    * ((dup·1e6) div total) so the ratio is bit-identical on any engine —
    * no floating division anywhere.
    *
    * Shape: window rows → per-(win) spread via one agg → join back on win
    * → per-doc agg. Two shuffles on the window key + one on doc_id, all
    * linear; the self-join is equi on win and never pairs documents.
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
      winLen: Int = 40, stride: Int = 10): DataFrame = {
    val wins = spanWindows(docs, idCol, textCol, winLen, stride)
    // a window is "duplicated" for doc d if some OTHER doc has it too:
    // n_docs >= 2 covers every occurrence incl. d's own
    val spread = wins.groupBy("win")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    wins.join(spread, Seq("win"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        expr("(n_dup * 1000000L) div n_windows").as("dup_ppm"))
  }

  /** Exact-substring span REMOVAL (the rewrite half of ExactSubstr dedup,
    * Lee et al. arXiv:2107.06499 §3.1): every duplicated window (normalized
    * winLen-char text appearing in >= 2 distinct docs) keeps ONE canonical
    * occurrence corpus-wide — all its occurrences in the min-doc_id holder —
    * and is cut from every other doc. Per doc the removed windows merge
    * into maximal intervals (overlapping OR adjacent), and the surviving
    * segments are stitched back in order over the NORMALIZED text.
    *
    * Output: one row per input doc — `orig_len`, `clean_len`, `n_spans`
    * (merged removed intervals), `removed_chars`, and `clean` (the
    * rewritten text; hash it for compact gates). Docs with nothing removed
    * pass through unchanged; a fully-covered doc rewrites to "".
    *
    * Scale shape: the window spread agg is one shuffle on bounded winLen
    * keys (the dupSpans shape); the interval merge and segment stitch are
    * per-row `aggregate()` folds over a per-doc array bounded by
    * len/stride — in-row, codegen'd, no explode and no second pass over
    * the corpus. No document pair ever meets a reducer.
    */
  def spanRemoval(docs: DataFrame, idCol: String, textCol: String,
      winLen: Int = 40, stride: Int = 10): DataFrame = {
    val wins = spanWindows(docs, idCol, textCol, winLen, stride)
    val spread = wins.groupBy("win")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keep_doc"))
    val merged = wins.join(spread, Seq("win"))
      .where(col("n_docs") >= 2 && col("doc_id") =!= col("keep_doc"))
      .select(col("doc_id"), col("i").as("st"),
        (col("i") + lit(winLen)).as("en")) // [st, en), 1-based
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("st"), col("en")))).as("ints"))
      // fold sorted intervals into maximal merged spans ('<=': adjacency
      // merges too, matching a per-character replay's contiguous runs)
      .select(col("doc_id"), expr(
        """aggregate(ints, cast(array() as array<struct<st:int,en:int>>),
          |  (acc, x) -> case
          |    when size(acc) = 0 then array(x)
          |    when x.st <= element_at(acc, -1).en then
          |      concat(slice(acc, 1, size(acc) - 1),
          |        array(named_struct('st', element_at(acc, -1).st,
          |          'en', greatest(element_at(acc, -1).en, x.en))))
          |    else concat(acc, array(x)) end)""".stripMargin).as("spans"))
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        TextOps.normalize(col(textCol)).as("t"))
      .join(merged, Seq("doc_id"), "left")
      .select(col("doc_id"), length(col("t")).as("orig_len"),
        coalesce(size(col("spans")), lit(0)).as("n_spans"),
        // stitch: carry (next-keep-pos, acc); each span appends the gap
        // before it, the finish lambda appends the tail after the last
        when(col("spans").isNull, col("t")).otherwise(expr(
          """aggregate(spans, named_struct('pos', 1, 'acc', ''),
            |  (a, x) -> named_struct('pos', x.en,
            |    'acc', concat(a.acc, substring(t, a.pos, x.st - a.pos))),
            |  a -> concat(a.acc, substring(t, a.pos,
            |    length(t) - a.pos + 1)))""".stripMargin)).as("clean"))
      .select(col("doc_id"), col("orig_len"), col("n_spans"),
        length(col("clean")).as("clean_len"),
        (col("orig_len") - length(col("clean"))).as("removed_chars"),
        col("clean"))
  }

  /** CROSS-document segment dedup — the MassiveText/Gopher line- and
    * paragraph-level pass (Rae et al. 2021 arXiv:2112.11446 §A.2.3): a
    * segment (line by default; paragraphs with sep="\n\n") survives only
    * in its CANONICAL occurrence — the (min doc_id, min position) holder
    * over every occurrence of the exact segment bytes in the corpus — and
    * is removed everywhere else. The within-doc keep-first pass
    * ([[graft.ops.Curation.selfRepDedup]]) falls out as a special case;
    * this is the across-doc shape that kills site-wide boilerplate (nav
    * bars, footers, cookie banners repeated on every page of a host).
    * Empty segments are segments too (a corpus-wide blank line keeps one
    * canonical holder) — pre-filter or post-process blank lines if a
    * different policy is wanted; the rule here is uniform and total.
    *
    * Returns per doc: n_segs, n_kept, n_dropped, orig_len, clean_len,
    * clean (survivors stitched with `sep` in original order).
    *
    * Scale shape: one posexplode (linear in corpus segments), ONE
    * segment-keyed argmin aggregate whose shuffle carries one row per
    * DISTINCT segment (map-side combined), one join back, one doc-keyed
    * stitch aggregate. No document pair ever meets a reducer — the
    * [[spanRemoval]] discipline at segment granularity. The argmin and
    * the join back are KEYED on the 120-bit [[contentFp]] of the
    * segment, not the segment bytes: the canon shuffle carries 16-byte
    * keys where segments are arbitrary-length (a KB-long boilerplate
    * paragraph shuffled per occurrence is the 100 TB payload killer), at
    * a ~n²/2¹²¹ false-merge budget (the object scaladoc's key-width
    * policy) instead of byte-equality's certainty — negligible against
    * the corpus sizes the payload saving matters for.
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    require(sep.nonEmpty, "sep must be non-empty")
    val segs = docs
      .select(col(idCol).cast("long").as("doc_id"),
        length(col(textCol)).as("orig_len"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep), -1)).as(Seq("pos", "seg")))
      .withColumn("sfp", contentFp(col("seg")))
    val canon = segs.groupBy("sfp")
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
    segs.join(canon, Seq("sfp"))
      .select(col("doc_id"), col("orig_len"), col("pos"), col("seg"),
        (col("doc_id") === col("c.doc_id") && col("pos") === col("c.pos"))
          .as("keep"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_segs"),
        sum(when(col("keep"), 1).otherwise(0)).cast("int").as("n_kept"),
        max(col("orig_len")).as("orig_len"),
        array_join(transform(
          sort_array(collect_list(when(col("keep"),
            struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), sep).as("clean"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        (col("n_segs") - col("n_kept")).as("n_dropped"), col("orig_len"),
        length(col("clean")).as("clean_len"), col("clean"))
  }

  /** Asymmetric CONTAINMENT pairs — the doc-inside-doc axis symmetric
    * Jaccard is blind to: a short document fully embedded in a long one
    * (quote farms, aggregator pages, eval-prompt-inside-completion leaks)
    * has near-zero Jaccard against its container but containment ≈ 1 on
    * the small side, so a Jaccard-thresholded dedup pass keeps both.
    * Candidates come from shared df-capped shingles (the decontaminate
    * screen — the cap bounds the df² candidate term and is mirrored in
    * the oracle); containment is EXACT integer ppm per side
    * (common·10⁶ div |side|, both directions emitted); a pair is kept
    * when EITHER side's containment reaches `minContainPpm`.
    *
    * Scale shape: one shingle-keyed equi-join over the capped universe +
    * one pair-keyed count agg — the q_doc_decontaminate shape turned
    * self-join; no window, no product, sizes join back on doc keys.
    */
  def containmentPairsScoped(docs: DataFrame, idCol: String,
      textCol: String, k: Int, minContainPpm: Long,
      dfCap: Int = DefaultCap): Scoped = {
    require(minContainPpm >= 1 && minContainPpm <= 1000000L,
      "minContainPpm in [1, 1e6]")
    // persist: the capped shingle universe feeds the size aggregate and
    // BOTH pair-join sides (and the raw rows feed the df screen twice) —
    // unpersisted, the shingle Generate re-ran ~5× (measured over half
    // the gate at sf0.1)
    val raw = shingleRows(docs, idCol, textCol, k).persist()
    // anti join against the small HOT set instead of a semi join against
    // the large keep-set — see jaccardPairsScoped (exact complement; AQE
    // broadcasts the hot side, so the raw rows never shuffle on `sh`)
    val capped =
      (if (dfCap == Uncapped) raw
      else raw.join(
        raw.groupBy("sh").agg(count(lit(1)).as("df"))
          .where(col("df") > dfCap).select("sh"),
        Seq("sh"), "left_anti")).persist()
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = capped.as("a").join(capped.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    val out = common
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"),
        col("n_b"),
        expr("common * 1000000 div n_a").as("contain_a_ppm"),
        expr("common * 1000000 div n_b").as("contain_b_ppm"))
      .where(greatest(col("contain_a_ppm"), col("contain_b_ppm"))
        >= minContainPpm)
    Scoped(out, () => { raw.unpersist(); capped.unpersist(); () })
  }

  /** [[containmentPairsScoped]] without the handle — callers owning the
    * session lifecycle (or clearing the cache themselves) can ignore it.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minContainPpm: Long, dfCap: Int = DefaultCap): DataFrame =
    containmentPairsScoped(docs, idCol, textCol, k, minContainPpm,
      dfCap).df

  /** Cross-doc NEAR-dup segment detection — the fuzzy complement of
    * [[segmentDedup]] (which only collapses byte-identical segments): the
    * boilerplate that varies by a date, a counter, or one templated token
    * ("...your inbox every single day" vs "...every single morning")
    * survives exact segment dedup and needs a similarity screen. Segments
    * (normalized, ≥ `minTokens` tokens) first collapse to DISTINCT texts
    * with doc-spread/occurrence counts — the crucial scale move: the
    * pairwise stage runs over distinct segment TEXTS (bounded by template
    * diversity), never over occurrences (corpus-sized). Each distinct
    * segment gets the 64-bit token SimHash ([[simhashBands]] math,
    * identical aggregator), and pairs within hamming ≤ `maxDist` surface
    * via the same 4×16-bit band join — pigeonhole-complete at maxDist ≤ 3,
    * so the banded result provably equals all-pairs (the DuckDB oracle).
    *
    * Scale shape: explode → distinct-seg agg (shuffle carries one row per
    * distinct segment) → token agg over distinct segs → band self-join on
    * (band, chunk). No doc pair ever meets a reducer; candidate volume is
    * banded over template space, not corpus space.
    */
  def segmentNearDup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n", maxDist: Int = 3, minTokens: Int = 3): DataFrame = {
    require(maxDist <= 3,
      "4x16-bit banding guarantees recall only for maxDist <= 3 (pigeonhole)")
    require(minTokens >= 1, "minTokens must be positive")
    val segs = docs
      .select(col(idCol).cast("long").as("doc_id"),
        explode(split(col(textCol),
          java.util.regex.Pattern.quote(sep), -1)).as("seg0"))
      .select(col("doc_id"), TextOps.normalize(col("seg0")).as("seg"))
      .where(size(split(col("seg"), " ")) >= minTokens)
    val dseg = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .select(md5(col("seg")).as("fp"), col("seg"), col("n_docs"),
        col("n_occ"))
    val bands = dseg
      .select(col("fp"), explode(split(col("seg"), " ")).as("tk"))
      .select(col("fp"), md5(col("tk")).as("hx"))
      .groupBy("fp")
      .agg(graft.functions.SigAggregators.simhash_combine(col("hx"))
        .as("bands"))
      .select(col("fp") +: (0 until 4).map(t =>
        element_at(col("bands"), t + 1).as(s"band$t")): _*)
    val sig = dseg.drop("seg").join(bands, Seq("fp"))
    val bandCols = (0 until 4).map(t => col(s"band$t"))
    val banded = sig.select(Seq(col("fp"), col("n_docs")) ++ bandCols ++
      Seq(posexplode(array(bandCols: _*)).as(Seq("band", "chunk"))): _*)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.fp") < col("b.fp"))
      .select(col("a.fp").as("fp_a"), col("b.fp").as("fp_b"),
        (0 until 4).map(t =>
            bit_count(col(s"a.band$t").bitwiseXOR(col(s"b.band$t"))))
          .reduce(_ + _).cast("int").as("hamming"),
        col("a.n_docs").as("docs_a"), col("b.n_docs").as("docs_b"))
      .dropDuplicates("fp_a", "fp_b") // hamming/counts functionally dependent
      .where(col("hamming") <= maxDist)
  }

  /** BOUNDARY-EXACT exact-substring span removal (Lee et al.
    * arXiv:2107.06499 §3.1 semantics, `minLen` as the only knob): a
    * character of doc d is removed iff it lies inside SOME length-`minLen`
    * substring of d that also appears in another document, and d is not
    * that window's canonical (min-doc_id) holder. Unlike [[spanRemoval]],
    * whose winLen=40/stride=10 grid misses duplicated runs shorter than
    * winLen and quantizes boundaries to stride marks, this variant is
    * exact: it is [[spanRemoval]] at stride=1 with winLen=`minLen`, and
    * stride-1 makes the window union ALIGN with the true duplicated runs —
    * a maximal shared run [a, a+R), R >= minLen, is covered by exactly the
    * duplicated windows starting at a .. a+R-minLen, whose union is
    * [a, a+R) with no quantization at either edge; a run shorter than
    * minLen contains no full window and is (by the minimum-length
    * definition) untouched. The suffix-array machinery of the paper is an
    * ALGORITHMIC device for single-node efficiency; the fixed-point of the
    * pass — which characters go — is this per-window definition, which
    * distributes as one linear explode + one window-keyed aggregate.
    *
    * Cost vs the strided screen: stride× more window rows (one per char
    * position), same linear shape — the shuffle payload is `minLen` chars
    * per position. At petabyte scale run [[dupSpanCoverage]]'s strided
    * screen first and rewrite only the docs it flags (the two-pass
    * ExactSubstr deployment); or key the spread agg on a 128-bit window
    * hash to shrink shuffle bytes when a ~2^-64 false-merge is acceptable.
    * Here the window text itself is the key so the result is bit-exact
    * against a per-character replay.
    */
  def spanRemovalExact(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 40): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    spanRemoval(docs, idCol, textCol, winLen = minLen, stride = 1)
  }

  /** Polynomial 31-bit hash of the k-char gram at 1-based position `i`
    * of a pre-split CODEPOINT ARRAY: fold acc = (acc·131 + cp) mod
    * 2³¹−1, unrolled over the k characters with O(1) `element_at`
    * lookups — the engine-replayable hash shared by the winnowing and
    * content-defined-chunking fingerprints. Deliberately NOT md5 (a
    * per-gram md5 pays a block hash + hex string + base conversion at
    * every char position) and NOT per-position `substr` (UTF8 substr
    * re-scans from the string head — O(L²) per document, measured 15×
    * slower than this form end-to-end) and NOT xxhash64 (no external
    * replica; these operators exist to be audited against an external
    * engine, the [[simhashPairs]] discipline). The 31-bit range means
    * ~n²/2³² chance collisions across distinct grams — they only add
    * the odd spurious shared fingerprint / chunk boundary, identically
    * in both engines (the comparison stays bit-exact).
    */
  private[ops] val KgramMod = 2147483647L

  /** Codepoint array of `nm`, sliced to exactly length(nm) elements
    * (regex-split implementations disagree on trailing empties; the
    * slice pins the contract).
    */
  private def codepoints(nm: Column): Column =
    slice(transform(split(nm, ""), c => ascii(c).cast("long")),
      lit(1), greatest(length(nm), lit(0)))

  /** ALL k-gram polynomial hashes of a codepoint array in one pass:
    * element i = fold over the gram starting at i of
    * acc = (acc·131 + cp) mod 2³¹−1 — computed as a chain of k−1
    * `zip_with`s against progressively shifted copies of the array
    * (vectorized array-at-a-time codegen; the per-position
    * `element_at`-fold form ran interpreted per lookup and the
    * per-position `substr` form re-scanned the string head — both
    * measured several times slower end-to-end). Positions past
    * L−k+1 come out NULL (zip_with pads the shorter side) and are
    * sliced away by callers.
    */
  private def kgramHashes(cps: Column, k: Int): Column = {
    val first = transform(cps, c => c % KgramMod)
    (1 until k).foldLeft(first) { (acc, j) =>
      zip_with(acc,
        slice(cps, lit(j + 1), greatest(size(cps) - j, lit(0))),
        (a, c) => (a * 131L + c) % KgramMod)
    }
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    * MOSS algorithm): per document, hash every k-char gram of the
    * normalized text, slide a w-gram window, and keep each window's
    * MINIMUM hash (rightmost occurrence on ties — the winnowing tie rule,
    * which makes consecutive windows reuse the same selection and bounds
    * the density at ~2/(w+1)). The guarantee the strided screens lack:
    * any shared substring of length >= k + w - 1 yields at least one
    * IDENTICAL selected fingerprint in both documents REGARDLESS of its
    * offset in either — local, position-robust plagiarism/overlap
    * detection. Returns (doc_id, pos, fp) rows, selections deduplicated
    * in-row. Pure Column algebra (hash transform + bounded fold per
    * window), zero shuffle, linear in corpus chars.
    *
    * Two-tier hashing (the object scaladoc's key-width policy): window
    * SELECTION runs on the cheap 31-bit rolling k-gram hash — a
    * selection collision only changes WHICH position a window elects,
    * harmlessly and identically in both engines — but the EMITTED
    * fingerprint is the 120-bit [[contentFp]] of the selected gram's
    * text, so fingerprint equality (the [[winnowPairsScoped]] match
    * verdict) never rides a 31-bit value: at corpus scale 31-bit
    * identities collide by ~2¹⁶ grams, manufacturing spurious shared
    * fingerprints between unrelated documents. The md5 runs only at
    * selected positions (density ~2/(w+1) per char), sliced from a
    * per-doc char array — never a per-position substr (O(L²) UTF-8
    * re-scan, the measured pitfall).
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 2, "need k >= 2 and w >= 2")
    // selection runs in the compiled [[graft.functions.WinnowSelect]]
    // kernel — one pass per row, replacing the k−1 + w−1 chained
    // zip_with folds whose interpreted lambda calls per character were
    // most of the winnow gate (the kernel scaladoc carries the
    // bit-parity argument; OpsSpec pins the guarantee properties). The
    // kernel is the GENERATOR input, so it is evaluated once per row,
    // and the md5 identity fingerprint stays a plain Column over the
    // selected grams only (density ~2/(w+1) per char, as before).
    docs
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.GraftFunctions.winnow_select(
          TextOps.normalize(col(textCol)), k, w)).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"),
        contentFp(col("s.gram")).as("fp"))
  }

  /** Shared-fingerprint document pairs over [[winnowFingerprints]] output:
    * pairs sharing >= `minShared` distinct selected fingerprints, with the
    * count — the MOSS report. The join is keyed on the fingerprint VALUE
    * (only docs selecting the same fingerprint meet a reducer — linear in
    * fingerprint occurrences, never all-pairs), `dfCap` bounds viral
    * fingerprints exactly like the shingle df-cap.
    */
  def winnowPairsScoped(fps: DataFrame, minShared: Long,
      dfCap: Int = DefaultCap): Scoped = {
    require(minShared >= 1, "minShared must be >= 1")
    // persist: the fingerprint derivation (per-char hashing + window
    // selection) feeds the df aggregate, the cap semi-join, and BOTH
    // sides of the pair join — unpersisted it re-runs ~4×, measured 3×
    // the whole gate
    val f = fps.select("doc_id", "fp").distinct().persist()
    // hot-set anti join, not keep-set semi join — see jaccardPairsScoped
    val capped =
      if (dfCap == Uncapped) f
      else f.join(
        f.groupBy("fp").agg(count(lit(1)).as("df"))
          .where(col("df") > dfCap).select("fp"),
        Seq("fp"), "left_anti")
    val out = capped.as("a").join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    Scoped(out, () => { f.unpersist(); () })
  }

  /** [[winnowPairsScoped]] without the handle — callers owning the
    * session lifecycle (or clearing the cache themselves) can ignore it.
    */
  def winnowPairs(fps: DataFrame, minShared: Long,
      dfCap: Int = DefaultCap): DataFrame =
    winnowPairsScoped(fps, minShared, dfCap).df

  /** Content-defined chunking (the rsync/LBFS/storage-dedup primitive):
    * chunk boundaries fall where the rolling k-gram hash ENDING at a
    * position is ≡ 0 (mod `mask`+1) — a property of the CONTENT, not the
    * offset, so inserting or deleting bytes early in a document shifts
    * only the chunks it touches and every later chunk re-aligns
    * bit-identically (a fixed-grid chunker re-cuts everything after the
    * edit). Expected chunk length ≈ mask+1 chars. Returns one row per
    * chunk: (doc_id, chunk_idx, start, len, chunk_fp = md5 of the chunk
    * text); the final partial chunk is always emitted. Pure Column
    * algebra — boundary scan + slice per row, zero shuffle.
    *
    * Key-width note (object scaladoc policy): only the BOUNDARY test
    * rides the 31-bit rolling hash — a collision there merely moves a
    * cut point, identically in both engines. The chunk IDENTITY
    * (`chunk_fp`, the dedup/store key in [[chunkDedupStats]] and
    * [[graft.io.ChunkStore]]) is the full 128-bit md5 of the chunk
    * text, so chunk equality never rides a birthday-prone 64-bit value.
    */
  def contentChunks(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, mask: Int = 63): DataFrame = {
    require(k >= 2, "need k >= 2")
    require(mask >= 1 && (mask & (mask + 1)) == 0,
      "mask must be 2^b - 1 (the boundary test is h mod (mask+1) == 0)")
    val base = docs
      .select(col(idCol).as("doc_id"),
        TextOps.normalize(col(textCol)).as("nm"))
      .select(col("doc_id"), col("nm"), codepoints(col("nm")).as("cps"))
      .select(col("doc_id"), col("nm"), kgramHashes(col("cps"), k).as("ghs"))
    val nm = col("nm")
    val len = length(nm)
    // candidate boundary positions: the k-gram ENDING at i (i in k..L) —
    // its hash sits at ghs[i−k+1]; try_element_at nulls (not throws) on
    // the empty-doc probe and filter drops the null
    val bounds = filter(sequence(lit(k), greatest(len, lit(k))),
      i => try_element_at(col("ghs"), i - (k - 1)) % (mask + 1) === 0)
    // the document end is always a boundary (emit the final partial
    // chunk); try_element_at — plain element_at(-1) THROWS on an empty
    // bounds array under ANSI mode
    val b2 = when(coalesce(try_element_at(bounds, lit(-1)) === len,
      lit(false)), bounds).otherwise(concat(bounds, array(len)))
    val chunks = transform(sequence(lit(1), size(col("b2"))), idx => {
      val prev = when(idx === 1, lit(0))
        .otherwise(element_at(col("b2"), idx - 1))
      val cur = element_at(col("b2"), idx)
      struct((idx - 1).as("chunk_idx"), (prev + 1).as("start"),
        (cur - prev).as("len"))
    })
    base.select(col("doc_id"), nm, b2.as("b2"))
      .select(col("doc_id"), nm, explode(chunks).as("c"))
      // an empty-normalized doc keeps its single zero-length chunk — it
      // must survive the store round-trip (and the oracle's per-doc
      // row), not silently vanish
      .where(col("c.len") > 0 || length(nm) === 0)
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
        col("c.start").as("start"), col("c.len").as("len"),
        nm.substr(col("c.start"), col("c.len")).as("chunk"),
        md5(nm.substr(col("c.start"), col("c.len"))).as("chunk_fp"))
  }

  /** Per-document storage-dedup report over [[contentChunks]] output:
    * how much of each document's normalized bytes live in chunks that
    * also appear in ANOTHER document (`fp_docs > 1` — cross-doc sharing,
    * not within-doc repeats). Two linear shuffles (chunk-fp spread, then
    * the doc rollup) — the TF-IDF shape; `shared_ppm` is floor-div exact.
    */
  def chunkDedupStats(chunks: DataFrame): DataFrame = {
    val fpc = chunks.groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("fp_docs"))
    chunks.join(fpc, Seq("chunk_fp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).cast("long").as("total_len"),
        sum(when(col("fp_docs") > 1, lit(1L)).otherwise(lit(0L)))
          .as("n_shared"),
        sum(when(col("fp_docs") > 1, col("len").cast("long"))
          .otherwise(lit(0L))).as("shared_len"))
      .select(col("doc_id"), col("n_chunks"), col("total_len"),
        col("n_shared"), col("shared_len"),
        expr("shared_len * 1000000 div greatest(total_len, 1)")
          .as("shared_ppm"))
  }
}
