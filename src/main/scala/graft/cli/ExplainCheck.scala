package graft.cli

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Plan auditor: prints `explain("formatted")` for selected queries and
  * greps the physical plans for the properties the 100 TB posture requires —
  * filters/columns pushed into scans, dimension joins broadcast, no
  * accidental cartesian products, codegen coverage.
  *
  * Usage: `runMain graft.cli.ExplainCheck [sfDir] [queryName ...]`
  * With no query names, audits a representative set and exits nonzero if an
  * expectation fails.
  */
object ExplainCheck {

  // query -> (mustContain, mustNotContain) over the formatted physical plan.
  // NOTE: with AQE the pre-execution formatted plan has no WholeStageCodegen
  // annotations (isFinalPlan=false), so codegen coverage is not grep-able
  // here; Batched scans + HashAggregate/BroadcastHashJoin nodes are.
  private[graft] val expectations: Map[String, (Seq[String], Seq[String])] = Map(
    "q_filter_project" -> (Seq("PushedFilters: [IsNotNull", "Batched: true"),
      Seq("CartesianProduct")),
    "q_agg_pricing" -> (Seq("PushedFilters", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin")),
    "q_join_broadcast" -> (Seq("BroadcastHashJoin", "ReadSchema: struct<l_partkey:bigint"),
      Seq("SortMergeJoin", "CartesianProduct")),
    "q_join_multiway" -> (Seq("BroadcastHashJoin"), Seq("SortMergeJoin")),
    "q_join_semi" -> (Seq("BroadcastHashJoin", "LeftSemi"), Seq("SortMergeJoin")),
    "q_ts_bucketize" -> (Seq("BroadcastHashJoin"), Seq("CartesianProduct")),
    // densify/fill is one walk over stay-sorted cells (MapPartitions): no
    // Window and no per-series aggregate may come back in any fill mode
    // (nor in ffill/interp below)
    "q_ts_densify" -> (Seq("MapPartitions", "BroadcastHashJoin"),
      Seq("CartesianProduct", "Window", "ObjectHashAggregate")),
    // signature agg runs as ObjectHashAggregate (typed Aggregator buffers)
    // r16: signatures/shingle arrays are in-row (MinHashBuckets) — the old
    // per-doc ObjectHashAggregate shuffles are gone and must stay gone
    "q_doc_minhash_lsh" -> (Seq("Generate"),
      Seq("CartesianProduct", "ObjectHashAggregate")),
    // embedding search top-k must run as bounded ObjectHashAggregate
    // (TopKAgg partial top-k), never a per-query window sort of the whole
    // scored corpus on one task
    // MMR: brute exact retrieval (broadcast scan + k-bounded TopKAgg),
    // per-query pair joins of the BOUNDED candidate lists, greedy rounds
    // as an in-row fold — never a window, never corpus x corpus
    "q_emb_mmr" -> (Seq("BroadcastNestedLoopJoin", "ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    "q_emb_knn_brute" -> (Seq("BroadcastNestedLoopJoin", "ObjectHashAggregate"),
      Seq("SortMergeJoin", "Window")),
    "q_emb_knn_ivf" -> (Seq("ObjectHashAggregate"),
      Seq("CartesianProduct", "Window")),
    "q_emb_pq_search" -> (Seq("ObjectHashAggregate"), Seq("Window")),
    "q_emb_ivfpq_search" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    "q_emb_ivfpq_serve" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    // BPE encode: the pieces-to-tokens join must stay an equi-join on term
    // (AQE may pick broadcast or shuffled hash — either is fine; a product
    // or a per-doc window would not be)
    "q_doc_bpe_encode" -> (Seq("Generate"),
      Seq("CartesianProduct", "Window")),
    // drift: two partial-aggregated quantized-sum passes + one equi-join;
    // no window, no product
    "q_emb_drift" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // visual dedup: decode feeds a hash aggregate on the fingerprint; the
    // keep-min join is LeftSemi, never a product
    "q_mm_visual_dedup" -> (Seq("HashAggregate"),
      Seq("CartesianProduct", "Window")),
    // top-k must plan as TakeOrderedAndProject, never a global window
    "q_topk" -> (Seq("TakeOrderedAndProject"), Seq("Window")),
    "q_doc_term_freq" -> (Seq("TakeOrderedAndProject"), Seq("Window")),
    // as-of merge: one partitioned window over the union, no product join
    "q_ts_asof" -> (Seq("Window", "Union"), Seq("CartesianProduct")),
    // sign-LSH blocking must equi-join on the bucket, never cross
    "q_emb_lsh_neardup" -> (Seq(), Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // SemDeDup: centroid assignment broadcasts (small cross is the hinted
    // BNLJ) and its argmax is a partially-aggregated SortAggregate (struct
    // max); the PAIR join must be the cell equi-join, never a product
    "q_emb_semdedup" -> (Seq("SortAggregate"), Seq("CartesianProduct", "Window")),
    // decontamination: the (small) eval shingle set must broadcast into the
    // shingle-keyed join; shingling runs as Generate, never a product join
    "q_doc_decontaminate" -> (Seq("BroadcastHashJoin", "Generate"),
      Seq("CartesianProduct")),
    // packing: per-group sorted collect (ObjectHashAggregate) into the
    // typed O(n) greedy-fill loop (SerializeFromObject — the imperative
    // per-group seam; the Column-fold form was O(n²) per group); no
    // global window anywhere
    "q_doc_pack" -> (Seq("ObjectHashAggregate", "SerializeFromObject"),
      Seq("CartesianProduct", "Window")),
    "q_doc_repetition" -> (Seq("HashAggregate"),
      Seq("CartesianProduct", "Window")),
    "q_doc_stratified_sample" -> (Seq("HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    // bigram counts: k-bounded ranking (TakeOrderedAndProject), with the
    // generator and the count's map-side partial in one pipeline
    "q_doc_bigrams" -> (Seq("TakeOrderedAndProject", "Generate",
      "HashAggregate"), Seq("Window", "CartesianProduct")),
    // centroid stats: partial-aggregated integer sums; shuffle is bounded
    // by partitions × labels × dims, never a sort or window
    "q_emb_centroids" -> (Seq("HashAggregate", "Generate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // redaction: pure codegen'd projection — no shuffle at all before the
    // gate's orderBy (no agg, no join, no window, no exchange mid-plan)
    "q_doc_redact" -> (Seq("Batched: true"),
      Seq("Window", "CartesianProduct", "HashAggregate")),
    // full outer fact-vs-fact reconciliation: both sides stream through a
    // shuffled join (outer sides can't broadcast); the per-key order count
    // is partially aggregated before the exchange
    "q_join_outer" -> (Seq("FullOuter", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // range join: grid blocking must make the interval join an EQUI-join
    // (hash/broadcast on cell+key) — an inequality-only join would plan as
    // a nested-loop product and never finish at scale
    "q_ts_interval_join" -> (Seq("Generate", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // SQ8 search: bounded TopKAgg ranking like the float/PQ paths
    "q_emb_sq8_search" -> (Seq("ObjectHashAggregate"), Seq("Window")),
    "q_emb_bq_search" -> (Seq("ObjectHashAggregate"), Seq("Window")),
    // SQ8 serve: the code-table scan + bounded TopKAgg, never a window
    "q_emb_sq8_serve" -> (Seq("ObjectHashAggregate"), Seq("Window")),
    // privacy audit: ONE map-side-combinable QI-keyed aggregate
    "q_doc_k_anonymity" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // compaction planner: per-partition typed pack loop
    // (SerializeFromObject) + the bin-count semi filter —
    // metadata-scale, never a window
    "q_layout_compaction" -> (Seq("SerializeFromObject", "HashAggregate"),
      Seq("Window", "CartesianProduct")),
    "q_doc_bpe_roundtrip" -> (Seq("ObjectHashAggregate"), Seq("Window")),
    // byte-level BPE: corpus side is Generate (pretoken explode) + joins
    // back; the merge loop runs only on the distinct-pretoken side
    "q_doc_bpe_bytes" -> (Seq("Generate"), Seq("Window", "CartesianProduct")),
    "q_doc_bpe_bytes_roundtrip" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    "q_emb_margin_pairs_i" -> (Seq("BroadcastNestedLoopJoin", "ObjectHashAggregate"),
      Seq("Window")),
    // margin over the SQ8 layout: codes-only broadcast scan both
    // directions (the brute-margin shape on 4×-compressed state),
    // k-bounded TopKAgg, margin tail unchanged
    "q_emb_margin_sq8" -> (Seq("BroadcastNestedLoopJoin", "ObjectHashAggregate"),
      Seq("Window")),
    // margin over the BQ serving layout: persisted-signature Hamming
    // scan both directions, k-bounded pools rerank via broadcast joins
    // back to the float corpus — never a window, never an unhinted
    // product
    "q_emb_margin_bq" -> (Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      Seq("Window", "CartesianProduct")),
    "q_doc_backoff_lm" -> (Seq("BroadcastHashJoin"), Seq("Window", "SortMergeJoin")),
    // peel rounds are node-partitioned windowed degree counts (linear
    // lineage); the forbidden list still rejects an accidental
    // unpartitioned-window or cross-product drift
    "q_graph_kcore" -> (Seq("HashAggregate", "Window"), Seq("CartesianProduct")),
    "q_mm_audio_fp" -> (Seq("HashAggregate"), Seq("Window", "CartesianProduct")),
    "q_doc_unigram_segment" -> (Seq("Generate"), Seq("Window", "CartesianProduct")),
    "q_doc_span_corrupt" -> (Seq("Project"), Seq("Window", "SortMergeJoin")),
    "q_doc_quality_dup" -> (Seq("HashAggregate"), Seq("Window", "CartesianProduct")),
    "q_doc_tokenizer_compare" -> (Seq("HashAggregate"), Seq("Window", "CartesianProduct")),
    "q_emb_margin_ivf_i" -> (Seq("ObjectHashAggregate"), Seq("Window", "CartesianProduct")),
    // margin over the persisted IVF index: loaded cell scan + broadcast
    // probes; the corpus x centroids assignment is build-time, so the
    // serve plan must carry no crossJoin at all
    "q_emb_margin_ivf_serve" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    // deployment-shaped C=64 variant: same serve plan contract
    "q_emb_margin_ivf_serve64" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    // margin over the PQ serving layout: codes scan joins the broadcast
    // LUT; k-bounded TopKAgg per direction; margin tail unchanged
    "q_emb_margin_pq" -> (Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      Seq("Window", "CartesianProduct")),
    // bucket equi-join with the probe frame broadcast (corpus never
    // shuffles); k-bounded TopKAgg selection, never a window sort
    "q_emb_multiprobe" -> (Seq("BroadcastHashJoin", "ObjectHashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // LSH-backed margin: bucket equi-joins both directions (pair work
    // bucket-bounded, the one sub-quadratic margin backend), k-bounded
    // TopKAgg; the margin tail's k·nq-row joins may sort-merge under
    // unknown stats like the other margin gates (same forbid set)
    "q_emb_margin_lsh" -> (Seq("BroadcastHashJoin", "ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    // recall eval: k-bounded searcher outputs joined + counted — the
    // brute reference keeps its broadcast-scan shape, never a window
    "q_emb_ann_recall" -> (Seq("ObjectHashAggregate", "HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // compression-recall eval: three k-bounded searchers (brute truth,
    // sq8 codes, bq ham+rerank) joined + counted, same forbid set
    "q_emb_quant_recall" -> (Seq("ObjectHashAggregate", "HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // truncation-recall eval: three exact brute scans (full, 16, 32
    // dims), all k-bounded TopKAgg — same forbid set
    "q_emb_trunc_recall" -> (Seq("ObjectHashAggregate", "HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // rank metrics: k-bounded retrieval aggs + one query-keyed metric
    // agg; the LUT is in-plan literals, never a log call
    "q_emb_rank_metrics" -> (Seq("ObjectHashAggregate", "HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // calibration: NB score chain + ONE bin-keyed agg; the nBins-row ECE
    // total broadcasts back onto the curve (guard-admitted 1-row cross)
    "q_doc_quality_ece" -> (Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      Seq("Window", "SortMergeJoin")),
    // skew advisor: key-count agg + k-bounded heap + k-row broadcast
    // join back — never a window, never a global sort of the counts
    "q_skew_advisor" -> (Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      Seq("Window", "SortMergeJoin", "CartesianProduct")),
    // join-size advisor: the same plumbing over TWO count tables — the
    // counts equi-join, the k-bounded heap, the k-row broadcast back
    "q_join_size_advisor" -> (Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      Seq("Window", "SortMergeJoin", "CartesianProduct")),
    // Allen relations: pure codegen'd scalar classification — scan only
    "q_ts_allen" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
        "Window", "HashAggregate")),
    "q_emb_cluster_cap" -> (Seq("ObjectHashAggregate"), Seq("Window", "CartesianProduct")),
    "q_emb_bq_serve" -> (Seq("ObjectHashAggregate"), Seq("Window")),
    // serve path scans the bucket-partitioned index (no corpus re-encode)
    // with the probe frame broadcast; k-bounded TopKAgg selection
    "q_emb_lsh_serve" -> (Seq("BroadcastHashJoin", "ObjectHashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    "q_doc_ul2_mixture" -> (Seq("Union"), Seq("Window", "SortMergeJoin")),
    "q_doc_blocklist_scrub" -> (Seq("SerializeFromObject"),
      Seq("Window", "CartesianProduct")),
    "q_doc_unicode_norm" -> (Seq("SerializeFromObject"),
      Seq("Window", "CartesianProduct")),
    "q_doc_url_rules" -> (Seq("BroadcastHashJoin"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // LM typicality: bigram-keyed count + doc-keyed rollup, both partially
    // aggregated; no window, no product join
    "q_doc_lm_score" -> (Seq("HashAggregate", "Generate"),
      Seq("Window", "CartesianProduct")),
    // chunking: pure generate pipeline — no shuffle before the gate sort
    "q_doc_chunk" -> (Seq("Generate", "Batched: true"),
      Seq("Window", "CartesianProduct", "HashAggregate", "SortMergeJoin")),
    // profiler: melt (Generate) + keyed aggregation; the SINGLE
    // count-distinct rewrites as a two-level aggregate — no Expand at all
    // (N distinct counts over the wide frame would Expand every row N×)
    "q_profile" -> (Seq("Generate", "HashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin", "Expand")),
    // ranked retrieval: term filter before the tf agg, df/N broadcast,
    // k-bounded ranking — never a global sort or window
    "q_doc_rank_search" -> (Seq("TakeOrderedAndProject", "HashAggregate"),
      Seq("Window", "SortMergeJoin")),
    // histogram: 1-row boundary frame broadcast into the bucketing pass
    "q_histogram" -> (Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      Seq("Window", "SortMergeJoin")),
    // snapshot upsert: union + argmax aggregate ONLY — the MERGE-join and
    // row_number-window formulations are both forbidden shapes. The
    // struct-max argmax is not hash-aggregable (immutable buffer type) so
    // it plans as SortAggregate — crucially WITH a partial before the
    // exchange (the sort is per-partition; the shuffle carries one row per
    // key per mapper, not history)
    "q_doc_upsert" -> (Seq("Union", "SortAggregate"),
      Seq("Window", "SortMergeJoin", "BroadcastHashJoin", "CartesianProduct")),
    // SCD2 history: two KEY-partitioned windows sharing one
    // hashpartitioning(o_custkey) exchange — per-key histories are short
    // by the CDC contract; never a join, never a global sort before the
    // output orderBy
    "q_cdc_scd2" -> (Seq("Window", "hashpartitioning(o_custkey"),
      Seq("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct")),
    // z-value: pure codegen'd projection — scan + interleave, nothing else
    "q_layout_zvalue" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
        "Window", "HashAggregate")),
    // bloom prefilter: the bits literal rides the task binary into the
    // fact scan filter (might_contain), then the exact semi-join
    "q_join_bloom_prefilter" -> (Seq("might_contain", "Join"),
      Seq("CartesianProduct", "Window")),
    // snapshot diff: ONE union + ONE aggregate (string max plans as
    // SortAggregate WITH a partial before the exchange — the upsert
    // shape) — never an outer join of the two versions
    "q_doc_snapshot_diff" -> (Seq("Union", "SortAggregate"),
      Seq("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
        "Window")),
    // preference pairs: ONE struct-extreme aggregate — struct min/max
    // plans as SortAggregate WITH a partial before the exchange (the
    // q_doc_upsert shape: per-partition sort, one row per group per
    // mapper reaches the shuffle); never a per-group window sort, never
    // a self-join of the pool
    "q_doc_pref_pairs" -> (Seq("SortAggregate"),
      Seq("Window", "SortMergeJoin", "BroadcastHashJoin",
        "CartesianProduct")),
    // win-rate matrix: two-sided explode (Generate) into ONE hash
    // aggregate on the model key — no join, no window, nothing pairwise
    "q_doc_winrate" -> (Seq("Generate", "HashAggregate"),
      Seq("Window", "SortMergeJoin", "BroadcastHashJoin",
        "CartesianProduct")),
    // BT strength: the returned frame is the eager localCheckpoint of the
    // final k-row join (materialized before the pair-stats cache is
    // released), so the visible plan is the checkpoint scan — the
    // per-round chain's shape (pair stats joined against k-row broadcast
    // LocalRelations) is audited by OpsSpec's hand replay instead
    "q_doc_bt_strength" -> (Seq("Scan ExistingRDD"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    // Fleiss kappa: three linear hash aggregates joined at GROUP
    // granularity (groups ≈ languages → broadcast-sized); the item/
    // category rollups never window and never self-join the ratings
    "q_doc_fleiss_kappa" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // best-of-n: k=2 bounded-heap aggregate (ObjectHashAggregate), never
    // a per-group window sort of the candidate pool
    "q_doc_best_of_n" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "SortMergeJoin", "BroadcastHashJoin",
        "CartesianProduct")),
    // rater bias: one item-keyed aggregate joined back onto the ratings
    // (both sides item-partitioned), then one rater-keyed aggregate —
    // linear, no window, nothing pairwise
    "q_doc_rater_bias" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // interleave assignment: ONE doc-keyed equi-join (per-doc bounded
    // images × sentences fan-out) into the struct-min argmin aggregate —
    // SortAggregate WITH a partial before the exchange (the pref_pairs
    // shape); no window, nothing cross-doc
    "q_mm_interleave" -> (Seq("Join", "SortAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // SFT render: conv-keyed running-length window + one grouped agg over
    // the same hashpartitioning(conv) exchange; no join, nothing global
    "q_doc_sft_render" -> (Seq("Window", "hashpartitioning(conv"),
      Seq("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct")),
    // SFT->pack composition: the render chain feeding the shard-keyed
    // typed greedy-fill loop (ObjectHashAggregate for the sorted
    // collect, SerializeFromObject for the O(n) pack) — no join anywhere
    "q_doc_sft_pack" -> (Seq("ObjectHashAggregate", "SerializeFromObject"),
      Seq("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct")),
    // grouped top-k: bounded k-heap aggregation, never a per-group window
    // sort (one hot group would serialize on one task)
    "q_topk_group" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    // MG sketch: capacity-bounded typed Aggregator partials — the one-pass
    // shape for key domains too big to groupBy; never a full count shuffle
    "q_doc_heavy_hitters" -> (Seq("ObjectHashAggregate", "Generate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // k-per-group sampling: bounded k-heap aggregation (the TopKAgg
    // discipline), never a per-group window sort
    "q_doc_group_sample" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // mixture resampling: strata thresholds broadcast back onto the ONE
    // corpus scan; no wide shuffle of the docs at all
    "q_doc_mixture" -> (Seq("BroadcastHashJoin", "HashAggregate"),
      Seq("Window", "SortMergeJoin", "CartesianProduct")),
    // negative sampling: projection + 1-row count broadcast + explode —
    // the corpus is never shuffled
    "q_sample_negatives" -> (Seq("Generate"),
      Seq("Window", "SortMergeJoin", "CartesianProduct")),
    // drift: stratum-bounded aggregates; the vocab join is term-keyed —
    // never a product, never a window
    "q_doc_drift" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // end-to-end curation pipeline: dedup semi-join + quality projection +
    // split + summary compose into ONE plan — no window, no product, no
    // intermediate materialization
    "q_doc_pipeline" -> (Seq("LeftSemi", "HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // BPE pair stats: corpus touched once (word-freq agg); pair counting
    // runs on the vocab table; k-bounded ranking
    "q_doc_bpe_pairs" -> (Seq("TakeOrderedAndProject", "Generate",
      "HashAggregate"), Seq("Window", "CartesianProduct")),
    // expectations audit: N rules = ONE aggregate over ONE scan (1-row
    // partials), melted by a Generate over literals — never N passes
    "q_expectations" -> (Seq("HashAggregate", "Generate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin", "Union")),
    // salted join: the salt only matters in the sort-merge shape (hinted),
    // with the right side replicated by an in-stage Generate — and the
    // post-join agg still partially aggregates before its exchange
    "q_join_salted" -> (Seq("SortMergeJoin", "Generate", "HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // exact-substring spans: linear Generate into a grouped distinct count
    // (two-level aggregate, no Expand) with k-bounded ranking — no doc
    // pair ever joins
    "q_doc_dup_spans" -> (Seq("Generate", "TakeOrderedAndProject",
      "HashAggregate"), Seq("Window", "CartesianProduct", "Expand")),
    // span coverage: the win-keyed self-join must stay equi (hash/SMJ both
    // fine at this size) — never a product, never a per-doc window
    "q_doc_dup_coverage" -> (Seq("Generate", "HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // audio energy: typed mapPartitions at the codec seam, a pure linear
    // pipeline — no join, no agg, no window before the gate sort
    "q_mm_audio_energy" -> (Seq("MapPartitions"),
      Seq("Window", "CartesianProduct", "HashAggregate", "SortMergeJoin")),
    // audio quality: same codec-seam shape plus the in-row verdict algebra
    "q_mm_audio_quality" -> (Seq("MapPartitions"),
      Seq("Window", "CartesianProduct", "HashAggregate", "SortMergeJoin")),
    // recall eval: both searchers keep their bounded TopKAgg shape and the
    // truth/approx join is equi on (query, vec) — never a product/window
    "q_emb_recall_ivf" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct")),
    // pagerank: every round is equi-join + partial-aggregated groupBy on
    // node keys; no product, no window, no nested loop anywhere in the
    // iteration chain
    // triangles: degree agg + oriented wedge equi-join + closing
    // left-semi — node-keyed shuffles only, no product; the wedge
    // self-join may legally shuffle (SMJ) on a corpus-scale graph
    "q_graph_triangles" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
    "q_graph_pagerank" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // LPA: per-round join + count + argmax aggregates, node-keyed — the
    // pageRank shape; never a per-node window, never a product
    "q_graph_label_prop" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // hybrid retrieval: the dense stage must broadcast the k-bounded
    // lexical candidates into the embeddings join (never shuffle the
    // embedding table), and both rankings stay k-bounded
    "q_doc_hybrid_search" -> (Seq("BroadcastHashJoin",
      "TakeOrderedAndProject"), Seq("Window", "CartesianProduct",
      "SortMergeJoin")),
    // PQ reconstruction error: codebooks broadcast onto the code frame;
    // the trainer's argmin stays an aggregate — no window, no product
    // r16: trainer + reconstruction fused into a zero-join projection
    // (codes re-derived in-row against the literal codebooks)
    "q_emb_pq_error" -> (Seq("Batched: true"),
      Seq("Window", "CartesianProduct", "Join")),
    // OOV rate: the k-row vocab broadcasts into the token stream's left
    // join — the corpus tokens are never shuffled for the membership test
    "q_doc_oov" -> (Seq("Generate", "HashAggregate", "BroadcastHashJoin"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // temperature mixture: like q_doc_mixture — strata thresholds
    // broadcast back onto the ONE corpus scan, corpus never shuffled
    "q_doc_temp_mixture" -> (Seq("BroadcastHashJoin", "HashAggregate"),
      Seq("Window", "SortMergeJoin", "CartesianProduct")),
    // interval merge: ONE key-partitioned window (running max) + one hash
    // agg — the window is the operator here, but never a join or product
    "q_ts_interval_merge" -> (Seq("Window", "HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    // fused signal export: one scan, one codegen'd projection — every
    // signal in a single pass, no shuffle at all before the gate sort
    "q_doc_signals" -> (Seq("Batched: true"),
      Seq("Window", "CartesianProduct", "HashAggregate", "SortMergeJoin",
        "Exchange hashpartitioning")),
    // EWMA: ONE key-partitioned window carries all 16 lag slots (the
    // window IS the operator); no join, no product, no extra exchange
    "q_ts_ewma" -> (Seq("Window"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "HashAggregate")),
    // token budget: one stratum-partitioned window cumsum on a pruned
    // 3-column scan — no join at all, no aggregate before the gate sort
    "q_doc_token_budget" -> (Seq("Window", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "HashAggregate")),
    // RRF fusion: both candidate stages k-bounded (TakeOrdered), rank
    // windows run on post-limit ≤k frames. The FULL-OUTER fusion join
    // cannot broadcast (outer on both sides) so it plans as SMJ — over
    // two ≤kCand-row frames, which is the bounded-by-construction case
    // where a sort join is fine at any corpus size
    "q_doc_rrf_search" -> (Seq("TakeOrderedAndProject", "FullOuter"),
      Seq("CartesianProduct")),
    // length bins: two aggregates + a 1-row cutoff frame broadcast back
    // onto the scan (the q_histogram shape) — never a global ntile window
    "q_doc_length_bins" -> (Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // Matryoshka: prefix ranking keeps the bounded TopKAgg shape and the
    // full-dim rescore broadcasts the k winners back onto the one corpus
    // scan — never a window, never a shuffled join
    "q_emb_matryoshka" -> (Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      Seq("Window", "SortMergeJoin", "CartesianProduct")),
    // split overlap (r17): shingle Generate → ONE vocabulary-keyed
    // bit_or presence-mask aggregate → constant-size mask arithmetic —
    // no join of any kind (the former shingle-keyed self-join re-scanned
    // and re-shuffled the shingle universe 4x), never a product/window
    "q_doc_split_overlap" -> (Seq("Generate", "HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin",
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")),
    // consecutive dedup: ONE key-partitioned lag window, no join/agg
    "q_ts_dedup_consecutive" -> (Seq("Window"),
      Seq("CartesianProduct", "SortMergeJoin", "HashAggregate",
        "BroadcastNestedLoopJoin")),
    // funnel: per-user min aggregates chained by user-keyed equi-joins —
    // no window, no product, no per-stage re-scan beyond the type filters
    "q_ts_funnel" -> (Seq("HashAggregate", "Union"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // cohort retention: two keyed aggregates + distinct, cohort sizes
    // joined back — integer math, no window
    "q_ts_cohort" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin")),
    // survivor selection: the keeper argmax is a struct-max aggregate
    // (partial before the exchange, the q_doc_upsert discipline) — never
    // a per-cluster window sort of the clustered docs
    "q_doc_dedup_survivors" -> (Seq("SortAggregate"),
      Seq("Window", "CartesianProduct")),
    // PMI collocations: two linear token aggregates, term-keyed unigram
    // joins, 1-row totals broadcast, k-bounded ranking — no libm in the
    // score, no window, no product beyond the scalar broadcasts
    "q_doc_pmi" -> (Seq("TakeOrderedAndProject", "HashAggregate",
      "Generate"), Seq("Window")),
    // exact split: one rank window per stratum (the tokenBudget shape) +
    // the summary aggregate — no join at all
    "q_doc_exact_split" -> (Seq("Window", "HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    // hard negatives: the knn_brute shape — broadcast queries into the
    // scan (the hinted BNLJ), ceiling filter BEFORE the bounded TopKAgg;
    // never a per-query window sort
    "q_emb_hard_negatives" -> (Seq("BroadcastNestedLoopJoin",
      "ObjectHashAggregate"), Seq("SortMergeJoin", "Window")),
    // coverage audit: id-keyed full outer (fact-vs-fact — can't
    // broadcast) + one tiny status aggregate; never a product
    "q_emb_coverage" -> (Seq("FullOuter", "HashAggregate"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
    // weekly bands: ONE grouped percentile aggregate (typed buffers →
    // ObjectHashAggregate), groups bounded by types × weeks; no join
    "q_ts_weekly_bands" -> (Seq("ObjectHashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // winsorize: cutoffs from one grouped percentile agg broadcast back
    // onto the scan; cutoffs are ceil-rank order statistics over the
    // DISTINCT-cents table (value-domain-bounded, so its cumulative
    // window is metadata-sized — the Rank.scala discipline), broadcast
    // back; the clip + micro-sum is one hash aggregate over the scan
    "q_ts_winsorize" -> (Seq("HashAggregate", "BroadcastHashJoin", "Window"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // gap profile: one key-partitioned lag window + one grouped
    // percentile aggregate
    "q_ts_gaps" -> (Seq("Window", "ObjectHashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    // keywords: the rank window partitions by doc_id (bounded per group
    // by the doc's own distinct terms — the scale-safe window case);
    // df/N broadcast; never a product
    "q_doc_keywords" -> (Seq("Window", "HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // dim stats: one Generate + ONE dims-bounded aggregate carrying
    // (n, Σq, Σq², min, max) partials — no join, no window
    "q_emb_dim_stats" -> (Seq("Generate", "HashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // confusion matrix: two keyed aggregates, row totals broadcast back
    "q_doc_lang_confusion" -> (Seq("HashAggregate", "BroadcastHashJoin"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // downsample-last: ONE struct-max argmax aggregate (map-side
    // partials; the q_doc_upsert discipline) — never a per-bucket window
    "q_ts_downsample_last" -> (Seq("SortAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // fertility: count-space projection into a languages-sized aggregate;
    // no join, no window, nothing but the scan and one partial agg
    "q_doc_fertility" -> (Seq("HashAggregate", "Batched: true"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // per-source quality ranking: the rank window IS the operator (keyed
    // by source); no join, no product anywhere
    "q_doc_quality_norm" -> (Seq("Window"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "HashAggregate")),
    // sentence stats: pure codegen'd projection (array algebra in-row) —
    // no shuffle at all before the gate sort
    "q_doc_sentences" -> (Seq("Batched: true"),
      Seq("Window", "CartesianProduct", "HashAggregate", "SortMergeJoin")),
    // vocab growth: explode → shingle-keyed partial agg; the max-id is a
    // 1-row broadcast (hinted BNLJ); the cumsum window runs on 10 rows
    "q_doc_vocab_growth" -> (Seq("Generate", "HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // novelty: explode → first-seen agg, re-joined on the shingle key —
    // equi only (hash or SMJ both fine), never a product or a window
    "q_doc_ngram_novelty" -> (Seq("Generate", "HashAggregate"),
      Seq("CartesianProduct", "Window", "BroadcastNestedLoopJoin")),
    // embargo split: 2-long span reduce broadcast back (hinted BNLJ) over
    // one scan + one grouped agg; never a product or window
    "q_ts_embargo_split" -> (Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // autocorr: the (user,type)-keyed lag window feeds a partial-agg
    // reduce; no join anywhere
    "q_ts_autocorr" -> (Seq("Window", "HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    // label margin: centroid build is partial-aggregated; the L-centroid
    // broadcast is the hinted BNLJ; both argmax layers stay aggregates —
    // never a per-vector window
    "q_emb_label_margin" -> (Seq("BroadcastNestedLoopJoin"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // recall eval: both pair screens keep their equi-join shapes; the
    // pair-key join is equi — never a product
    "q_doc_simhash_recall" -> (Seq("HashAggregate"),
      Seq("CartesianProduct", "Window")),
    // lang mismatch: one scan into a source-sized aggregate; no join
    "q_doc_lang_mismatch" -> (Seq("HashAggregate", "Batched: true"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // boilerplate: fingerprint projection + one partial-agg count
    "q_doc_boilerplate" -> (Seq("HashAggregate", "Batched: true"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // burst detect: hourly rollup BEFORE the range window (the window
    // runs over types×hours, never raw events); no join anywhere
    "q_ts_burst_detect" -> (Seq("HashAggregate", "Window"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    // dup inflation: two linear corpus passes joined on the SOURCES-sized
    // key (broadcast); the corpus never joins a corpus-sized keep table,
    // and the keeper argmin is one struct-min aggregate — no window
    "q_doc_dup_inflation" -> (Seq("HashAggregate", "BroadcastHashJoin"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // seasonality: one 168-cell partial-agg pass, nothing else
    "q_ts_dow_profile" -> (Seq("HashAggregate", "Batched: true"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // rate limit: two nested keyed aggregates, no join/window
    "q_ts_rate_limit" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // cross-modal consistency: LSH pair screen keeps its equi shapes;
    // embedding lookups are id-keyed equi-joins — never a product
    "q_emb_dup_consistency" -> (Seq("Generate"),
      Seq("CartesianProduct", "Window", "ObjectHashAggregate")),
    // stopword induction: per-doc-distinct explode → term-keyed partial
    // agg; the 1-row corpus count is the hinted BNLJ broadcast
    "q_doc_stopword_induce" -> (Seq("Generate", "HashAggregate",
      "BroadcastNestedLoopJoin"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    // value drift: baseline deciles and per-half totals both broadcast
    // back over grouped passes; the raw stream shuffles only for its
    // keyed counts — never a window, never a product
    "q_ts_value_drift" -> (Seq("ObjectHashAggregate", "HashAggregate"),
      Seq("CartesianProduct", "Window", "SortMergeJoin")),
    // event trigrams: the lead window partitions per user (one user's
    // stream per group); ranking is k-bounded TakeOrdered
    "q_ts_event_trigrams" -> (Seq("Window", "TakeOrderedAndProject",
      "HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    // ppl buckets: the tercile cutoffs are a langs-sized broadcast back
    // over the scored frame; lang rides the doc key through the bigram
    // aggregate (no second corpus join); never a window
    "q_doc_ppl_buckets" -> (Seq("ObjectHashAggregate", "Generate"),
      Seq("CartesianProduct", "Window")),
    // quality-length correlation: one scan, one 1-row reduce — nothing
    // else is acceptable for a corpus-wide statistic
    "q_doc_quality_len_corr" -> (Seq("HashAggregate", "Batched: true"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin", "Generate")),
    // norm stats: in-row fold + labels-sized partial aggregate
    "q_emb_norm_stats" -> (Seq("HashAggregate", "Batched: true"),
      Seq("Window", "CartesianProduct", "SortMergeJoin", "Generate")),
    // attribution: both argmaxes ride ONE struct-aggregate pass (the
    // q_doc_upsert partial-before-exchange discipline); no window
    "q_ts_attribution" -> (Seq("SortAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin",
        "BroadcastNestedLoopJoin")),
    // grouping sets: one Expand + one aggregate — never three passes
    "q_grouping_sets" -> (Seq("Expand", "HashAggregate"),
      Seq("Window", "CartesianProduct", "Union", "SortMergeJoin")),
    // lifecycle: count-distinct rewrites as a two-level agg, no Expand
    "q_ts_lifecycle" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin", "Expand")),
    // power users: partial-agg count + k-bounded ranking + 1-row
    // broadcast — never a global sort of the user table
    "q_ts_power_users" -> (Seq("TakeOrderedAndProject", "HashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // stitch pairs: equi-join on the trigram key only
    "q_doc_stitch_pairs" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "Window", "BroadcastNestedLoopJoin")),
    // cos calibration: the LSH bucket equi-join + one 1-row percentile
    // reduce — never a product, never a window
    "q_emb_cos_calibration" -> (Seq("ObjectHashAggregate"),
      Seq("CartesianProduct", "Window", "BroadcastNestedLoopJoin")),

    // ---- bulk audit extension (r7): every remaining registered query,
    // expectations derived from the reviewed sf0.001 executed plans.
    // must = the load-bearing nodes observed (broadcast dims, generates,
    // partial aggs, batched scans, pushed filters); mustNot = the
    // pathological shapes absent from the reviewed plan (products,
    // big-big sort-merge, nested-loop, accidental global windows)
    "q_approx_sketch" -> (Seq("HashAggregate", "ObjectHashAggregate", "SortAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_case_bucket" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_cube_agg" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_distinct" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_bloom_decontaminate" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_bpe_pack" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "ObjectHashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_cardinality" -> (Seq("Generate", "HashAggregate", "ObjectHashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_contrastive" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "Window", "ObjectHashAggregate")),
    "q_doc_dedup_clusters" -> (Seq(),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // soft dedup weighting: cluster-size agg + one corpus left join
    // against the dup-bounded cluster map — never a window
    "q_doc_dedup_weights" -> (Seq("HashAggregate"),
      Seq("CartesianProduct", "Window")),
    // SNM-fed soft dedup: the blocking stage's partitioned rank window
    // sits BEHIND the components materialization boundary (persist +
    // checkpoint bounds lineage), so the audited final plan is the same
    // join/agg shape as the LSH-fed gate — the SNM plan itself is pinned
    // by q_doc_sorted_neighborhood
    "q_doc_snm_weights" -> (Seq("HashAggregate"),
      Seq("CartesianProduct", "Window")),
    // b-bit minhash: register aggregator + banded value-equality join,
    // sketch compare in-row — no window, no product
    "q_doc_bbit_minhash" -> (Seq("Generate"),
      Seq("CartesianProduct", "Window", "ObjectHashAggregate")),
    // CMS: d·w-bounded counter agg (map-side partials) + broadcast
    // sketch probe; top-k exact side is TakeOrderedAndProject — no
    // window, no product
    "q_doc_cms_freq" -> (Seq("HashAggregate", "BroadcastHashJoin",
      "TakeOrderedAndProject"),
      Seq("CartesianProduct", "Window")),
    // AMS F2: signs fold in-row (posexplode), Z sums + block means are
    // hash aggregates; the s2-long median folds per group — no window,
    // no join wider than the 4-row exact-F2 comparison
    "q_doc_ams_f2" -> (Seq("HashAggregate", "Generate"),
      Seq("CartesianProduct", "Window")),
    // exact percentiles: partitioned rank window + broadcast target
    // ranks; the only unpartitioned window runs over the bucket-count
    // table (B rows), never the data
    "q_doc_exact_percentile" -> (Seq("Window", "BroadcastHashJoin"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // grouped percentiles: every window is partitioned — ranks by
    // (group, bucket), offsets by group over the tiny counts table
    "q_doc_group_percentile" -> (Seq("Window", "BroadcastHashJoin",
      "hashpartitioning(g"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // weighted percentiles: same partitioned-window discipline; the
    // target lookup is a broadcast join with the interval filter
    "q_doc_wgt_percentile" -> (Seq("Window", "BroadcastHashJoin",
      "hashpartitioning(g"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // quantile sketch: k-bounded sample aggregator (ObjectHashAggregate,
    // never a window on the SKETCH side) + the exact-percentile
    // calibration chain (whose windows are all partitioned)
    "q_doc_quantile_sketch" -> (Seq("ObjectHashAggregate",
      "BroadcastHashJoin"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // warm quantile serve: persisted-sample scans + the k-bounded merge
    // agg — no text/tokenize at query time, never a window
    "q_doc_quantile_serve" -> (Seq("ObjectHashAggregate", "Union"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // KMV sketch: k-bounded typed aggregator + the exact-count
    // comparison agg — no distinct shuffle of raw keys on the sketch
    // side, no window
    "q_doc_kmv_distinct" -> (Seq("ObjectHashAggregate"),
      Seq("CartesianProduct", "Window")),
    // HLL sketch: plain codegen'd hash aggs (register max, harmonic
    // fold) — m-bounded rows per group after the first agg, no typed
    // aggregator needed, no distinct shuffle of raw keys, no window
    "q_doc_hll_distinct" -> (Seq("HashAggregate"),
      Seq("CartesianProduct", "Window", "ObjectHashAggregate")),
    // incremental HLL serve: stored registers SCANNED (not rebuilt) +
    // the batch registers, merged by one register-max agg — history is
    // never re-shingled
    "q_doc_hll_serve" -> (Seq("HashAggregate", "Union"),
      Seq("CartesianProduct", "Window", "ObjectHashAggregate")),
    // warm serve: NOTHING but register scans + the merge/estimate aggs —
    // a Generate (shingle explode) in this plan means the cache split
    // regressed and the gate is re-reading text
    "q_doc_hll_serve_warm" -> (Seq("HashAggregate", "Union"),
      Seq("Generate", "CartesianProduct", "Window", "ObjectHashAggregate")),
    // theta overlap: two sketch aggs joined on lang + set-algebra
    // projection; exact-intersect comparison agg — no window
    "q_doc_kmv_overlap" -> (Seq("ObjectHashAggregate"),
      Seq("CartesianProduct", "Window")),
    // sorted neighborhood: the rank window is PARTITIONED by prefix
    // bucket — "Window [partitionBy bucket]" would be ideal to grep but
    // the formatted plan doesn't name specs; the PartitionBy exchange is
    // hashpartitioning(bucket), and the output orderBy is the only range
    // exchange. Offsets broadcast; pairing is an equi-join on rank
    "q_doc_sorted_neighborhood" -> (Seq("Window", "BroadcastHashJoin",
      "hashpartitioning(bucket"),
      Seq("CartesianProduct")),
    // priority sampling: per-partition top-(k+1) partials merge in
    // TakeOrderedAndProject; boundary stats broadcast back — no window,
    // no global sort of the population
    "q_doc_priority_sample" -> (Seq("TakeOrderedAndProject"),
      Seq("SortMergeJoin", "Window", "Exchange rangepartitioning")),
    // overlap matrix: ONE corpus sketch agg, then the m-row pair stage
    // as a broadcast non-equi self-join — never a corpus-sized join
    "q_doc_kmv_matrix" -> (Seq("ObjectHashAggregate",
      "BroadcastNestedLoopJoin"),
      Seq("SortMergeJoin", "Window")),
    // BM25: linear token aggs, broadcast df/stats, k-bounded ranking
    "q_doc_bm25" -> (Seq("HashAggregate", "TakeOrderedAndProject"),
      Seq("Window", "SortMergeJoin")),
    "q_doc_dedup_exact" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_edit_distance" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window", "ObjectHashAggregate")),
    "q_doc_hash_split" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_incremental_dedup" -> (Seq(),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // fuzzy cross-corpus decontamination: localCheckpoint boundary like
    // q_emb_kmeans (the Scoped cache is released inside the gate); the
    // underlying chain is pinned by its OpsSpec + the in-corpus LSH gates
    "q_doc_fuzzy_decontaminate" -> (Seq(),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // winnowing: in-row hash/select projection, then the fp-keyed pair
    // join (equi-join + two aggs — never a product); df-cap semi-join
    "q_doc_winnow_pairs" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
    // CDC chunking: in-row boundary scan + chunk explode, then the
    // fp-spread agg and doc rollup (the TF-IDF two-shuffle shape)
    "q_doc_cdc_chunks" -> (Seq("Generate", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
    // chunk-store serve: manifest ⋈ chunks equi-join + one doc-keyed
    // ordered-stitch aggregate (ObjectHashAggregate collect_list) over
    // the persisted layout — no product, no window
    "q_doc_chunk_serve" -> (Seq("ObjectHashAggregate", "Batched: true"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_jaccard_pairs" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "ObjectHashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // containment: shingle-keyed self-join over the df-capped universe +
    // pair-count agg (the decontaminate shape turned self-join)
    "q_doc_containment" -> (Seq("Generate", "HashAggregate",
        "Batched: true"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_langid" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // WARC parsing: pure in-row string algebra — no join, no shuffle,
    // no UDF; the whole parse stays in one codegen stage
    "q_doc_warc" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate")),
    // sitemap parse: in-row regex grammar + posexplode (Generate) — no
    // join, no agg, no window; entry order carried by pos, not a sort
    "q_doc_sitemap" -> (Seq("Batched: true", "Generate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate")),
    // robots group parse: the line fold + group algebra are ONE in-row
    // projection + posexplode — no join, no agg, no window
    "q_doc_robots" -> (Seq("Generate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate")),
    // crawl frontier composition: the rules dim broadcasts into the
    // prefix-explosion join; the verdict-to-urls join is corpus×corpus
    // keyed by doc_id (a shuffle join IS the right plan — not pinned
    // away); frontier ranking is the k-bounded TopKAgg, never a
    // per-domain window sort
    "q_doc_crawl_frontier" -> (Seq("BroadcastHashJoin",
      "ObjectHashAggregate"),
      Seq("CartesianProduct", "Window")),
    // WARC→WET composition: parse + body slice + strip chain, still one
    // in-row stage end to end
    "q_doc_warc_wet" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate")),
    // learned langid: vocab×L completion is a broadcast nested-loop of
    // two CAPPED tables (never the corpus); scorer joins broadcast,
    // argmax is the L-bounded collect_list fold — no window
    "q_doc_langid_clf" -> (Seq("HashAggregate", "BroadcastHashJoin",
      "ObjectHashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    "q_doc_mask" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_quality" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_quality_clf" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "TakeOrderedAndProject", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_rolling_fp" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_search" -> (Seq("Generate", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_search_serve" -> (Seq("HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_shingle_stats" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // within-doc line dedup: pure in-row Column algebra — scan + project
    // only, no join and no aggregate anywhere in the plan
    "q_doc_selfrep_dedup" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // URL canonicalization: zero-shuffle regex/HOF projection
    "q_doc_url_canon" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // provenance audit: the pipeline's own keeper aggregate + one
    // nested-CASE projection — no window, no product
    "q_doc_pipeline_audit" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct")),
    // chunk-store build: one grouped aggregate over the written layout
    "q_doc_chunk_build" -> (Seq("HashAggregate"),
      Seq("Window", "CartesianProduct", "SortMergeJoin")),
    // PSL registered domain: the rule table rides IN the expression —
    // zero-shuffle in-row projection, no join against a suffix table
    "q_doc_psl_domain" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // full vendored table: same zero-shuffle in-row shape — rule-table
    // size lives inside the expression, never in the plan
    "q_doc_psl_full" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // rendezvous routing: shards-many md5 probes folded in-row by
    // greatest — zero shuffle, zero join, no per-doc weight explode
    "q_doc_rendezvous_shard" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // host stats: one linear aggregate keyed by registered domain (the
    // two countDistincts plan as Expand + partial aggregates), no join
    "q_doc_host_dedup" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window")),
    // deflate ratio: ONE typed mapPartitions seam (zlib is not a
    // Catalyst expression) over a pure generator projection — no join,
    // no agg, no window before the output sort
    "q_doc_compress_ratio" -> (Seq("MapPartitions", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // char n-gram repetition: in-row gram transform + two partial aggs
    "q_doc_char_ngrams" -> (Seq("Generate", "HashAggregate",
        "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "BroadcastHashJoin")),
    // cross-doc segment dedup: posexplode + segment-keyed argmin agg +
    // join back + doc-keyed stitch — linear; the back-join may legally be
    // a shuffle join at scale (canon is corpus-sized), so only products
    // and windows are forbidden
    "q_doc_crossdoc_dedup" -> (Seq("Generate", "HashAggregate",
        "ObjectHashAggregate", "Batched: true"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
    // C4 line rewrite: pure in-row Column algebra like selfrep — scan +
    // project only, no join/agg/window anywhere
    "q_doc_line_filter" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // HTML strip: a fixed regexp_replace/replace chain, pure in-row
    // projection — no join/agg/window anywhere
    "q_doc_html_strip" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // encoding-noise profile: codepoint-class counts, pure in-row
    // projection — no join/agg/window anywhere
    "q_doc_mojibake" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // readability: vowel-run/terminal-run counts, pure in-row projection
    "q_doc_readability" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // Gopher rule battery: token/line HOF folds, pure in-row projection
    "q_doc_gopher_rules" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // per-domain cap: the domain-partitioned row_number Window is the
    // ONE wide op (the epochOrder discipline) — no joins, no products
    "q_doc_domain_cap" -> (Seq("Window", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "BroadcastHashJoin")),
    // segment near-dup: distinct-seg agg + simhash Aggregator + banded
    // self-join — the simhash_pairs shapes, re-keyed on segments
    "q_doc_seg_neardup" -> (Seq("BroadcastHashJoin", "Generate",
        "HashAggregate", "ObjectHashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window")),
    // domain boilerplate: (domain, segment) distinct-count agg + a
    // broadcast join of the domain-bounded totals — no SMJ/product/window
    "q_doc_domain_boilerplate" -> (Seq("Generate", "HashAggregate",
        "BroadcastHashJoin", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window")),
    // domain clean: the profile chain + broadcast template probe + one
    // doc-keyed stitch agg (ObjectHashAggregate for the collect_list)
    "q_doc_domain_clean" -> (Seq("Generate", "HashAggregate",
        "ObjectHashAggregate", "BroadcastHashJoin", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window")),
    // DSIR: two linear explode+agg passes build the bucket-bounded ratio
    // table (broadcast, incl. the 1-row totals as BNLJ); the corpus pass
    // is explode + broadcast join + doc-keyed agg — no SMJ, no window
    "q_doc_dsir" -> (Seq("Generate", "HashAggregate", "BroadcastHashJoin",
        "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    // DSIR resampling composition: the weight chain + score join-back +
    // hash-bucket filter + lang rollup; scores join corpus-sized at
    // 100 TB, so a shuffle join there is legal
    "q_doc_dsir_sample" -> (Seq("Generate", "HashAggregate",
        "BroadcastHashJoin", "Batched: true"),
      Seq("CartesianProduct", "Window")),
    // blocklist: ONE broadcast left-anti join, corpus never shuffles
    "q_doc_domain_block" -> (Seq("BroadcastHashJoin", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate")),
    // token mixture: strata-bounded token sums broadcast back (1-row
    // total rides a BNLJ), then ONE per-stratum window cumsum
    "q_doc_token_mixture" -> (Seq("Window", "HashAggregate",
        "BroadcastHashJoin", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin")),
    // epoch order: the per-shard row_number window is the operator's one
    // wide op (shard-bounded sort, the tokenBudget discipline); no joins
    "q_doc_epoch_order" -> (Seq("Window", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "BroadcastHashJoin")),
    "q_doc_simhash_pairs" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window", "ObjectHashAggregate")),
    "q_doc_span_dedup" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "ObjectHashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_span_filter" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // boundary-exact variant: same linear explode + window-keyed agg shape
    // as span_dedup, only the window grid densifies (stride 1)
    "q_doc_span_exact" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "ObjectHashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_tfidf" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    "q_doc_token_count" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_doc_weighted_sample" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_emb_dedup_clusters" -> (Seq(),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // JL knn: projection is in-row (no shuffle before the broadcast
    // cross of 3 queries); ranking is the bounded TopKAgg, never a window
    "q_emb_jl_knn" -> (Seq("BroadcastNestedLoopJoin", "ObjectHashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    // JL distortion: pair sample via the vec_id-bounded self-join (25-row
    // broadcast side), percentile reduce -- no window, no big-big join
    "q_emb_jl_distortion" -> (Seq("HashAggregate", "BroadcastNestedLoopJoin"),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    // JL x IVF: reduced-space assignment/probe/scan -- argmax is the
    // partially-aggregated struct-max (SortAggregate), ranking the bounded
    // TopKAgg; no window over the scored corpus, no product
    "q_emb_jl_ivf" -> (Seq("ObjectHashAggregate", "SortAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    "q_emb_ivf_assign" -> (Seq("HashAggregate", "SortAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    // ICP curriculum: broadcast cell assignment (argmax agg, no window)
    // + ONE cell-keyed shuffle into the bounded per-cell chain
    // (MapGroups) — no global sort before the output orderBy, no window
    // anywhere, no doc×doc join
    "q_doc_icp_order" -> (Seq("MapGroups", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    "q_emb_kmeans" -> (Seq(),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // power iteration: localCheckpoint boundary like q_emb_kmeans; the
    // per-round shape (posexplode + dim-keyed agg) is the kmeans one
    "q_emb_top_component" -> (Seq(),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // all-but-the-top knn: localCheckpoint boundary (trainer + search
    // composed in-gate; the serving shape is pinned by q_emb_knn_brute)
    "q_emb_abtt_knn" -> (Seq(),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // log2 histogram: one linear hash aggregate, no join/window
    "q_ts_exp_histogram" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "BroadcastHashJoin")),
    "q_emb_neardup" -> (Seq("BroadcastHashJoin", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_emb_pq" -> (Seq(),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window")),
    "q_isin_filter" -> (Seq("HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_join_anti" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_decode" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_decode_png" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_decode_wav" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_frames" -> (Seq("Generate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_headers" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // TIFF IFD walk: endian-aware bounded entry scan, pure projection —
    // no join, no agg, no window
    "q_mm_tiff" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate")),
    // JPEG SOF walk: a bounded per-row fold — still a pure projection
    "q_mm_jpeg" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // ViT patch features: decode + tile at the codec seam (typed
    // flatMap) — no join/agg/window anywhere
    "q_mm_patches" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // GIF sniff: fixed-offset LE parse, pure projection
    "q_mm_gif" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // WEBP RIFF sniff: fixed-offset LE parse, three fourcc grammars in
    // one pure projection — no join/agg/window
    "q_mm_webp" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // MP4 box walk: bounded per-row fold + one nested probe — projection
    "q_mm_mp4" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // MP4 frame index: the typed mapPartitions walk (mp4ParseIndex seam
    // — assemble + walk once per doc; the seam's opaque node replaces
    // the old checkpoint barrier) feeds projection + one Generate over
    // the k-bounded sample array, zero shuffle before the output sort
    "q_mm_frame_index" -> (Seq("MapPartitions", "Generate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // frame dedup: seam index walk + explode + ONE fp-keyed
    // aggregate (map-side combined); no joins, no window
    "q_mm_frame_dedup" -> (Seq("MapPartitions", "Generate",
        "HashAggregate"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window")),
    // source divergence: one linear token-count shuffle + k-bounded
    // vocab + metadata-sized broadcast grid/pair joins (the hinted
    // cross product over groups x vocab is catalog-bounded BNLJ)
    "q_doc_source_divergence" -> (Seq("HashAggregate",
        "BroadcastHashJoin", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "Window")),
    // pad-waste: two group-partitioned rank windows + bounded aggs +
    // a groups-sized join — no product, no global sort
    "q_doc_pad_waste" -> (Seq("Window", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "BroadcastNestedLoopJoin")),
    // IBAN scan: token filter + mod-97 fold + replace fold, in-row
    "q_doc_iban_scrub" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // Luhn scan: regex extract + integer fold + replace fold, in-row
    "q_doc_luhn_scrub" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // script profile: codepoint-class counts, pure in-row projection
    "q_doc_script_mix" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // token-loop profile: slice-equality folds, pure in-row projection
    "q_doc_token_loops" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    // phrase query: containment screen + slice verify — scan + filter +
    // project only (the indexed screen variant is pinned by
    // q_doc_search_serve); no join/agg/window anywhere
    "q_doc_phrase_search" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin",
        "Window", "HashAggregate", "BroadcastHashJoin")),
    "q_mm_incremental_dedup" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    // band self-join: its build side is the unflagged banded rows, which
    // broadcast at sf0.001; a SortMergeJoin here means the hot-flag outer
    // joins' (product-of-children) size estimate has reached the self-join
    "q_mm_perceptual_dedup" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_pipeline" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_resample_wav" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_resize" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_resize_nn" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_mm_wav" -> (Seq("Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_percentile" -> (Seq("HashAggregate", "ObjectHashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_pivot_agg" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_rollup_agg" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_scalar_datetime" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_scalar_string" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_set_except" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_set_intersect" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_set_union" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_skew_salted_agg" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_sql_api" -> (Seq("HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_stats_agg" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_combine_mean" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_combine_median" -> (Seq("BroadcastHashJoin", "HashAggregate", "ObjectHashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_combine_sum" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_ffill" -> (Seq("BroadcastHashJoin", "MapPartitions", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window", "ObjectHashAggregate")),
    "q_ts_interpolate" -> (Seq("BroadcastHashJoin", "MapPartitions", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window", "ObjectHashAggregate")),
    "q_ts_interval_expand" -> (Seq("BroadcastHashJoin", "Generate", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_json_extract" -> (Seq("HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_robust_z" -> (Seq("BroadcastHashJoin", "HashAggregate", "ObjectHashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_rolling" -> (Seq("Window", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    "q_ts_rolling_range" -> (Seq("Window", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    "q_ts_sessionize" -> (Seq("Window", "HashAggregate", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    "q_ts_trend" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_window_tumbling" -> (Seq("HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_ts_zscore" -> (Seq("BroadcastHashJoin", "HashAggregate", "Batched: true", "PushedFilters: ["),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin", "Window")),
    "q_window_rank" -> (Seq("Window", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")),
    "q_window_running" -> (Seq("Window", "Batched: true"),
      Seq("CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin")))

  /** Audits `names` (default: all expectation keys) against `sfDir`;
    * returns failure descriptions (empty = all plans as expected).
    * Callable from tests (PlanSpec) and from this CLI main.
    */
  def audit(spark: SparkSession, sfDir: String,
      names: Seq[String] = expectations.keys.toSeq,
      printPlans: Boolean = false): Seq[String] =
    names.sorted.flatMap { name =>
      // capture pre-localCheckpoint plans too (PlanTap): an eager
      // checkpoint inside an operator otherwise hides the expensive
      // upstream shape from the grep (the pins on trainer/margin gates
      // assert against the FULL text: final plan + captured sub-plans)
      graft.util.PlanTap.start()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val tapped = graft.util.PlanTap.stop()
      val plan = (df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode) +:
        tapped.map { case (tag, p) =>
          s"\n== Pre-checkpoint plan: $tag ==\n$p"
        }).mkString("\n")
      if (printPlans) {
        println(s"\n========== $name ==========")
        println(plan.take(6000))
      }
      expectations.get(name).toSeq.flatMap { case (must, mustNot) =>
        must.filterNot(plan.contains)
          .map(f => s"$name: expected fragment '$f'") ++
          mustNot.filter(plan.contains)
            .map(f => s"$name: forbidden fragment '$f'")
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else expectations.keys.toSeq
    val spark = graft.util.LocalSession("4")
    val failures = audit(spark, sfDir, names, printPlans = true)
    failures.foreach(f => println(s"[explain-check] FAIL $f"))
    println(s"\n[explain-check] ${names.size} plans audited, ${failures.size} failures")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
