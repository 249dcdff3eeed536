package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted physical plans for representative queries
  * and flag the scale-critical properties — parquet predicate
  * pushdown, column-pruned read schemas, broadcast joins on dims,
  * whole-stage codegen coverage. `runMain graft.PlanAudit [sfDir]`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkEntry.session(8, logLevel = "ERROR")

    // WindowGroupLimit = per-partition top-k pushed below the shuffle;
    // codegen is checked on the AQE-final executed plan ("*(n) Op").
    val audit = Seq(
      "q1_agg" -> Seq("PushedFilters: [IsNotNull(l_shipdate)", "partial_sum"),
      "q_scan_pushdown" -> Seq("PushedFilters", "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_shipdate"),
      "q_join_broadcast_star" -> Seq("BroadcastHashJoin", "partial_sum", "!DimHint"),
      // AQEShuffleRead on the big-big join proves the runtime re-plan
      // (coalesce/skew-split) is active
      "q_join_shuffle" -> Seq("Join", "partial_sum", "AQEShuffleRead"),
      "q_sim_topk" -> Seq("BroadcastNestedLoopJoin", "WindowGroupLimit", "cosine"),
      "q_dedup_lsh_pairs" -> Seq("LeftSemi", "HashAggregate"),
      // hot-bucket splitting: every level's candidates still come from
      // equi-joins on the level-prefixed key with semi-join size
      // guards — the escalation ladder never introduces a loop join
      "q_dedup_lsh_split" -> Seq("Generate", "HashAggregate", "LeftSemi", "!NestedLoop", "!CartesianProduct"),
      // recall metric: the quadratic truth side is confined to ONE
      // sampled block (broadcast 1-row block selector, equi block key);
      // overlap joins are keyed — no corpus-wide loop anywhere
      "q_dedup_recall" -> Seq("HashAggregate", "BroadcastHashJoin", "!CartesianProduct"),
      // cluster survivorship: contraction map + clique sizes are
      // hash-aggregates feeding keyed joins; the iterative loop ran
      // on the contracted rep graph (checkpointed RDD leaves), and no
      // stage of the expansion may fall back to a loop join
      "q_dedup_clusters" -> Seq("HashAggregate", "Window", "Scan ExistingRDD", "!NestedLoop", "!CartesianProduct"),
      // incremental cluster merge: the capped band equi-joins (with
      // their semi-join size guards) feed the CHECKPOINTED loops, so
      // the final plan shows the contracted-supernode expansion only
      // (RDD-scan leaves + keyed joins); no loop join anywhere
      "q_dedup_clusters_incr" -> Seq("HashAggregate", "Scan ExistingRDD", "!NestedLoop", "!CartesianProduct"),
      // SemDeDup: the ONLY loop join is the deliberate x8 broadcast
      // centroid fan-out; the quadratic pass must stay confined to a
      // cell EQUI-join (cid key), never a corpus cross join
      "q_dedup_semantic" -> Seq("BroadcastNestedLoopJoin", "cosine", "HashAggregate", "!CartesianProduct"),
      // k-hop BFS: each round's visited generation is a lineage cut, so
      // the final plan is the visited RDD scan; the round itself is
      // audited as q_graph_bfs::round (frontier equi-join + anti-join
      // against the visited set) — no loop join anywhere
      "q_graph_bfs" -> Seq("Scan ExistingRDD", "!NestedLoop", "!CartesianProduct"),
      "q_graph_bfs::round" -> Seq("LeftAnti", "HashAggregate", "!NestedLoop", "!CartesianProduct"),
      // convergence BFS (r9): the loop ran on the checkpoint engine, so
      // the final plan is the visited RDD scan — and building it must
      // never have fallen back to a loop join (the per-round plans are
      // frontier equi-join + anti-join, the q_graph_bfs shapes)
      "q_graph_bfs_conv" -> Seq("Scan ExistingRDD", "!NestedLoop", "!CartesianProduct"),
      // trained quality filter: each gradient step's weight row joins
      // back as a 1-row BROADCAST (the only loop joins are those x1
      // fan-outs); gradient sums are partial+final hash-aggs
      "q_text_quality_train" -> Seq("BroadcastNestedLoopJoin", "partial_", "HashAggregate", "!CartesianProduct"),
      // EWMA: the fact scan must collapse via partial+final hash-agg
      // BEFORE the per-key fold; no loop join anywhere
      "q_ts_ewma" -> Seq("HashAggregate", "partial_sum", "!NestedLoop", "!CartesianProduct"),
      // calibration deciles (r9): boundary keys come from the bounded
      // radix-select passes, so the FINAL plan is cached-scan + map
      // bin-assign + one hash-agg — the r8 single-partition ntile is
      // structurally banned: no Window (partitioned or global), no
      // sort, no ntile may reappear here ("!Join" would false-trip on
      // the CACHED relation's build plan — the GD chain's 1-row
      // broadcast fan-ins — which the plan string prints but the
      // query does not re-execute)
      "q_text_quality_calibration" -> Seq("InMemoryTableScan", "HashAggregate", "!Window", "!Sort", "!ntile"),
      // audio content-ID: snippet->index lookup is a capped
      // fingerprint EQUI-join + per-query WindowGroupLimit-ish top-1;
      // never an all-pairs loop
      "q_multimodal_audio_match" -> Seq("HashAggregate", "Window", "LeftSemi", "!NestedLoop", "!CartesianProduct"),
      // materialized ANN index: the assign/codes sides must be SCANS
      // OF THE STORED TABLES (store paths in the plan), not corpus
      // re-encodes; ADC scoring stays keyed
      "q_sim_index_store" -> Seq("pq_assign", "pq_codes", "HashAggregate", "!CartesianProduct"),
      // permissive ingest: a bare JSON file scan — corruptness is
      // per-row local, nothing may shuffle
      "q_source_corrupt_records" -> Seq("FileScan json", "!Exchange", "!CartesianProduct"),
      "q_win_topk" -> Seq("WindowGroupLimit"),
      // round 2: partition pruning, existence/semi decorrelation,
      // OR-of-ANDs pushdown, top-k as TakeOrderedAndProject
      "q_partition_prune" -> Seq("PartitionFilters", "= 1996)"),
      "q4_order_priority" -> Seq("LeftSemi"),
      "q_join_existence" -> Seq("ExistenceJoin"),
      "q19_brand_bands" -> Seq("BroadcastHashJoin", "PushedFilters", "!DimHint"),
      "q10_returned_items" -> Seq("TakeOrderedAndProject"),
      // round 4: the reshaped/new operators' scale-critical shapes.
      // "!X" = plan must NOT contain X.
      // dedup_embed must candidate via the bucket EQUI-join — a
      // nested-loop (all-pairs) plan here is the exact scale bug the
      // sign-projection rewrite removed
      "q_dedup_embed" -> Seq("bucket", "!NestedLoop"),
      // stratified sample is map-only: scan + filter, no shuffle
      "q_sample_stratified" -> Seq("Filter", "!Exchange"),
      // embedding post-processing is a pure projection
      "q_vec_quantize" -> Seq("Project", "!Exchange"),
      // typed cogroup: CoGroup physical op, one shuffle per side
      "q_cogroup" -> Seq("CoGroup"),
      "q_agg_mode" -> Seq("HashAggregate"),
      // round 4b: TPC-H completion wave + new pipeline operators.
      // Q6 must be a map-only pushed scan: no join anywhere, the
      // quantity/discount predicates reach parquet
      "q6_forecast_revenue" -> Seq("PushedFilters: [IsNotNull(l_shipdate)", "!Join"),
      // Q8's dims all broadcast; the only big exchange is lineitem⋈orders
      "q8_market_share" -> Seq("BroadcastHashJoin", "partial_sum", "!DimHint"),
      // Q13's outer join keeps the residual predicate at the join, and
      // the agg-of-agg stays two hash aggregates
      "q13_cust_distribution" -> Seq("LeftOuter", "HashAggregate"),
      // Q16's NOT IN must plan as an anti join, never a nested loop
      "q16_supplier_cnt" -> Seq("LeftAnti", "!NestedLoop", "!DimHint"),
      // Q21's EXISTS/NOT-EXISTS decorrelate to semi + anti joins; the
      // late-lineitem table is persisted so lineitem⋈orders runs once
      // (both consumers read the InMemoryRelation)
      "q21_waiting_supplier" -> Seq("LeftSemi", "LeftAnti", "InMemoryTableScan", "!DimHint"),
      // Q2's top-20 must collapse to TakeOrderedAndProject (never a
      // global sort), with the correlated MIN as a grouped-min join
      "q2_min_cost_supplier" -> Seq("TakeOrderedAndProject", "BroadcastHashJoin", "!DimHint"),
      // round 5: supplier/customer/part scale linearly with SF, so no
      // query may carry a forced broadcast() hint on them ("!DimHint" =
      // no ResolvedHint whose child outputs s_suppkey/c_custkey/
      // p_partkey in the analyzed plan). AQE still picks
      // BroadcastHashJoin at this SF purely from size — proving the
      // plan is right both here and at 100x.
      "q_join_inner" -> Seq("BroadcastHashJoin", "!DimHint"),
      "q5_local_supplier" -> Seq("BroadcastHashJoin", "!DimHint"),
      "q7_volume_shipping" -> Seq("BroadcastHashJoin", "!DimHint"),
      "q9_product_profit" -> Seq("BroadcastHashJoin", "!DimHint"),
      "q14_promo_effect" -> Seq("BroadcastHashJoin", "!DimHint"),
      "q15_top_supplier" -> Seq("BroadcastHashJoin", "!DimHint"),
      "q17_small_qty_revenue" -> Seq("BroadcastHashJoin", "!DimHint"),
      "q18_large_orders" -> Seq("BroadcastHashJoin", "!DimHint"),
      "q20_part_promotion" -> Seq("BroadcastHashJoin", "!DimHint"),
      // outlier removal: centroids broadcast back, no all-pairs loop
      "q_embed_outliers" -> Seq("BroadcastHashJoin", "!NestedLoop"),
      // repetition signals are one map-only projection pass
      "q_text_repetition" -> Seq("Project", "!Exchange"),
      // round 5: CMS sketches are TypedImperativeAggregates — partial
      // matrices fold per-partition under ObjectHashAggregate, and the
      // sketch table broadcasts back to the probe side
      "q_agg_countmin" -> Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      // temperature mixing: per-language stats broadcast back to the
      // corpus; the corpus side itself never shuffles
      "q_mix_temperature" -> Seq("BroadcastHashJoin"),
      // perplexity filter: the 256-row model is TakeOrdered (never a
      // global sort) and broadcast back; scoring is a broadcast join
      "q_text_ppl" -> Seq("TakeOrderedAndProject", "BroadcastHashJoin"),
      // round 5b: curation/layout/IVM wave.
      // chunking is scan + Generate (explode) — never a shuffle
      "q_chunk_overlap" -> Seq("Generate", "!Exchange"),
      // zorder manifest: integer bit-math projection + one hash agg
      "q_zorder_cluster" -> Seq("HashAggregate", "!Join"),
      // snapshot diff / IVM: keyed full-outer joins, no nested loop
      "q_cdc_diff" -> Seq("FullOuter", "!NestedLoop"),
      "q_ivm_agg" -> Seq("FullOuter", "HashAggregate", "!NestedLoop"),
      // range split: percentile is an ObjectHashAggregate; the 1-row
      // boundary table joins back as a broadcast, never a sort-merge
      "q_range_split" -> Seq("ObjectHashAggregate", "BroadcastNestedLoopJoin", "!SortMergeJoin"),
      // sampled twin (r9): the percentile buffer sees only the 1/16
      // hash-sample (Filter feeds the ObjectHashAggregate); boundaries
      // and the total-count row broadcast back; assignment stays
      // map-only — no sort-merge, no shuffle of the fact side beyond
      // the final 8-group agg
      "q_range_split_sampled" -> Seq("Filter", "ObjectHashAggregate", "BroadcastNestedLoopJoin", "!SortMergeJoin"),
      // skyline: partitioned window + equi join back — no all-pairs
      "q_skyline" -> Seq("Window", "!NestedLoop"),
      // profiling: the distinct pass is Expand + pure HashAggregate
      // (fusing string min/max into it would force a 6x-row
      // SortAggregate — the measured-3x-slower shape this entry
      // guards against); min/max live in a separate zero-group fold
      // whose partial_min runs per-partition before the exchange
      "q_profile_stats" -> Seq("Expand", "HashAggregate", "partial_min"),
      // group split is agg-only; weighted sample is top-k, not a sort
      "q_split_grouped" -> Seq("HashAggregate", "!Join"),
      "q_sample_weighted" -> Seq("TakeOrderedAndProject"),
      // pagerank: fact joins stay hint-free (AQE sizes the dims); the
      // collapsed transition table is persisted for the iterations
      "q_graph_pagerank" -> Seq("InMemoryTableScan", "!DimHint"),
      // round 5c: time-series + audit wave.
      // OHLC: one partial+final agg, no join anywhere
      "q_time_ohlc" -> Seq("partial_", "!Join"),
      // sweep and attribution: ONE partitioned window, never a self-join
      "q_interval_sweep" -> Seq("Window", "Union", "!Join"),
      "q_attribution" -> Seq("Window", "!Join"),
      // rolling distinct: the day-dim range join must broadcast (a
      // sort-merge over the fanned-out pairs would be the scale bug)
      "q_rolling_distinct" -> Seq("BroadcastNestedLoopJoin", "HashAggregate", "!SortMergeJoin"),
      // DQ rules: the whole suite is one scan + one agg, no join
      "q_dq_rules" -> Seq("HashAggregate", "!Join"),
      // sketch rollup: HllSketchAgg/HllUnionAgg are typed-imperative →
      // ObjectHashAggregate, partial+final at both grains
      "q_sketch_rollup" -> Seq("ObjectHashAggregate", "!NestedLoop"),
      "q_gaps_islands" -> Seq("Window", "HashAggregate", "!Join"),
      // MAD: percentile = ObjectHashAggregate; the 3-row median tables
      // must come back as broadcasts, never a shuffle of the fact side
      "q_mad_outliers" -> Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      "q_retention_cohort" -> Seq("HashAggregate", "!NestedLoop"),
      "q_event_transitions" -> Seq("Window", "BroadcastHashJoin"),
      // referential audit: each FK edge is an anti join on the key
      "q_dq_referential" -> Seq("LeftAnti", "!NestedLoop"),
      // skew report: key agg + 1-row broadcast + top-k, never a sort
      "q_skew_report" -> Seq("TakeOrderedAndProject", "BroadcastNestedLoopJoin"),
      // RFM: quintile boundaries broadcast back, no global-sort ntile
      "q_rfm_quintiles" -> Seq("ObjectHashAggregate", "BroadcastNestedLoopJoin", "!SortMergeJoin"),
      // round 5d: SQL recursion + resample + geo wave.
      // the recursive CTE must execute as the iterative UnionLoop
      // (per-iteration frontier join), never a nested loop
      "q_recursive_cte" -> Seq("UnionLoop", "!NestedLoop"),
      // interpolation: spine is a Generate (explode), fill is Window
      "q_time_interpolate" -> Seq("Generate", "Window"),
      // geo lanes: the volume work is the key joins + one hash-agg;
      // trig runs post-agg on <= |nations|^2 rows
      "q_geo_lanes" -> Seq("BroadcastHashJoin", "partial_", "!DimHint"),
      // DPP: the partitioned fact scan must carry a dynamicpruning
      // subquery in its PartitionFilters — runtime partition skipping
      // driven by the dim filter, not a static rewrite
      "q_dpp_prune" -> Seq("dynamicpruning", "PartitionFilters"),
      // pareto: windows run over the collapsed <=|nations| table
      "q_pareto_share" -> Seq("Window", "HashAggregate", "!NestedLoop"),
      // checksum: map + zero-group partial/final fold, no join ever
      "q_table_checksum" -> Seq("partial_", "!Join"),
      // rolling z-score: one window over the collapsed daily series
      "q_rolling_zscore" -> Seq("Window", "!Join"),
      // mutual information: one data pass to the contingency table,
      // marginals re-joined as broadcasts — no SF-scaled join
      "q_mutual_info" -> Seq("BroadcastHashJoin", "HashAggregate", "!SortMergeJoin"),
      // sketch overlap: HLL algebra on the collapsed <=|types| table;
      // sketches fold under ObjectHashAggregate and broadcast back
      "q_sketch_overlap" -> Seq("ObjectHashAggregate", "BroadcastHashJoin"),
      // exact-n group sample: rank<=k folds below the shuffle
      "q_sample_group_n" -> Seq("WindowGroupLimit", "!Join"),
      // round 6: shared-dialect SQL surface + multiprobe + catalog.
      // the verbatim SQL strings must get the same scale-critical
      // physical shapes the DSL queries get: rank<=5 folds below the
      // shuffle, EXISTS/NOT EXISTS decorrelate to semi/anti joins,
      // set ops plan as joins over hash aggregates — never loops
      "q_sql_window" -> Seq("WindowGroupLimit", "Window", "!Join"),
      "q_sql_cte_chain" -> Seq("HashAggregate", "!NestedLoop", "!DimHint"),
      "q_sql_setops" -> Seq("LeftSemi", "LeftAnti", "HashAggregate", "!NestedLoop"),
      "q_sql_exists" -> Seq("LeftSemi", "LeftAnti", "!NestedLoop"),
      "q_sql_scalar" -> Seq("HashAggregate", "!Join"),
      // multiprobe: probe table is a Generate (explode), candidates
      // come from the bucketed equi-join — an all-pairs loop here is
      // exactly the scale bug multi-probing exists to avoid; since
      // round 8 the probe join runs on DISTINCT signatures only, so
      // the collapse aggregate's partial_min must appear upstream
      "q_dedup_hamming_multiprobe" -> Seq("Generate", "HashAggregate", "partial_min", "!NestedLoop"),
      // catalog lane: the read is a plain pruned scan of the saved
      // table — no residual shuffle or join from the registration
      "q_catalog_table" -> Seq("graft_cat_orders", "!Join", "!Exchange"),
      // round 6b: token-level dedup + incremental dedup + tokenizer
      // induction + kmeans step.
      // ngram spans: explode shingles, hash-agg duplicates, semi-join
      // back — never an all-pairs doc comparison
      "q_dedup_ngram_spans" -> Seq("Generate", "HashAggregate", "LeftSemi", "!NestedLoop"),
      // incremental: new×old band equi-join only; a loop join would
      // re-pair the whole corpus nightly
      "q_dedup_incremental" -> Seq("LeftSemi", "HashAggregate", "!NestedLoop"),
      // kmeans step: k-row centroid table broadcast (constant size,
      // never SF-scaled), map-only assignment, one partial+final agg
      "q_vec_kmeans_step" -> Seq("BroadcastNestedLoopJoin", "HashAggregate", "cosine"),
      // BPE pairs: pair expansion over the DISTINCT word table only;
      // top-50 must be TakeOrdered, never a global sort
      "q_text_bpe_pairs" -> Seq("TakeOrderedAndProject", "HashAggregate", "!Join"),
      // negative sampling: the CORPUS-side join must be the broadcast
      // hash join on the (bucket, source) key; the only loop join is
      // the rep-table x sources inequality over bounded agg outputs
      // (<=16x|sources| rows), never over the corpus
      "q_sample_negatives" -> Seq("BroadcastHashJoin", "HashAggregate", "!DimHint"),
      // transcript assembly: one window + an ordered-listagg
      // ObjectHashAggregate reusing its partitioning (single Exchange
      // in the whole plan) — never a join or a global sort
      "q_event_transcript" -> Seq("Window", "ObjectHashAggregate", "!Join"),
      // bucketed interval self-join: the range predicate must ride an
      // EQUI join (hash-partitionable) with the |dt| check residual —
      // a loop/range join over per-user histories is the scale bug
      "q_join_interval_bucketed" -> Seq("Generate", "HashAggregate", "!NestedLoop"),
      // SCD-2 point-in-time join: EQUI hash join on the customer key
      // with the validity range as residual — never a loop join; no
      // forced broadcast on the SF-scaling dim history
      "q_join_scd2" -> Seq("Join", "!NestedLoop", "!DimHint"),
      // compaction planning runs on the bounded manifest: one agg,
      // one year-partitioned window, no join
      "q_compact_plan" -> Seq("HashAggregate", "Window", "!Join"),
      // compaction execution: the returned proof pass is a plain scan
      // of the binned layout + one partial/final agg — no join, no sort
      "q_compact_exec" -> Seq("HashAggregate", "partial_", "!Join", "!Sort"),
      // round 6c: retrieval/mining/whitening wave.
      // basket mining: DISTINCT-collapsed self EQUI-join on the order
      // key (bounded basket fan-out) + TakeOrdered top-20 — an
      // all-pairs part join or a global sort is the scale bug
      "q_basket_pairs" -> Seq("TakeOrderedAndProject", "HashAggregate", "!NestedLoop"),
      // winnowing is one map-only array pass: no explode, no shuffle
      "q_text_winnowing" -> Seq("Project", "!Generate"),
      // BM25: the 5-term idf table and corpus stats broadcast; tf is
      // a hash-agg on the exploded stream; top-20 is TakeOrdered
      "q_text_bm25" -> Seq("TakeOrderedAndProject", "BroadcastHashJoin", "HashAggregate"),
      // OOV: vocab = TakeOrdered top-1000, classification = broadcast
      // anti join — a shuffled anti join of the token stream is the
      // scale bug
      "q_text_oov" -> Seq("TakeOrderedAndProject", "BroadcastHashJoin", "LeftAnti"),
      // tolerance as-of: the day-bucket rewrite must give an EQUI hash
      // join (range residual only) — a range/loop join over per-user
      // histories is exactly what the bucketing removes
      // (struct-max winner aggregates via SortAggregate — struct has
      // no mutable hash buffer — but still partial+final, map-side first)
      "q_join_asof_tolerance" -> Seq("Generate", "SortAggregate", "!NestedLoop"),
      // embedding dim stats: bounded posexplode + |dims|-group agg
      "q_embed_dim_stats" -> Seq("Generate", "HashAggregate", "!Join"),
      // PQ encode: the 16-row codebook broadcasts (the only loop join
      // is against that constant-size table); two hash-aggs on vec_id
      "q_vec_pq_codes" -> Seq("BroadcastNestedLoopJoin", "HashAggregate", "!SortMergeJoin"),
      // triangles: ordered-orientation wedge joins over the COLLAPSED
      // persisted edge list; supplier join stays hint-free
      "q_graph_triangles" -> Seq("InMemoryTableScan", "HashAggregate", "!DimHint"),
      // PSI drift: one-row min/max + totals broadcast back; the 10-row
      // PSI window never sees data; no sort-merge anywhere
      "q_dq_drift_psi" -> Seq("HashAggregate", "Window", "!SortMergeJoin"),
      // IVF-PQ: candidate selection and LUT scoring are EQUI joins
      // (the inverted index), ADC is a hash-agg, top-5 folds below
      // the shuffle — the only loop joins are vs broadcast constants
      "q_sim_ivfpq" -> Seq("BroadcastHashJoin", "WindowGroupLimit", "HashAggregate"),
      // two-stage re-rank: stage 1 is the same broadcast-LUT ADC plan
      // (its corpus-sized codes join may shuffle, as in q_sim_ivfpq);
      // the exact stage must be the BROADCAST candidate equi-join into
      // the embedding scan (never a second full-scan loop) with top-5
      // folding below the shuffle
      "q_sim_rerank" -> Seq("BroadcastHashJoin", "WindowGroupLimit", "HashAggregate"),
      // nprobe sweep: three nested-probe ADC instances unioned; the
      // exact reference joins back as broadcasts
      "q_sim_nprobe" -> Seq("Union", "BroadcastHashJoin", "WindowGroupLimit"),
      // trained coarse quantizer (r9): per-variant assignments persist
      // once (every consumer scans the cache), candidates are
      // inverted-index equi-joins against broadcast probe sets — the
      // Lloyd training must never introduce a data-to-data loop
      "q_sim_ivf_trained" -> Seq("Union", "InMemoryTableScan", "BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"),
      // change data feed: gen-vs-gen diff is ONE keyed full-outer hash
      // join of two |keys|-sized snapshots — no log refold, no loop
      "q_stream_cdf" -> Seq("FullOuter", "!NestedLoop", "!CartesianProduct"),
      // SCD-2 build: customer-partitioned windows + one agg, no join
      "q_scd2_build" -> Seq("Window", "HashAggregate", "!Join"),
      // node Jaccard: wedge equi-join over the persisted collapsed
      // adjacency; supplier join stays hint-free
      "q_graph_jaccard" -> Seq("InMemoryTableScan", "HashAggregate", "!DimHint"),
      // quantile-histogram rollup: data binned once map-side; all
      // windows/aggs run on the |days|x20 sketch table
      "q_sketch_quantile" -> Seq("Window", "HashAggregate", "!SortMergeJoin"),
      // power iteration: map-only dot + bounded posexplode + 64-group
      // agg — no join anywhere
      "q_embed_power_iter" -> Seq("Generate", "HashAggregate", "!Join"),
      // perceptual hash: decode in mapPartitions, zero shuffles
      "q_multimodal_phash" -> Seq("MapPartitions", "!Exchange"),
      // image near-dup: the returned cluster assembly is a window over
      // the checkpointed labels — no loop join anywhere (the candidate
      // stage is the same bucketed equi-join shape as the audited
      // q_dedup_hamming_multiprobe; its pre-checkpoint plan is audited
      // separately below as q_multimodal_neardup::edges)
      "q_multimodal_neardup" -> Seq("Window", "!NestedLoop", "!CartesianProduct"),
      // the neardup CANDIDATE stage (before the components checkpoint
      // truncates lineage): the distinct-hash collapse aggregate
      // (partial_min) must feed the ×4 pigeonhole Generate + equi-join
      // — an uncapped doc-row probe join goes quadratic in the hottest
      // bucket (text-derived images share low-entropy phashes)
      "q_multimodal_neardup::edges" -> Seq("partial_min", "Generate", "HashAggregate", "!NestedLoop", "!CartesianProduct"),
      // nearest as-of: same day-bucket equi rewrite as the tolerance
      // variant — Generate fan-out, struct-min winner, no loop join
      "q_join_asof_nearest" -> Seq("Generate", "SortAggregate", "!NestedLoop"),
      // export lane: the read-back check is one commutative hash-agg
      // over the text scan — no join, no sort
      "q_export_jsonl" -> Seq("HashAggregate", "!Join", "!Sort"),
      // bitmap distinct: two hash-aggs with map-side partial bit_or —
      // and NO Expand (the two-phase distinct rewrite this replaces)
      "q_agg_bitmap_distinct" -> Seq("HashAggregate", "partial_", "!Expand", "!Join"),
      // association rules: bounded self equi-join + TakeOrdered; the
      // only loop join is the one-row basket-count broadcast
      "q_basket_rules" -> Seq("TakeOrderedAndProject", "HashAggregate", "BroadcastHashJoin"),
      // audio features: decode in mapPartitions, zero shuffles
      "q_multimodal_audio" -> Seq("MapPartitions", "!Exchange"),
      // forecast backtest: all post-rollup work on the |days| series;
      // the season lookup is an EQUI join on the date key
      "q_time_forecast_naive" -> Seq("HashAggregate", "partial_", "!NestedLoop"),
      // pattern matching: transcripts reuse one partitioning
      // (window + ordered listagg), patterns broadcast
      "q_win_pattern_match" -> Seq("Window", "ObjectHashAggregate", "BroadcastNestedLoopJoin"),
      // readability is one map-only projection pass
      "q_text_readability" -> Seq("Project", "!Exchange", "!Join"),
      // video scenes: mapPartitions decode + ONE doc-partitioned lag
      // window — no join
      "q_multimodal_scenes" -> Seq("MapPartitions", "Window", "!Join"),
      // snapshot GC: manifest anti-join + hash-aggs, metadata-sized
      "q_snapshot_gc" -> Seq("LeftAnti", "HashAggregate", "!NestedLoop"),
      // BPE round 2: both rounds on the DISTINCT word table, winner
      // broadcast, top-20 TakeOrdered
      "q_text_bpe_merge2" -> Seq("TakeOrderedAndProject", "HashAggregate", "!SortMergeJoin"),
      // BPE encode: vocab-sized encode table broadcast (size-chosen,
      // unhinted) into the token rollup; the 10-merge replace chain is
      // literal and codegen'd
      "q_text_bpe_encode" -> Seq("BroadcastHashJoin", "partial_", "!SortMergeJoin"),
      // NOT IN with a nullable probe key must plan as the specialized
      // single-column null-aware anti join (the trailing `true` is
      // BroadcastHashJoinExec's isNullAwareAntiJoin flag), never a loop
      "q_join_null_aware_anti" -> Seq("LeftAnti, BuildRight, true", "!NestedLoop"),
      // incremental ANN index (r10): the search must serve from the
      // stored+appended tables (pqa/pqc scans in the plan), candidates
      // stay inverted-list equi-joins — no corpus re-encode loop join
      "q_sim_index_append" -> Seq("pqa_inc", "pqc_inc", "HashAggregate", "!CartesianProduct"),
      // end-to-end curation DAG (r10): the component loop must have run
      // on the checkpoint engine (RDD-scan leaf), the pack stage is one
      // per-source Window, and no stage — quality join, ladder, cell
      // pass, packing — may fall back to a cartesian product
      "q_dataset_clean_full" -> Seq("Window", "HashAggregate", "Scan ExistingRDD", "!CartesianProduct"),
      // MMR re-rank (r10): the greedy steps run ONLY against the two
      // checkpointed constant-size tables (pool + pairwise sims — RDD
      // scan leaves); every per-step join is a broadcast of a ≤|q|·POOL
      // row set; the corpus never reappears after stage 1
      "q_sim_mmr" -> Seq("Union", "Scan ExistingRDD", "BroadcastHashJoin", "Window", "!SortMergeJoin", "!CartesianProduct"),
      // filtered ANN (r10): the metadata predicate must reach the
      // parquet scan (row-group pruning; a partition key at 100 TB),
      // and both top-ks fold below the shuffle
      "q_sim_filtered" -> Seq("EqualTo(label,0)", "WindowGroupLimit", "!CartesianProduct"),
      // kNN reciprocity (r10): candidates confined to the bucket
      // EQUI-join, top-3 below the shuffle, reciprocity is a window
      // count on the pair key — never an edges self-join loop
      "q_sim_knn_recip" -> Seq("WindowGroupLimit", "Window", "HashAggregate", "!NestedLoop", "!CartesianProduct"),
      // leakage-proof split (r10): cluster labels come off the fixpoint
      // engine (RDD-scan leaf), assignment is map-side arithmetic over
      // a LEFT join against the small label table, and the straddle
      // audit is a pair-table-sized equi-join — no cartesian anywhere
      "q_split_leakproof" -> Seq("Scan ExistingRDD", "HashAggregate", "!CartesianProduct"),
      // boilerplate phrases (r10): bigrams stream from the custom
      // Generate node into ONE persisted distinct-gram table
      // (InMemoryTableScan for all three consumers); docfreq filter and
      // the impact join are hash-agg + equi-join — no cartesian, no
      // sort-merge on the gram stream
      "q_text_boilerplate" -> Seq("Generate", "InMemoryTableScan", "HashAggregate", "!CartesianProduct", "!NestedLoop"),
      // token-budget curation (r10): the window cum-sum runs over the
      // per-source BUCKET histogram (≤1025 rows/source), never over
      // documents — docs are hash-aggregated once and the threshold
      // scan is the aggregate's output, so the corpus is never sorted
      "q_sample_token_budget" -> Seq("Window", "HashAggregate", "partial_", "!CartesianProduct", "!NestedLoop"),
      // source-contamination matrix (r10): sources land on the pair
      // table via doc-keyed equi-joins; the matrix is a hash-agg over
      // ≤|sources|² cells — no cartesian, no nested loop
      "q_dedup_source_matrix" -> Seq("HashAggregate", "LeftSemi", "!CartesianProduct", "!NestedLoop"),
      // mixture epoch planner (r10): per-source token agg + two one-row
      // scalar broadcasts (the mixTemperature shape) — corpus touched
      // once, no shuffle joins, planner output is |sources| rows
      "q_mix_epochs" -> Seq("HashAggregate", "BroadcastNestedLoopJoin", "partial_", "!SortMergeJoin", "!CartesianProduct"),
      // novelty curve (r10): ONE generation pass (persisted, both
      // consumers InMemoryTableScan); novel-gram counts via the
      // min-decile hash-agg, never a per-decile rescan; the window
      // runs over exactly 10 rows; the only nested loop is the one-row
      // n_docs scalar broadcast
      "q_text_novelty" -> Seq("Generate", "InMemoryTableScan", "HashAggregate", "Window", "!CartesianProduct", "!SortMergeJoin"),
      // Fisher discriminability (r10): one explode pass → moment
      // hash-agg to constant-size (dim × label) rows; the dim-keyed
      // join and final agg never touch the corpus again
      "q_embed_fisher" -> Seq("Generate", "HashAggregate", "partial_", "!CartesianProduct", "!NestedLoop"),
      // hybrid BM25⊕vector RRF (r11): both candidate top-ks fold below
      // the shuffle; the per-query term/idf table broadcasts into the
      // one exploded-token pass; the fusion is a constant-size join —
      // never a sort-merge on the token stream, never a cartesian
      "q_sim_hybrid_rrf" -> Seq("WindowGroupLimit", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct"),
      // SQ8 vs PQ ablation (r11): both legs are map-side scans against
      // broadcast constants (scale scalar / codebook LUT); the three
      // 15-row top-5 tables are eager lineage cuts (RDD-scan leaves)
      // so the overlap joins never re-derive the scans
      "q_sim_sq8" -> Seq("Scan ExistingRDD", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"),
      // nightly incremental curation (r11): merge loop on the
      // checkpoint engine (RDD-scan leaves), frozen-cell assignment
      // and append window per source; no stage may fall back to a
      // cartesian product
      "q_dataset_clean_incr" -> Seq("Window", "Scan ExistingRDD", "HashAggregate", "!CartesianProduct"),
      // ranked-retrieval metrics (r11): the approximate side is the
      // audited IVF-PQ plan; the exact reference is a 15-row lineage
      // cut (RDD-scan leaf); metric aggregation is k×|queries| rows
      "q_sim_rank_metrics" -> Seq("Scan ExistingRDD", "HashAggregate", "!CartesianProduct"),
      // embedding generation drift (r11): ONE posexplode pass
      // (persisted — min/max and bucket consumers share it), per-dim
      // tables broadcast, nothing corpus-sized after the first agg
      "q_embed_drift" -> Seq("Generate", "InMemoryTableScan", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"),
      // residual IVF-PQ (r11): residual map is a broadcast fan-out,
      // per-list LUT broadcasts into the inverted-list equi-join, the
      // top-5 legs are lineage cuts — no cartesian, no corpus re-scan
      // in the overlap stage
      "q_sim_ivfpq_residual" -> Seq("Scan ExistingRDD", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct"),
      // binary quantization + rescore (r11): Hamming scan is a map
      // pass over packed codes; the 96-row candidate set broadcasts
      // into the corpus for rescore; selection legs are lineage cuts
      "q_sim_binary" -> Seq("Scan ExistingRDD", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"),
      // Matryoshka prefix-dim ablation (r11): every leg is a
      // broadcast-query map pass; 15-row lineage-cut selections
      "q_sim_matryoshka" -> Seq("Scan ExistingRDD", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"),
      // normalization-ladder dedup (r11): one map pass to 3 md5 keys,
      // three hash-aggs, key-equi-joins back — never a cartesian and
      // the full text never shuffles
      "q_dedup_norm_ladder" -> Seq("HashAggregate", "!CartesianProduct", "!NestedLoop"),
      // shard planner (r11): map pass to cells, ≤16-row agg + window,
      // 1-row total broadcast — corpus never sorts
      "q_sim_shard_plan" -> Seq("HashAggregate", "Window", "!CartesianProduct", "!SortMergeJoin"),
      // PMI collocations (r11): one NGramGenerator pass (persisted
      // vocab-sized counts), vocab-keyed probability joins, top-20 as
      // TakeOrderedAndProject — the pair table never globally sorts
      "q_text_pmi" -> Seq("Generate", "InMemoryTableScan", "HashAggregate", "TakeOrderedAndProject", "!CartesianProduct"),
      // corpus text drift (r11): one map pass (persisted), per-source
      // min/max and totals broadcast back, bucket hash-agg
      "q_corpus_drift" -> Seq("InMemoryTableScan", "BroadcastHashJoin", "HashAggregate", "!CartesianProduct", "!SortMergeJoin"),
      // incremental novelty (r11): gram-keyed LEFT ANTI set difference,
      // distinct hash-aggs — never a cartesian, nothing re-scans the
      // corpus after the Generate passes
      "q_text_novelty_incr" -> Seq("Generate", "LeftAnti", "HashAggregate", "!CartesianProduct", "!NestedLoop"),
      // index deletion (r11): serves from the persisted store tables
      // through a vec_id-keyed tombstone anti-join — never a cartesian
      "q_sim_index_delete" -> Seq("pqa_del", "pqc_del", "LeftAnti", "HashAggregate", "!CartesianProduct"),
      // MinHash calibration (r11): capped band buckets (LeftSemi size
      // guard), doc-keyed verify joins, ≤9-row output — the candidate
      // join must never go quadratic
      "q_dedup_minhash_calib" -> Seq("LeftSemi", "InMemoryTableScan", "HashAggregate", "!CartesianProduct", "!NestedLoop"),
      // index compaction (r12): serving must read the COMPACTED
      // generation (gen_1 store scans) with the tombstone anti-join
      // GONE — the whole point of compacting — and never a cartesian
      "q_sim_index_compact" -> Seq("gen_1", "HashAggregate", "!LeftAnti", "!CartesianProduct"),
      // DSIR importance resampling (r12): one Generate pass (persisted
      // — raw/target counts and doc weights share it), the ≤64-row
      // log-ratio table broadcasts back into the feature stream, the
      // window runs over the bounded weight-bucket histogram — the
      // corpus is never sorted and nothing goes quadratic
      "q_sample_dsir" -> Seq("Generate", "InMemoryTableScan", "BroadcastHashJoin", "Window", "HashAggregate", "!CartesianProduct"),
      // RTBF through the packed store (r12): all legs read the
      // materialized store (forget_store scans); the per-source
      // boundary table broadcasts; untouched sources leave via the
      // anti-join; the ONLY window is the suffix re-pack — and nothing
      // may fall back to a cartesian product
      "q_dataset_forget" -> Seq("forget_store", "LeftAnti", "BroadcastHashJoin", "Window", "!CartesianProduct"),
      // quantizer retrain ablation (r12): the simIvfTrained discipline
      // — persisted per-variant assignments, 8-row broadcast coarse
      // fan-outs as the only loop joins, stats as hash-aggs
      "q_sim_index_retrain" -> Seq("InMemoryTableScan", "BroadcastNestedLoopJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"),
      // incremental DSIR (r12): one persisted Generate pass, frozen
      // log-ratio broadcast, bounded-histogram window — never a
      // cartesian, the batch side is one map pass
      "q_sample_dsir_incr" -> Seq("Generate", "InMemoryTableScan", "BroadcastHashJoin", "Window", "HashAggregate", "!CartesianProduct"),
      // training-shard planner (r12): per-source pack window, one
      // hash-agg to sequences, map-side shard hash, 8-row final agg —
      // the corpus never sorts and nothing joins data-to-data
      "q_pack_shards" -> Seq("Window", "HashAggregate", "partial_", "!SortMergeJoin", "!CartesianProduct"),
      // ABTT whitening (r12): bounded posexplode passes to 64-row
      // tables, 1-row array broadcasts, map-only folds — the embedding
      // table never shuffles or joins data-to-data
      "q_embed_whiten" -> Seq("Generate", "BroadcastNestedLoopJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"),
      // range search (r12): one broadcast-query map pass with the
      // NATIVE codegen'd distance (a lambda-HOF here gets mis-pushed
      // into the scan — the reason the lane uses l2_dist_sq); no
      // top-k state, no window, no shuffle of the corpus
      "q_sim_range" -> Seq("BroadcastNestedLoopJoin", "l2distancesq", "!SortMergeJoin", "!Window", "!CartesianProduct"),
      // langid confusion matrix (r12): one map pass, |langs|²-cell
      // hash-agg, marginal broadcast back
      "q_text_langid_eval" -> Seq("HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"),
      // benchmark contamination report (r12): gram Generate passes,
      // the tiny benchmark gram set broadcasts into the keyed join
      "q_text_contam_report" -> Seq("Generate", "BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"),
      // tokenizer fertility (r12): the audited bpe_encode shape with a
      // |langs|-group rollup — encode table broadcast, partial+final
      "q_text_bpe_fertility" -> Seq("BroadcastHashJoin", "partial_", "!SortMergeJoin", "!CartesianProduct"),
      // data card diff (r12): ONE scan with conditional aggregation —
      // no join at all, |sources|-row output
      "q_dataset_card_diff" -> Seq("HashAggregate", "partial_", "!Join"),
      // IVF-pruned range search (r12): candidates via the inverted-list
      // equi-join against broadcast probes, radius predicate is the
      // native codegen'd distance, counts are hash-aggs
      "q_sim_range_ivf" -> Seq("BroadcastHashJoin", "l2distancesq", "HashAggregate", "!CartesianProduct"),
      // chunk retrieval (r12): chunk Generate pass, 5-term idf table
      // broadcast into the token stream, tf hash-agg, top-10 as
      // TakeOrderedAndProject — the corpus never globally sorts
      "q_sim_chunk_retrieval" -> Seq("Generate", "BroadcastHashJoin", "HashAggregate", "TakeOrderedAndProject", "!CartesianProduct"),
      // SemDeDup threshold curve (r12): the dedupSemantic shape — the
      // only loop join is the x8 broadcast centroid fan-out, the
      // quadratic pass confined to the cell EQUI-join, three cutoffs
      // as conditional aggregates over ONE pair table
      // sem-curve (r13 ADVICE fix): the within-cell pair join + its
      // 1-row conditional aggregate are computed ONCE and eagerly cut,
      // so the final plan is the 3-threshold union over the
      // checkpointed 1-row scan — no per-branch rescan may reappear
      "q_dedup_sem_curve" -> Seq("Union", "Scan ExistingRDD", "!NestedLoop", "!CartesianProduct", "!cosine"),
      // quality drift (r12): the frozen-scorer chain's 1-row weight
      // broadcasts (the only loop joins) + ONE 2-group hash-agg
      "q_text_quality_drift" -> Seq("BroadcastNestedLoopJoin", "HashAggregate", "partial_", "!SortMergeJoin", "!CartesianProduct"),
      // semantic decontamination (r13): corpus × tiny benchmark is the
      // deliberate broadcast fan-out (never a shuffled pair join), the
      // n-gram verdict is a broadcast semi-join, per-doc max is a
      // partial+final hash-agg
      "q_text_decontam_sem" -> Seq("BroadcastNestedLoopJoin", "cosine", "HashAggregate", "LeftSemi", "!CartesianProduct", "!SortMergeJoin"),
      // epoch-shuffle loader plan (r13): the repetition plan broadcasts
      // into the sequence table, copies fan out via Generate, and the
      // permutation ranks WITHIN (epoch, shard) — no global sort, no
      // shuffled join anywhere
      "q_pack_epoch_plan" -> Seq("BroadcastHashJoin", "Generate", "Window", "!SortMergeJoin", "!CartesianProduct"),
      // DSIR-vs-TTR ablation (r13): both selectors are bounded-histogram
      // thresholds broadcast back (loop joins are the 1-row fan-ins);
      // kept-set/score joins are keyed equi-joins
      "q_sample_ablation" -> Seq("BroadcastNestedLoopJoin", "Window", "HashAggregate", "!CartesianProduct"),
      // doc-boundary mask table (r13): ONE per-source prefix window +
      // ONE per-sequence aggregate — no join of any kind may appear
      "q_pack_doc_boundaries" -> Seq("Window", "HashAggregate", "!Join", "!Generate"),
      // BPE-budget packing (r14): the vocab-sized encode table
      // broadcasts into the token explode (the bpe_encode shape), and
      // both prefix sums rank WITHIN source — no global sort, no
      // shuffled join
      "q_pack_bpe" -> Seq("BroadcastHashJoin", "Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"),
      // band-geometry sweep (r14): all three geometries re-expand the
      // ONE persisted signature table; candidates are band-keyed
      // equi-joins behind capped-bucket semi-joins; the quadratic
      // truth pass stays an equi-join on the block key
      "q_dedup_band_sweep" -> Seq("LeftSemi", "InMemoryTableScan", "HashAggregate", "!CartesianProduct"))

    // Internal stages: plan fragments that a checkpoint/lineage
    // truncation hides from the registered query's final plan, audited
    // under a "<query>::<stage>" name.
    val internal: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "q_multimodal_neardup::edges" ->
        ((s, d) => graft.queries.MultimodalQ.neardupEdges(s, d)),
      "q_graph_bfs::round" ->
        ((s, d) => graft.queries.Graph.bfsFirstRound(s, d)))

    val misses = scala.collection.mutable.ArrayBuffer.empty[String]
    var nOk = 0
    audit.foreach { case (name, expects) =>
      val df = internal.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
      // execute THIS queryExecution (count() would plan separately),
      // so AQE finalizes and codegen markers become real
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      println(s"\n######## $name")
      (expects :+ "WholeStageCodegen").foreach { e =>
        val hit =
          if (e == "WholeStageCodegen") executed.contains("*(")
          else if (e == "!DimHint") {
            // no forced broadcast on SF-scaling tables: a ResolvedHint
            // whose subtree outputs a supplier/customer/part key column
            // would be a 100 TB OOM dressed up as an optimization
            df.queryExecution.analyzed.collect {
              case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
                  if Seq("s_suppkey", "c_custkey", "p_partkey")
                    .exists(cn => h.child.output.exists(_.name == cn)) => h
            }.isEmpty
          }
          else if (e.startsWith("!"))
            !(plan.contains(e.drop(1)) || executed.contains(e.drop(1)))
          else plan.contains(e) || executed.contains(e)
        println(s"  [${if (hit) "OK" else "MISS"}] $e")
        if (hit) nOk += 1 else misses += s"$name: $e"
      }
      if (args.length > 1) println(plan)
    }
    spark.stop()
    // Hard gate: a plan regression must fail the build, not scroll by.
    println(s"\n[planaudit] $nOk OK, ${misses.size} MISS")
    if (misses.nonEmpty) {
      misses.foreach(m => println(s"[planaudit] MISS $m"))
      sys.exit(1)
    }
  }
}
