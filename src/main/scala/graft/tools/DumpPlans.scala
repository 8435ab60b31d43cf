package graft.tools

import graft.GraftSession
import graft.operators._
import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: the formatted physical plans of the flagship
  * queries, as evidence that each plan has the shape the scale design
  * calls for (pushdown, broadcast, partial agg, top-k fusion, codegen).
  *
  *   sbt 'runMain graft.tools.DumpPlans [sfDir] [outFile]'
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.drop(1).headOption.getOrElse("/root/repo/PLANS.md")
    val spark = GraftSession("dump-plans")

    val flagships: Seq[(String, String, org.apache.spark.sql.DataFrame)] = Seq(
      ("q01_pricing_summary",
        "Partial HashAggregate before the exchange; scan reads only the 6 needed columns; shipdate filter pushed.",
        StarQueries.q01PricingSummary(spark, dir)),
      ("q07_selective_filter",
        "All four predicates in PushedFilters; ReadSchema is 3 columns of 11.",
        StarQueries.q07SelectiveFilter(spark, dir)),
      ("q08_revenue_by_region_nation",
        "nation/region enter via BroadcastHashJoin (no shuffle); only the orders-customer join exchanges.",
        StarQueries.q08RevenueByRegionNation(spark, dir)),
      ("q09_monthly_revenue",
        "The one genuinely large shuffle (fact-fact on orderkey); bucketing both sides removes it (BucketedJoinSpec).",
        StarQueries.q09MonthlyRevenue(spark, dir)),
      ("q06_top_orders",
        "TakeOrderedAndProject: per-partition heaps, no global sort.",
        StarQueries.q06TopOrders(spark, dir)),
      ("q15_window_topn",
        "WindowGroupLimit pushes the rank<=3 limit below the full window materialization.",
        StarQueries.q15WindowTopN(spark, dir)),
      ("s04_ann_native",
        "graft_cosine evaluated inside WholeStageCodegen (the *(n) stages); broadcast query side.",
        SimilarityQueries.s04AnnNative(spark, dir)),
      ("d03_ngram_jaccard",
        "Prefix-filtered candidate join; exact verify over materialized (InMemoryTableScan) shingle arrays.",
        DedupQueries.d03NgramJaccard(spark, dir)),
      ("q41_fuzzy_names",
        "Pass-Join: segment/probe sides meet in an EQUI BroadcastHashJoin — no all-pairs theta join anywhere.",
        StarQueries.q41FuzzyNames(spark, dir)),
      ("q55_topk_native",
        "graft_topk plans as partial+final ObjectHashAggregate: map-side k-bounded buffers, no Window, no sort before the exchange.",
        ExtendedQueries.q55TopKNative(spark, dir)),
      ("q61_asof_native",
        "Custom AsOfJoinExec: one exchange + local sort per side (narrow schemas), streaming merge, no Window over a unioned timeline.",
        ExtendedQueries.q61AsofNative(spark, dir)),
      ("t08_decontaminate",
        "Eval shingle set enters via BroadcastHashJoin (benchmarks are tiny vs the corpus); scoring is one doc_id-keyed aggregation.",
        TextQueries.t08Decontaminate(spark, dir)),
      ("p04_sequence_packing",
        "Two-level distributed prefix sum: within-bucket windows run parallel per (source,bucket); only one-row-per-bucket totals see the per-source scan.",
        PipelineQueries.p04SequencePacking(spark, dir)),
      ("q72_exists_subquery",
        "EXISTS/NOT EXISTS decorrelate to LeftSemi/LeftAnti hash joins; both subquery filters push into the lineitem scans.",
        ExtendedQueries.q72ExistsSubquery(spark, dir)),
      ("q73_lateral_topn",
        "Correlated LATERAL ... LIMIT rewrites to a rank-filter window on o_custkey (one shuffle) — no per-customer inner query.",
        ExtendedQueries.q73LateralTopn(spark, dir)),
      ("d08_cross_source_dups",
        "Corpus collapses to distinct (fingerprint, source) BEFORE the self-join, so pairwise expansion is bounded by source count per key.",
        DedupQueries.d08CrossSourceDups(spark, dir)),
      ("s08_label_centroids",
        "posexplode fan-out absorbed by partial HashAggregate before the (label,dim) exchange; members meet centroids in a BroadcastHashJoin.",
        SimilarityQueries.s08LabelCentroids(spark, dir)),
      ("d10_segment_dedup",
        "Window-min keyed on the segment md5 (per-key state = one id pair), then partial collect_list absorbs drops map-side so the doc_id exchange carries only surviving text.",
        DedupQueries.d10SegmentDedup(spark, dir)),
      ("p07_chunk_overlap",
        "Pure Project + Generate (posexplode) — no exchange before the presentation sort; chunking pipelines in one codegen stage.",
        PipelineQueries.p07ChunkOverlap(spark, dir)),
      ("t12_ngram_novelty",
        "No window, no array_distinct: countDistinct partial agg per doc + duplicate-insensitive min per shingle, merged doc-keyed.",
        TextQueries.t12NgramNovelty(spark, dir)),
      ("p08_chunk_pack",
        "Composition exhibit: p07's chunk_text is PRUNED out by Catalyst across the operator boundary (ReadSchema keeps ids+counts); two-level prefix sum windows per (source,bucket).",
        PipelineQueries.p08ChunkPack(spark, dir)),
      ("d11_containment",
        "Asymmetric PPJoin: prefix-filtered probe side meets FULL postings in an equi-join on the 8-byte shingle hash, with the n_B >= ceil(t*n_A) length filter in the join condition.",
        DedupQueries.d11Containment(spark, dir)),
      ("q80_regr_agg",
        "REGR_* fold to one partial+final HashAggregate pass per group key — co-moments, not per-group model fits.",
        ExtendedQueries.q80RegrAgg(spark, dir)),
      ("q90_funnel",
        "Three chained stage-min windows share the user_id partitioning: ONE exchange + sort, Window operators stacked over it.",
        ExtendedQueries.q90Funnel(spark, dir)),
      ("t14_boilerplate",
        "Segment fan-out is one Generate; per-source doc-count thresholds enter via BroadcastHashJoin over the (source,segment) partial agg.",
        TextQueries.t14Boilerplate(spark, dir)),
      ("p10_token_budget",
        "Exclusive prefix-sum window per source feeding the fill-until-full filter; rollup is a 20-row aggregate.",
        PipelineQueries.p10TokenBudget(spark, dir)),
      ("p11_upsample_epochs",
        "Epoch fan-out is a map-only Generate (sequence + filter) — no shuffle before the audit rollup; output volume = the intended mix exactly.",
        PipelineQueries.p11UpsampleEpochs(spark, dir)),
      ("d13_span_dedup",
        "Window stream ships (xxhash64, doc, start) only — one span-hash shuffle with partial count-distinct, cover re-join on the same key.",
        DedupQueries.d13SpanDedup(spark, dir)),
      ("t16_pmi_collocations",
        "Unigram/bigram counts are partial-agged; the >=5 floor prunes before either vocab join; no broadcast hints — AQE sizes the model joins.",
        TextQueries.t16PmiCollocations(spark, dir)),
      ("s10_hybrid_rrf",
        "Dense leg is TakeOrderedAndProject (per-partition heaps), sparse leg term-filters before its shuffle; fusion is a 20x20 full outer join.",
        SimilarityQueries.s10HybridRrf(spark, dir)),
      ("g01_pagerank",
        "All 5 rounds compose into ONE plan over the single checkpointed edge leaf, pre-partitioned+sorted on u — the leaf streams straight into every round join (no per-round edge exchange); only the v-keyed contribution aggregations shuffle.",
        GraphQueries.g01PageRank(spark, dir)),
      ("g03_copurchase_motifs",
        "Wedge self-join is EQUI-keyed on the customer (per-key fan-out = C(deg,2)); the pair aggregation shuffles (s1,s2) keys only; both sides read one cached distinct pair frame.",
        GraphQueries.g03Plan(GraphQueries.g03Pairs(spark, dir))),
      ("g04_triangle_counts",
        "kNN cut is a WindowGroupLimit top-8 per node; wedges self-join EQUI-keyed on the oriented source (hub nodes emit no wedges); closing is a hash join on the (v,w) endpoint pair.",
        GraphQueries.g04Plan(spark, dir)),
      ("p13_curated_corpus",
        "Quality gate and span-dedup gate compose into ONE plan over a single documents scan branch; per-source attribution is a (source, verdict) rollup — no operator-boundary materialization.",
        PipelineQueries.p13CuratedCorpus(spark, dir)),
      ("s11_kmeans_topics",
        "Final Lloyd's pass: k x 64 centroid array enters via a broadcast join; the argmax window is 8 rows per vec_id; rollup is (cluster, source)-keyed.",
        SimilarityQueries.s11Build(spark, dir,
          graft.Tables.spread(graft.Tables.embeddings(spark, dir))
            .select(org.apache.spark.sql.functions.col("vec_id"),
              org.apache.spark.sql.functions.expr("transform(embedding, x -> cast(x as double))").as("v")))),
      ("g05_star_components",
        "Each star round is one hi-keyed min-aggregation joined back on the same key plus a distinct — 2-column frames only; labels re-join the node list once at the end.",
        GraphQueries.g05StarComponents(spark, dir)),
      ("s12_mips_topk",
        "Max-norm M is a 1-row broadcast; augmentation fuses into the corpus scan's project; 5 probes broadcast; per-probe top-10 is WindowGroupLimit — one corpus pass total.",
        SimilarityQueries.s12MipsTopk(spark, dir)),
      ("p14_training_order",
        "Keyed hash permutation: within-bucket rank windows partition on (epoch,bucket); the offset running-sum window sees 256 rows per epoch, never the corpus — no global sort or single-partition window.",
        PipelineQueries.p14TrainingOrder(spark, dir)),
      ("p15_dataset_card",
        "One map pass (token regex + md5 — raw text never leaves the scan) feeding a source-keyed rollup; the (source,lang) mode frame joins back via BroadcastHashJoin.",
        PipelineQueries.p15DatasetCard(spark, dir)),
      ("g06_degree_mixing",
        "Degree attach joins ship (node, degree) pairs only; every correlation moment is an exact int64 partial+final agg; the 1-row assortativity enters the histogram via broadcast.",
        GraphQueries.g06DegreeMixing(spark, dir)),
      ("s14_range_search",
        "Radius search: codebook+radii are plan literals; reachable-cell filter runs codegen'd per query; candidates meet the corpus in one BroadcastHashJoin on cell id — cells the angular bound excludes are never scanned.",
        SimilarityQueries.s14RangeSearch(spark, dir)),
      ("s15_ivf_pq",
        "IVF-PQ composition: cell assignment + PQ reconstruction fuse into the corpus scan's project (codebook = plan literals); probes meet candidates in a BroadcastHashJoin on cell id; ADC ranks via WindowGroupLimit.",
        SimilarityQueries.s15IvfPq(spark, dir)),
      ("s16_maxsim",
        "Late interaction: graft_maxsim runs the 4x4 slice-cosine loop nest inside WholeStageCodegen — token bags stay one array row each, no explode, no token-row shuffle; per-query top-5 via WindowGroupLimit.",
        SimilarityQueries.s16MaxSim(spark, dir)),
      ("g08_kcore",
        "Each peel round: two LeftSemi hash joins against the (shrinking, checkpointed) survivor set + one u-keyed degree count — survivor frames are single-column, rounds get monotonically cheaper.",
        GraphQueries.g08KCore(spark, dir)),
      ("s18_binary_ann",
        "Sign codes are two long columns (8 bytes/vector scanned, not 256); Hamming is XOR+popcount in codegen; both the 32-cut and the top-5 rerank are WindowGroupLimit heaps.",
        SimilarityQueries.s18BinaryAnn(spark, dir)),
      ("g10_label_propagation",
        "All 4 LPA rounds compose over one checkpointed weighted edge leaf; each round = u-keyed join + (v,lbl) partial-summed shuffle + per-v max(struct) argmax — no window, no per-v sort.",
        GraphQueries.g10LabelPropagation(spark, dir)),
      ("q94_zorder_layout",
        "Morton code + both bucket ids are one codegen map pass; binning is equal-width off a broadcast 1-row maxima frame (no global sort, no window); audit aggregates to 128 envelope rows in one bucket-keyed shuffle.",
        ExtendedQueries.q94ZorderLayout(spark, dir)),
      ("d15_semdedup",
        "Cell assignment is a map pass against the literal codebook; the quadratic pair step is scoped per k-means cell (cell-keyed shuffle, never all-pairs); the dominance drop is a pair-local filter.",
        DedupQueries.d15SemDedup(spark, dir)),
      ("q95_pattern_match",
        "PATTERN (A B C) adjacency as two LEADs in ONE per-user window pass — no self-joins (Round7OpsSpec pins Join-free); the match filter collapses before the per-user rollup.",
        ExtendedQueries.q95PatternMatch(spark, dir)),
      ("q96_cumulative_distinct",
        "COUNT(DISTINCT) OVER rewritten scale-correct: user-keyed min-day agg, then a running sum over DAY-cardinality rows — the unpartitioned window frame is bounded by the calendar, never by users.",
        ExtendedQueries.q96CumulativeDistinct(spark, dir)),
      ("p23_shard_manifest",
        "Global token offsets via the two-level prefix sum (256-way md5-prefix buckets; the only unpartitioned window is the 256-row offset frame); shard ids are a broadcast-scalar div; manifest is a 16-key rollup.",
        PipelineQueries.p23ShardManifest(spark, dir)),
      ("s20_kcenter_coreset",
        "Each greedy round is one scan with literal-center distance expressions and a distributed top-1 heap (TakeOrderedAndProject) — no global sort, no cross join; k rows total cross the driver.",
        SimilarityQueries.s20KcenterCoreset(spark, dir)),
      ("s24_knn_graph",
        "All-pairs kNN reduced to per-cell blocks: probe/assignment are literal-codebook map passes, candidates come from ONE equi-join on cell id, the rank is a per-source window over ~2-cell lists — no corpus self-join.",
        SimilarityQueries.s24KnnGraph(spark, dir)),
      ("g13_modularity",
        "Five audited LPA rounds over one checkpointed edge leaf; each round's intra-edge test is two endpoint-keyed joins partial-aggregated map-side — no edge-edge join in any of the 5 audits.",
        GraphQueries.g13Modularity(spark, dir)),
      ("q98_asof_directions",
        "Two chained AsOfJoinExec merges (forward peek / nearest carry+peek) reuse the SAME key clustering: the second join adds no exchange over the first's output distribution.",
        ExtendedQueries.q98AsofDirections(spark, dir)),
      ("p27_skew_audit",
        "Per-key counts partial-aggregate map-side; the p95 threshold comes from the bounded count-VALUE histogram (no percentile over keys); thresholds re-enter via broadcast — the fact table is scanned once.",
        PipelineQueries.p27SkewAudit(spark, dir)),
      ("t21_vocab_growth",
        "First-seen checkpoint per token is one token-keyed min; the only unpartitioned window is the 16-row bucket grid — vocabulary growth with state bounded by vocab, not corpus.",
        TextQueries.t21VocabGrowth(spark, dir)),
      ("q100_rolling_distinct",
        "COUNT(DISTINCT) OVER (RANGE 7 days) rewritten window-free: (user,day) pair dedup, constant 7-day Generate fan-out, re-dedup per report day — every aggregation keyed + map-side combined, no Window operator anywhere.",
        ExtendedQueries.q100RollingDistinct(spark, dir)),
      ("t23_oov_rate",
        "Vocabulary cut plans TakeOrderedAndProject (per-partition heaps, 1000 rows cross partitions); membership is a broadcast LEFT probe of the occurrence stream — the corpus shuffles only for the per-source rollup.",
        TextQueries.t23OovRate(spark, dir)),
      ("p29_merge_into",
        "The registry entry's plan is the post-merge read-back (one lake scan + sort); the MERGE statement's own rewrite is dumped in the 'statement:' section at the end of this file.",
        PipelineQueries.p29MergeInto(spark, dir)),
      ("p30_salt_gate",
        "p27's bounded audit feeds the factor back as a broadcast scalar; the build side replicates sequence(0, factor-1) ways INSIDE the plan — decided replication, no driver round-trip, one shuffle join.",
        PipelineQueries.p30SaltGate(spark, dir)),
      ("p34_partitioned_merge",
        "The registry entry's plan is the published rollup over the post-merge table; the partition-grouped MERGE statement itself (with its dynamicpruning subquery) is dumped in the 'statement:' section at the end of this file.",
        PipelineQueries.p34PartitionedMerge(spark, dir)),
      // --- the five most expensive BENCH rows (wall-clock top) ---
      ("p19_multimodal_curation",
        "Wall-clock top (~9.5 s at sf0.1): the SUM of its audited parts — d04's banded MinHash pair-join, m03/m04/m05's band/bucket-scoped media fingerprint joins, star-CC over the union pair frame (cached once for its three readers, log-round convergence). Every pair source is band/bucket-EQUI-keyed — no all-pairs join anywhere in the composition; cost grows linearly in replicas (ScaleExtend).",
        PipelineQueries.p19MultimodalCuration(spark, dir)),
      ("g15_mutual_knn_clusters",
        "Second most expensive (~8.8 s at sf0.1): s24's cell-scoped kNN graph (one equi-join on cell id, per-source WindowGroupLimit rank), ONE reversed-pair self-join for mutuality (edge-keyed, 2-column frames), then star CC with the loud convergence cap — each round is a hi-keyed min-agg + same-key join, so rounds add exchanges of 2-column frames only.",
        GraphQueries.g15MutualKnnClusters(spark, dir)),
      ("st03_stream_join",
        "Streaming row (~5-6 s at sf0.1): the cost is micro-batch ENGINE machinery (state store init + per-batch planning), not data — the plan below is the published batch result; the streaming topology is a stream-stream inner join with both sides watermarked, whose join state is keyed and bounded by the watermark horizon (StreamingSpec pins equivalence to the batch join).",
        StreamingQueries.st03StreamJoin(spark, dir)),
      ("st10_timer_sessions",
        "Streaming row (~6 s at sf0.1): transformWithState with per-key TIMERS on RocksDB — cost is state-store machinery paid per run (engine constant; flat under ScaleSweep). The dumped plan is the published result frame; session correctness (timer-fired closes vs the 9h cut) is pinned by the batch oracle hash and StreamingSpec.",
        StreamingQueries.st10TimerSessions(spark, dir)),
      ("st11_outer_stream_join",
        "Streaming row (~5 s at sf0.1): stream-stream LEFT OUTER join — null-extension can only emit once the watermark passes the join horizon, so the run pays watermark-advance batches; state stays keyed + watermark-bounded. Plan below is the published result; the outer-row timing contract is pinned in StreamingSpec.",
        StreamingQueries.st11OuterStreamJoin(spark, dir)),
      ("p54_storage_partitioned_join",
        "STORAGE-PARTITIONED JOIN: both lake scans report KeyGroupedPartitioning (one keyed input partition per partition group), so the per-source aggregations AND the SortMergeJoin between them plan with ZERO ShuffleExchange nodes — look for the missing Exchange between the scans and the join. The published frame is the joined aggregate; join_exchanges=0 is asserted inside the oracle hash.",
        PipelineQueries.p54StoragePartitionedJoin(spark, dir)),
      ("p63_bucket_spj",
        "SPJ OVER A BUCKET TRANSFORM: the scans report KeyGroupedPartitioning(bucket(8, doc_id)) and Catalyst resolves the transform through the catalog's FUNCTION CATALOG (LakeFunctions), so the doc_id join AND a groupBy over the bucket source column both plan exchange-free — the co-location layout for high-cardinality keys, where identity partitioning would make one group per value. join_exchanges=0, agg_exchanges=0 and the writer-routing audit are all inside the oracle hash.",
        PipelineQueries.p63BucketSpj(spark, dir)),
      ("p68_agg_pushdown",
        "AGGREGATE PUSHDOWN: the published frame is the audited one-row summary; the property to see is in the spec plan it audits — `SELECT count(*), count(opt), min/max(...)` over the lake table plans as a single GraftLakeAgg BatchScan (manifest row counts + write-time null counts + zone min/max), NO parquet scan, NO exchange, NO HashAggregate. pushed_before=1 / pushed_after=0 (after a MoR DELETE lands deletion vectors) are asserted inside the oracle hash.",
        PipelineQueries.p68AggPushdown(spark, dir)),
      ("p69_runtime_filtering",
        "DYNAMIC PARTITION PRUNING on the plain lake scan (SupportsRuntimeV2Filtering): published frame is the audited per-source aggregate; the statement section below dumps the join itself, whose fact scan carries the dim side's runtime filter. groups_scanned=7 of groups_total=20 and dpp_used=1 are inside the oracle hash.",
        PipelineQueries.p69RuntimeFiltering(spark, dir)),
      ("p70_expire_refs",
        "SNAPSHOT EXPIRY UNDER LIVE REFS: the published frame joins the tag's post-vacuum aggregates (pre-rewrite corpus, readable ONLY because VACUUM's keep-set includes every live ref head) against the current table's; vacuumed=1 proves the sweep actually deleted expired untagged rewrite output, tag_below_horizon=1 proves the tag predates the horizon — the case a window-only keep-set destroys.",
        PipelineQueries.p70ExpireRefs(spark, dir)),
      ("p72_ndv_stats",
        "MANIFEST NDV STATISTICS: the stats metadata table is a single driver-side manifest fold (one LocalScan partition — no data I/O, no exchange); the per-file KMV sketches it merges were written as rows streamed. The same fold feeds ColumnStatistics.distinctCount through estimateStatistics, so CBO's join-size estimation gets ANALYZE-quality NDV for free. est_ok=1 on every column (exact below saturation, within 10% above) and full coverage are inside the oracle hash.",
        PipelineQueries.p72NdvStats(spark, dir)),
      ("p73_rewrite_deletes",
        "POSITION-DELETE COMPACTION: a layout-only commit swaps each data file's >= 2 sidecars for ONE merged sidecar — zero data I/O, O(deleted positions). The published frame's scan afterwards opens exactly one sidecar per file; visible aggregates before/after/time-travel are equal and cdc_rows=0 inside the oracle hash.",
        PipelineQueries.p73RewriteDeletes(spark, dir)),
      ("p74_metadata_delete",
        "METADATA-ONLY DELETE: Catalyst's OptimizeMetadataOnlyDeleteFromTable swaps the planned row-level rewrite for one deleteWhere call when the predicate is identity-partition-decidable — the aligned DELETE adds ZERO files (pure manifest removal, action=delete) while the non-decidable fallback rewrites (action=replace); both pinned inside the oracle hash together with the CDC D-row count.",
        PipelineQueries.p74MetadataDelete(spark, dir)),
      ("p75_stats_broadcast",
        "STATS-DRIVEN BROADCAST: with adaptive OFF, the static planner picks BroadcastHashJoin for the 25-row lake dim PURELY from the scan's manifest-reported statistics (a stats-less DSv2 scan defaults to Long.MaxValue and would sort-merge) — look for BroadcastHashJoin + BroadcastExchange on the dim side and NO shuffle on the fact side before the partial aggregate. bhj=1/smj=0/dim_reported_rows=25 are inside the oracle hash.",
        PipelineQueries.p75StatsBroadcast(spark, dir)),
      ("p76_ann_lake_pruned",
        "ANN OVER A CELL-PARTITIONED LAKE: the candidate scan's pushed `cell IN (...)` predicate (the IVF probe set, <= 8 driver-side literals) prunes whole partition groups at file-planning time — the BatchScan's skipPredicates show the IN, ScanStats record fewer groups opened than the table holds (scan_pruned=1 in the oracle hash), and the rerank is a broadcast join against the tiny probe set — no shuffle on the corpus side. The pruned scan itself is dumped in the 'statement:' section (this top-level frame is the post-materialization audit row).",
        PipelineQueries.p76AnnLakePruned(spark, dir)),
      ("p78_cbo_join_reorder",
        "CBO JOIN REORDER FROM MANIFEST NDV: the published frame is the literal audit row (both twin runs' leaf orders are inside the oracle hash); the two optimized join trees — NDV-present reordering the exploding dim behind the contracting one, NDV-absent keeping syntactic order — are dumped in the 'statement:' section.",
        PipelineQueries.p78CboJoinReorder(spark, dir)),
      ("p80_cbo_reorder_under_aqe",
        "CBO REORDER x AQE (the production configuration): CostBasedJoinReorder is a static logical rule, AQE reoptimizes physical subtrees — so the manifest-NDV join order survives adaptivity unchanged, and AQE composes on top (the final adaptive plan broadcasts both tiny dims). Both twins' leaf orders, adaptivity of both executed plans, and the broadcast count are inside the oracle hash; the optimized tree and the FINAL adaptive physical plan are dumped in the 'statement:' section.",
        PipelineQueries.p80CboReorderUnderAqe(spark, dir)))

    val sb = new StringBuilder
    sb.append("# Flagship physical plans (generated by graft.tools.DumpPlans at sf0.01)\n\n")
    sb.append("Each plan is the executed (post-AQE) plan; the one-line note says what\n")
    sb.append("shape property makes it scale. Regenerate after any operator change.\n")
    flagships.foreach { case (name, note, df) =>
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      sb.append(s"\n## $name\n\n$note\n\n```\n${plan.trim.take(4000)}\n```\n")
      // a dump whose every leaf is ExistingRDD audits NOTHING (the query
      // materialized mid-flight and this is the shell around the cached
      // rows) — flag it so the real evidence lives in a statement section
      val leaves = df.queryExecution.executedPlan.collectLeaves()
      if (leaves.nonEmpty && leaves.forall(
          _.getClass.getSimpleName == "RDDScanExec"))
        sb.append("\n> NOTE: this top-level dump degenerates to ExistingRDD " +
          "(the registry entry materializes mid-query); the audited plan " +
          "is dumped in its 'statement:' section below.\n")
    }

    // SQL row-level statements: for MERGE/UPDATE/DELETE the interesting
    // plan lives in the STATEMENT (Catalyst's row-level rewrite), not in
    // the published read-back the registry entries return — so these
    // dump EXPLAIN FORMATTED of the statement itself, against the lake
    // tables/changeset views the flagship runs above just prepared.
    PipelineQueries.p31SqlUpdate(spark, dir).collect()
    PipelineQueries.p32SqlDelete(spark, dir).collect()
    PipelineQueries.p37SchemaEvolution(spark, dir).collect()
    PipelineQueries.p44MergeOnRead(spark, dir).collect()
    val statements = Seq(
      ("MERGE INTO, whole-table group (p29)",
        "MergeRows over ONE outer join of the row-level-operation scan and the changeset, feeding ReplaceData — the single-shuffle copy-on-write shape, chosen by the engine.",
        """MERGE INTO graft_lake.corpus t USING p29_updates s ON t.doc_id = s.doc_id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET len = s.len + 1000, ver = 2, stale = 0
          |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (doc_id, source, len, ver, stale) VALUES (s.doc_id, s.source, s.len, 2, 0)
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET stale = 1""".stripMargin),
      ("MERGE INTO, partition-grouped (p34)",
        "MergeRows over one full-outer SortMergeJoin feeding ReplaceData; the target side is the row-level LakeGroupScan, whose runtime group filter is injected at EXECUTION (dynamic pruning does not render in pre-execution EXPLAIN) — the pruning is pinned observable-side instead: p34's published `rewritten` flag is hash-checked against the changeset, and MergeIntoSpec asserts the commit's exact replaced-group set.",
        """MERGE INTO graft_lake.corpus_part t USING p34_updates s
          |ON t.doc_id = s.doc_id AND t.source = s.source
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1000, ver = 2
          |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (doc_id, source, n_chars, ver) VALUES (s.doc_id, s.source, s.n_chars, 2)""".stripMargin),
      ("UPDATE (p31)",
        "RewriteUpdateTable: the row-level scan feeds a conditional projection into ReplaceData — one distributed pass, no driver-side row surgery.",
        "UPDATE graft_lake.redact SET n_chars = 0, redacted = 1 WHERE source IN ('src3', 'src7')"),
      ("DELETE FROM (p32)",
        "RewriteDeleteFromTable: the filtered complement of the row-level scan replaces the group.",
        "DELETE FROM graft_lake.retain WHERE n_chars < 250 OR doc_id % 9 = 0"),
      ("MERGE into an evolved schema (p37)",
        "Same MergeRows -> ReplaceData rewrite over the POST-ALTER 4-column schema: the row-level scan reads pre-ALTER parquet files with the added column padded null (manifest-driven, no footer merging), so carry-over rows and back-filled rows flow through one plan.",
        """MERGE INTO graft_lake.evo t USING evo_changes s ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET quality_milli = s.quality_milli
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin),
      ("merge-on-read DELETE (p44)",
        "Catalyst plans WriteDelta instead of ReplaceData for the SupportsDelta operation: the row-level scan emits ONLY matching rows with their (_file, _pos) rowId metadata columns — no carry-over join, no group rewrite — and each row reaches the delta writer as a DELETE op that folds into a position-delete sidecar.",
        "DELETE FROM graft_lake.mor WHERE n_chars >= 900"),
      ("runtime partition filtering (p69)",
        "The fact-side BatchScan carries RuntimeFilters: [dynamicpruningexpression(source IN dynamicpruning#N)] fed by a SubqueryBroadcast that REUSES the join's own broadcast exchange — the dim filter (on a non-join column, so nothing is statically inferable) executes once, its distinct keys prune whole fact partition groups before file planning: ScanStats records 7 of 20 groups planned.",
        "SELECT f.source, count(*) FROM graft_lake.dppfact f JOIN graft_lake.dppdim d ON f.source = d.dsource WHERE d.w = 0 GROUP BY f.source"),
      ("stats-driven broadcast (p75)",
        "The dim side plans as BroadcastExchange + BroadcastHashJoin STATICALLY — the cost model consumed the lake scan's manifest-reported 25 rows (estimateStatistics; a stats-less DSv2 scan would report Long.MaxValue and sort-merge). The fact side flows scan -> partial aggregate with no join shuffle.",
        """SELECT n_name, count(*) AS n_customers
          |FROM graft_lake.bcust JOIN graft_lake.bnation ON c_nationkey = n_nationkey
          |GROUP BY n_name""".stripMargin),
      ("aggregate pushdown (p68)",
        "The whole Aggregate collapses into ONE GraftLakeAgg BatchScan — no parquet scan, no Exchange, no HashAggregate: counts come from manifest row+null counts, min/max from zones. VERSION AS OF 1 pins the pre-DELETE snapshot (the flagship run above landed deletion vectors on HEAD, where the same query correctly falls back to reading data).",
        "SELECT count(*) AS n, count(opt) AS nopt, min(doc_id) AS mn, max(n_chars) AS mx FROM graft_lake.aggpd VERSION AS OF 1"))
    statements.foreach { case (name, note, stmt) =>
      val txt = spark.sql("EXPLAIN FORMATTED " + stmt).collect()(0).getString(0)
      sb.append(s"\n## statement: $name\n\n$note\n\n```\n${txt.trim.take(4000)}\n```\n")
    }

    // The SPJ plan needs the v2-bucketing confs LIVE at plan time (the
    // p54 registry entry restores them after its run, and its published
    // frame is a literal), so the zero-exchange join gets a conf-scoped
    // section of its own over the tables p54 just built.
    {
      import org.apache.spark.sql.functions.{col, min, sum}
      GraftSession.withConf(spark)(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.graft.preserve-data-grouping" -> "true",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val a = spark.table("graft_lake.spj_chars").groupBy("source")
          .agg(sum(col("n_chars")).as("sum_chars"))
        val b = spark.table("graft_lake.spj_langs").groupBy("source")
          .agg(min(col("lang")).as("min_lang"))
        val j = a.join(b, "source")
        sb.append("\n## statement: storage-partitioned join (p54)\n\n" +
          "Both lake scans report KeyGroupedPartitioning (one keyed input " +
          "partition per partition group), so the two per-source " +
          "HashAggregates AND the SortMergeJoin between them plan with ZERO " +
          "Exchange nodes — only sorts sit between the scans and the join. " +
          "At 100 TB this is the decisive shuffle elimination: co-location " +
          "replaces data movement entirely.\n\n" +
          s"```\n${j.queryExecution.executedPlan.toString.trim.take(4000)}\n```\n")
      }
    }

    // Same conf-scoped treatment for the TRANSFORM flavor (p63): the
    // bucket(8, doc_id) join over the tables p63 just built.
    {
      import org.apache.spark.sql.functions.col
      GraftSession.withConf(spark)(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.graft.preserve-data-grouping" -> "true",
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val j = spark.table("graft_lake.bspj_chars")
          .join(spark.table("graft_lake.bspj_langs"), "doc_id")
          .filter(col("n_chars") >= 0L)
        sb.append("\n## statement: bucket-transform storage-partitioned join (p63)\n\n" +
          "Both scans report KeyGroupedPartitioning(bucket(8, doc_id)); " +
          "Catalyst resolves `bucket` through the catalog's FunctionCatalog " +
          "and aligns the two scans' bucket groups directly — the doc_id " +
          "SortMergeJoin plans with ZERO Exchange nodes over a " +
          "high-cardinality key that identity partitioning could never " +
          "co-locate (one group per value).\n\n" +
          s"```\n${j.queryExecution.executedPlan.toString.trim.take(4000)}\n```\n")
      }
    }
    // p76: statement-level dump of the PRUNED ANN scan itself (the
    // registry frame is post-materialization). A literal probe set over
    // the cell-partitioned table p76 just built: the BatchScan must
    // carry skipPredicates=[cell IN (...)], and the recorded ScanStats
    // prove fewer partition groups were OPENED than the table holds.
    {
      import org.apache.spark.sql.functions.col
      val probe = spark.table("graft_lake.annlake")
        .filter(col("cell").isin(0, 1, 2))
        .groupBy(col("cell")).count()
      probe.collect() // materialize -> the scan records its stats
      val st = graft.sources.LakeStore.lastScanStats("graft_lake.annlake")
      val txt = probe.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      sb.append("\n## statement: ANN partition-group pruning (p76)\n\n" +
        "The probe's `cell IN (0, 1, 2)` reaches the lake scan as a " +
        "skipPredicate and prunes whole partition groups at FILE-PLANNING " +
        "time — the table is the IVF index, nProbe = groups opened. " +
        s"Recorded ScanStats for this statement: opened " +
        s"${st.groupsScanned} of ${st.groupsTotal} partition groups, " +
        s"${st.filesScanned} of ${st.filesTotal} files.\n\n" +
        s"```\n${txt.trim.take(4000)}\n```\n")
    }

    // p78: the join-order flip itself — the OPTIMIZED logical trees of
    // the twin runs (tables p78 just built), same CBO confs as the row.
    {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      GraftSession.withConf(spark)(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "false") {
        Seq(
          ("_ndv", "WITH manifest NDV: the estimator sees dimA's key at " +
            "NDV=1 (a 10x fan-out) and dimB's join CONTRACTING the fact " +
            "side, so CostBasedJoinReorder joins dimB first — the " +
            "syntactically-first exploding dim moves LAST."),
          ("_raw", "WITHOUT NDV (same confs, same row counts): join " +
            "cardinalities are unestimable, costs fall back to size " +
            "products, and the exploding syntactic order survives.")
        ).foreach { case (suffix, note) =>
          val q = spark.table(s"graft_lake.cbofact$suffix")
            .join(spark.table(s"graft_lake.cbodima$suffix"),
              col("ka") === col("ka_d"))
            .join(spark.table(s"graft_lake.cbodimb$suffix"),
              col("kb") === col("kb_d"))
            .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s"),
              sum(col("wa") + col("wb")).as("w"))
          sb.append(s"\n## statement: CBO join reorder, $suffix twin (p78)\n\n" +
            note + "\n\n" +
            s"```\n${q.queryExecution.optimizedPlan.treeString.trim.take(3000)}\n```\n")
        }
      }
    }

    // p80: the same reorder with AQE ON (the production mode) — the
    // optimized logical tree (the static decision AQE inherits) and the
    // FINAL adaptive physical plan after execution (what AQE composed
    // on top: broadcast both dims), over the tables p80 just built.
    {
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      GraftSession.withConf(spark)(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.adaptive.enabled" -> "true") {
        val q = spark.table("graft_lake.cbofact_qaqe")
          .join(spark.table("graft_lake.cbodima_qaqe"),
            col("ka") === col("ka_d"))
          .join(spark.table("graft_lake.cbodimb_qaqe"),
            col("kb") === col("kb_d"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s"),
            sum(col("wa") + col("wb")).as("w"))
        q.collect() // materialize the adaptive plan
        sb.append("\n## statement: CBO reorder under AQE, optimized logical tree (p80)\n\n" +
          "The static CostBasedJoinReorder decision with adaptive ON — " +
          "identical to the p78 _ndv twin's: the contracting dim (cbodimb) " +
          "joins first. AQE cannot re-order this tree; it inherits it.\n\n" +
          s"```\n${q.queryExecution.optimizedPlan.treeString.trim.take(3000)}\n```\n")
        sb.append("\n## statement: CBO reorder under AQE, FINAL adaptive physical plan (p80)\n\n" +
          "What AQE composed on top of the static order: both dims enter " +
          "via BroadcastHashJoin inside materialized query stages — zero " +
          "shuffles on the fact side before the partial aggregate.\n\n" +
          s"```\n${q.queryExecution.executedPlan.toString.trim.take(4000)}\n```\n")
      }
    }

    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
