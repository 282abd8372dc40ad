package graft

/** Dumps formatted physical plans for representative queries into
  * PLANS.md — pushdown/broadcast/codegen evidence for review. */
object Plans {
  def main(args: Array[String]): Unit = {
    val s = GraftSession.local("plans", 8)
    // Pin the quantile family to its bracket+exact plan: PLANS.md's job
    // is the 100-TB-shape evidence (bucket-bounded window partitions),
    // and at sf0.01 production routing would show the one-window small
    // branch instead. The header notes the routing.
    s.conf.set("graft.agg.oneWindowRowLimit", "0")
    val dir = "/root/testdata/sf0.01"
    val picks = Seq(
      "q01_pricing_summary" -> "filtered scan → partial+final hash agg (pushdown + pruning)",
      "q03_enrich" -> "flagship: one window shuffle + broadcast dims, codegen end-to-end",
      "q10_inner_join" -> "dimension join: filter pushed below a broadcast hash join",
      "q31_ann_bruteforce" -> "ANN baseline: corpus scanned once, probe set broadcast, codegen cosine",
      "q34_pivot" -> "pivot: single shuffle, filtered decimal sums",
      "q41_pipeline_vertices" -> "composed pipeline: window + broadcasts + final hash agg",
      "q28_minhash_neardup" -> "MinHash-LSH: 2 shuffles total (bucket grouping, pair dedup), signature joins broadcast with the estimate filter fused in",
      "q63_contamination" -> "decontamination: exploded shingle hashes, heldout set broadcast into a semi-join",
      "q66_tfidf" -> "TF-IDF: two partial-agg shuffles, AQE-broadcast df join, one doc-keyed window",
      "q87_asof_broadcast" -> "custom strategy: BroadcastAsOfJoin exec, zero exchanges on the probe side",
      "q89_mixture_sample" -> "mixture sampling: scan-stage md5 filter, partial+final agg only",
      "q90_topk_agg" -> "bounded-heap top-k: ObjectHashAggregate with partial_topkpairsagg map-side",
      "q92_snapshot_diff" -> "snapshot diff: only (id, md5) reaches the full-outer SortMergeJoin",
      "q101_cms_sketch" -> "CMS sketch: ONE tokenize scan — counters and top-20 both derive from the reused token-frequency exchange (AQE ReusedExchange at runtime)",
      "q102_simhash_radius" -> "simhash radius: banded candidates from the cached signature table, (band,slice,id)-only shuffle, xor-popcount verify",
      "q103_bloom_prune" -> "bloom prune: the probe is a scan-stage codegen predicate (no exchange before the agg); the exact branch broadcasts the dim",
      "q104_kmv_distinct" -> "KMV sketch: distinct exchange O(ndv) then ObjectHashAggregate with partial_topkpairsagg — map-side buffers ≤ k",
      "q107_span_dedup" -> "span dedup: spans hash at the scan stage, the exchange carries (16-byte hash, id, idx) — text never shuffles",
      "q111_triangles" -> "triangle counting: one fact shuffle builds capped adjacency, degree joins broadcast, then per-EDGE sorted-adjacency intersection (broadcast nbr arrays + merge-scan IntersectSortedLongs) — the O(m^1.5) wedge stream never exists",
      "q115_containment" -> "containment join: blocked self-join off ONE checkpointed shingle table, merge-scan containment as a codegen'd predicate",
      "q117_equidepth" -> "equi-depth histogram: range-exchange sort (the prefix-sum layout), carry pass map-only, bin agg partial+final — no single-partition window anywhere",
      "q123_interval_join" -> "interval overlap join: bin explode at the scan stage, broadcast hash equi-join on (key, bin), exact overlap + first-shared-bin filters fused after the join — fact side has NO exchange",
      "q124_merge_upsert" -> "CDC merge: union → ObjectHashAggregate with partial_maxbyrowagg map-side — one exchange keyed by k, no sort at any stage",
      "q126_ann_pq" -> "PQ ANN: codebook dots are codegen'd literals; codes table × broadcast query LUTs, ADC score via array lookups, per-query top-k window",
      "q128_rolling" -> "rolling window: (user, day) partial+final agg, then ONE window over the pre-aggregated days — the frame input is user-days, not events",
      "q140_int8_gram" -> "int8 Gram: scan-stage quantization feeds ONE GramUpperTriangleAgg (ObjectHashAggregate, 16.6 KB buffer/partition) — no per-row struct explode, the only exchange carries P partial buffers",
      "q143_video_frames" -> "real GIF frame sampling: encode + sample + decode all inside scan-stage mapPartitions (payloads never shuffle) — the only exchange is the determinism ORDER BY",
      "q146_quantiles" -> "discrete quantiles (bracket+exact): occurrences collapse to (group, value) partial+final agg FIRST, a ≤513-row-per-group bucket window locates each rank's bracket, the exact scan windows ONLY in-bracket values — no distinct-value-sized partition anywhere",
      "q147_contamination" -> "benchmark decontamination: per-doc gram dedup map-side (array_distinct before explode), benchmark gram set BROADCAST into the hit join, single doc-id partial-agg exchange",
      "q151_heavy_hitters" -> "exact heavy hitters pass 2: tokens semi-join the BROADCAST Misra-Gries candidate set at the scan stage, then one O(candidates) partial+final agg — the only exchanges carry summary/candidate rows, never the corpus",
      "q153_image_dhash" -> "perceptual image dedup: PNG encode+decode+dHash all inside scan-stage mapPartitions (payloads never shuffle); the cluster agg's exchange carries (hash_hi, hash_lo, id) only",
      "q150_sssp" -> "weighted SSSP final round: delta frontier joins the cached (src)-partitioned edges, best-table rewrite is a broadcast-anti-join replacement (union, never re-aggregated) — per-round exchanges carry node-sized tables only",
      "q160_scc" -> "SCC coloring: fwd+bwd reachability FUSED into one tagged min-label loop — one (tag,dst)-partitioned edge cache, per-round candidate join + replacement rewrite covers BOTH directions",
      "q162_edge_support" -> "edge support: ONE cached canonical edge set feeds both the capped-adjacency build and the per-edge merge-scan intersection (IntersectSortedLongs) — no wedge stream, degree joins broadcast",
      "q163_truss_peel" -> "k-truss peel round: support recount over the shared oriented-triangle core, zero-fill via union-into-agg instead of an edge-sized join, monotone shrink checkpointed per round",
      "q170_clustering_coeff" -> "clustering coefficient: triangle and degree branches read the SAME cached canonical edges (materialized once — the shared-branch lesson); final is one node-keyed agg over broadcast-joined counts",
      "q182_assortativity" -> "degree assortativity: hub-capped co-occurrence kernel bounds the pair explosion, node-sized degree join correctly NOT broadcast at scale, single Pearson aggregate",
      "q186_pr_convergence" -> "PR convergence telemetry: ONE fixed-point loop with the round-2 iterate captured (localCheckpoint reference, zero recompute) — the delta join reads two checkpointed node-sized tables",
      "q193_ngram_novelty" -> "first-seen n-gram novelty: map-side gram dedup (array_distinct before explode), PARTIAL-AGG first-seen (groupBy(gram).agg(min(id)) — hot stopword grams collapse map-side, no df-sized window partition), two bucket-sized aggs meet in a broadcast join — text never shuffles",
      "q194_table_checksum" -> "order-independent table checksums: scan-stage md5 prefix, one single-row partial+final agg per table — zero wide exchanges, content parity without moving either table",
      "q197_drift_plane" -> "top-2 drift plane: both power loops over the ONE cached triple store, d-row iterates broadcast into the scans, deflation residual built map-side from broadcast v1 + projection join",
      "q198_band_join" -> "stream-stream band join (batch path): range-predicate equi-join, purchase side filtered at the scan, one user-keyed exchange pair feeding the band filter",
      "q199_winsorized" -> "winsorized sums: bracket+exact cutoff pass, then the second scan joins the BROADCAST group-sized cutoffs — two scans, the exact-winsorization floor",
      "q200_harmonic" -> "landmark harmonic centrality: one bit-packed msbfs frontier sweep (64 seeds in one mask), distances exploded once, node-keyed ppm rollup + TakeOrdered top-100",
      "q201_containment_canonical" -> "containment-family canonicalization: blocked containment self-join off the cached shingle sets, CC over the pair edges, one arithmetic keep-key min agg — the cluster table is the only post-pair shuffle",
      "q202_budget_mix" -> "greedy budget mix: one corpus agg to source-count-sized rows (materialized once for both branches), broadcast 1-row budget, source-sized window — the corpus is scanned exactly once",
      "q203_tv_drift" -> "TV mix drift: ONE (source, token) partial-agg exchange checkpointed for three branches; NO dense grid — absent-token mass telescopes to one arithmetic correction per group, the deviation join is token-keyed over present pairs (broadcast here is Catalyst's size call, not forced), group margins broadcast, DECIMAL(38,0) products",
      "q205_boilerplate" -> "boilerplate screen: sentence split+hash scan-stage, ONE (doc, sentence-hash) exchange checkpointed for the df and ratio branches, df agg collapses map-side, flag join hash-keyed",
      "q206_cdc_chunks" -> "CDC chunking: cut selection, chunk assembly and chunk hashing all per-row array expressions in the scan stage — the only exchange is the (source, chunk-hash) partial+final agg",
      "q207_knn_label_consistency" -> "cell-blocked all-kNN: assignment is a map against k·dim centroid literals, the self-join shuffles by CELL only (never all-pairs), per-query top-k windows are cell-sized by construction",
      "q209_snapshot_diff" -> "snapshot diff: both sides reduce to (key, md5-32 row hash) in the scan stage, ONE full-outer key join, single aggregated output row — value columns never shuffle",
      "q211_cluster_silhouette" -> "simplified silhouette: a and b both come from ONE per-row distance array against the k·dim centroid literals — no second pass, no shuffle beyond the k-row rollup",
      "q213_neighbor_agg" -> "neighbor feature agg: degree is one edge-keyed partial agg, the gather is one node-keyed hash join (degree table deliberately NOT broadcast) + src-keyed partial agg — no iteration, no window",
      "q204_equidepth_hist" -> "exact equi-depth histogram: bracket+exact cutoff pass, cutoffs BROADCAST into a (group, bucket) partial+final agg over the second scan, zero cells filled from the groups×buckets grid — two scans, the exact floor",
      "q208_landmark_reach" -> "landmark reach curves: the q200 bit-packed 64-seed msbfs core (one mask-state frontier loop), distances exploded once, landmark-side rollup — output is |seeds|×hops, never node-sized",
      "q210_mad_outliers" -> "exact MAD outliers: median pass + |v−median| MAD pass (both bracket+exact), then one rescan against the BROADCAST group-sized (median, mad) table — three scans, the exact-MAD floor",
      "q212_retention_cohorts" -> "retention cohorts: distinct user-weeks exchange, min-week cohort partial agg joined back user-keyed, cohort×offset rollup — no window, no user-sized partition",
      "q214_split_manifest" -> "split manifest: md5 split assignment is a scan-stage expression, ONE (source, split) partial+final agg — the corpus never shuffles",
      "q215_quantile_drift" -> "quantile drift: two bracket+exact passes over disjoint week-parity halves, group-keyed join, zero-guarded integer drift ppm",
      "q216_loghist_quantiles" -> "log-histogram quantile sketch: (group, bucket) partial agg collapses to ≤256 rows/group map-side BEFORE the exchange; the window partitions are bucket-count-bounded",
      "q217_link_prediction" -> "link prediction: wedge stream = two edge joins through the shared middle node (bounded by the hub-capped kernel, never all-pairs), one anti-join evicts existing edges, TakeOrdered top-100",
      "q219_fuzzy_er_clusters" -> "fuzzy ER resolution: DISTINCT-name collapse first (fuzzy-match the vocabulary, not the rows), banded levenshtein inside first-word blocks, CC over the pair edges, canonical name join-back",
      "q220_percentile_ranks" -> "percentile ranks: (group, value) partial agg, ≤513-row bucket window for below-weights, within-bucket cum windows partitioned by (group, BUCKET) — never a group-wide distinct-value partition",
      "q221_sliding_distinct" -> "sliding 7-day distinct: corpus register-ized into (type, day, bucket) cells by ONE partial+final agg; every window position is a bucket-wise max over the sketch-sized cell table (broadcast active-day join)",
      "q222_trailing_quantiles" -> "trailing 7-day quantiles: one corpus bucketing exchange, cell-level ≤7× replication against the broadcast day list, bucket-bounded cum windows per (type, day)",
      "q223_rank_profile" -> "rank join-back profile: the distinct-value rank table hash-joins the fact on its natural (type, value) key, one user-keyed partial+final agg, TakeOrdered top-100",
      "q218_incremental_neardup" -> "incremental near-dup vs signature store: both signature sides MATERIALIZED before banding (the 54fe9ef regression guard — Catalyst's inferred posexplode size/not-null filter otherwise substitutes the whole 64-pass MinHash below the scan, re-evaluating it up to 32x per row, measured 8x); band/bucket filters land on the STORED columns, the routed batch broadcast probes the hot-cell-capped store explode, agreement is map-side",
      "q224_join_skew" -> "join-skew pre-flight: two key-sized partial+final aggs (facts shuffle only key counts), one full-outer count-table join, TakeOrdered top-k",
      "q225_split_balance" -> "split-balance chi-square: md5 split assignment scan-stage, (source, split) cell agg, category-sized margins grid — the corpus never shuffles",
      "q226_volume_anomalies" -> "hourly volume anomalies: corpus collapses to (type, hour) counts FIRST; the exact median/MAD passes and the outlier join run over the hours-sized rollup",
      "q227_session_baskets" -> "session-basket lift: sessionize window, basket table checkpointed once for its three reads, self-join keyed (user, session) with <= |types| rows/key, DECIMAL(38,0) lift products",
      "q228_conversion_time" -> "conversion-time quantiles: funnel joins on (user, session), micros-grid strictly-after filter, bracket+exact quantiles over the sessions-sized durations",
      "q229_skew_routed_join" -> "auto-routed skew join: the pre-flight's two key-sized aggs decide, then the salted regime replicates the dim buckets-fold and spreads the hot key over (key, salt) reducers — result-identical to the plain join",
      "q230_ivf_index_probe" -> "persisted IVF index probe: corpus assigned once against centroid literals, probe reads ONLY the probed cells (IN filter on the stored cell column — partition pruning on a cell-partitioned store), exact re-rank windows are cell-bounded",
      "q231_cellstore_serve_day" -> "cell-store serve-one-day (driver-gated): the trailing window is served from the materialized store's w-day range; see also the bespoke parquet-store section below for the pushed day filter",
      "q232_pq_index_probe" -> "persisted PQ index probe: the scan side is the ~32x-compressed CODES store (raw embeddings never re-read), query LUTs ROUTED-broadcast (proven fit vs graft.ann.broadcastBatchBytes; over budget = partition-paired cartesian over the checkpointed LUTs), ADC score is array lookups, per-query top-k window",
      "q233_ivfpq_index_probe" -> "composed IVF∘PQ probe: cell pruning FIRST (probed-cell IN filter on the stored cell column of the codes table — partition pruning), THEN ADC over the pruned ~32x-compressed codes; the batch joins on cell under the routed-broadcast license (over budget = one shuffle of the batch, store stays pruned); candidate work nProbe/nCentroids of the uncomposed PQ probe",
      "q234_incdedup_bucketstats" -> "q218's screen with the hot-cell list from bucket-count METADATA instead of a store-wide bucket recount per micro-batch; in this oracle dump the stats are built inline (two filtered bucketCounts generations merged additively — the union+sum subtree under the anti-join); with the PERSISTED sibling table the store parquet is scanned exactly once, plan-asserted in IncrementalDedupSpec",
      "q235_coreset_fps" -> "farthest-point coreset (census pass shown): the checkpointed quantized corpus is scanned ONCE against the k selected-center literals (all integer dist² in codegen), k-row partial+final agg, k-row broadcast join — each greedy round before it was the same scan shape into a top-1 TakeOrderedAndProject (per-partition top-1, no sort exchange)",
      "q236_ivf_split_hotcells" -> "IVF hot-cell split census: member work reads ONLY the hot cells (cell IN filter — partition pruning on a cell-partitioned store); seed joins are nCells-bounded broadcasts; the re-center is one (cell·dim)-row partial+final agg; unsplit-cell census is a metadata-sized count join, the corpus never shuffles",
      "q237_walk_cooccurrence" -> "walk skip-gram associations: pairs from ONE lead-array window pass over the checkpointed walk table (no self-join), two count aggs, scalar T/P totals ride broadcast one-row frames — the only exchanges are the walk-keyed window and the pair/occurrence aggs",
      "q238_importance_weights" -> "DSIR importance weights: scan-stage tokenize+md5-bucket (re-scanned, never a materialized token explosion), bins-row bucket-score table BROADCAST into the per-doc agg, fixed-point log2 is pure codegen integer math (bitlength + shifts) — the only corpus-sized exchange is the (doc, bucket) partial agg",
      "q239_tokenizer_fertility" -> "tokenizer fertility by language: q139's checkpointed (doc, tok) projection feeds trainer and encoder (one tokenize scan), vocab-sized merge work, width join deliberately shuffled (100 TB vocab outgrows broadcast), lang rollup over doc-sized rows",
      "q240_coreset_coverage" -> "coreset coverage audit: batch scanned ONCE against the k center literals (codegen integer dist² argmin), k-row agg, k-row left join restores empty centers — the greedy selection ran upstream on the store side, the audit itself never shuffles the batch",
      "q241_split_leakage" -> "near-dup split leakage: q28's banded minhash pairs (pair-sized) join the doc-sized split table twice — pair side small so both joins broadcast the pairs at this SF; at scale they are id-keyed shuffle joins of (id, split) projections; final rollup is 6 rows",
      "q242_coreset_extend" -> "coreset extension (first new round shown in the k-row output plan): the greedy loop continues from the STORED centers as baked literals — per round one scan of the drifted corpus into a top-1 TakeOrderedAndProject, no shuffle of the corpus, append rows only")
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by `graft.Plans`, sf0.01)\n\n")
    sb.append("Evidence for ARCHITECTURE.md's claims: `PushedFilters`/`ReadSchema`\n")
    sb.append("at every scan, `BroadcastHashJoin` for every dimension join,\n")
    sb.append("`WholeStageCodegen` spans over the hot paths, one `Exchange` per\n")
    sb.append("logical shuffle need (the trailing range exchange is the\n")
    sb.append("determinism ORDER BY for oracle hash parity; when the sort's input\n")
    sb.append("is estimated at most spark.sql.adaptive.advisoryPartitionSizeInBytes\n")
    sb.append("it is `rangepartitioning(…, 1)` and runs no sample job, see\n")
    sb.append("plans/OnePartitionSort; these are the plans before any stage runs,\n")
    sb.append("and AQE decides again on measured sizes as stages finish).\n")
    sb.append("Quantile-family plans are pinned to the bracket+exact\n")
    sb.append("(scale-path) regime via graft.agg.oneWindowRowLimit=0;\n")
    sb.append("production routing takes the one-window plan on proven-\n")
    sb.append("small inputs (see Aggregations.quantilesDisc).\n")
    picks.foreach { case (name, why) =>
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(SparkEntry.queries(name)(s, dir)
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode))
      sb.append("\n```\n")
    }
    // Not a SparkEntry query (needs a materialized parquet store): the
    // day-partitioned cell-store serving path. The claim to plan-verify
    // (VERDICT r12 #5): serving ONE window position pushes the w-day
    // range into the store scan (PushedFilters on the stored day
    // column) — history outside the window is never read, which is the
    // append-only store's whole point.
    locally {
      import org.apache.spark.sql.functions._
      val tmp = java.nio.file.Files.createTempDirectory("plans-cells").toString
      graft.operators.Sketch.logHistCells(
        graft.sources.Tables.events(s, dir)
          .select(col("event_type").as("g"),
            expr("(ts_ns div 1000) div 86400000000").as("d"),
            ceil(col("value") * 100).cast("long").as("v")),
        Seq("g"), "d", "v")
        .write.mode("overwrite").parquet(tmp)
      val at = graft.operators.Sketch.logHistQuantilesAt(
        s.read.parquet(tmp), Seq("g"), day = 20120L, windowDays = 7,
        Seq(500000L, 990000L))
      sb.append("\n## cell-store serve-one-day (Sketch.logHistQuantilesAt over a persisted logHistCells parquet store) — " +
        "the day-range predicate PRUNES the store scan (PushedFilters on `day`); " +
        "the day-list branch gets the emitted-day equality pushed through the join\n\n```\n")
      sb.append(at.queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("/root/repo/PLANS.md"), sb.toString)
    println("PLANS.md written")
    s.stop()
  }
}
