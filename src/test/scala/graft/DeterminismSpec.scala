package graft

/** Hash-match protection: results must be identical under different
  * parallelism (partition-dependent ordering or FP-merge divergence would
  * break the driver's compare — SURVEY §5.3 #3).
  *
  * A representative slice across the risk classes (double aggregation, window
  * frames, nested-to-string flattening, LSH banding, top-k boundaries) — the
  * full inventory runs under the Verify harness.
  */
class DeterminismSpec extends SparkSpec {

  private val risky = Seq(
    "agg_hash", "agg_stats", "agg_collect_sorted", "win_frame_range",
    "dedup_minhash", "sim_knn_topk", "dedup_embed", "topk_limit", "udaf_typed",
    // round-2 risk classes: FP argmin over a rounded pool (periods), trig
    // filter boundary (sky), iterative join fixpoint (cluster), k-means
    // centroid means (ivf)
    "lc_periods", "join_sky", "dedup_cluster", "sim_ivf",
    // round-3 risk classes: trig + FP argmax (lombscargle), iterative FP
    // propagation (pagerank), centered-moment sums (detrend, corr), block
    // join + distinct (hamming), FP entropy sums
    "lc_lombscargle", "graph_pagerank", "lc_detrend", "agg_corr",
    "dedup_hamming", "text_entropy",
    // round-3 additions: FP mean over merge-ordered partials feeding a
    // rounded output (ensemble zero-points, centroid dims), ratio of two FP
    // aggregates (eta), sketch min over bucket counts, bitmap bit_or words
    "lc_ensemble", "sim_centroid", "lc_variability", "text_heavyhitters",
    "agg_bitmap_distinct",
    // PQ: rounded argmins + grid-exact ADC sums must hold under any merge order
    "sim_pq",
    // FP mean of -ln P over merge-ordered partials feeding a rounded output
    "text_perplexity",
    // round-4 risk classes: per-doc sums of ln-ratio weights (classifier),
    // FP pair averages under bucketed join order (structure function),
    // within-cell cosine rank boundaries (semantic dedup), sequential
    // HOF fold state (smooth), star-contraction fixpoint (components)
    "quality_classifier", "lc_structfunc", "dedup_semantic", "lc_smooth",
    "graph_cc",
    // flagship composition: unrounded percentile median + avg(resid)
    // zero-points + mssd partials feed grid-boundary decisions (the kept
    // clip and the eta threshold), so merge order could flip rows
    "pipeline_lightcurve",
    // round-5 risk classes: full-outer merge disposition under coalesce
    // (table_merge), count^alpha keep-threshold boundary (temperature mix)
    "table_merge", "sample_temperature",
    // round-5 batch 2: FP ln-ratio sums over merge-ordered bucket partials
    // (PSI), interpolation division fed by window carriers (interp), share
    // division over partial-agg counts (split)
    "agg_drift", "ts_interp", "sample_split",
    // round-6 risk classes: iterative peel fixpoint under semi-join order
    // (kcore), broadcast-probe aggregation order (incremental dedup) —
    // integer-exact by design, pinned here because both are iterative/
    // join-order-shaped like their FP siblings
    "graph_kcore", "dedup_incremental",
    // round-7 risk classes: bucketed-index shuffled probe (same integer
    // bet as dedup_incremental, now through an on-disk bucketed read),
    // and the IVF+PQ composition — residual subtraction + rounded Lloyd
    // argmins + grid-exact ADC sums must hold under any merge order
    "dedup_index_probe", "sim_ivfpq",
    // round-7 batch 2: synchronous-LPA vote argmax under merge-ordered
    // count partials (integer struct-max, same iterative bet as cc/kcore),
    // and the water-fill's cap/redistribute boundaries fed by partial-agg
    // totals (integer micro-rate grid)
    "graph_label_prop", "pipeline_mix",
    // round-7 batch 3: FP mean of member-to-centroid cosines under
    // merge-ordered partials feeding a rounded report (cell cohesion)
    "sim_cell_report",
    // funnel composition: FP gate boundaries (mtl/stop_frac thresholds)
    // + keep-first window + integer water-fill, all feeding one report
    "pipeline_recipe",
    // index lifecycle: the append must land in the same bucket layout
    // under any partitioning of the delta writer
    "dedup_index_maintain",
    // ANN standing index: the persisted assignment + bucketed probe must
    // reproduce under any write/read partitioning, and the maintain
    // variant's frozen-centroid append + two-lane rank under any merge
    // order of the scored cell scan
    "sim_index_probe", "sim_index_maintain",
    // two-stage retrieval: the ADC shortlist cut AND the exact re-rank
    // both bet on rounded-grid ties staying deterministic across merge
    // topologies
    "sim_refine",
    // round-8 risk classes: min-gid class representatives through six
    // doubling rounds under any join/merge order (dedup_suffix), the
    // DDSketch bucket boundary ceil(ln v/ln γ) + cumulative rank pick
    // under merge-ordered partials (pctile_reagg), latest-generation-wins
    // max-struct under any scan order of the generation dirs
    // (timetravel), and the mm-encoded probe's cell argmax + top-3 rank
    // boundaries under any assignment merge order (crossmodal)
    "dedup_suffix", "agg_pctile_reagg", "table_timetravel", "mm_crossmodal",
    // round-9: same latest-wins max-struct risk class as timetravel, plus
    // the vacuum require() must hold under any write partitioning
    "table_vacuum",
    // round-9 batch 2: frontier expansion through distinct + anti-join
    // under any join/merge order (bfs — the cc/kcore iterative bet),
    // in-bucket pair expansion + integer retention micro-grid across
    // three fused layouts (tuning), and the sort-free global rank's
    // offset + local-rank decomposition under any class partitioning
    // (shard — an off-by-anything in the offsets reshards every doc)
    "graph_bfs", "dedup_tuning", "pipeline_shard",
    // BLS: FP signal-residue sums under merge-ordered bin partials feed
    // two rounded-grid argmaxes (box, then period) — the lc_periods bet
    "lc_bls",
    // round-10: log-resolved change-feed / restore rollups must hold
    // under any write partitioning of the staged generations (the
    // table_vacuum risk class, plus file-set diffs from the log); the
    // signed-delta fold must land on identical integers under any
    // delta/union merge order; the jaccard top-20 boundary must not
    // move under wedge-join merge order (integer ppm + total tiebreak)
    "table_changefeed", "table_restore", "table_incr_refresh",
    "graph_jaccard",
    // compaction rewrite + rollup identity must hold under any write
    // partitioning of the 12-file fixture and any scan order of the
    // pre/post snapshots; the cc histogram's integer buckets must land
    // identically under any triangle-join merge order
    "table_optimize", "graph_cluster_coeff",
    // the EWMA's integer shift-weighted sums must land identically under
    // any join/merge order (all-BIGINT, so this is a true invariance, not
    // an FP hope)
    "ts_ewma",
    // round-11: the conflict-arbitration outcome (one winner, one abort,
    // one commuting append) and its final-snapshot rollup must hold under
    // any write partitioning of the staged generations — the table_vacuum
    // risk class with arbitration on top
    "table_conflict",
    // round-12: the copy-on-write delete's victim pruning + rewrite and
    // both versions' rollups must hold under any write partitioning of
    // the partitioned base (file counts per partition change, the
    // file-set identity requires must not); timestamp resolution must be
    // a pure function of the stamped log regardless of scan parallelism
    "table_delete", "table_timetravel_ts", "table_update", "table_merge_cow",
    // the merge-on-read delete: file splits (and so the sidecar's (file,
    // pos) content) change with write partitioning, but the three-version
    // rollups and the MoR ≡ materialized law must not
    "table_delete_dv",
    // the autotune CHOICE (cheapest qualifying layout) and the fused
    // tuning counts it is derived from must hold under any band-bucket
    // merge order — integer-exact counts make this a true invariance
    "dedup_autotune",
    // same invariance on the ANN side: the fused multi-config argmax and
    // the cheapest-qualifying cell-count choice must not move with the
    // corpus partitioning
    "sim_autotune",
    // the epoch permutation, shard assignment, and batch boundaries are
    // pure functions of (doc_id, epoch) — the whole manifest must be
    // byte-identical under any corpus partitioning (a loader that
    // reshuffles with the cluster layout is not restart-reproducible)
    "pipeline_dataloader",
    // the CUSUM argmax is a max-struct over windowed BIGINT cumsums — the
    // (stat, −k) tiebreak must pick the same split under any merge order
    // of the partial maxes (all-integer, so a true invariance)
    "lc_changepoint",
    // the CHECK lifecycle (declared set, violation count, abort, vacuum
    // reclaim) and the final rollup must hold under any write partitioning
    // of the staged generations — the table_vacuum risk class with
    // constraint metadata on top
    "table_constraint",
    // the written per-file stats, the pruning decision (n_files_scanned),
    // and the pruned rollup must all hold under any parallelism of the
    // range-clustered write and the stats-gathering pass
    "table_skipping",
    // the UnionLoop's per-level frontier joins must land the same
    // per-depth integer rollups under any join/merge order — the
    // graph_cc iterative bet through the declarative recursion surface
    "sql_recursive_cte",
    // the cut decision is an integer byte-sum comparison (frame_mean·16
    // round-trips exactly), so scene ids and rollups must be identical
    // under any partitioning of the decode — a true invariance
    "mm_scenecut",
    // the nearest pick compares integer day distances with a struct-
    // capture tiebreak on both window directions — the join_asof merge-
    // order bet twice over
    "join_asof_nearest",
    // the decorrelated lateral LIMIT is a rank boundary over (price desc,
    // okey) — the topk_limit bet through the declarative per-row form
    "join_lateral",
    // both pruning decisions (stats, transform) and the safety-law counts
    // must hold under any parallelism of the range-clustered write
    "table_gencol",
    // the per-file spec binding, both generations' pruning decisions,
    // the wrong-under-latest-spec demonstration, and the safety law must
    // all hold under any write parallelism
    "table_partition_evolve",
    // FP power sums over merge-ordered partials feed rounded moment
    // ratios — the agg_corr centered-moment bet at third and fourth order
    "agg_moments_reagg",
    // the threshold pick (first value whose doubled cumulative weight
    // reaches the total) is a RANGE-frame boundary — peers must
    // accumulate identically under any merge order
    "agg_weighted_median",
    // the per-file bloom words are bit_or merges over whatever task
    // order staged them, and BOTH pruning decisions plus the safety-law
    // counts must hold under any parallelism of the hash-bucketed write
    "table_bloom_index",
    // per-band FP means/scatters from merge-ordered partials feed the
    // rounded color index — the lc_ensemble bet split across two
    // conditional-aggregation streams in one groupBy
    "lc_color",
    // the sim_ivf bet through the log surface: Lloyd centroid means,
    // rounded-cosine rank boundaries in three lanes, AND the per-file
    // cell stats + pruning decisions must hold under any parallelism of
    // the range-partitioned code write
    "sim_index_log",
    // the physical-file requires (untouched partitions keep their files,
    // touched are replaced) and the merged rollup must hold under any
    // write parallelism of both generations
    "sink_partition_overwrite",
    // the join_asof_nearest merge-order bet feeding FP color statistics:
    // both window captures' struct tie-breaks and the rounded per-object
    // min/max/mean must hold under any partitioning
    "lc_color_epoch",
    // whole-partition window means/sds feed normalized residuals, a lag
    // pairing, and two rounded FP indices — the agg_corr centered-moment
    // bet through stacked windows
    "lc_stetson",
    // regr_* moment sums over merge-ordered partials feed three rounded
    // fit parameters — the agg_corr bet through the ANSI regression family
    "lc_trend",
    // round-14: the MoR update's file splits (sidecar content AND the
    // appended new-image file set) change with write partitioning, but
    // the three-version rollups and the MoR ≡ materialized law must not
    "table_update_dv",
    // both layouts' per-file z stats, both pruning decisions, and the
    // box rollup must hold under any parallelism of the hash write and
    // the z-clustered rewrite — the table_skipping bet twice over
    "table_optimize_zorder",
    // the bottom-k sample SET is a pure function of the hash — ranks,
    // the θ pick, and all five sample counts must not move with the
    // distinct-merge topology (integer hv, a true invariance)
    "agg_theta_sketch",
    // the flagship nightly: percentile-free but zp = avg over matched
    // residuals (FP merge order) feeds every calibrated mag at a 1e-6
    // grid, the NN pick is a rounded-distance rank boundary, and the
    // IVM-law require must hold under any write partitioning
    "pipeline_nightly",
    // the header pivot + md5 content address are pure per-file functions,
    // but the staging fan-out and binaryFile listing order must not
    // change any of the 24 rows — a true invariance
    "scan_fits",
    // round-14 second batch: the replica's staged file SPLITS change with
    // write partitioning but the per-version rollups and the exceptAll
    // equality law must not (apply_cdf); CE sums ln over merge-ordered
    // cell counts into a rounded argmin (ce); BM25 Σ-over-terms is
    // FP-order-sensitive and feeds a rank boundary, fused with the raw
    // cosine ranks (rrf); the release manifest must be byte-stable under
    // any parallelism of BOTH commits (train_snapshot); the KS sup is an
    // integer max — a true invariance (ks_test)
    "table_apply_cdf", "lc_ce", "sim_rrf_fusion", "pipeline_train_snapshot",
    "agg_ks_test",
    // baseline mean/stddev are FP merge-order bets feeding a rounded z
    // and a 3σ boolean — the agg_stats bet through the alert gate
    "lc_alerts",
    // aperture sums and annulus means are FP merge-order bets over the
    // exploded pixel field feeding a rounded flux; the pixel function
    // itself is integer-exact — a mixed invariance worth pinning
    "frame_photometry",
    // all-integer largest-remainder allocation: ranks, deficits, and
    // every alloc must not move with the shuffle topology
    "pipeline_anneal",
    // all-integer delta voting: the mode argmax and both counts must
    // not move with the merge topology — a true invariance
    "frame_registration",
    // fixed-point hash acceptance: every per-source count is an integer
    // invariant; FP hour-mean ratios feed a rounded index (seasonal)
    "sample_importance", "ts_seasonal",
    // moment sums under merge order feed a cancellation-sensitive
    // variance and a rounded t + boolean — the agg_corr bet again
    "agg_ttest",
    // all-integer triangle voting (astrometry): invariants, exact
    // divisions, and the 4-way mode must not move with the topology;
    // weighted trig moment sums feeding a rounded ratio power (gls)
    "frame_astrometry", "lc_gls",
    // beam-search ranks on raw sequential dots: frontier membership and
    // the recall join must not move with the merge topology
    "sim_graph_ann",
    // decoded-byte pixel rows feeding a rounded flux: the decode + the
    // annulus mean must be invariant to file/partition assignment
    "frame_photometry_bytes",
    // round-18: the same decode bet through the float32 codec — the
    // grid-round at ingest must be invariant to file/partition assignment
    "frame_photometry_f32",
    // round-15 batch 2: stddev/mean partials feed the rounded z flag
    // BOUNDARY that defines island membership (flares — the lc_alerts
    // bet compounded by the run grouping); the sky-mode count argmax
    // under merge order (difference + stack — frame_registration's
    // integer struct-max bet), with the stack's sorted-median on top;
    // integer moment sums feeding end-only divisions (moments); min
    // over merge-ordered counter partials (cms)
    "lc_flares", "frame_difference", "frame_stack", "frame_moments",
    "agg_cms",
    // integer pair histogram under bucketed join order (dmdt — the
    // structfunc bet with integer bins)
    "lc_dmdt",
    // the frame_difference bet composed: sky-mode argmax per epoch, then
    // association + lag-window deltas on the position key — schedule
    // classification must not move with the merge topology
    "pipeline_transient",
    // integer rolling median/MAD over a bounded frame (hampel — the flag
    // is an integer compare, pinned as a true invariance), and rank
    // boundaries on raw sequential dots through TWO window stages (mrl —
    // the sim_knn_topk bet squared, plus the recall join)
    "lc_hampel", "sim_mrl",
    // round-16: the pipeline_transient bet extended — forced apertures
    // re-measure every (candidate, epoch) through the sky-mode argmax and
    // the ≤9-cell probe, so the completed curves must not move with the
    // merge topology
    "frame_forced_photometry",
    // integer moment sums feeding end-only eigen arithmetic (psf — the
    // frame_moments bet plus the sqrt/atan2 tail)
    "frame_psf",
    // row-major stamp assembly from the sky-mode scene under merge order
    // (cutouts — the pipeline_transient bet with an array output)
    "frame_cutouts",
    // the packet assembly composes every scene consumer (stamps, forced
    // history strings, census class) — all string assemblies must hold
    // under the merge topology
    "pipeline_alert",
    // the sky-mode argmax + integer feature cuts (realbogus — the
    // frame_difference bet with a boolean classification on top)
    "frame_realbogus",
    // round-17: the sim_graph_ann beam bet routed through a disk hop —
    // cold-probe ranks from the committed artifact must not move with
    // the merge topology (nor with the artifact's file layout); the
    // maintain lifecycle adds the delta-linking top-M and both-version
    // beams on top
    "sim_graph_ann_persist", "sim_graph_ann_maintain",
    // round-18: the refit lifecycle — cold ranks from the REPLACED
    // artifact plus the pre/post recall-sum law must not move with the
    // merge topology
    "sim_graph_ann_refit",
    // two chained argmins on rounded variance pools (coarse center, then
    // zoom winner) — var_samp partials of small integers must merge
    // identically under any topology for the recovery law to hold
    "lc_period_zoom",
    // round-18: the lc_gls bet chained twice — trig moment sums under
    // merge order feed the coarse argmax, then the zoom argmax whose
    // recovery law requires power == 1.000000 exactly at P_inj
    "lc_gls_zoom",
    // two chained integer-score argmaxes (box statistic) — the lc_bls
    // bet staged, with the recovery law on top
    "lc_bls_zoom",
    // two chained argmins on rounded ln-sums of integer cell ratios —
    // the lc_ce bet staged, with the recovery law requiring CE = 0
    // exactly at P_inj under any merge topology
    "lc_ce_zoom",
    // trig moment sums under merge order feeding ROUNDED Fourier
    // coefficients, then sqrt/atan2/fmod on those — the two-stage
    // rounding must pin the transcendental tail regardless of topology
    "lc_harmonics",
    // the lc_gls argmax feeding transcendental FAP arithmetic: the
    // (power, n, exact-integer Var(t)) inputs are merge-invariant by
    // construction, the rounded fap + boolean must stay so
    "lc_fap")

  test("identical output under shuffle.partitions = 1 vs 7") {
    // AQE partition coalescing is load-bearing to DISABLE here: at fixture
    // scale it re-coalesces the 7-partition run back to one reducer, making
    // both runs share a merge topology and the flip vacuous (verified: an
    // injected spark_partition_id() dependence passed with coalescing on
    // and fails with it off). With coalescing off, the 7 partitions are 7
    // real merge streams, so partition-dependent ordering or FP-merge
    // divergence actually surfaces.
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val partitionsKey = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(coalesceKey)
    // Restore shuffle.partitions too: an assertion failure mid-flip would
    // otherwise leave the shared session at 1 or 7 for every later suite.
    val prevPartitions = spark.conf.get(partitionsKey)
    spark.conf.set(coalesceKey, "false")
    try {
      risky.foreach { name =>
        val fn = SparkEntry.queries(name)
        // The graph-ANN queries SELF-warm their shared index tiers on
        // first use (sharedGraphTiers); without a clear between runs the
        // 7-partition pass would reuse tiers checkpointed under 1
        // partition and the flip would be vacuous for the index build.
        Standing.clear()
        spark.conf.set(partitionsKey, "1")
        val a = fn(spark, sf).collect().map(_.toString).toSeq
        Standing.clear()
        spark.conf.set(partitionsKey, "7")
        val b = fn(spark, sf).collect().map(_.toString).toSeq
        assert(a === b, s"$name diverges across partitioning")
      }
    } finally {
      spark.conf.set(coalesceKey, prev)
      spark.conf.set(partitionsKey, prevPartitions)
    }
  }

  test("repeat-run stability (same session, same config)") {
    Seq("dedup_ngram", "win_ntile_cume", "join_asof").foreach { name =>
      val fn = SparkEntry.queries(name)
      val a = fn(spark, sf).collect().map(_.toString).toSeq
      val b = fn(spark, sf).collect().map(_.toString).toSeq
      assert(a === b, s"$name not repeat-stable")
    }
  }
}
