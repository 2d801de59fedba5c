"""Dump `.explain(formatted)` plans of the engine's headline operators
into EXPLAIN.md with the scale-relevant observations called out.

Run: python tools/explain_audit.py [sf_dir]   (plans only — nothing executes)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

NOTES = {
    "fast1m_arrow": (
        "Map-only 1m tier: ONE ArrowEvalPython/mapInArrow node straight "
        "over the scan — no Exchange anywhere. The first shuffle in the "
        "tier pipeline happens at the 1h cascade, over rows already "
        "60x smaller than the input points."
    ),
    "tier_cascade_1h_events": (
        "Partial (map-side) + final HashAggregate around a single "
        "Exchange per cascade step; decomposable stats make the "
        "cascade exact, so no raw rescan."
    ),
    "lineitem_pricing_summary": (
        "Filter pushed into the parquet scan (PushedFilters) and the "
        "scan reads only the 7 referenced columns (ReadSchema) — "
        "whole-stage codegen covers scan->filter->partial agg."
    ),
    "revenue_per_nation": (
        "Both dimension joins are BroadcastHashJoin (explicit "
        "F.broadcast) — zero shuffle of the orders fact side for the "
        "joins; the only Exchange is the final groupBy."
    ),
    "salted_source_stats": (
        "Two-stage salted aggregation: 4 HashAggregates (partial+final "
        "x two stages). Stage 1 fans the 80%-hot source key across "
        "(source, salt) reducers; stage 2 merges S tiny partials."
    ),
    "topk_orders_per_customer": (
        "Per-group top-k as row_number window after a single hash "
        "partitioning on the group key; no global sort."
    ),
    "cosine_topk": (
        "Query side explicitly broadcast; the corpus never shuffles. "
        "Per-query ranking is a bounded window over candidates."
    ),
    "dedup_minhash_lsh": (
        "Bucketed candidate generation: the only joins are on "
        "(band, bucket) equality — candidate volume is linear in "
        "bucket sizes, no cross join exists in the plan."
    ),
    "asof_join_events": (
        "Union-tag as-of join: ONE Exchange on the key + an "
        "in-partition sort, instead of the range join Spark would plan "
        "as a nested-loop product."
    ),
    "session_stats": (
        "Gap sessionization: lag + running boundary sum share a single "
        "window Exchange; the session aggregate reuses the same "
        "partitioning."
    ),
    "asof_join_bucketed": (
        "Hot-key-safe as-of: the heavy window partitions on "
        "(key, time-bucket) — a skewed key parallelizes across its "
        "buckets instead of serializing in one partition; the boundary "
        "stitch windows run over one row per (key, bucket), "
        "metadata-scale."
    ),
    "ivf_topk_full_probe": (
        "IVF assignment is map-only (round-3 fix): centroids fold into "
        "ONE broadcast row and the per-vector argmax runs inside "
        "F.aggregate — the vector side reaches BroadcastNestedLoopJoin "
        "with zero Exchange, where round 2 shuffled |vectors| x n_lists "
        "scored rows through a row_number window per Lloyd iteration."
    ),
    "time_weighted_avg_1h": (
        "LOCF time-weighted mean: bucket_ts is materialized before the "
        "window, so the lead() window and the final aggregate share one "
        "hash partitioning — exactly ONE Exchange in the plan. "
        "Partitioning by (key, bucket) also means a hot key "
        "parallelizes across its buckets."
    ),
    "counter_delta_1h": (
        "Counter-reset-aware increase: same single-Exchange shape as "
        "time_weighted_avg — lag() window and aggregate share the "
        "(key, bucket) partitioning."
    ),
    "realtime_cagg_1m": (
        "Real-time continuous aggregate: the live side's raw scan "
        "carries a pushed ts >= watermark filter (PushedFilters below), "
        "so only the last materialization interval is read and "
        "aggregated; against a written tier table the frozen side's "
        "bucket_ts < watermark predicate prunes bucket_date partitions."
    ),
    "top_tokens_per_source": (
        "Vocabulary heavy hitters: explode feeds a partial (map-side) "
        "HashAggregate before any shuffle — the Exchange carries "
        "distinct (source, token) partials (vocabulary-sized), never "
        "the exploded corpus."
    ),
    "tier_histogram_1h": (
        "Mergeable tier histogram: each bin is a conditional-sum "
        "expression, so ONE partial+final HashAggregate pair builds the "
        "whole array — the shuffle carries (key, bucket) rows of "
        "n_bins partials, never per-bin row explosions; the 1m->1h "
        "cascade is the same shape over 1/60th of the rows."
    ),
    "embedding_quantize_int8": (
        "int8 quantization: pure array expressions inside "
        "WholeStageCodegen, zero Exchange before the gate's explode — "
        "the codes are computed scan-side and never shuffled at full "
        "precision."
    ),
    "hist_percentiles_1h": (
        "Histogram percentiles: the estimator is pure array expressions "
        "over the already-aggregated histogram rows — the plan is the "
        "tier histogram's single partial+final HashAggregate plus a "
        "Project, no extra Exchange, no per-row Python."
    ),
    "curate_docs": (
        "Curation verdict: all feature expressions (tokens, language "
        "vote, quality) are fused into ONE map-side Project over the "
        "scan — no joins between feature operators; the only Exchange "
        "is the md5-window exact-dup check."
    ),
    "sample_docs_10pct": (
        "Deterministic hash sample: map-only — the md5-prefix filter is "
        "a plain projection+filter over the scan, zero Exchange; the "
        "sample is a pure function of (seed, doc_id), so it is identical "
        "on any cluster size or partitioning."
    ),
    "dedup_groups_cc": (
        "Near-dup groups: MinHash pair generation is bucket-join-bounded "
        "(as in dedup_minhash_lsh); the connected-components closure then "
        "shuffles only the dup-pair graph (orders of magnitude smaller "
        "than the corpus), with localCheckpoint truncating per-iteration "
        "lineage so the plan stays flat across rounds."
    ),
    "dtw_pruned_check": (
        "LB_Keogh pruning: envelope + bound + conditional DP all live "
        "inside ONE mapInPandas node over the candidate pairs — the "
        "prune decision is batch-local, adds no Exchange, and skips "
        "the O(n*band) DP for every pair the O(n) bound rejects."
    ),
    "sax_words_events": (
        "SAX pipeline: znorm window, position rank, PAA aggregate and "
        "the word concat all partition on the series key — AQE reuses "
        "one hash partitioning; symbol mapping is a branch-free "
        "comparison sum inside WholeStageCodegen, zero Python."
    ),
    "interval_session_assign": (
        "Bucketed range join: intervals explode into coarse time "
        "buckets, points land in exactly one, and the join is an "
        "equi-join on (key, bucket) + exact BETWEEN residual — fan-out "
        "bounded by per-bucket overlap instead of the naive key-only "
        "join's points x intervals blow-up."
    ),
    "series_corr_pairs": (
        "Pairwise correlation with NO self-join: each bucket's series "
        "collect into one sorted array (one Exchange) and the i<j pairs "
        "expand map-side via higher-order functions — a DataFrame "
        "self-join would have computed the bucketize aggregation twice "
        "and added two join Exchanges; this plan has exactly two "
        "Exchanges (bucket collect, per-pair corr)."
    ),
    "gopher_flags": (
        "Gopher quality rules: every rule is a higher-order-function "
        "expression over one split of the text — a single map-side "
        "Project over the scan, zero Exchange, zero Python."
    ),
    "tfidf_top3": (
        "TF-IDF: document frequency is a window count over the token "
        "partition of the single tf table — no join, no second "
        "aggregation of the exploded corpus; the per-doc top-k is a "
        "bounded row_number window."
    ),
    "asof_interpolate_events": (
        "Interpolating as-of join: the union-tag table is exchanged "
        "ONCE on the key; backward and forward passes are two "
        "in-partition sorts (two WindowExecs, zero extra Exchange), "
        "and the interpolation itself is a scalar Project."
    ),
    "psi_view_vs_purchase": (
        "PSI drift: each slice reduces to an n_bins-row count table "
        "(partial+final agg over the pushed-filter scan), then the "
        "bin-align join is explicitly broadcast — everything after the "
        "scans is metadata-scale."
    ),
    "rolling_stats_10m": (
        "Trailing RANGE-frame rolling stats: one Exchange on the "
        "series key, then a single sorted WindowExec evaluates all "
        "five aggregates over the same frame."
    ),
    "lttb_invariants": (
        "LTTB twin check: the numpy kernel side is ONE mapInPandas "
        "node (no Exchange before the per-doc aggregate), and the "
        "independent JVM implementation is pure whole-stage-codegen "
        "higher-order functions on the same scan."
    ),
    "ewma_events": (
        "Sequential recurrence, round-4 shape: ONE hash Exchange on the "
        "key + in-partition Sort(key, ts, event_id) + a single "
        "MapInPandas running the cross-series lockstep kernel — the "
        "Python interpreter is entered per TIME STEP per Arrow batch, "
        "never per point, and a series spanning batches continues from "
        "one float of carry state. Replaces the round-3 "
        "groupBy().applyInPandas (same single Exchange, but a per-point "
        "Python loop inside every group)."
    ),
    "codec_roundtrip": (
        "Map-only end to end: encode is the vectorized per-row coder, "
        "decode the batch decoders (a lockstep codeword-start scan, then "
        "vectorized reads and a segmented prefix) — zero Exchange; "
        "the gate certifies the production raw-tier read path "
        "(decompress_blocks uses the same batch decoders)."
    ),
    "raw_range_scan": (
        "Pruned raw-tier range read: the time predicate is a Filter on "
        "plain int64 columns (t0, n) SITTING BEFORE the decode "
        "ArrowEvalPython node — blocks outside the range never reach "
        "the Python decoder, and on a materialized blocks table the "
        "same predicate prunes parquet row groups via min/max stats. "
        "The only Exchange is the final per-series aggregate, over "
        "rows already reduced to the requested window."
    ),
    "raw_value_scan": (
        "Stats-pruned threshold scan: the v_max >= T filter (encode-"
        "time block stats) runs JVM-side before decode, so only blocks "
        "that can contain a hit pay decompression. Same shape a "
        "TSDB's block-index scan has at 100 TB: metadata first, "
        "payload second."
    ),
    "acf_events": (
        "Single Exchange: the lag window hash-partitions on the key "
        "and the final per-key aggregate reuses that partitioning — "
        "no second shuffle (plan-asserted in tests/test_acf.py). All "
        "moments are codegen aggregates; NULL-guarded division, no "
        "UDF."
    ),
    "ccf_view_purchase_1d": (
        "Lagged cross-correlation (single-scan pivot): one point scan "
        "+ one hash aggregate produces BOTH slices' bucket means, "
        "lazily localCheckpoint-ed so the a/b branches reuse it — "
        "without the checkpoint, column pruning re-plans each branch "
        "with its own point scan (verified: the pre-checkpoint plan "
        "had two Scan parquet nodes). Lag explode is map-side; the "
        "join is an equi-join on (key, bucket epoch) over tier rows."
    ),
    "cusum_events": (
        "CUSUM change-point: the EWMA/Holt single-Exchange template — "
        "repartition(key) + in-partition sort + ONE lockstep "
        "mapInPandas; the max(0, .) floor is exact IEEE, no rounding."
    ),
    "unigram_surprisal": (
        "Perplexity proxy: the unigram table aggregates the exploded "
        "corpus MAP-SIDE (the Exchange carries distinct-token "
        "partials, vocabulary-sized); token instances join it on the "
        "token hash and the per-doc mean is one more hash aggregate."
    ),
    "token_psi_sources": (
        "Vocabulary-drift PSI: both slices' token counts pivot from "
        "ONE corpus scan + one vocabulary-sized HashAggregate "
        "(sum(when(split=..)) — the ccf_pivot recipe); totals are two "
        "driver-side scalars, the PSI math a map-only Project."
    ),
    "mp_selfcheck": (
        "Matrix profile: one Exchange on the series key + ONE "
        "applyInPandas computing STOMP and its brute-force oracle "
        "in-job; the driver hashes per-position equality booleans."
    ),
    "ewvar_events": (
        "EW variance bands: same single-Exchange lockstep template; "
        "the band flag compares bit-identical doubles (squared "
        "innovation vs 9x prior variance), so even the booleans "
        "hash-gate cleanly."
    ),
    "trend_slope_1h": (
        "OLS trend per bucket: the five moment sums are decomposable, "
        "so the plan is one partial+final HashAggregate around a "
        "single Exchange — identical shape to the tier rollups; the "
        "slope division is a guarded Project, no second pass."
    ),
    "holt_events": (
        "Holt level+trend recurrence: same single-Exchange shape as "
        "the EWMA — repartition(key) + sortWithinPartitions + ONE "
        "mapInPandas whose kernel advances all series in lockstep "
        "(interpreter cost per time step per batch, not per point)."
    ),
    "seasonal_anomalies_hod": (
        "Seasonal profile join: the (key, slot) profile aggregate is "
        "one partial+final HashAggregate; the join back onto the point "
        "side is an explicit BroadcastHashJoin (profile = keys x 24 "
        "rows), so the fact table never shuffles for the comparison."
    ),
    "ngram_contamination": (
        "Decontamination join: grams are built map-side (Generate over "
        "transform/sequence HOFs, zero Python); the distinct eval gram "
        "set broadcasts (BuildRight LeftOuter marker join), and ONE "
        "aggregate yields both n_ngrams and n_hit — the train grams "
        "are generated and shuffled exactly once. At benchmark-sized "
        "eval sets this stays broadcast; a huge eval side degrades to "
        "a linear shuffle join on the fixed-width md5 key."
    ),
    "bigram_surprisal": (
        "Conditional-LM scoring: the bigram frequency table aggregates "
        "map-side partials (vocabulary-sized Exchange); head-context "
        "counts re-aggregate THAT table, never the corpus; both "
        "lookups join broadcast at small vocabularies and degrade to "
        "hash joins keyed on the gram, linear in corpus size."
    ),
    "rolling_median_10m": (
        "Exact trailing median: single Exchange on the series key, one "
        "Sort, ONE Window node evaluating count + exact percentile "
        "over the same RANGE frame — identical shape to "
        "rolling_stats_10m; exactness costs per-frame ordering inside "
        "the window, not an extra shuffle."
    ),
    "zipf_slope_sources": (
        "Zipf fit: the only corpus-sized Exchange is the (source, "
        "token) frequency aggregate with map-side partials; the rank "
        "window and the OLS moment aggregate run over the "
        "vocabulary-sized table, so everything past the scan is "
        "independent of corpus size."
    ),
    "holt_winters_events": (
        "Holt-Winters: the EWMA/Holt template — repartition(key) + "
        "sortWithinPartitions + ONE mapInPandas; the seasonal lookback "
        "is a column read m steps back in the lockstep matrix, so the "
        "third state costs arithmetic, not plan shape."
    ),
    "series_spearman_pairs": (
        "Spearman: same bucket-collect pair expansion as the Pearson "
        "gate (no self-join), then the rank windows PARTITION BY the "
        "same (key_a, key_b) the final aggregate groups on — one "
        "Exchange serves windows and aggregate; robustness costs "
        "sorts, not shuffles."
    ),
    "pmi_collocations": (
        "PMI: unigram and bigram tables are both map-side-partial "
        "aggregates (vocabulary-sized Exchanges); the two unigram "
        "lookups broadcast at small vocabularies; corpus totals are "
        "single-row scalars."
    ),
    "mad_anomalies_1h": (
        "Robust MAD bands: one Exchange on the series key, ONE Window "
        "node carrying the frame's values as a collect_list; both "
        "medians are JVM higher-order expressions over that array — "
        "no Python, no extra shuffle vs the plain z-score plan."
    ),
    "mann_kendall_1d": (
        "Mann-Kendall: single (key, bucket) hash aggregate collects "
        "the ordered values; S and the tie term are exact-integer HOF "
        "folds map-side after the aggregate — the O(n^2) pair count "
        "is the test's intrinsic cost and never crosses the wire."
    ),
    "m4_downsample_64px": (
        "M4 visualization downsample: ONE Exchange (the (key, pixel) "
        "hash aggregate with map-side partials); the 4-candidate "
        "dedup is a map-side array_distinct + explode — a point "
        "belongs to exactly one pixel, so no distinct() shuffle "
        "exists in the plan. Struct-typed min/max buffers plan as a SortAggregate (partial+final around the single Exchange)."
    ),
    "pack_docs_128": (
        "Sequence packing: the FFD kernel is ONE FlatMapGroupsInPandas "
        "fed by a single Exchange on the md5-derived bucket; the scan "
        "projects only (doc_id, text-derived length) — the packed "
        "payload is joined back by id downstream and never rides the "
        "packing shuffle. The invariant windows cost two further "
        "Exchanges (pack_id for fits/offsets, id for exactly-once) — "
        "over rows that are already just ids+lengths, and only in the "
        "verification gate, not the packing path."
    ),
    "mixture_sample_docs": (
        "Domain-mixture sampling: per-source acceptance thresholds are "
        "a groups-cardinality table joined via BroadcastHashJoin "
        "(explicit F.broadcast); acceptance itself is a map-side "
        "md5-prefix string compare — no corpus shuffle, no RNG state, "
        "deterministic on any partitioning."
    ),
    "repetition_signals": (
        "Char-weighted Gopher repetition rules computed MAP-ONLY: the "
        "per-gram counting that would naively explode + groupBy every "
        "n-gram occurrence (~5x corpus bytes shuffled at n=5) is an "
        "array_sort + ONE aggregate HOF run-length walk per document — "
        "zero Exchange, fully inside whole-stage codegen."
    ),
    "redact_pii_docs": (
        "PII scrub: pure JVM regexp_count/regexp_replace projections "
        "fused into the scan — zero Exchange, zero Python. The regexes "
        "are RE2-compatible by contract so the DuckDB oracle compiles "
        "the identical strings."
    ),
    "seasonal_naive_backtest": (
        "Backtest joins the HOURLY TIER to itself, not raw points: "
        "partial+final HashAggregate collapses points first, the "
        "period-shift equi-join and the scoring aggregate run at tier "
        "scale (keys x hours). Matching is by timestamp arithmetic, "
        "so gaps drop out instead of row-shifting."
    ),
    "embedding_covariance": (
        "One streaming pass: a single MapInPandas emits ONE "
        "(n, sum, outer-product) row per Arrow batch; every Exchange "
        "after it carries #partials x (d + d^2) doubles — metadata "
        "scale. Nothing quadratic in N, vector data never shuffles."
    ),
    "theil_sen_trend": (
        "Partial+final HashAggregate collapses points to the daily "
        "tier BEFORE the single FlatMapGroupsInPandas — the O(m^2) "
        "pair formation sees only calendar-bounded tier rows (m = "
        "#days), never data volume. One point-scale Exchange total."
    ),
    "changepoint_amoc": (
        "Entirely Window + HashAggregate — zero Python nodes. The "
        "O(m) AMOC scan is two running sums over the daily tier; the "
        "only point-scale Exchange is the tier aggregate, everything "
        "after runs on #days rows per key inside whole-stage codegen."
    ),
    "plateau_runs": (
        "Gaps-and-islands via two row_number Windows sharing one "
        "(key-)sort, then partial+final HashAggregate per island and "
        "a top-1 Window. Pure codegen expressions; no Python, no "
        "global sort — keys parallelize like any grouped window."
    ),
    "ar1_fit": (
        "Tier aggregate -> one lag Window -> one five-moment "
        "HashAggregate (partial+final). The regression algebra is "
        "projected from the moments driver-free; consecutive-day "
        "guard is a codegen datediff filter, not a join."
    ),
    "coverage_report": (
        "Reports missing-day runs WITHOUT materializing them: lag "
        "Window over present buckets only, so cost is O(present) "
        "rows — a 2-point series spanning 10 years is 2 rows, vs the "
        "3650 a sequence()+explode calendar join would shuffle."
    ),
    "perm_entropy_events": (
        "Tier aggregate -> two lag Windows sharing ONE (key-)sort -> "
        "pattern CASE in codegen -> two nested HashAggregates. Zero "
        "Python; the 3!-pattern alphabet keys the second aggregate so "
        "its cardinality is 6x #keys — metadata scale."
    ),
    "spectral_power_events": (
        "ALL candidate periods fuse into ONE HashAggregate over the "
        "hourly tier (cos/sin terms are fused column expressions, "
        "partial+final); per-period rows come from inline(array(...)) "
        "over the one aggregate row — a union of selects would re-run "
        "the aggregate per period. One point-scale Exchange total, no "
        "FFT buffers, no per-key length sensitivity."
    ),
    "trimmed_tier_1d": (
        "One row_number Window partitioned by (key, day) — window "
        "state is a single bucket, bounded and spill-safe — then one "
        "HashAggregate fusing plain and trimmed means via conditional "
        "aggregation: no second scan, no branch join, zero Python."
    ),
    "rolling_corr_view_purchase": (
        "Daily tier -> conditional-aggregation pivot (one Exchange "
        "on day, no self-join) -> five moment sums over ONE shared "
        "calendar-RANGE window -> corr projected in codegen. The "
        "window is deliberately unpartitioned: input is one row per "
        "DAY for a single pair (tier scale); many pairs would "
        "partition the same window by pair id."
    ),
    "decomposition_strength": (
        "The decompose plan (window MA + slot profile + broadcast "
        "join, zero Python) capped by ONE seven-sum HashAggregate; "
        "variances and both strengths projected from moments in "
        "codegen. Turning a per-point table into per-key features "
        "costs one more point-scale aggregate, nothing else."
    ),
    "monotone_runs_events": (
        "Same gaps-and-islands shape as plateau_runs: one lag + two "
        "row_number Windows sharing the (key)-sort, island aggregate, "
        "top-1 per (key, direction). Sign is exact integer logic so "
        "island membership is engine-invariant; flats break strict "
        "runs by occupying overall rank without joining any island."
    ),
    "interarrival_stats_events": (
        "One lag Window over (ts, event_id) -> one moment "
        "HashAggregate; mean/std/burstiness projected driver-free. "
        "Gap multiset is microsecond-integer exact; only the moment "
        "sums are float."
    ),
    "value_entropy_events": (
        "Clamped integer bin expression in codegen -> (key, bin) "
        "HashAggregate -> per-key entropy aggregate. Second "
        "aggregate's cardinality is capped at n_bins x #keys — "
        "metadata scale regardless of data volume."
    ),
    "ttr_sources": (
        "Explode -> (source, token) partial+final HashAggregate -> "
        "per-source aggregate. Everything past the first aggregate "
        "is vocabulary-scale; hapax/type/token counts are exact "
        "integers, the two ratios the only floats."
    ),
    "vocab_overlap_sources": (
        "DISTINCT (source, token) -> per-token sorted source array "
        "-> map-side i<j pair expansion (the series_corr_pairs "
        "trick) -> pair-count aggregate + two broadcast size joins. "
        "Never a vocab x vocab self-join; pair cardinality is "
        "bounded by the source enum, not the corpus."
    ),
    "funnel_view_click_purchase": (
        "ONE Exchange on user: per-user sorted per-step timestamp "
        "arrays from a single grouped scan, then the step fold is "
        "array-filter expressions in codegen — no event-table "
        "self-joins (the naive funnel is k-1 joins = k-1 shuffles). "
        "Per-user state is bounded by that user's funnel-type events."
    ),
    "rolling_active_users_7d": (
        "Sliding COUNT DISTINCT exactly, without a distinct-over-"
        "range window (neither engine has one): (user, day) DISTINCT "
        "tier -> explode 7 contribution days -> per-day distinct "
        "count. Expansion factor is the window length over USER-DAY "
        "rows, never event rows."
    ),
    "cohort_retention_weekly": (
        "(user, week) DISTINCT -> per-user min (cohort map, one row "
        "per user) -> join back on the tier's OWN hash partitioning "
        "(no third point-scale shuffle) -> (cohort, period) distinct "
        "count + broadcast size join. Period is integer day/7 "
        "arithmetic — engine-exact; the final ratio is the only float."
    ),
    "event_transitions": (
        "One lag Window on the user partition -> (from, to) "
        "HashAggregate whose cardinality is <= |event types|^2 "
        "(metadata scale) -> row-normalizing window over that tiny "
        "table. Zero Python; the probability is the only float."
    ),
    "changepoint_binseg": (
        "The AMOC scan recursed: each level is one windowed "
        "cumulative-sum pass over the (key, seg)-relabeled tier plus "
        "a BROADCAST join of the accepted parent splits (one row per "
        "segment). Depth is a plan-construction constant — O(depth) "
        "tier-scale stages, zero Python; the quantized argmax makes "
        "every child segment label engine-exact."
    ),
    "stationary_distribution": (
        "A fixed-point computed Spark-side: after the one point-scale "
        "bigram aggregate, each power-iteration step is a broadcast "
        "join + aggregate over <= |types|^2 rows — n_iter metadata-"
        "scale stages, the iterative-algorithm pattern without any "
        "driver-side matrix math."
    ),
    "dominant_lag": (
        "The acf plan (shared window sort for every lag column, one "
        "moment aggregate) plus an inline(struct) unpivot and a "
        "top-1 window over keys x |lags| rows — metadata scale; "
        "quantize-before-rank, ties to the smallest lag."
    ),
    "burst_invariants": (
        "One hash Exchange on the key + whole-key applyInPandas "
        "Viterbi (a global DP over the key's gap sequence — it "
        "cannot batch-split, the documented applyInPandas-not-"
        "mapInPandas choice), then interval-scale windows for the "
        "invariant booleans. Output is interval rows, never points."
    ),
    "weibull_fit": (
        "The KM plan capped by one five-moment OLS aggregate over "
        "the Weibull-plot coordinates (duration-cardinality rows); "
        "shape/scale/median projected from moments in codegen."
    ),
    "logrank_early_vs_late": (
        "The KM lifetime plan with a group dimension: per-duration "
        "(d, d1, leave, leave1) counts, reverse cumulative risk sets "
        "for both groups in ONE window pass, hypergeometric moments "
        "summed duration-scale. Exact integers until the final "
        "ratios."
    ),
    "kaplan_meier_churn": (
        "(user, day) DISTINCT -> per-user span aggregate + 1-row "
        "dataset-end broadcast -> per-duration event/censor counts "
        "-> reverse cumulative risk set + forward cumulative "
        "exp(sum(ln)) product, both on duration-cardinality rows. "
        "The absorbing d==n case is an explicit flag (Spark log(0) "
        "is NULL, DuckDB -inf — neither is allowed to decide)."
    ),
    "self_drift_ks": (
        "Per-key bounds aggregate (broadcast back), exact integer "
        "midpoint split, per-(key, value) counts, one key-partitioned "
        "cumulative window for both ECDFs, max aggregate for D. "
        "Window input is value-cardinality per key — quantize "
        "upstream at full scale, the ks_statistic discipline."
    ),
    "benford_digits": (
        "Map-only digit expression in codegen -> ONE per-key "
        "aggregate carrying the nine digit counters as conditional "
        "sums; chi-square and shares projected from the counters. "
        "Zero shuffle beyond the key aggregate."
    ),
    "decompose_mul_events": (
        "Identical plan to the additive decomposition (one Exchange "
        "serving the centered-MA window AND the slot aggregate, "
        "broadcast profile join back); only the detrend/renormalize "
        "arithmetic is ratios instead of differences."
    ),
    "regime_anomalies": (
        "The piecewise stages plus ONE broadcast join of the "
        "per-segment fit (segment-count rows) back onto the tier and "
        "a codegen residual projection. Step changes are absorbed by "
        "the segmentation, drift by the slope — only regime-relative "
        "surprises survive the z filter."
    ),
    "holt_damped": (
        "Identical single-Exchange lockstep plan to holt_events; the "
        "damping factor folds into the per-step elementwise ops (and "
        "at d=1.0 is an IEEE identity, so classic Holt stays "
        "bit-unchanged — pytest-asserted)."
    ),
    "hw_forecast_12": (
        "The smoothing plan capped by one rank Window taking each "
        "key's last m rows, one re-nest aggregate, and a "
        "sequence+posexplode horizon projection — all Catalyst, "
        "output cardinality keys x horizon. Turning states into "
        "actual forecasts costs no new point-scale stage."
    ),
    "holt_winters_mul": (
        "Same single-Exchange sorted mapInPandas as the additive HW "
        "(one hash Exchange + lockstep Arrow kernel, O(1) cross-batch "
        "carry incl. the seasonal ring); only the elementwise step "
        "formulas differ (ratio seasonal, neutral 1.0)."
    ),
    "cms_heavy_hitters": (
        "One token explode -> ONE (row_idx, bucket) HashAggregate of "
        "d*w cells (metadata scale regardless of corpus size) -> "
        "broadcast probe join for the point queries. Sketches merge "
        "by element-wise addition (pytest-gated), the histogram-tier "
        "discipline — per-shard/per-day sketches roll up without "
        "re-reading text."
    ),
    "piecewise_trend": (
        "The binseg relabeling stages (broadcast parent splits, LEFT "
        "join so unsplit segments just stop subdividing) capped by "
        "ONE five-moment HashAggregate per final segment; OLS "
        "projected from moments in codegen. Change detection and "
        "regime characterization share the same tier scan."
    ),
    "common_paths_3": (
        "n-1 lag columns over ONE shared user-partition sort, concat "
        "projection, path-count HashAggregate (<= |types|^n rows), "
        "total-order rank window for a deterministic top-k cut "
        "(orderBy+limit would tie-break arbitrarily at the boundary)."
    ),
    "transition_entropy": (
        "The transitions plan capped by a per-from-type entropy "
        "aggregate and a 1-row alphabet broadcast — everything past "
        "the bigram aggregate runs on alphabet-squared rows."
    ),
    "funnel_latency": (
        "The funnel anchor fold (one Exchange on user), completers "
        "filtered, exact microsecond deltas; the lower-median rank "
        "window sorts COMPLETERS only — deliberate exactness/scale "
        "trade documented in the operator."
    ),
    "pq_exact_adc": (
        "The full PQ pipeline: train (codebook broadcast + row-local "
        "argmin fold per Lloyd step — zero scored-pair Exchange), "
        "encode (same fold + one re-nest aggregate), ADC search "
        "(per-query m x ksub distance table vs the broadcast "
        "codebook, then m integer lookups+adds per candidate in "
        "codegen). Candidates carry CODES, not vectors: 32x smaller "
        "broadcast/shuffle footprint at d=64, m=8."
    ),
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as e
    from tsclust_spark.session import get_spark

    spark = get_spark("explain-audit", cores=4, shuffle_partitions=8)
    qs = {**e.queries(), **e.queued_queries()}
    out = [
        "# EXPLAIN audit — formatted physical plans of the headline operators",
        "",
        f"Generated by tools/explain_audit.py over `{sf_dir}` "
        "(plans only; nothing executed). Each section: why this is the "
        "plan we want at 100 TB, then the plan itself.",
        "",
    ]
    for name, note in NOTES.items():
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"## {name}\n\n{note}\n\n```\n{plan.rstrip()}\n```\n")
    with open(os.path.join(REPO, "EXPLAIN.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote EXPLAIN.md ({len(NOTES)} plans)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
