"""Physical-plan budget regression harness: the flagship operators'
plans must keep the shapes the 100-TB story depends on — one exchange
per entity-keyed temporal leg, no Python stages outside the declared
battery tier, no unbounded nested-loop joins. A refactor that silently
adds a shuffle or drops to row-Python fails HERE, not in a benchmark
three rounds later.

Counts executedPlan() node names with the same whole-word patterns as
tools/plan_audit.py (bare "Exchange hash/range" only — Broadcast/Reused
exchanges are counted separately and not budgeted: broadcasting a tiny
frame is the desired plan).
"""

import re

import pytest

PAT = {
    "shuffle": r"\bExchange (?:hash|range|Single)",
    "python": r"\b(?:BatchEvalPython|ArrowEvalPython|(?:Python)?MapInArrow|MapInPandas)\b",
    "grouped_pandas": r"\bFlatMapGroupsInPandas\b|\bFlatMapCoGroupsInPandas\b",
    "bnlj": r"\bBroadcastNestedLoopJoin\b",
    "cartesian": r"\bCartesianProduct\b",
}

# query name -> {node: max allowed}. Budgets are the CURRENT shapes with
# zero slack on the load-bearing numbers (asof/locf/windows = exactly one
# exchange; lm_quality_buckets = the r4 collapsed plan).
BUDGETS = {
    "asof_orders": {"shuffle": 1, "python": 0, "grouped_pandas": 0},
    "asof_tolerance": {"shuffle": 1, "python": 0, "grouped_pandas": 0},
    "forward_label": {"shuffle": 1, "python": 0, "grouped_pandas": 0},
    # 1 fact exchange + 2 dimension-side windows over the small change log
    "scd2_join": {"shuffle": 3, "python": 0, "grouped_pandas": 0},
    "rolling_median": {"shuffle": 1, "python": 0, "grouped_pandas": 0},
    # 1 fact-table agg exchange + 1 single-partition pass on the 25-row
    # tiny frame; the broadcast join back is unbudgeted by design
    "target_encode": {"shuffle": 2, "python": 0, "cartesian": 0},
    "json_features": {"shuffle": 2, "python": 0, "cartesian": 0},
    "locf": {"shuffle": 1, "python": 0, "grouped_pandas": 0},
    "derived_features": {"shuffle": 1, "python": 0, "grouped_pandas": 0},
    "sessionize": {"shuffle": 1, "python": 0, "grouped_pandas": 0},
    "lag_lead": {"shuffle": 1, "python": 0, "grouped_pandas": 0},
    "pack_sequences": {"shuffle": 2, "python": 0},
    "sample_token_budget": {"shuffle": 2, "python": 0},
    "lm_quality_buckets": {"shuffle": 2, "python": 0},
    "hash_split": {"shuffle": 1, "python": 0},
    "redact_pii": {"shuffle": 0, "python": 0},
    "chunk_tokens": {"shuffle": 0, "python": 0},
    "stratified_sample": {"shuffle": 1, "python": 0},
    "centroid_outliers": {"shuffle": 2, "python": 0},
    "dedup_exact": {"shuffle": 1, "python": 0},
    "validate_docs": {"shuffle": 2, "python": 0},
    # resampling must stay TakeOrderedAndProject on top of the weights —
    # zero extra exchanges, no global sort
    "dsir_weights": {"shuffle": 3, "python": 0},
    "dsir_resample": {"shuffle": 3, "python": 0},
    "winnow_fingerprints": {"shuffle": 1, "python": 0},
    # fingerprint frame checkpointed once; remaining = guard agg + pair
    # join + pair agg
    "winnow_near_dups": {"shuffle": 3, "python": 0},
    "decontaminate": {"shuffle": 2, "python": 0},
    # bounded BNLJ is allowed ONLY where documented (clinical inter pass,
    # brute-force ANN baseline); everywhere above it is banned
    "clinical_pairs": {"python": 0, "grouped_pandas": 0, "cartesian": 0},
    # r5: top-k via TakeOrderedAndProject (see test_topk_takeordered) —
    # the one exchange is the per-user max agg
    "topk_users": {"shuffle": 1, "python": 0},
    # r5: median folded into the (source, n_tok) count frame; stats leg
    # 2 exchanges + vocab leg 2 (was 8 + 6 broadcast joins)
    "source_stats": {"shuffle": 4, "python": 0, "bnlj": 0},
    # r5 additions: the north-rule composition (tokenize -> expanding
    # windows -> as-of) must stay at 2 exchanges (entity leg + event leg),
    # zero Python; novelty is min-owner aggregation (3 exchanges, never a
    # window over the skew-prone n-gram key); boundary overlap is one
    # per-source window; multimodal decode is a pure map stage (the one
    # sanctioned MapInPandas, zero shuffles).
    "tokenized_asof_features": {"shuffle": 2, "python": 0, "grouped_pandas": 0},
    "token_ngram_novelty": {"shuffle": 3, "python": 0, "cartesian": 0},
    "suffix_prefix_overlap": {"shuffle": 1, "python": 0},
    # 1 python node = the decode mapInArrow itself (counted since the
    # r6 python-regex widening; the budget was authored when only
    # BatchEvalPython/ArrowEvalPython nodes counted)
    "multimodal_stats": {"shuffle": 0, "python": 1, "cartesian": 0},
    # vocab via TakeOrdered + broadcast membership; the token stream is
    # never joined non-broadcast
    "vocab_coverage": {"shuffle": 2, "python": 0, "cartesian": 0},
    # r5 second batch: bigram counts + context counts derived from them
    # + occurrence join + doc agg; tfidf ranks the vocab-sized score
    # frame only; domain_cap is ONE window over the prefiltered stream
    # (counts + nsurv aggs + the rank shuffle + pre-agg reshuffle);
    # cross-source overlap reads a persisted distinct-gram frame
    "bigram_nll": {"shuffle": 4, "python": 0, "cartesian": 0, "bnlj": 0},
    "tfidf_top_terms": {"shuffle": 4, "python": 0, "cartesian": 0},
    "domain_cap": {"shuffle": 4, "python": 0, "cartesian": 0, "bnlj": 0},
    # r6: gram assembly is ONE executed Arrow kernel feeding the
    # group-set agg; the persisted per-gram frame's cached plan is
    # re-displayed per consumer (pair counts + sizes + broadcast),
    # inflating the TEXTUAL python count to 6
    "cross_source_overlap": {"python": 6, "cartesian": 0, "bnlj": 0},
    # r5 third batch: boilerplate removal is distinct + frequent-set agg
    # + doc re-agg, frequent set broadcast back; incremental admission is
    # batch-vs-corpus only (band join + shingle verify), never a corpus
    # self-join
    "boilerplate_segments": {"shuffle": 3, "python": 0, "cartesian": 0},
    # classifier pass must stay a pure map stage
    "quality_classifier": {"shuffle": 0, "python": 0},
    # assignment is a broadcast-literal map; pairs confined within
    # clusters (cluster-keyed self-join + per-id max, no window)
    "semdedup_keep": {"shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 0},
    # both ANN legs broadcast the 5-query side; the exact leg is the one
    # documented bounded BNLJ (brute-force baseline); audit join is Q*k
    "ann_recall_audit": {"shuffle": 6, "python": 0, "cartesian": 0},
    # vocab count agg + per-group rank (WindowGroupLimit pushes the
    # top-64 filter into a per-partition heap); fold is array-side
    "zipf_fit": {"shuffle": 2, "python": 0, "cartesian": 0},
    # only the (group, len) count touches the corpus; the grid/CDF
    # stages run on aggregate frames of <= |groups| x |lengths| rows
    "length_ks_drift": {"shuffle": 7, "python": 0, "cartesian": 0},
    # r6: the batch-side MinHash signature is the per-doc Arrow kernel
    # (2 textual python nodes: batch + corpus signature legs); one
    # shingle-row shuffle dropped with it
    "incremental_dedup": {
        "shuffle": 8, "python": 2, "cartesian": 0, "bnlj": 0,
    },
    # first-occurrence agg + per-doc count join + one per-group rank
    # window; the regression fold runs on <= log2(n_docs)+1 points/group
    "heaps_fit": {"shuffle": 3, "python": 0, "cartesian": 0},
    # (word,doc) agg -> word agg -> TakeOrderedAndProject top-k (asserted
    # below: no global sort / single-partition exchange on the vocab frame)
    "term_burstiness": {"shuffle": 2, "python": 0, "cartesian": 0},
    # the canonical temporal-leg shape: one entity-keyed exchange feeds
    # the lag/lead windows AND the grouped moment agg (decimal-exact)
    "event_burstiness": {"shuffle": 1, "python": 0, "cartesian": 0},
    # lag window + (entity,cur,next) count reuse one entity-keyed
    # exchange; entropy folds run on per-entity cell arrays (<= |A|^2)
    "transition_entropy": {"shuffle": 1, "python": 0, "cartesian": 0},
    # r5 fourth batch: EWMA is one entity agg with an array-side fold;
    # CUSUM's running-sum window + full-partition moments + grouped
    # argmax share one entity-keyed exchange; the funnel stacks its k
    # conditional-min windows on one exchange then rolls up k+1 stages;
    # retention = entity-week distinct + cohort agg (cohort-size frame
    # broadcast back); seasonality collapses to (entity,hour) cells at
    # the first partial agg (skew-immune)
    "ewma_features": {"shuffle": 1, "python": 0, "cartesian": 0},
    "cusum_changepoint": {"shuffle": 1, "python": 0, "cartesian": 0},
    "conversion_funnel": {"shuffle": 2, "python": 0, "cartesian": 0},
    "retention_cohorts": {"shuffle": 3, "python": 0, "bnlj": 0},
    "hourly_seasonality": {"shuffle": 2, "python": 0, "cartesian": 0},
    # strictly-prior running sums + grouped argmax on one entity key;
    # session_stats chains sessionize window -> (entity,sid) rollup ->
    # entity rollup, all clustered on the entity key (subset rule) — a
    # second exchange would mean the partitioning reuse regressed
    "zscore_outliers": {"shuffle": 1, "python": 0, "cartesian": 0},
    "session_stats": {"shuffle": 1, "python": 0, "cartesian": 0},
    # |lags| lag windows + the grouped moment agg on one entity key
    "value_acf": {"shuffle": 1, "python": 0, "cartesian": 0},
    # gap lag window + the three bracketed-selection stages (bracket agg,
    # below-count agg, in-bracket rank window) — the K=2 quantiles share
    # one (key,p) window; Python-free throughout
    "gap_quantiles": {"shuffle": 5, "python": 0, "cartesian": 0},
    # fact-fact join + rollup; the dimension chain must stay broadcast
    # (asserted below) — at toy SF Catalyst broadcasts orders too, at
    # scale AQE flips that one join to SMJ inside the same budget
    "star_join_revenue": {"shuffle": 4, "python": 0, "bnlj": 0},
    # md5-cluster window + component-size window + key join + source
    # rollup — the audit itself, never a pair pipeline re-run
    "dedup_impact_report": {"shuffle": 4, "python": 0, "bnlj": 0},
    # (entity,category) cells persisted once; category marginal + 1-row
    # total derive from the cache (textual plan repeats the cached branch,
    # so no shuffle budget — same convention as cross_source_overlap); the
    # one BNLJ is the documented 1-row total cross join
    "behavior_divergence": {"python": 0, "cartesian": 0, "bnlj": 1},
    # r5 fifth batch: both trailing RANGE frames share one entity-keyed
    # exchange; RFM is one grouped pass (cutoff filter pushed to the
    # scan — asserted below); OHLC's two tie-break windows + the bar
    # rollup reuse one (entity, bar) exchange
    "trailing_features": {"shuffle": 1, "python": 0, "cartesian": 0},
    "rfm_snapshot": {"shuffle": 1, "python": 0, "cartesian": 0},
    "ohlc_bars": {"shuffle": 1, "python": 0, "cartesian": 0},
    # rank windows share one entity-keyed sort; pivot with an EXPLICIT
    # value list runs Spark's two-level rewrite — partial agg to
    # (entity, type) cells (skew collapses here) then the entity-keyed
    # pivot agg: exactly 2 exchanges and NO distinct-values job (an
    # inferred pivot would add a third)
    "quantile_transform": {"shuffle": 1, "python": 0, "cartesian": 0},
    "event_pivot": {"shuffle": 2, "python": 0, "cartesian": 0},
    # gini's rank window + rollup share one group-keyed exchange; the
    # hot-key audit is entity-count partial agg (skew collapses there)
    # + the tiny bucket rollup
    "gini_concentration": {"shuffle": 1, "python": 0, "cartesian": 0},
    "hot_key_audit": {"shuffle": 2, "python": 0, "cartesian": 0},
    # rollup = Expand + ONE aggregate: every grain comes out of a single
    # exchange (never one scan per grouping set)
    "rollup_activity": {"shuffle": 1, "python": 0, "cartesian": 0},
    # the co-located layout's whole point: join + per-user rollup with
    # ZERO exchanges (bucketed+sorted tables, MERGE-hinted SMJ)
    "bucketed_join": {"shuffle": 0, "python": 0, "cartesian": 0},
    # densify: (entity,bucket) partial agg + tiny span agg + grid join
    # (broadcast at toy SF; AQE may flip it to SMJ at scale inside the
    # budget); temporal split = row_number + count on ONE entity sort
    "dense_daily_counts": {"shuffle": 3, "python": 0, "cartesian": 0},
    "temporal_split": {"shuffle": 1, "python": 0, "cartesian": 0},
    # union-timeline point-in-time assembly: ONE entity-keyed window
    # exchange + ONE label-keyed agg; dims/labels broadcast back — never
    # a per-label range join
    "feature_matrix": {"shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 0},
    # the 3 BNLJs are the documented 1-row scalar broadcasts (midpoint,
    # bin edges); real exchanges = 3 one-row aggs + bin agg + 10-row
    # window
    "psi_drift": {"shuffle": 5, "python": 0, "cartesian": 0, "bnlj": 3},
    # chained median windows (value, then absdev) share one entity
    # exchange via the subset rule — never an agg + join-back
    "anomaly_mad": {"shuffle": 1, "python": 0, "cartesian": 0},
    "rolling_distinct": {"shuffle": 1, "python": 0, "cartesian": 0},
    # gap window + sid sum + per-session rank on ONE entity exchange;
    # path count-distinct agg is the second; top-20 is a heap (asserted)
    "top_paths": {"shuffle": 2, "python": 0, "cartesian": 0},
    # (entity,hr) agg + grid join + entity lead/agg; the BNLJ is the
    # 1-row hour-span broadcast
    "lagged_corr": {"shuffle": 3, "python": 0, "cartesian": 0, "bnlj": 1},
    # centroid frame persisted once; textual plan repeats the cached
    # branch, so no shuffle budget (behavior_divergence convention)
    "centroid_similarity": {"python": 0, "cartesian": 0, "bnlj": 0},
    # Expand assigns each event its 4 windows map-side; count-distinct
    # adds the second agg exchange — never a per-window scan
    "sliding_windows": {"shuffle": 2, "python": 0, "cartesian": 0},
    # neighbor lags + inter-peak lag + rollup all on one entity key
    "local_peaks": {"shuffle": 1, "python": 0, "cartesian": 0},
    # all six columns' stats from ONE wide agg (single Expand), then an
    # explode pivot — never a per-column rescan
    "profile_events": {"shuffle": 2, "python": 0, "cartesian": 0},
    # r5 continuation: per-doc entropy is a pure map (sorted-array fold);
    # BM25 scoring is likewise shuffle-free (the df/term-selection aggs
    # are eager driver-side fits, column_medians convention); the nested
    # Allen hierarchy reuses ONE entity exchange for both cumulative
    # boundary sums, the 3-key rollup and the coarse-bounds window
    "token_entropy": {"shuffle": 0, "python": 0, "cartesian": 0},
    "bm25_scores": {"shuffle": 0, "python": 0, "cartesian": 0},
    "allen_sessions": {"shuffle": 1, "python": 0, "cartesian": 0},
    # basket frame + marginals persisted once (textual plan repeats the
    # cached branches — behavior_divergence convention, so no shuffle
    # budget); marginal joins must stay broadcast, top-k a heap
    "basket_lift": {"python": 0, "cartesian": 0, "bnlj": 0},
    # trailing-k OLS slope: first-event offset + the four decimal frame
    # sums on ONE entity-keyed exchange, no joins; the interval-overlap
    # union-timeline sweep likewise clusters boundary counts, segment
    # lengths and the rollup on one entity key; the Z-order key is pure
    # map-side bit arithmetic (the layout WRITE's range exchange is
    # exercised in tests/test_layout.py, not here)
    "rolling_slope": {"shuffle": 1, "python": 0, "cartesian": 0},
    "interval_overlap": {"shuffle": 1, "python": 0, "cartesian": 0},
    "zorder_key": {"shuffle": 0, "python": 0, "cartesian": 0},
    # KM: entity-span agg + 1-row corpus-max agg + curve agg + the tiny
    # single-partition curve window; the BNLJ is the documented 1-row
    # boundary broadcast (registered in test_plans BNLJ_BY_DESIGN)
    "survival_km": {"shuffle": 4, "python": 0, "cartesian": 0, "bnlj": 1},
    # nine digit counts in ONE group agg; chi2/MAD are row expressions
    "benford_audit": {
        "shuffle": 1, "python": 0, "cartesian": 0, "bnlj": 0,
    },
    # edges/degrees/oriented frames are cached branches whose build
    # plans reprint under every consumer (basket_lift convention: no
    # shuffle budget); the joins must stay hash/broadcast, never a
    # nested-loop product
    "graph_triangles": {"python": 0, "cartesian": 0, "bnlj": 0},
    # HLL: register agg + fold agg + 2-phase exact distinct; the
    # m<=256-rows-per-group register table joins broadcast. Count-Min:
    # one exploded cell agg + the exact-top-k agg (TakeOrdered heap,
    # asserted below); the 1024-cell table joins broadcast
    "hll_cardinality": {
        "shuffle": 4, "python": 0, "cartesian": 0, "bnlj": 0,
    },
    "countmin_topk": {
        "shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 0,
    },
    # motifs: entity lead-window + tiny |types|^3 rollup, heap top-k;
    # WOE: category agg + single-partition totals pass on the 5-row
    # frame; Haar: row_number + sorted-array fold share ONE entity
    # exchange (subset rule); fuzzy pairs: block-keyed equi-join
    # (broadcast at toy scale, <=2 exchanges if it falls back to SMJ),
    # never a cartesian distance matrix
    "temporal_motifs": {"shuffle": 2, "python": 0, "cartesian": 0},
    "woe_encoding": {"shuffle": 2, "python": 0, "cartesian": 0},
    "haar_energy": {"shuffle": 1, "python": 0, "cartesian": 0},
    "fuzzy_name_pairs": {
        "shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 0,
    },
    # FK audit: 3 relations x (fact-key agg + dim distinct + full-outer
    # SMJ exchange) — a full outer join cannot broadcast; Welch: one
    # 2-phase group agg, the pair theta join runs on the 5-row aggregate
    # frame (registered BNLJ-by-design); Bloom: ref/probe distincts +
    # bit-set distinct + verdict agg, both joins broadcast
    "fk_integrity": {"shuffle": 9, "python": 0, "cartesian": 0, "bnlj": 0},
    "welch_pairs": {"shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 1},
    "bloom_members": {"shuffle": 4, "python": 0, "cartesian": 0, "bnlj": 0},
    # phrase search: only the two literal terms' postings shuffle (one
    # doc-keyed join exchange pair collapses under AQE at toy scale);
    # decayed counter: one entity agg + 1-row boundary broadcast
    # (registered BNLJ); ratio-to-parent: one fact agg, ratio window on
    # the |months|x|priorities| frame
    "phrase_search": {"shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 0},
    "decayed_counts": {
        "shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 1,
    },
    "ratio_to_parent": {"shuffle": 2, "python": 0, "cartesian": 0},
    # chi2: one cell agg + marginal/total windows on the 20-cell frame;
    # drawdown: cumsum/cummax/rollup on ONE entity exchange;
    # streaks: (entity,day) distinct exchange + entity window/rollups
    "chi2_independence": {"shuffle": 2, "python": 0, "cartesian": 0},
    "max_drawdown": {"shuffle": 1, "python": 0, "cartesian": 0},
    "activity_streaks": {"shuffle": 2, "python": 0, "cartesian": 0},
    # skyline: ONE global single-partition window (documented: the
    # range-partition+carry two-pass is the at-scale variant);
    # attribution: interval-join shape + conversion/type aggs + the
    # pinned-order type fold
    "pareto_frontier": {"shuffle": 1, "python": 0, "cartesian": 0},
    "linear_attribution": {
        "shuffle": 6, "python": 0, "cartesian": 0, "bnlj": 0,
    },
    # LTV: first-activity agg + user join + curve agg + cohort window;
    # latency quantiles: bracketed-selection multi (order-key join +
    # bracket/below aggs + the tagged rank window); log-odds: one word
    # agg + totals window on the vocab frame + heap top-k
    "ltv_curves": {"shuffle": 4, "python": 0, "cartesian": 0},
    "fulfillment_latency": {
        "shuffle": 10, "python": 0, "cartesian": 0, "bnlj": 0,
    },
    "log_odds_words": {"shuffle": 2, "python": 0, "cartesian": 0},
    # rolling HLL merge: daily-register agg + spread re-agg + fold +
    # the exact-twin legs (distinct + spread agg) + tiny day join;
    # SNM: distinct-name agg + ONE global sort window, heap top-k
    "hll_rolling_merge": {
        "shuffle": 8, "python": 0, "cartesian": 0, "bnlj": 0,
    },
    "snm_pairs": {"shuffle": 2, "python": 0, "cartesian": 0},
    # sweep: boundary explode + ONE global running window + day rollup
    # on the same ordering; join-size audit: persisted per-key count
    # frames (cached-branch convention: no shuffle budget), 1-row
    # totals broadcast by design; log2 histogram: user agg + bucket agg
    "peak_concurrency": {"shuffle": 1, "python": 0, "cartesian": 0},
    "join_size_audit": {"python": 0, "cartesian": 0},
    "log2_histogram": {"shuffle": 2, "python": 0, "cartesian": 0},
    # pure map stage — calendar functions pipeline onto the scan
    "calendar_features": {"shuffle": 0, "python": 0, "cartesian": 0},
    # Theil-Sen: ONE entity exchange; the O(n^2) pair expansion is a
    # JVM nested transform on the per-entity array, never a self-join
    "theil_sen_slope": {"shuffle": 1, "python": 0, "cartesian": 0},
    # spearman: persisted per-customer base frame (cached-branch
    # convention: no shuffle budget); rank joins are broadcast
    "spearman_rank": {"python": 0, "cartesian": 0, "bnlj": 0},
    # cuped: user agg + global moment agg; the BNLJ is the documented
    # 1-row min/max midpoint broadcast
    "cuped_adjust": {"shuffle": 3, "python": 0, "cartesian": 0, "bnlj": 1},
    # AMS: 16-way explode agg (no per-key state) + exact leg; the BNLJ
    # is the two 1-row frames' registered broadcast cross join
    "ams_f2_sketch": {"shuffle": 5, "python": 0, "cartesian": 0, "bnlj": 1},
    # good_turing: word agg + persisted count-of-counts frame
    # (cached-branch convention: no shuffle budget)
    "good_turing": {"python": 0, "cartesian": 0, "bnlj": 0},
    # k-anonymity: QI agg + tiny k agg, no joins
    "k_anonymity": {"shuffle": 3, "python": 0, "cartesian": 0, "bnlj": 0},
    # PMI: persisted postings (cached-branch convention: no shuffle
    # budget); the 2 BNLJs are the registered 1-row T/N totals
    "pmi_pairs": {"python": 0, "cartesian": 0, "bnlj": 2},
    # SAX: ONE entity exchange; the window carries the entity moments,
    # and the (entity,seg) and word aggs reuse its partitioning
    "sax_symbols": {"shuffle": 1, "python": 0, "cartesian": 0, "bnlj": 0},
    # Holt: ONE entity exchange, serial struct fold inside codegen
    "holt_trend": {"shuffle": 1, "python": 0, "cartesian": 0, "bnlj": 0},
    # IVM/simpson: one fact agg + 1-row registered broadcast each
    "ivm_merge_audit": {"shuffle": 2, "python": 0, "cartesian": 0,
                        "bnlj": 1},
    "simpson_audit": {"shuffle": 2, "python": 0, "cartesian": 0,
                      "bnlj": 1},
    # MASE: lag errors + rollup share ONE entity exchange
    "mase_eval": {"shuffle": 1, "python": 0, "cartesian": 0, "bnlj": 0},
    # PageRank: persisted adjacency (cached-branch convention: no
    # shuffle budget); 6 BNLJs = the registered 1-row node-count fits
    "pagerank_iter": {"python": 0, "cartesian": 0, "bnlj": 6},
    # kNN eval (r6): vectorized Arrow brute scorer — one python node
    # (cosine_nn1_arrow mapInArrow, bit-equal to the old broadcast
    # BNLJ fold), per-query best-candidate reduce + label agg
    "knn_eval": {"shuffle": 2, "python": 1, "cartesian": 0, "bnlj": 0},
    # both are ONE entity exchange + an all-integer array fold
    "window_funnel": {"shuffle": 1, "python": 0, "cartesian": 0,
                      "bnlj": 0},
    "burst_detect": {"shuffle": 1, "python": 0, "cartesian": 0,
                     "bnlj": 0},
    # quant recall: two registered broadcast brute legs + k-row joins
    "quant_recall": {"shuffle": 6, "python": 0, "cartesian": 0,
                     "bnlj": 3},
    # ring audit: key scan + two 1-row ring-array broadcasts + node agg
    # r6: ring assignment is ONE executed Arrow searchsorted kernel;
    # the persisted assignment frame's cached plan is re-displayed per
    # consumer, so the TEXTUAL python count is 4
    "consistent_hash_audit": {"shuffle": 3, "python": 4,
                              "cartesian": 0, "bnlj": 0},
    # LPA: persisted adjacency (cached-branch convention)
    "label_propagation": {"python": 0, "cartesian": 0, "bnlj": 0},
    # SRM: one agg over the distinct-user frame
    "srm_check": {"shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 0},
    # trimmed mean: both windows + the agg share ONE group exchange
    "trimmed_mean": {"shuffle": 1, "python": 0, "cartesian": 0,
                     "bnlj": 0},
    # digest: ONE source agg; LPT: key agg + global fold; shrinkage:
    # user agg + registered 1-row pooled-rate broadcast
    "source_digest": {"shuffle": 1, "python": 0, "cartesian": 0,
                      "bnlj": 0},
    "lpt_partition_plan": {"shuffle": 2, "python": 0, "cartesian": 0,
                           "bnlj": 0},
    "rate_shrinkage": {"shuffle": 3, "python": 0, "cartesian": 0,
                       "bnlj": 1},
    # merkle: two block aggs + one block-keyed full-outer join
    "merkle_diff": {"shuffle": 2, "python": 0, "cartesian": 0,
                    "bnlj": 0},
    # jackknife: group agg + global fold agg
    "jackknife_ratio": {"shuffle": 2, "python": 0, "cartesian": 0,
                        "bnlj": 0},
    # AUC: distinct-cents agg + tiny global window + final fold
    "rank_auc": {"shuffle": 2, "python": 0, "cartesian": 0, "bnlj": 0},
    # shapley: registered broadcast brute leg; rank + both suffix
    # windows share ONE query exchange, per-train mean is the second
    "knn_shapley": {"shuffle": 2, "python": 0, "cartesian": 0,
                    "bnlj": 1},
    # EMD/KS: distinct-cents agg + tiny global window + final fold
    "wasserstein_drift": {"shuffle": 2, "python": 0, "cartesian": 0,
                          "bnlj": 0},
    # kappa: ONE corpus aggregate, all-integer cells
    "cohens_kappa": {"shuffle": 1, "python": 0, "cartesian": 0,
                     "bnlj": 0},
    # silhouette: eager L-row label-sum fit (eager-construction
    # convention); the returned scoring frame is a pure map — 0 shuffles
    "silhouette_cosine": {"shuffle": 0, "python": 0, "cartesian": 0,
                          "bnlj": 0},
    # calibration: ONE bin agg + tiny global window over <=10 bins
    "calibration_bins": {"shuffle": 2, "python": 0, "cartesian": 0,
                         "bnlj": 0},
    # markov: entity lead window + transition agg + per-cur argmax agg
    "markov_accuracy": {"shuffle": 3, "python": 0, "cartesian": 0,
                        "bnlj": 0},
    # assortativity: persisted edge/degree frames (cached-branch
    # convention); 1-row n_nodes join is the registered BNLJ
    "degree_assortativity": {"python": 0, "cartesian": 0, "bnlj": 1},
    # kendall: persisted <=100-row cell frame; cell self-join + two
    # 1-row marginal joins are the registered BNLJs
    "kendall_tau": {"python": 0, "cartesian": 0, "bnlj": 3},
    # DiD: cell agg + order-independent pivot agg
    "did_estimate": {"shuffle": 2, "python": 0, "cartesian": 0,
                     "bnlj": 0},
    # perm entropy: ONE user exchange feeds both lead windows + cells
    "perm_entropy": {"shuffle": 1, "python": 0, "cartesian": 0,
                     "bnlj": 0},
    # theil: value-histogram agg + source agg + tiny global window
    "theil_index": {"shuffle": 3, "python": 0, "cartesian": 0,
                    "bnlj": 0},
    # ANOVA: persisted 168-cell frame (cached-branch convention);
    # three 1-row SS joins are the registered BNLJs
    "anova_twoway": {"python": 0, "cartesian": 0, "bnlj": 3},
    # hurst: persisted log-depth roll-up levels (cached-branch
    # convention); three 1-row level joins are the registered BNLJs
    "hurst_variance_plot": {"python": 0, "cartesian": 0, "bnlj": 3},
    # logrank: user lead window + bin agg + tiny curve window + fold;
    # corpus-max 1-row broadcast is the registered BNLJ
    "logrank_test": {"shuffle": 4, "python": 0, "cartesian": 0,
                     "bnlj": 1},
    # segmented: ONE day agg + tiny 31-row candidate windows + argmin
    "segmented_trend": {"shuffle": 2, "python": 0, "cartesian": 0,
                        "bnlj": 0},
}


@pytest.fixture(scope="module")
def plans(catalog_plans):
    return catalog_plans


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_budget(plans, name):
    plan = plans[name]
    for node, cap in BUDGETS[name].items():
        got = len(re.findall(PAT[node], plan))
        assert got <= cap, (
            f"{name}: {got} {node} nodes (budget {cap}) — the plan shape "
            f"regressed; see tools/plan_audit.py.\n{plan[:2000]}"
        )


def test_topk_takeordered(plans):
    """topk_users must keep the per-partition-heap shape: the global
    top-10 comes from TakeOrderedAndProject, never from a single-
    partition window over every user's aggregate row (r4 VERDICT #1).
    The residual WindowExec ranks the <=10 surviving rows only."""
    assert "TakeOrderedAndProject" in plans["topk_users"]


def test_star_join_broadcast_chain(plans):
    """The customer -> nation -> region dimension chain must plan as
    BroadcastHashJoins — a dimension that falls back to a shuffle join
    multiplies the fact table's exchange count at 10^12 rows."""
    import re as _re

    assert len(
        _re.findall(r"\bBroadcastHashJoin\b", plans["star_join_revenue"])
    ) >= 3


def test_bucketed_join_colocated_smj(plans):
    """bucketed_join must actually exercise the co-located layout: a
    SortMergeJoin over the bucketed tables (not a broadcast that would
    trivially have no exchange) with zero shuffles end to end."""
    assert "SortMergeJoin" in plans["bucketed_join"]
    assert "BroadcastHashJoin" not in plans["bucketed_join"]


def test_rfm_cutoff_pushed_to_scan(plans):
    """rfm_snapshot's point-in-time cutoff must reach the parquet scan
    as a data filter on the raw timestamp column — a post-scan filter on
    the derived epoch expression reads every row group at 10^12 rows."""
    assert re.search(
        r"DataFilters: \[[^\]]*o_orderdate#\d+ <=", plans["rfm_snapshot"]
    ), plans["rfm_snapshot"][:2000]


def test_burstiness_takeordered(plans):
    """term_burstiness's top-64 must be a per-partition heap over the
    vocab aggregate (TakeOrderedAndProject), never a global range-sort of
    the whole vocab frame — at web scale the vocab is billions of rows."""
    assert "TakeOrderedAndProject" in plans["term_burstiness"]
    assert "Exchange rangepartitioning" not in plans["term_burstiness"]


def test_top_paths_takeordered(plans):
    """top_paths' top-20 must be a per-partition heap over the path
    counts (TakeOrderedAndProject), never a global sort of the path
    universe."""
    assert "TakeOrderedAndProject" in plans["top_paths"]


def test_basket_lift_shape(plans):
    """basket_lift's top-20 must be a per-partition heap over the pair
    counts (TakeOrderedAndProject), its marginal joins broadcast, and
    its pair generation the JVM flatten — never a basket self-join
    (SortMergeJoin/ShuffledHashJoin on the basket key would re-shuffle
    the distinct-pair stream twice at corpus scale)."""
    plan = plans["basket_lift"]
    assert "TakeOrderedAndProject" in plan
    assert len(re.findall(r"\bBroadcastHashJoin\b", plan)) >= 2
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_countmin_topk_heap(plans):
    """The exact top-k side of the Count-Min audit must come from a
    TakeOrderedAndProject heap, never a global sort of the key
    universe."""
    assert "TakeOrderedAndProject" in plans["countmin_topk"]
