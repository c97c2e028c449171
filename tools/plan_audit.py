"""Physical-plan audit over every registered query (SURVEY §6.5).

For each __spark_entry__.queries() entry, counts the plan features that
matter at 100 TB: shuffle exchanges, sort-merge vs broadcast joins,
Python evaluation nodes (the slow path), and single-partition windows.
Flags queries whose plan drifts from the declared posture.

Known blind spot: a `localCheckpoint` replaces its subtree with an RDD
scan in the printed plan, so features UPSTREAM of a checkpoint are
invisible here, and building such a query's DataFrame executes the
checkpoint jobs at construction time. Since the round-12 persist sweep
this is confined to the allowlisted load-bearing sites
(tests/test_checkpoint_guard.py — iterative supersteps + CDC
read points); everything else persists, and persisted subtrees
STAY visible (InMemoryRelation lineage is printed once and deduped by
_strip_cached below, and construction runs no jobs). The
single-partition-window class is
additionally guarded at runtime — tools/oracle_check counts Spark's
"No Partition Defined for Window" warnings per query and fails any
query that warns without a WINDOW_OK entry. Zero such warnings come
from DATA-GRAIN frames since the round-6 two-phase rewrites; the
declared-bounded class (calendar grids, top-k tails, vocabulary
grain — the WINDOW_OK map below) still warns at runtime by design,
e.g. ts_motif_discovery's day-index window. tests/test_twophase.py
pins the rewritten operators.

    python tools/plan_audit.py [sf_dir]           # table for all queries
    python tools/plan_audit.py sf_dir q1 q2 ...   # subset
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import __spark_entry__ as entrymod  # noqa: E402
from mongo_cdc_spark.session import get_spark  # noqa: E402

# Python eval is DECLARED (intentional) in exactly these queries. The
# CDC relay path has none: its Ext-JSON key/value encoder is a Java UDF.
PYTHON_OK = {"multimodal_fake_decode",
             "multimodal_real_decode", "knn_lsh_hyperplane",
             "udaf_geomean_discount",
             # the real WAV decoder (stdlib `wave`) runs in the one
             # declared mapInPandas stage, same shape as real_decode:
             "multimodal_audio_decode",
             # the resample transform runs the same real WAV decoder
             # + decimation in the one declared mapInPandas stage:
             "multimodal_audio_resample",
             # perceptual average-hash: the real PPM decoder + integer
             # block-sum fingerprint run in the one declared
             # mapInPandas stage (multimodal_real_decode's shape):
             "multimodal_image_phash",
             # voice-activity detection: the real WAV decoder + integer
             # frame-energy flags run in the one declared mapInPandas
             # stage:
             "multimodal_audio_vad",
             # Theil-Sen: the O(n^2) pairwise-slope median runs in the
             # one declared grouped-map applyInPandas stage over
             # day-grain rows (JVM pre-aggregation bounds the group):
             "ts_theilsen_trend",
             # phash near-pairs: the same real-decoder mapInPandas
             # stage as multimodal_image_phash feeds the chunk-keyed
             # candidate join:
             "multimodal_phash_near_pairs",
             # ViT patchify: the real PPM decoder + per-patch integer
             # channel stats run in the one declared mapInPandas stage
             # (multimodal_real_decode's shape):
             "multimodal_image_patches",
             # shot boundaries: the real PPM decoder runs per frame in
             # the one declared mapInPandas stage; the jump detection
             # is JVM-side per-doc windows:
             "multimodal_video_shots",
             # partial-Gram PCA: the numpy X^T X accumulation runs in
             # the one declared mapInPandas stage, emitting d*(d+1)/2
             # partials per Arrow batch; everything after is a
             # d**2-keyed JVM aggregate:
             "embedding_pca_covariance",
             # Jaro-Winkler scorer: the per-pair Python loop runs on
             # the vocabulary-grain name-pair frame (64 names here —
             # bounded by the name domain, never the record count):
             "dedup_jaro_winkler",
             # audio DFT signature: the real WAV decoder + termwise
             # numpy DFT run in the one declared mapInPandas stage
             # (multimodal_audio_decode's shape); only the 4-value
             # signature per clip leaves the task:
             "multimodal_audio_spectrum",
             # constellation fingerprint runs the same real WAV
             # decode + termwise DFT in its one declared stage:
             "multimodal_audio_fingerprint",
             # keyframe selection: real PPM decode + integer
             # gradient energy in its one declared stage:
             "multimodal_video_keyframe",
             # ZCR profile: the real WAV decoder + exact sign-flip
             # counts run in the one declared mapInPandas stage
             # (multimodal_audio_decode's shape):
             "multimodal_audio_zcr",
             # Otsu threshold: the real PPM decoder + integer gray
             # histogram run in the one declared mapInPandas stage;
             # the threshold search is JVM-side per-doc windows:
             "multimodal_image_otsu",
             # histogram equalization: shares Otsu's gray_hist_batch
             # stage; the CDF remap is JVM-side per-doc windows:
             "multimodal_image_equalize",
             # TGA decode: the real type-2 Targa decoder (row flip +
             # BGR swap) runs in the one declared mapInPandas stage
             # (multimodal_real_decode's shape):
             "multimodal_tga_decode",
             # SSIM probe ranking: the real PPM decoder + integer
             # moment sums against the broadcast probe vector run in
             # the one declared mapInPandas stage; 3 doubles per
             # image leave the task:
             "multimodal_ssim_probe_rank",
             # round-13 Arrow-vectorized dot/L2 folds (guide §4.2):
             # the interpreted aggregate(zip_with(...)) CodegenFallback
             # was the similarity family's dominant cost at pair grain;
             # similarity._dot_arrow/_l2_arrow evaluate the SAME
             # sequential left fold per-dimension-vectorized in ONE
             # arrow_udf hop (bitwise-equal to the HOF fold — pinned in
             # tests/test_similarity.py and by every caller's oracle
             # hash). One ArrowEvalPython node per query, on the
             # scoring projection only:
             "ann_range_search", "ann_recall_eval",
             "dedup_embedding_cosine", "dedup_semantic_semdedup",
             "kmeans_silhouette_eval", "knn_ivf_centroid",
             "knn_pq_quantize", "knn_sq8_search",
             "mine_hard_negatives", "similarity_jl_projection_audit",
             "similarity_mips_norm_augment",
             "similarity_pair_distance_histogram",
             "similarity_threshold_pairs", "train_decontaminate_semantic",
             # same Arrow fold, currently invisible to this audit
             # behind persisted/checkpointed subtrees (the documented
             # blind spot) — declared so a visibility change never
             # flags them spuriously:
             "kmeans_cluster_agreement", "knn_ivf_balance_report",
             "knn_mmr_rerank"}

# One SortMergeJoin is DECLARED for the inherent big-big join of these
# queries (lineitem⋈orders where the orders side is itself a join
# output — both sides huge at 100 TB, so a shuffle join IS the right
# plan; forcing broadcast would only "win" at toy scale). The blocked
# cosine-threshold pair queries carry one declared SMJ too: the
# candidate verify join (vectors ⋈ vectors keyed on admissible cluster
# pairs) is big-big by definition — a cluster-keyed shuffle join IS the
# 100 TB plan, with the admissible grid bounding what meets what:
SMJ_OK = {"q7_volume_shipping": 1, "q8_market_share": 1,
          # trade reciprocity: lineitem ⋈ orders — both sides huge at
          # 100 TB (q7's class); dims broadcast, everything after the
          # nation-pair rollup is bounded-grain:
          "graph_trade_reciprocity": 1,
          "similarity_threshold_pairs": 1, "dedup_embedding_cosine": 1,
          # SemDeDup's within-cell self-join is big-big by the
          # algorithm's contract (corpus ⋈ corpus keyed on the coarse
          # cell; cost Σ cell², bounded by the quantizer) — a
          # cell-keyed shuffle join IS the 100 TB plan, and the pair
          # leg carries no hint so AQE may still broadcast when small:
          "dedup_semantic_semdedup": 1,
          # pair-distance histogram: the within-id-bucket pair join is
          # big-big by the sampling contract (corpus x corpus keyed on
          # id congruence; the bucket count is the quadratic-budget
          # knob) — a bucket-keyed shuffle join IS the scale plan:
          "similarity_pair_distance_histogram": 1,
          # snapshot diff: full-outer join of two snapshots of the SAME
          # table — both sides are the full table by definition, and
          # full-outer cannot broadcast anyway; with bucketed snapshot
          # storage (cdc/apply.py layout) the exchange disappears:
          "cdc_snapshot_diff": 1,
          # attribution: clicks ⋈ purchases — two slices of the same
          # event stream, both data-sized at 100 TB, bucketed into
          # interval-width epochs so the shuffle key is fine-grained;
          # a (user, epoch)-keyed shuffle join IS the scale plan (the
          # sibling interval-join replay carries no hint either — AQE
          # may still broadcast the smaller slice when measured small):
          "events_attribution_last_touch": 1,
          # linear attribution: same bucketed interval join, same
          # big-big rationale as the last-touch sibling above:
          "events_attribution_linear": 1,
          # left-outer interval replay: the bucketed candidate join
          # is the same big-big clicks x purchases stage as the inner
          # twin, and the outer extension joins the purchase table
          # onto its own data-sized match list (full-width outer
          # cannot broadcast the preserved side):
          "streaming_interval_left_join_replay": 1,
          # degree-oriented triangle counting: the two orientation
          # joins (edges ⋈ degrees, both data-sized on a 100 TB
          # graph), the wedge self-join (oriented-edges ⋈ themselves
          # keyed on the apex), and the closing-edge join (wedges ⋈
          # edges on the pair key) are each big-big by the
          # algorithm's contract — node/edge-grain frames scale with
          # the graph, so shuffle joins ARE the scale plan (this is
          # exactly the Suri-Vassilvitskii MR formulation); AQE can
          # still broadcast the degree side when measured small:
          "graph_triangle_count": 4,
          # link prediction shares the co-occurrence graph machinery:
          # pair-gen (items ⋈ items on the order key), the
          # full-adjacency apex wedge self-join, the existing-edge
          # anti-join on the pair key, and the endpoint-degree join —
          # node/edge/pair-grain frames all scale with the graph, so
          # shuffle joins ARE the plan (AQE still broadcasts the
          # degree side when measured small):
          "graph_link_prediction": 4,
          # Adamic-Adar shares link prediction's machinery minus one
          # orientation join: pair-gen, the apex wedge self-join, and
          # the existing-edge anti-join are big-big on a 100 TB graph:
          "graph_adamic_adar_topk": 3,
          # G-test: orders ⋈ customer on custkey — both data-sized at
          # 100 TB (chi-square's own docstring calls the same join a
          # co-partitioned shuffle join at scale; AQE broadcasts the
          # customer side when measured small):
          "stats_g_test_independence": 1,
          # Kruskal-Wallis: the midrank join (segment-value counts ⋈
          # value-grain midranks on the cents value) is big-big when
          # the value domain approaches row count — a value-keyed
          # shuffle join IS the scale plan (same class as the G-test
          # orders ⋈ customer; AQE broadcasts when measured small):
          "stats_kruskal_wallis": 1,
          # recall eval: the probe-cell candidate join meets the
          # corpus-sized assignment frame — big-big on a 100 TB
          # corpus, shuffle join IS the plan (broadcast hint on the
          # tiny probe side lets AQE place it when measured small):
          "ann_recall_eval": 1,
          # semantic decontamination: the verdict LEFT JOIN puts the
          # full corpus id set against its own data-dependent hit
          # list (unbounded at a high contamination rate) — hint-free
          # so AQE broadcasts the hit side exactly when measured
          # small; the scoring stage itself is broadcast-benchmark,
          # shuffle-free:
          "train_decontaminate_semantic": 1,
          # join_hint_merge: the SortMergeJoin IS the point — the query
          # demonstrates forcing SMJ via the merge hint for the
          # both-sides-huge case, and its plan test asserts exactly one
          # lands:
          "join_hint_merge": 1,
          # tier migration: full-outer join of the H1 and H2 tier
          # frames — both customer-grain (data-sized at 100 TB) and
          # full-outer cannot broadcast a preserved side:
          "customer_tier_migration": 1,
          # assortativity: attaching endpoint degrees joins the edge
          # frame to two NODE-grain degree frames — nodes scale with
          # the graph, so key-co-partitioned shuffle joins ARE the
          # 100 TB plan (triangle counting's rationale); AQE still
          # broadcasts the degree side when measured small:
          "graph_degree_assortativity": 2,
          # epoch shuffle audit: epoch-e ranks join epoch-0 ranks on
          # doc_id — BOTH sides doc-grain (data-sized at 100 TB), so
          # the key-co-partitioned shuffle join is the plan; AQE
          # broadcasts when measured small:
          "train_epoch_shuffle_audit": 2,
          # local clustering: the per-node triangle counts join the
          # NODE-grain degree frame for the coefficient — both sides
          # scale with the graph (assortativity's rationale); AQE
          # broadcasts the smaller side when measured small:
          "graph_local_clustering": 1,
          # trade balance: the demand-side star starts lineitem ⋈
          # orders — the same inherent big-big join declared for
          # q7/q8 (both sides huge at 100 TB; dims broadcast):
          "nation_trade_balance": 1}

# Queries allowed more than the default 5 shuffles, with why. Both are
# multi-aggregation reports whose component aggs MUST stay separate
# (mixing COUNT(DISTINCT) with percentile/sketch state in one agg
# triggers the distinct-rewrite Expand pathology — see
# agg_approx_sketches); every extra exchange carries only small-key
# aggregated rows, map-side combined:
SHUFFLES_OK = {"events_hll_sketch_rollup": 7,
               # hashing trick: ONE data-sized explode feeds three
               # independent aggregates (tf; the two distinct+rollup
               # pairs for df and collision load) — each pre-collapses
               # map-side to (bucket, key) pairs, and the sixth
               # exchange is the 64-row final sort:
               "feature_hashing_trick": 6,
               # split conformal: THREE data-grain stages (train-moment
               # agg, calibration range-repartition for the two-phase
               # rank, test coverage agg — all partial map-side; the
               # round-13 n_calib count reads the two-phase pass's
               # persisted frame instead of re-scanning, which DROPPED
               # a data pass but ADDS the cached offsets machinery's
               # metadata-grain exchanges to the printed plan); the
               # rest move 1-2-row coefficient / quantile frames and
               # the final 2-row sort:
               "stats_conformal_interval": 8,
               # clustering agreement: THREE data-sized stages (the
               # (label, dim) centroid component agg, the per-vector
               # best-centroid window, the contingency rollup); every
               # other exchange moves the checkpointed <= K x L
               # contingency frame or a 1-row total:
               "kmeans_cluster_agreement": 7,
               # bloom decontamination audit: TWO data-grain stages
               # (the bench shingle-union distinct; the fused
               # probe+truth (doc, shingle) rollup — both map-side
               # combined); the remaining exchanges move the <=4096-row
               # bit set, three 1-row total frames, and the final
               # 1-row reduction:
               "train_decontaminate_bloom": 6,
               # epoch shuffle audit: THREE independent exact global
               # ranks (one per epoch), each paying the two-phase
               # range-repartition + pid-window + offset exchanges —
               # the price of three different total orders over the
               # same frame; the final joins/aggs add the rest:
               "train_epoch_shuffle_audit": 12,
               # bloom design audit: THREE data-grain stages (member
               # distinct, probe anti-join, per-config bit-set
               # distinct — all map-side combined) + the per-probe
               # hit count; the remaining exchanges carry the 3-row
               # config rollups and the final sort:
               "layout_bloom_design": 6,
               # PSI drift: TWO data-grain aggs (reference bounds +
               # the (feature, cohort, bin) counts, both map-side
               # combined); the other four exchanges carry the
               # 20-row grid fill, the per-feature window and the
               # final sort — metadata-grain at any data size:
               "feature_psi_drift": 6,
               # JSD: ONE data-sized shuffle (the persisted
               # (source, token) count); the other exchanges move
               # |sources| x |vocab| probability rows through the
               # marginal aggs and the token join — metadata-grain at
               # any corpus size:
               "text_js_divergence_sources": 7,
               # stopword profile: ONE data-sized explode feeds a
               # persisted token frame; the six exchanges beyond it
               # are token- or (token, source)-grain rollups and the
               # final token-keyed join — vocabulary-sized at any
               # corpus scale:
               "text_stopword_profile": 7,
               # sliding bitmap merge: only the (day, bucket) bitmap
               # construction is data-sized; the other exchanges move
               # the days x buckets grid of fixed-size binary state
               # (distinct spines, grid join, per-bucket window, final
               # day agg) — metadata-grain at any corpus size:
               "events_sliding_distinct_users": 7,
               # A-priori pair mining: distinct baskets, item-support
               # agg, prune join, the pair self-join, pair-count agg,
               # and the top-k gather are each a REQUIRED stage of the
               # algorithm; all are map-side combined or keyed on
               # (order/part/pair)-grain already-reduced data:
               "basket_part_pairs": 7,
               # triangle counting: pair-gen (distinct + self-join +
               # support agg), degree agg, orientation joins, wedge
               # self-join, closing-edge join, scalar summary — each
               # a REQUIRED algorithm stage; every exchange past
               # pair-gen carries node- or edge-grain rows only:
               "graph_triangle_count": 8,
               # link prediction: pair-gen, degree agg, adjacency
               # union checkpoint, wedge self-join, CN pair agg,
               # anti-join, degree joins, top-k sort — each a
               # required stage; everything past pair-gen carries
               # node/edge/pair-grain rows only:
               "graph_link_prediction": 8,
               # pinball eval: train-half range repartition for the
               # two-phase octiles (+ its offsets aggs) and the 7-row
               # test-side loss agg — every exchange past the
               # repartition carries partition- or 7-row-grain rows:
               "stats_pinball_quantile_eval": 6,
               # Qini: user-grain agg, the two-phase global-rank
               # range repartition (+ offsets aggs) for the decile
               # ranking, the median two-phase pass, and the 10-row
               # decile agg + sort — every exchange past the user agg
               # carries partition- or decile-grain rows:
               "ab_test_uplift_qini": 6,
               # Kruskal-Wallis: the base join, two value-grain
               # count aggs, the two-phase cumulative's range
               # repartition + offsets aggs, the midrank join, and
               # the 5-row rank-sum agg — every exchange past the
               # base join carries value-grain or segment-grain rows:
               "stats_kruskal_wallis": 8,
               # BM25: token explode feeds the doc-length agg and the
               # term-filtered tf agg separately (the postings frame
               # must not widen the dl count), then df/stats/scored
               # aggs + the top-k sort — every exchange past the
               # explode carries postings- or doc-grain rows:
               "search_bm25_topk": 6,
               # MoR time travel audits FOUR versions in one plan —
               # each as-of resolve is a key-partitioned rank over
               # the (batch-sized) delta slice + the base anti-join;
               # a production reader asks for one version (= 2):
               "cdc_mor_time_travel": 8,
               # recall eval runs BOTH retrieval paths plus their
               # comparison in one query by design: centroid build
               # (2), assignment rank window, candidate join +
               # rescoring window, exact-side window, candidate
               # count, and the hit join/agg — each a required stage
               # of one leg; all post-scan exchanges carry query- or
               # cell-grain reduced rows:
               "ann_recall_eval": 12,
               # N-step funnel: one filtered join + per-user MIN per
               # step is the algorithm (4 steps here); every exchange
               # is keyed on user_id over a monotonically SHRINKING
               # user frame, plus the tiny per-step summary union:
               "events_funnel_steps": 7,
               # Kaplan-Meier: three user-keyed aggs (entry/conversion/
               # last-activity — Catalyst reuses the user_id exchange),
               # the subject joins, the per-day agg, and the two
               # curve windows over |distinct days| rows; every
               # exchange past the scans carries user- or day-grain
               # reduced rows:
               "events_survival_km": 9,
               # ---- the round-7 exact-quantile class: each
               # _twophase.exact_quantiles call pays the two-phase
               # price (range-repartition + pid-window exchange at
               # data grain, then per-partition-count offsets /
               # group-count frames at METADATA grain — ≤ partitions ×
               # groups rows regardless of data size). That is the
               # documented trade replacing the single-task exact
               # `percentile` buffer; every extra exchange beyond the
               # two data-grain ones carries bounded rows:
               "agg_approx_sketches": 10,
               "agg_stats_acctbal": 8,
               "events_kll_quantile_rollup": 13,   # 3 quantile calls
               "events_session_stats": 9,          # 2 quantile calls
               "events_time_to_convert": 11,
               "feature_winsorized_scale": 8,
               "layout_range_bounds": 6,
               "sketch_accuracy_eval": 10,
               "train_dataset_card": 12,
               "train_length_buckets": 6,
               # RFM: three exact_quantiles calls over the customer-
               # grain frame (recency/frequency/monetary) — one
               # data-grain agg + 3x the two-phase price; everything
               # else is the <=125-cell rollup:
               "customer_rfm_segments": 14,
               # ship latency: the declared big-big lineitem ⋈ orders
               # join + one grouped exact_quantiles pass:
               "orders_ship_latency": 8,
               # Brown-Forsythe: one grouped exact_quantiles pass for
               # the medians + the data-grain z-moment agg; the rest
               # move 5-row group frames:
               "stats_levene_variance": 8,
               # cohort LTV: (customer, month) cents agg + customer-
               # grain first-month agg + the co-partitioned cohort
               # join; every exchange past those carries (cohort x
               # offset) calendar-grain rows (cum-sum window, sizes
               # join, final sort):
               "orders_cohort_ltv": 8,
               # class scatter: the (label, dim, value) posexplode
               # feeds the centroid agg, the global-centroid agg and
               # the (label, vec) distance agg — three passes over
               # the checkpointed exploded frame, all map-side
               # combined; the rest move (labels x 64)-grain rows:
               "embedding_class_scatter": 7,
               # SQL set-ops front end: INTERSECT/EXCEPT/EXCEPT/UNION
               # each plan a distinct-style exchange pair over the two
               # year CTEs — but every exchange carries only DISTINCT
               # custkeys with the date filter pushed to the orders
               # scan (map-side partial distinct), sub-linear in
               # lineitem; grading the set-op SQL surface is the
               # point, so the 4-branch shape is intentional:
               "sql_set_ops_customer_activity": 8,
               # corpus release: the four chained stage costs — the
               # fingerprint-keyed dedup shuffle + rank, the doc-grain
               # decon overlap agg (only shingles HITTING the broadcast
               # bench set), the contaminated-id anti-join, and the
               # 16-row manifest agg pair + sort; quality and shard
               # stages are scan-level:
               "train_corpus_release": 6}


# Single-partition (unpartitioned) windows are DECLARED only where the
# frame is provably bounded — top-k output after a LIMIT, calendar
# grids (days/hours), vocabulary/manifest grain — never data grain.
# Anything data-grain must two-phase via
# operators/_twophase.with_global_order (the VERDICT_r5 scale-killer
# class: Gini / ABC / curriculum ntile / interleave / Heaps all
# two-phased in round 6 and absent here by construction).
WINDOW_OK: dict[str, int] = {
    # rank assignment over an orderBy().limit(k) result — the top-k
    # itself is TakeOrderedAndProject (per-partition heaps); the
    # window sorts only the k surviving rows:
    "basket_part_pairs": 1,        # limit 20
    "search_bm25_topk": 1,         # limit _BM25_TOPK (20)
    "graph_link_prediction": 1,    # limit LP_TOPK (20)
    "stats_gini_split_search": 1,  # limit _GINI_TOPK (5)
    "graph_adamic_adar_topk": 1,   # limit AA_TOPK (20)
    "sample_weighted_ares": 1,     # limit _ARES_K (50)
    "text_textrank_keywords": 1,   # limit _TR_TOPK (20)
    "basket_rules_lift": 1,        # limit RULE_TOP
    "events_countmin_heavy_hitters": 1,   # limit 10
    "events_path_trigrams": 1,     # limit 15
    "graph_pagerank_trade": 1,     # limit PR_TOP
    "text_bm25_topk": 1,           # limit 20
    "text_pmi_bigrams": 1,         # limit PMI_TOP
    "text_llr_collocations": 1,    # limit LLR_TOP (20)
    "text_zipf_fit": 1,            # limit ZIPF_MIN_RANK_N (20)
    # both ranker lists truncate to top-100 via TakeOrderedAndProject
    # before their rank windows; the fused-rank window runs over the
    # <=200-row union:
    "search_rrf_fusion": 3,
    # Hill estimator: the rank window runs over the top-(max(k)+1)
    # orderBy().limit() frame (201 rows) — TakeOrderedAndProject does
    # the data-sized reduction; caught by the round-7 runtime warning
    # gate on its checkpointed bounded frame:
    "stats_hill_tail_index": 1,
    # calendar-grid frames: one row per day (or trailing-7-day frame
    # over day rows) — bounded by the time span, not the data:
    "events_error_budget": 1,
    "ts_bollinger_bands": 1,
    "ab_test_sequential_sprt": 1,  # SPRT walk over the daily grid
    # round 12: the persist sweep un-hid windows that sat UPSTREAM
    # of (now-removed) localCheckpoints — the audit previously could
    # not see past the RDD scan. Same bounded calendar-grain class;
    # counts updated to the full now-visible plan:
    "ts_motif_discovery": 2,       # day-index + window-id assignment on day rows
    "ts_exponential_smoothing": 2,  # day-index + EWMA recursion, day rows
    "ts_brown_double_smoothing": 4,  # day-index + two cascaded smoothing
    # passes + trend join ordering, all on the same day-grain frame
    "ts_dow_seasonality": 2,       # day-index + day-count, both bounded
    "ts_ljungbox_whiteness": 1,    # cumulative Q over the 7-row lag grid
    "ts_runs_test": 1,             # run-boundary lag over bounded day rows
    "ts_durbin_watson": 3,         # day-index (x2 lineage branches) + residual lag, 30-day grid
    "ts_variance_ratio": 1,        # two lags share ONE day-ordered sort
    "ts_hurst_rs_exponent": 2,     # hour-grid index + per-scale R/S rank
    # (~720 calendar rows)
    "ts_classical_decompose": 2,   # day-index + centered-MA share the 30-day grid
    "events_survival_km": 2,       # KM curve over |distinct days|
    # 4-row per-step funnel summary union:
    "events_funnel_steps": 1,
    # BH family frame: the p-value rank + family-size windows run on
    # |event types| rows (currently hidden from the static audit by
    # the frame's lazy checkpoint — declared here for when it isn't):
    "stats_fdr_bh_weekend": 2,
    # file-manifest grain (thousands of rows at 100 TB) — compaction
    # planning is metadata-only by design, declared in its docstring:
    "layout_compaction_plan": 1,
    # same manifest-grain prefix-sum plus a group-grain LEAD (zone
    # disjointness check over |groups| rows):
    "layout_compaction_zonemap_audit": 2,
    # whole-frame totals over FIXED-CARDINALITY grids (order-less
    # global windows after literal-partition folding) — the frames are
    # |event types|^2, |segments| x |priorities|, and |langs| rows
    # respectively, independent of data volume:
    "events_transition_entropy": 1,
    "stats_chi_square_independence": 1,
    "stats_g_test_independence": 1,
    # Qini decile cumulatives: the fixed 10-row decile grid:
    "ab_test_uplift_qini": 1,
    "train_mixture_weights": 1,
    # 20-bin cumulative share over the fixed cosine histogram grid:
    "similarity_pair_distance_histogram": 1,
}


def _window_groups(line: str) -> list[str]:
    """Top-level [...] groups after a Window node name (bracket-depth
    parse — windowspecdefinition nests brackets inside the first
    group)."""
    groups, depth, cur = [], 0, []
    for ch in line:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


_WINDOW_NODE = re.compile(r"^[\s:+*()-]*(Window|WindowInPandas)\s+\[")
_SORT_MARK = re.compile(r"\b(ASC|DESC) NULLS")


def count_global_windows(plan: str) -> int:
    """Count Window nodes with NO partition spec — the plan shape Spark
    warns about ("No Partition Defined ... moving all data to a single
    partition"). A partitioned window prints three top-level groups
    [functions], [partitionSpec], [orderSpec]; an unpartitioned ordered
    one prints two: [functions], [orderSpec] (the last group is a sort
    spec); an unpartitioned order-less one (e.g. a whole-frame SUM —
    note Spark 4's EliminateWindowPartitions folds literal partition
    specs like partitionBy(lit(1)) into this shape, silently) prints
    ONE group. Windows with a partition spec but no order print two
    groups whose last has no sort markers — not counted."""
    n = 0
    for line in plan.splitlines():
        if not _WINDOW_NODE.match(line):
            continue
        groups = _window_groups(line)
        if len(groups) == 1 or (len(groups) == 2
                                and _SORT_MARK.search(groups[-1])):
            n += 1
    return n


def _strip_cached_lineage(plan: str) -> tuple[str, list[str]]:
    """Drop subtrees under InMemoryRelation nodes. The cached lineage is
    printed once per InMemoryTableScan reference, so a persisted frame
    referenced N times repeats its cache-fill exchange N times in the
    text while executing at most once (subsequent scans hit the cache).
    Counting those as N shuffles misgrades exactly the queries that
    persist correctly. Returns (stripped plan, deduped cached subtrees)
    so features that execute once inside the cache fill — e.g. a
    global window — can still be counted exactly once."""
    out, skip_col = [], None
    cached: dict[str, None] = {}
    cur: list[str] = []
    for line in plan.splitlines():
        col = re.match(r"[\s:+-]*", line).end()
        if skip_col is not None:
            if col > skip_col:
                cur.append(line[skip_col:])
                continue
            cached["\n".join(cur)] = None
            cur, skip_col = [], None
        if "InMemoryRelation" in line:
            skip_col = col
            continue
        out.append(line)
    if cur:
        cached["\n".join(cur)] = None
    return "\n".join(out), list(cached)


def audit(plan: str) -> dict[str, int]:
    plan, cached = _strip_cached_lineage(plan)
    gwin = (count_global_windows(plan)
            + sum(count_global_windows(c) for c in cached))
    return {
        "gwin": gwin,
        "shuffles": (plan.count("Exchange hashpartitioning")
                     + plan.count("Exchange rangepartitioning")
                     + plan.count("Exchange RoundRobinPartitioning")),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "python": (plan.count("BatchEvalPython")
                   + plan.count("ArrowEvalPython")
                   + plan.count("FlatMapGroupsInPandas")
                   + plan.count("MapInPandas")
                   + plan.count("AggregateInPandas")),
    }


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("plan_audit")
    rows, flags = [], []
    for name, fn in sorted(entrymod.queries().items()):
        if only and name not in only:
            continue
        try:
            # Per-query cache isolation, same as bench.py and
            # oracle_check.py: without it, cache entries accumulated by
            # EARLIER audited queries change how later plans substitute
            # InMemoryRelations — round 12 saw graph_pagerank_trade
            # audit at 88 shuffles inside the shared-session sweep but
            # 0 in a fresh session (the instrument the flag is supposed
            # to model is the bench, which clears between queries).
            spark.catalog.clearCache()
            plan = fn(spark, sf_dir)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            flags.append(f"{name}: PLAN FAILED {type(exc).__name__}: {exc}")
            continue
        a = audit(plan)
        rows.append((name, a))
        if a["smj"] > SMJ_OK.get(name, 0):
            flags.append(f"{name}: {a['smj']} SortMergeJoin (broadcast miss?)")
        if a["python"] > 0 and name not in PYTHON_OK:
            flags.append(f"{name}: undeclared Python eval in plan")
        if a["shuffles"] > SHUFFLES_OK.get(name, 5):
            flags.append(f"{name}: {a['shuffles']} shuffles")
        if a["gwin"] > WINDOW_OK.get(name, 0):
            flags.append(f"{name}: {a['gwin']} single-partition window(s) "
                         "(whole frame sorts on one task)")
    w = max(len(n) for n, _ in rows) if rows else 10
    print(f"{'query':<{w}}  shuffles smj bhj bnlj python gwin")
    for name, a in rows:
        print(f"{name:<{w}}  {a['shuffles']:>8} {a['smj']:>3} "
              f"{a['bhj']:>3} {a['bnlj']:>4} {a['python']:>6} "
              f"{a['gwin']:>4}")
    print()
    if flags:
        print("FLAGS:")
        for f in flags:
            print(" ", f)
    else:
        print("clean: no undeclared SMJ/Python/shuffle-count anywhere")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
