"""Scale-up experiment: build a 10x copy of sf0.1 (6M-row lineitem with
shifted keys/dates, 50k documents, 1M events — multi-row-group files so
scans actually split) and time representative queries at both scales.

Measured 2026-08-14 round 4 (local[32], warm second run; round-3
numbers in tools/ history):

    query               x1      x10    ratio   note
    rank_transformer    1.25    2.35    1.9x   window fan-out
    lag_transformer     0.82    1.44    1.8x
    neutralize_ols_era  8.93   20.42    2.3x   decimal Gram
    winsorize_by_era    1.99   11.71    5.9x   exact percentile
    dedup_minhash_lsh   2.96   23.90    8.1x   band join + verify
    corpus_clean        7.13   40.79    5.7x   5-stage composed flagship
    unigram_lm          1.01    3.00    3.0x   vocab broadcast
    era_report          1.35    1.37    1.0x   tiny-era summary
    autocorrelation     1.35    2.69    2.0x   shared window+agg
    event_funnel        1.43    1.07   <1x     broadcast stages
    session_ids         0.62    0.40   <1x
    spearman_by_month   1.38    1.86    1.3x
    panel_features     13.47   20.66    1.5x   4-stage composed flagship

Round-4 additions (second run, same protocol):

    psi_drift           3.67   11.45    3.1x   percentile + melt
    page_hinkley        2.06    7.87    3.8x   integer window test
    market_share        1.10    1.49    1.4x   8-way broadcast join
    woe_encode          0.45    0.42   <1x     broadcast stats

Round-5 additions (measured 2026-08-14, same protocol):

    pagerank            1.07    1.00   ~1x    edge set = distinct
                                              (supp,part) pairs — x10
                                              lineitem adds no new
                                              pairs, so this measures
                                              fixed cost only
    bloom_semi_join     0.58    0.54   ~1x    orders/customer are not
                                              scaled by the x10 build
    frequent_itemsets   4.33   23.54    5.4x  10x baskets (PFP mining)
    scd2_intervals      0.44    0.43   ~1x    events window
    auc_by_era          0.89    1.85    2.1x  rank windows
    session_window      0.46    0.59    1.3x  native session agg
    kaplan_meier        0.48    0.44   ~1x    per-user agg + tiny KM

Round-6 additions (measured 2026-08-14, same protocol):

    gini_segments       1.00    1.00   ~1x    group-sort window
    cheapest_supplier   1.17    0.99   <1x    dim tables not scaled
    active_time         0.48    0.86    1.8x  island merge
    weighted_median     1.11    4.13    3.7x  exact weighted quantile
    rake_keywords       0.76    1.92    2.5x  phrase split + gram agg
    isotonic_contract   2.51    4.45    1.8x  PAVA via era kernel
    approx_distinct     0.50    0.46   ~1x    HLL sketch agg
    linreg_fast         0.93    1.33    1.4x  float Gram + grad check

Round-7 additions (measured 2026-08-15, same protocol; the promoted
round-7 query set after its two perf fixes — capped strong-tie
triangle subgraph, 1%-slice dspymator input):

    max_drawdown        1.57    1.47   ~1x    fused equity+peak windows
    ks_statistic        0.40    0.46   ~1x    distinct-value stream
    bm25_search         1.35    1.83    1.4x  query-term filtered scan
    gains_table         0.83    0.99    1.2x  two-phase cell cumsum
    triangle_count      2.93    2.52   ~1x    capped subgraph saturates
    span_dedup          2.58   17.42    6.8x  gram agg scales w/ corpus
    quality_classifier  0.43    1.12    2.6x  one codegen scan
    dspymator_contract  1.22    2.90    2.4x  mapInPandas asyncio path
    psi_drift           3.30   11.75    3.6x  (re-run; matches r4 3.1x)
    pagerank            1.75    1.04   ~1x    fixed-size edge set

Round-8 staged set (measured 2026-08-15 pre-promotion; positional-arg
subset runs):

    customer_distribution   1.46    0.62   <1x   pre-agg + broadcast outer
    large_volume_customers  1.27    1.93    1.5x  HAVING key broadcast
    hybrid_rrf_search       2.61    2.65   ~1x   list-depth bounded fusion
    budget_select           1.41    3.18    2.3x  two-phase prefix
    containment_pairs       4.68  113.4    24x    SEE NOTE below
    best_split              1.15    2.50    2.2x  distinct-value stream
    topk_turnover           1.76    2.06    1.2x  after top-k lineage cut
    ic_decay                3.81    3.46   ~1x    after monthly-table cut
    negative_sample         2.46    8.89    3.6x  after n_buckets="auto"
    linear_interpolate      6.59    3.32   <1x    after O(n) fwd bracket
    pareto_front            1.14    1.00   ~1x    agg + 2 brand windows
    feature_corr_matrix     3.13    2.24   <1x    one grand aggregate
    seasonal_decompose      1.93    1.78   ~1x    checkpoint-cut panel
    xicor_by_month          1.71    3.65    2.1x  3 windows, 1 exchange

Round-7 extension probe, second batch (measured 2026-08-15; 18 more
never-swept declared queries — clean-session x10 confirmations in
parentheses where the long sweep session inflated):

    gaussianize_probit  2.44    5.70    2.3x
    quantile_normalize  2.03    2.69    1.3x
    target_encode_loo   2.75   42.64 (2.67 clean)  ~1x  see NOTE
    rolling_corr_ewma   1.66   28.03 (7.23 clean)  4.4x see NOTE
    events_percentiles  1.28   12.06 (16.31 clean) ~10x exact-mode
                                              group-size bound: the
                                              contract pins exact=True
                                              for oracle parity (sorts
                                              each event_type's values
                                              in one buffer); the
                                              operator's scale default
                                              is the mergeable GK
                                              sketch (exact=False),
                                              which is the 100 TB path
    fuzzy_name_pairs    0.72    0.61   <1x   dims not scaled
    dedup_clusters      3.40   13.69    4.0x  fixpoint, bounded
    asof_join           0.74    0.86   ~1x
    interval_band_join  1.46    1.02   <1x
    salted_join         0.62    0.47   <1x
    events_sessionize   0.50    0.97    1.9x
    text_pii_mask       0.51    2.42    4.7x  regex scan, linear rows
    ngram_contamination 1.28    3.67    2.9x
    pack_sequences      0.57    0.89    1.6x
    table_diff          1.02    0.86   <1x
    quantile_bin        1.08    1.92    1.8x
    trimmed_stats       1.01    1.81    1.8x
    window_navigation   0.71    1.83    2.6x

Round-7 extension probe, third batch (measured 2026-08-15; the
ordered-transformer and text families — every reading sub-linear):

    anomaly_flags       2.21    2.51   ~1x
    expanding_aggregates 0.95   1.17    1.2x
    forward_returns     0.74    1.32    1.8x
    moving_average      0.74    1.51    2.0x
    rolling_aggregates  0.76    1.53    2.0x
    rolling_rank        0.85    1.69    2.0x
    robust_zscore       2.03    2.86    1.4x
    transition_counts   0.55    0.80    1.5x
    retention_cohorts   0.66    0.82    1.2x
    char_entropy        1.16    3.92    3.4x
    doc_sentences       0.21    0.37    1.8x
    text_language_id    0.50    1.05    2.1x
    text_quality_score  0.74    3.91    5.3x  per-char feature scan,
                                              linear in corpus bytes
    melt_lineitem       0.30    0.77    2.6x

Round-7 extension probe, fourth batch (measured 2026-08-15; lineitem
aggregate shapes + the remaining document scans — all sub-linear,
most ~1x because partial aggregation collapses before the shuffle):

    pricing_summary     0.79    0.58   <1x
    promo_revenue       1.51    2.09    1.4x
    large_orders        1.13    1.79    1.6x
    log_return          1.31    1.52    1.2x
    diff_transformer    1.07    1.74    1.6x
    group_stats         0.92    0.84   <1x
    benford_digits      1.70    1.61   <1x
    calendar_features   0.31    0.24   <1x
    distinct_counts     0.73    0.64   <1x
    psi_categorical     0.63    0.48   <1x
    text_c4_filters     0.42    0.91    2.2x
    text_normalize      0.36    1.02    2.8x
    text_token_counts   0.32    1.13    3.5x
    token_positions     0.32    0.82    2.6x
    simhash_fingerprint 0.53    1.77    3.3x
    z_order_key         0.79    0.81   ~1x

Round-7 extension probe, fifth batch (measured 2026-08-15; the events
and sampling families — all sub-linear; several <1x because the x10
build's shifted user/order keys SPREAD the per-key windows across
more, smaller partitions):

    events_interval_join 2.14   0.97   <1x
    events_json_extract 1.73    1.44   <1x
    events_windowed_counts 2.03 0.36   <1x
    stratified_sample   1.10    0.37   <1x
    hash_split_sample   0.71    0.29   <1x
    mixture_sample      1.15    0.66   <1x
    temperature_mixture 1.20    0.58   <1x
    conformal_quantiles 1.57    1.82    1.2x
    cv_folds            1.56    1.07   <1x
    era_weights         1.02    1.22    1.2x
    logloss_calibration 0.98    0.81   <1x
    one_hot_segments    0.22    0.21   ~1x
    string_agg_segment  0.24    0.22   ~1x
    window_distribution 0.82    0.78   ~1x
    doc_string_funcs    0.27    0.64    2.4x
    feature_hash        0.23    0.28    1.2x

Round-7 extension probe, sixth batch (measured 2026-08-15; the
relational families — FIRST batch on the EXTENDED x10 build that
also scales orders (+i*10M orderkey, consistent with lineitem) and
embeddings (perturbed copies); earlier orders-joining readings
carried a "dims not scaled" caveat this build removes):

    shipping_priority   3.59   11.49    3.2x  order-limit over join
    regional_revenue    3.22   12.82    4.0x  cycle join
    volume_shipping     1.94    5.31    2.7x
    grouping_sets_revenue 0.99  0.35   <1x    partial-agg collapse
    rollup_revenue      0.50    0.31   <1x
    cube_revenue        0.72    0.33   <1x
    pivot_revenue       4.38    0.32   <1x    multi-row-group scan
                                              parallelism dominates
    range_frame_sums    2.26    5.03    2.2x
    top_orders_per_segment 0.85 3.76    4.4x
    sql_returned_revenue 1.46   4.63    3.2x
    above_avg_orders    0.61    0.42   <1x
    set_ops_customers   0.84    0.77   <1x
    exists_customers    0.60    0.57   <1x
    full_outer_activity 0.68    0.80    1.2x
    prospect_customers  0.67    1.03    1.5x
    part_share          0.57    1.62    2.8x
    supplier_return_blame 4.98 23.92    4.8x  clean re-run (the batch
                                              read 58.9s — the
                                              long-session JVM effect
                                              again; confirmed clean
                                              twice)
    supplier_counts     1.33    3.91    2.9x
    validate_orders     1.05    1.32    1.3x  clean re-run (batch
                                              read 18.6s, same cause)
    table_profile       0.58    2.18    3.8x

Round-7 extension probe, seventh batch (measured 2026-08-15; the
ANN/PCA/profile families on the extended build — embeddings now scale
10x as PERTURBED copies, so these are the first real 10x readings for
the vector family):

    ann_rp_lsh          2.65    3.16    1.2x
    ann_rp_lsh_recall   2.66    3.27    1.2x
    pq_recall_contract  1.97    2.91    1.5x
    ivfpq_recall_contract 3.71  5.76    1.6x
    ivfpq_pruned_contract 2.66  3.59    1.3x
    pca_project_expr    2.03    1.81   <1x
    pca_kernel_contract 2.91   12.56    4.3x  eigh kernel + twin join
    dim_reducer_pca     1.24    1.86    1.5x
    dedup_embedding_cosine 2.05 12.44   6.1x  output-bound: each vector
                                              gains 9 near-copies, the
                                              qualifying pair set grows
                                              ~45x — sub-linear in the
                                              result size
    rank_ensemble       1.79    2.30    1.3x
    resample_ffill      6.03    3.44   <1x
    psi_sketch_contract 6.31   24.78    3.9x  runs exact AND sketch
                                              modes by definition

Round-7 extension probe, eighth batch (measured 2026-08-15; the
per-era kernel family — eras stay ~84 at x10 (dates shift by days),
so every era's applyInPandas kernel does 10x the rows — plus the six
NEW staged queries):

    penalizer_contract  1.80    6.64    3.7x  clean re-run (batch read
                                              26.1s — long-session JVM
                                              state; third such case
                                              this round)
    neutralizer_kernel_contract 6.54 45.70 7.0x  kernel+twin+joins, all
                                              era-sized; sub-linear
    linear_regression   1.91    3.04    1.6x  decimal-Gram oracle query
    feature_neutralizer 2.05    7.52    3.7x
    feature_penalizer   2.12   14.35    6.8x  Adamax iterations scale
                                              with era rows
    naive_bayes         2.89    6.60    2.3x  broadcast V×K model
    disjunctive_revenue 1.04    0.56   <1x    pushed OR envelopes
    kcore_dupgraph      5.42   14.40    2.7x  dup-graph edges grow with
                                              planted families
    signal_backtest     2.17    1.80   <1x    one-row-per-era windows
    kmeans_embeddings   4.31    8.61    2.0x  2 literal-centroid scans
    knn_classify        1.28    6.54    5.1x  exact corpus scan per
                                              query (the documented
                                              brute-force baseline;
                                              IVF/LSH is the scale path)

With this batch EVERY declared query (169) and every staged query
(20) has at least one recorded 10x reading or a prose-documented
equivalent (neutralizer_full_expr, neutralize_ols_era in the
round-6 FIX notes) — none super-linear after clean-session re-runs.

Round-7 extension probe, ninth batch (measured 2026-08-15): the
scaled-embeddings build EXPOSED A REAL SUPER-LINEAR PATH in
semantic_dedup — 2.84s -> 95.5s (33.6x) on a 109x same-bucket pair
count (fixed 64 buckets at 20k vectors). Root cause was NOT the pair
count: the per-pair cosine (an F.aggregate HOF, CodegenFallback)
evaluated INTERPRETED inside the join residual at ~500us core-time
per pair; a flat 64-term expression chain only reached 71s. Fix:
verify="kernel" (now the default) routes the within-bucket
domination check through an Arrow-batched numpy kernel per
(bucket, chunk) group using the bit-exact dimension-ordered
_seq_dots/_seq_norms accumulators (similarity/ann.py) — same kept
set (property-tested against the expression path, chunked and not;
oracle unchanged and still hash-green at both gate SFs):

    semantic_dedup      2.19    2.23   ~1x   (was 95.5s at x10)
    vector_pipeline     6.29    6.21   ~1x   (was 437.9s pre-fix:
                                              108.8 after pinning
                                              kmeans' input x, 6.2
                                              after the kernel)
    corpus_clean        8.48   35.59    4.2x  (re-run; matches its
                                              documented 5.7x band)

The kmeans_lloyd_exact input is now pinned with ONE eager
localCheckpoint — it feeds iters+2 actions, and in the composed
vector_pipeline each action re-ran the dedup join (11s -> 5s at x1).

NOTE on long-session inflation: the 18-query sweep runs both scales
in ONE Spark session; by the x10 pass the JVM carries every prior
query's broadcasts/checkpoint blocks, and two readings came back
10-16x their clean-session truth (target_encode_loo 42.6s vs 2.67s
clean; rolling_corr_ewma 28.0s vs 7.2s clean — re-measured in a fresh
session against the kept x10 build, twice). Treat any surprising
single reading from a long batch as unconfirmed until re-run clean —
the same discipline SURVEY §8 applies to bench drift.

Round-8 staging FIXES found by this sweep (second batch): (c) the
first-draft linear_interpolate took a [current row, unbounded
FOLLOWING] ignore-nulls frame for the forward bracket — Spark
evaluates unbounded-following frames by RESCANNING to the partition
end for every row, O(n²) per partition: 224.9s at x1 on the sf0.1
supplier spine. The forward bracket is the same running last-non-null
over the REVERSED ordering (two O(n) passes, one shuffle): 6.6s.
(d) negative_sample with a FIXED bucket count grows candidate rows as
k*N^2/B (measured 52x wall-clock at 10x docs); n_buckets="auto" sizes
B from one count job (oracle twin: scalar subquery), holding fan-out
at ~16 members per probe -> 3.6x at 10x.

Round-8 staging FIXES found by this sweep: (a) ic_decay measured
12.3x at 10x (34s) — the aggregated-small monthly table's lineage
(full scan+shuffle) re-executed for all six join sides; one eager
localCheckpoint cut -> 3.5s, ~1x. topk_turnover got the same cut
(2.1x -> 1.2x). (b) containment_pairs' uncapped gram self-join HUNG
at x10 — the x10 corpus makes every doc a member of a 10-near-copy
family, the boilerplate pathology df_cap exists for; the query now
uses df_cap=100 with a capped-index oracle. NOTE on its 24x: the x10
build multiplies DUPLICATION, not just rows — planted containment
pairs grow from ~50 to ~450k (9000x), so exact pair enumeration is
output-bound; 24x wall-clock against 9000x output is sub-linear in
the result size. At corpus scale, generate candidates with
MinHash-LSH buckets and exact-verify (dedup/minhash.py), as the
jaccard module documents.

Round-7 extension probe (measured 2026-08-15; 16 previously-unswept
declared text/doc/event queries):

    line_dedup          1.00    2.86    2.9x
    text_repetition     2.01   11.64    5.8x
    tfidf_topk          1.27    4.36    3.4x
    doc_fingerprint     0.92    4.24    4.6x
    pmi_cooccur         1.64    8.36    5.1x
    semantic_dedup      2.20    9.28    4.2x
    dedup_embedding_cos 1.96    2.24    1.1x
    attribution         0.86    3.95    4.6x
    event_debounce      0.44    1.09    2.5x
    heavy_hitters       0.45    0.46   ~1x
    mutual_information  1.96    2.15    1.1x
    record_linkage      0.80    0.74   ~1x
    url_dedup           0.36    0.62    1.7x
    doc_chunks          0.35    1.27    3.6x
    dedup_ngram_jaccard 4.16  289.3    70x    output-bound, see NOTE
    simhash_pairs       1.81   64.5    36x    output-bound, see NOTE

NOTE on the two exact-pair surfaces: the x10 corpus build gives EVERY
document ~9 near-copies, so the planted near-dup PAIR COUNT grows
~9000x (45 pairs per 10-doc family x 5k families vs ~25 pairs at x1)
— exact pair enumeration is Omega(output), and 36-70x wall-clock
against ~9000x output is strongly sub-linear in the result size.
Neither query's df_cap fires (family grams have df~10-30): this is
result growth, not stop-gram blow-up. The corpus-scale path for both
is candidate generation via banded MinHash-LSH (dedup_minhash_lsh,
8.5s / 3.6x at x10 on the same fixture) or simhash block keys with a
bounded verify, exactly as the dedup modules document.

Round-7 FIXES found by this sweep: (a) triangle_count on the raw
co-supply projection measured 25.3s at x1 — the synthetic fixture's
co-supply graph is COMPLETE over all 1000 suppliers, so triangles are
TH(|V|^3) for any algorithm (a result-size property, not skew); the
query now counts a 300-supplier strong-tie subgraph (25.3 -> 3.5s).
(b) dspymator_contract over the full lineitem measured 109s at x1 —
600k per-row asyncio program calls buy no extra path coverage; the
contract input is now the deterministic 1%-of-orders slice (-> 1.5s).
(c) the round-6 materialize="auto" localCheckpoint in era OLS
neutralization cost ~1.7s at sf0.1 where lineage re-execution is
cheaper; "auto" is now additionally size-gated (>= 32 MB input), which
keeps the x10 win (neutralize_ols_era 9.0s at x10, 2.3x) and recovers
the small-scale readings (neutralizer_full_expr 3.3 -> 2.9s).

Round-6 FIX: neutralize_ols_era measured 12.7x (3.6s -> 45.5s) on the
first round-6 run — SUPER-linear. Two causes, both fixed: (a) the
under-partitioned repartition gate used monotonically_increasing_id,
whose NONDETERMINISM blocks ReusedExchange, so each of the residual
lineage's consumers re-executed the full scan+shuffle (fix:
deterministic xxhash64 spread key -> one reused exchange; 45.5 -> 24s);
(b) materialize="none" re-evaluated the heavy decimal/Cramer residual
expressions per consumer (fix: materialize="auto" localCheckpoints the
residual table exactly when the gate fires; 24 -> 7.8s, ratio 2.0x).
neutralizer_full_expr got the same cut explicitly (49 -> 13.6s, 3.7x).

Every ratio is SUB-LINEAR in the 10x data growth — the multi-row-group
x10 files scan with real parallelism that the single-row-group sf0.1
files cannot, so fixed costs amortize exactly as they would on a
many-file 100 TB table. No operator shows super-linear blow-up (the
quadratic traps — gram re-evaluation, pair explosion — stay dead).
Both composed flagships hold: panel_features 1.5-1.7x (its checkpoint
+ three tiny aggs amortize), corpus_clean 5.7x (LSH banding dominates,
linear in candidate pairs).

Usage: python tools/scale_experiment.py [--keep]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

BASE = "/root/testdata/sf0.1"
TGT = os.path.join(REPO, ".scale10_sf")
QS = [
    "rank_transformer", "lag_transformer", "neutralize_ols_era",
    "winsorize_by_era", "dedup_minhash_lsh", "corpus_clean",
    "unigram_lm", "era_report", "autocorrelation", "event_funnel",
    "session_ids", "spearman_by_month", "panel_features",
    "psi_drift", "page_hinkley", "market_share", "woe_encode",
    # round-5 additions
    "pagerank", "bloom_semi_join", "frequent_itemsets",
    "scd2_intervals", "auc_by_era", "session_window", "kaplan_meier",
    # round-6 additions (gini_segments was the one round-5 operator not
    # yet probed; the rest are the round-6 promoted queries that touch
    # tables the x10 build scales — lineitem/orders/documents/events)
    "gini_segments", "cheapest_supplier", "active_time",
    "weighted_median", "rake_keywords", "isotonic_contract",
    "approx_distinct_contract", "linreg_fast_contract",
    # round-7 additions (verdict item 8): the promoted round-7 set —
    # triangle counting and gains are exactly the shapes where skew
    # bites; span_dedup/bm25 scale with documents, drawdown/KS with
    # lineitem
    "max_drawdown", "ks_statistic", "bm25_search", "gains_table",
    "triangle_count", "span_dedup", "quality_classifier",
    "dspymator_contract",
    # round-11 additions: the new staged set (document-scaling dedup/
    # selection shapes plus the sketch quantile) and the two signed
    # gate contracts (events-scaling)
    "duplicated_spans_multi", "dsir_select", "bottomk_quantiles",
    "bootstrap_signed", "mwu_signed",
    # round-13 additions: the r14 staged set (advisor-chosen salted
    # join scales with lineitem; the CDC/SCD2 audit with orders) —
    # measured 2026-08-16: 1.1x / 0.8x at 10x rows
    "plan_join_contract", "cdc_scd2_audit",
    # dd sketch kernel contract (events-scaling; 1.2x at 10x)
    "dd_sketch_contract",
    # incremental view maintenance (orders/customer; 1.1x at 10x)
    "incr_agg_maintain",
]


def build(flat: bool = False) -> str:
    """x10 build. ``flat=True`` writes the DUPLICATION-FLAT variant of
    documents/embeddings (r7 verdict item 9): rows scale 10x but
    near-dup FAMILIES do not — each copy interleaves a copy-specific
    marker token between words (3-gram Jaccard across copies ≈ 0) and
    shifts embedding components by a large alternating-sign offset
    (cross-copy cosine far below every dedup threshold). Output-bound
    queries (containment_pairs, dedup_embedding_cosine,
    blocking_quality truth) probe COMPUTE growth on this build instead
    of the 9000x output growth the dup-family build plants."""
    shutil.rmtree(TGT, ignore_errors=True)
    os.makedirs(TGT)
    con = duckdb.connect()
    doc_text = (
        "CASE WHEN i = 0 THEN text ELSE text || ' v' || CAST(i AS VARCHAR) END"
    )
    emb_expr = (
        "list_transform(embedding, x -> x + CAST(i AS FLOAT) * 0.003)"
    )
    if flat:
        doc_text = (
            "CASE WHEN i = 0 THEN text ELSE array_to_string("
            "list_transform(string_split(text, ' '), "
            "(w, k) -> CASE WHEN k % 2 = 0 THEN "
            "w || ' m' || CAST(i AS VARCHAR) || 'q' || CAST(k AS VARCHAR) "
            "ELSE w END), ' ') END"
        )
        emb_expr = (
            "list_transform(embedding, (x, k) -> x + CAST(i AS FLOAT) * 0.4 "
            "* (CASE WHEN k % 2 = 0 THEN 1.0 ELSE -1.0 END) "
            "* (1.0 + CAST(k AS FLOAT) / 64.0))"
        )
    con.execute(f"""
      COPY (
        SELECT l_orderkey + i * 10000000 AS l_orderkey, l_partkey, l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
               l_returnflag, l_linestatus,
               l_shipdate + to_days(CAST(i AS INTEGER)) AS l_shipdate
        FROM read_parquet('{BASE}/lineitem.parquet'), range(10) r(i)
      ) TO '{TGT}/lineitem.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 400000)
    """)
    con.execute(f"""
      COPY (
        SELECT doc_id + i * 1000000 AS doc_id,
               {doc_text} AS text,
               lang, source, n_chars
        FROM read_parquet('{BASE}/documents.parquet'), range(10) r(i)
      ) TO '{TGT}/documents.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 20000)
    """)
    con.execute(f"""
      COPY (
        SELECT event_id + i * 100000000 AS event_id,
               ts + to_minutes(CAST(i AS INTEGER)) AS ts,
               user_id + i * 1000000 AS user_id, event_type, value, props
        FROM read_parquet('{BASE}/events.parquet'), range(10) r(i)
      ) TO '{TGT}/events.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 400000)
    """)
    # Batch 6+ extension: scale orders CONSISTENTLY with lineitem's
    # orderkey shift (earlier batches copied orders unscaled, so any
    # lineitem JOIN orders probe silently dropped the 9/10 of lineitem
    # whose shifted keys had no order row — readings before this change
    # carry a "dims not scaled" note). o_custkey stays, so per-customer
    # order fan-out grows 10x (the realistic shape for Q13/Q18/Q22).
    con.execute(f"""
      COPY (
        SELECT o_orderkey + i * 10000000 AS o_orderkey, o_custkey,
               o_orderstatus, o_totalprice,
               o_orderdate + to_days(CAST(i AS INTEGER)) AS o_orderdate,
               o_orderpriority
        FROM read_parquet('{BASE}/orders.parquet'), range(10) r(i)
      ) TO '{TGT}/orders.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 400000)
    """)
    # Embeddings scale with PERTURBED copies (i=0 exact): near but not
    # identical vectors, so ANN/centroid probes measure scan+bucket
    # growth rather than an exact-duplicate pair explosion.
    con.execute(f"""
      COPY (
        SELECT vec_id + i * 10000000 AS vec_id,
               {emb_expr} AS embedding,
               label
        FROM read_parquet('{BASE}/embeddings.parquet'), range(10) r(i)
      ) TO '{TGT}/embeddings.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 20000)
    """)
    for t in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(f"{BASE}/{t}.parquet", f"{TGT}/{t}.parquet")
    return TGT


def main() -> int:
    from centimators_spark.session import get_spark

    import __spark_entry__ as m

    # positional args select a query subset (default: the full QS list)
    names = [a for a in sys.argv[1:] if not a.startswith("--")] or QS
    # --reuse: skip the rebuild when a prior --keep run left the x10
    # data in place (batch runs in fresh sessions share one build).
    if "--reuse" in sys.argv and os.path.exists(f"{TGT}/lineitem.parquet"):
        tgt = TGT
    else:
        tgt = build(flat="--flat" in sys.argv)
    spark = get_spark(
        "scale10",
        cpus=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = {**m.queries(), **m.staged_queries()}
    for sf_dir, label in [(BASE, "x1"), (tgt, "x10")]:
        for name in names:
            fn = registry[name]
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            print(f"{label:4s} {name:24s} {time.perf_counter()-t0:7.2f}s",
                  flush=True)
    if "--keep" not in sys.argv:
        shutil.rmtree(TGT, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
