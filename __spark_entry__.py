"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship 4-stage panel pipeline on sf0.001.
``queries()`` — one literal dict of every declared query, written in
the driver's order (its first 50 entries are the driver's correctness
window). Builders live in this file and in
``centimators_spark.plans.{relational,datapipe}_queries``.
``oracle_sql()`` — one literal dict of DuckDB-equivalent SQL for every
query key except the four rows-only kernels; it spreads the plans
modules' own ``oracle_sql()`` dicts, which compose oracles from one
another.
``staged_queries()`` / ``staged_oracle_sql()`` — queries gate-checked
locally (``tools/check_oracle.py --staged``) but not declared to the
driver.

Panel mapping for the reference's financial-panel semantics onto the
driver's TPC-H-ish tables: ticker → l_suppkey, date → l_shipdate,
features → lineitem numerics; deterministic within-group ordering is
(l_shipdate, l_orderkey, l_linenumber).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from centimators_spark.io import load_table
from centimators_spark.plans import datapipe_queries, relational_queries
from centimators_spark.operators import (
    RankTransformer,
    LagTransformer,
    MovingAverageTransformer,
    LogReturnTransformer,
    GroupStatsTransformer,
    FeatureNeutralizer,
    FeaturePenalizer,
)

# deterministic panel ordering (SURVEY.md §7 risk 1). (l_orderkey,
# l_linenumber) alone is NOT unique in this synthetic data (sf0.1 even
# collides on the first four columns within a supplier), so the value
# columns serve as final tiebreakers — ties then only occur between
# fully-identical (interchangeable) rows, keeping the window order total
# in both engines.
ORDER = [
    "l_shipdate",
    "l_orderkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]
KEYS = ["l_orderkey", "l_linenumber"]


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem")


# ---------------------------------------------------------------- queries

def q_rank_transformer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = RankTransformer(
        ["l_quantity", "l_extendedprice"],
        group_col="l_shipdate",
        output_mode="replace",
        keep_cols=KEYS,
    )
    return t.transform(_lineitem(spark, sf_dir))


def q_lag_transformer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = LagTransformer(
        windows=[1, 5, 10],
        feature_names=["l_quantity", "l_extendedprice"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="replace",
        keep_cols=KEYS,
    )
    return t.transform(_lineitem(spark, sf_dir))


def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = MovingAverageTransformer(
        windows=[5, 20],
        feature_names=["l_quantity"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="replace",
        keep_cols=KEYS,
    )
    return t.transform(_lineitem(spark, sf_dir))


def q_log_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = LogReturnTransformer(
        feature_names=["l_extendedprice"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="replace",
        keep_cols=KEYS,
    )
    out = t.transform(_lineitem(spark, sf_dir))
    # ln() differs by 1 ULP between JVM and libm → round for stable hashes
    return out.withColumn(
        "l_extendedprice_logreturn", F.round("l_extendedprice_logreturn", 6)
    )


def q_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = GroupStatsTransformer(
        {"li": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]},
        output_mode="replace",
        keep_cols=KEYS,
    )
    return t.transform(_lineitem(spark, sf_dir))


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: grouped aggregation, fully
    pushed-down scan, map-side partial aggregation."""
    li = _lineitem(spark, sf_dir)
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_feature_neutralizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-era gaussianize + OLS neutralization (Arrow kernel).
    Not SQL-expressible (Φ⁻¹) → driver records rows-only check; exact
    parity is covered by tests/test_neutralization.py differential test."""
    li = _lineitem(spark, sf_dir).withColumn(
        "era", F.date_trunc("month", F.col("l_shipdate"))
    )
    t = FeatureNeutralizer(
        proportion=[0.5, 1.0],
        pred_name="l_extendedprice",
        feature_names=["l_quantity", "l_discount", "l_tax"],
        era_col="era",
        order_col=ORDER,
        keep_cols=KEYS,
    )
    return t.transform(li)


def q_neutralize_ols_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed pure-expression per-era OLS neutralization (the
    deterministic sibling of feature_neutralizer): era Gram sums in
    exact decimals, Cramer coeffs, fixed-decimal standardization,
    global min-max — every stage codegen, bit-exact DuckDB oracle."""
    from centimators_spark.operators.neutralization import era_ols_neutralize

    return era_ols_neutralize(
        _panel_inputs(spark, sf_dir),
        "e100",
        ["q", "d100", "t100"],
        era_col="era",
        proportion=0.5,
        keep_cols=KEYS,
    )


def q_gaussianize_probit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE gaussianize (#16) — ordinal rank → (r−0.5)/n → AS241
    Φ⁻¹ — as pure window + shared-SQL-text expressions; no
    applyInPandas, eras of any size, bit-exact oracle (6dp for the
    ln/sqrt ULP)."""
    from centimators_spark.operators.neutralization import gaussianize_expr

    li = _lineitem(spark, sf_dir).withColumn(
        "era", F.date_trunc("month", F.col("l_shipdate"))
    )
    out = gaussianize_expr(
        li, "l_extendedprice", era_col="era", order_col=ORDER
    )
    return out.select(*KEYS, "l_extendedprice_gauss")


def q_neutralizer_full_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE reference neutralizer semantics — gaussianize
    (ordinal rank → Φ⁻¹) → per-era OLS → proportion subtract →
    standardize → global min-max — as ONE pure-expression plan with a
    bit-exact composed oracle. The 6dp-rounded gaussian values scale by
    1e6 into exact integers, so the decimal-Gram/Cramer machinery of
    era_ols_neutralize applies unchanged."""
    from centimators_spark.operators.neutralization import (
        era_ols_neutralize,
        gaussianize_expr,
    )

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        *[c for c in ORDER if c not in KEYS],
        F.date_trunc("month", F.col("l_shipdate")).alias("era"),
        F.col("l_quantity").cast("double").alias("q"),
        F.round(F.col("l_discount") * 100).alias("d100"),
        F.round(F.col("l_tax") * 100).alias("t100"),
    )
    g = gaussianize_expr(
        li, "l_extendedprice", era_col="era", order_col=ORDER
    ).withColumn("y6", F.round(F.col("l_extendedprice_gauss") * 1e6))
    # the OLS stage's consumers re-read their input several times
    # (Gram aggregation + residual join + std/min-max recompute
    # without a cut); the gaussianize window is the one expensive
    # lineage here — cut it ONCE, narrowed to what the OLS needs.
    # localCheckpoint measured both fastest AND stable under repeated
    # in-session runs (1.6-1.9s at sf0.1 vs 2-14s for persist or no
    # cut, whose cached copies churn storage memory across reruns)
    g = g.select(*KEYS, "era", "q", "d100", "t100", "y6").localCheckpoint(
        eager=True
    )
    # explicit inner cut: the input is checkpoint blocks (no file scan),
    # so era_ols_neutralize's auto gate can't see that its residual
    # consumers would re-evaluate the heavy decimal/Cramer expressions
    # per pass — measured 49s vs 14s at 10x data (sf0.1: ~equal)
    return era_ols_neutralize(
        g,
        "y6",
        ["q", "d100", "t100"],
        era_col="era",
        proportion=0.5,
        keep_cols=KEYS,
        materialize="localCheckpoint",
    )


def q_pca_project_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-exact 2-feature PCA projection — the expression twin of
    DimReducer('pca') (closed-form 2×2 covariance eigen-solve as shared
    SQL text over exact decimal sums; differential test pins the numpy
    eigh kernel to this twin). One map-side-partial aggregation +
    broadcast-back — the narrow-PCA scoring plan that holds at 100 TB."""
    from centimators_spark.operators.dimreduction import pca2_project_expr

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        F.col("l_quantity").alias("xq"),
        F.round(F.col("l_discount") * 100).alias("yd"),
    )
    return pca2_project_expr(li, "xq", "yd", keep_cols=KEYS)


def q_diff_transformer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain diff + pct-change within ticker (non-log sibling of
    log_return); pct rounded 6dp for the cross-engine division."""
    from centimators_spark.operators.time_series import DiffTransformer

    t = DiffTransformer(
        windows=[1, 5],
        feature_names=["l_extendedprice"],
        pct_change=True,
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="replace",
        keep_cols=KEYS,
    )
    out = t.transform(_lineitem(spark, sf_dir))
    return out.select(
        *KEYS,
        "l_extendedprice_diff1",
        F.round("l_extendedprice_pct1", 6).alias("l_extendedprice_pct1"),
        "l_extendedprice_diff5",
        F.round("l_extendedprice_pct5", 6).alias("l_extendedprice_pct5"),
    )


def q_expanding_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum/max per ticker — unbounded-preceding frame."""
    from centimators_spark.operators.time_series import ExpandingAggTransformer

    t = ExpandingAggTransformer(
        feature_names=["l_quantity"],
        aggs=["sum", "max"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="replace",
        keep_cols=KEYS,
    )
    return t.transform(_lineitem(spark, sf_dir))


def q_session_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level session labels (gap rule) — the assignment sibling of
    events_sessionize's aggregate."""
    from centimators_spark.streaming.events import session_ids

    return session_ids(load_table(spark, sf_dir, "events"))


def q_feature_exposures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure computation (#20): per-era Pearson correlation of each
    feature against the prediction column — the quantity the penalizer
    caps — as one grouped aggregation (map-side partial corr moments)."""
    li = _lineitem(spark, sf_dir).withColumn(
        "era", F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate")))
    )
    return li.groupBy("era").agg(
        *[
            F.round(F.corr(f, "l_extendedprice"), 6).alias(f"exp_{f}")
            for f in ("l_quantity", "l_discount", "l_tax")
        ]
    )


def q_rolling_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling sum/min/max/std family (one fused Window exec for the
    whole fan-out); std rounded to 6dp for cross-engine accumulation."""
    from centimators_spark.operators.time_series import RollingAggTransformer

    t = RollingAggTransformer(
        windows=[5],
        feature_names=["l_quantity"],
        aggs=["sum", "min", "max", "std"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="replace",
        keep_cols=KEYS,
    )
    out = t.transform(_lineitem(spark, sf_dir))
    return out.withColumn(
        "l_quantity_rolling_std5", F.round("l_quantity_rolling_std5", 6)
    )


CORR_W = 10
EWMA_SPAN = 4
EWMA_WINDOW = 12


def q_rolling_corr_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling co-movement family: trailing-10 corr + OLS beta of
    extendedprice vs quantity per supplier, and a truncated EWMA of
    quantity — five shared window sums + fused lags, ONE WindowExec."""
    from centimators_spark.operators.time_series import (
        EWMATransformer,
        RollingCorrTransformer,
    )

    corr = RollingCorrTransformer(
        bench_col="l_quantity",
        windows=[CORR_W],
        feature_names=["l_extendedprice"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="append",
    )
    ewma = EWMATransformer(
        spans=[EWMA_SPAN],
        window=EWMA_WINDOW,
        feature_names=["l_quantity"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="append",
    )
    out = ewma.transform(corr.transform(_lineitem(spark, sf_dir)))
    return out.select(
        *KEYS,
        f"l_extendedprice_corr{CORR_W}_l_quantity",
        f"l_extendedprice_beta{CORR_W}_l_quantity",
        f"l_quantity_ewma{EWMA_SPAN}",
    )


def q_winsorize_by_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month quantile clipping of l_extendedprice (exact percentile
    mode pinned for oracle parity; approx sketch is the scale default)."""
    from centimators_spark.operators.stats import clip_by_quantile

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        F.date_trunc("month", F.col("l_shipdate")).alias("era"),
        "l_extendedprice",
    )
    # exact percentile sorts each era's values inside its aggregation
    # buffer; the local single-row-group scan is ONE task, so spread the
    # eras across tasks first (hash on era → each task sorts its eras)
    out = clip_by_quantile(
        li.repartition("era"),
        ["l_extendedprice"],
        era_col="era",
        lo=0.05,
        hi=0.95,
        exact=True,
    )
    return out.select(
        *KEYS, F.round("l_extendedprice_clipped", 6).alias("clipped")
    )


def q_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-era median/MAD robust standardization (exact-percentile mode
    pinned for oracle parity; the mergeable approx sketch is the scale
    default). Two tiny grouped aggregations broadcast back — no window
    over the full table."""
    from centimators_spark.operators.stats import robust_zscore

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        F.date_trunc("month", F.col("l_shipdate")).alias("era"),
        "l_extendedprice",
    )
    # exact percentile sorts each era inside its aggregation buffer; the
    # local single-row-group scan is ONE task — spread eras across tasks
    # first (same rationale as winsorize_by_era)
    out = robust_zscore(
        li.repartition("era"), ["l_extendedprice"], era_col="era", exact=True
    )
    return out.select(*KEYS, "l_extendedprice_rz")


def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel gap filling: daily per-supplier quantity series densified
    onto each supplier's own date spine with forward fill — the
    operator that makes irregular panels safe for the ordered
    transformers. Exact integer-valued sums ride the fill unchanged."""
    from centimators_spark.operators.resample import resample_panel

    daily = (
        _lineitem(spark, sf_dir)
        .groupBy("l_suppkey", F.to_date("l_shipdate").alias("d"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    out = resample_panel(
        daily,
        ticker_col="l_suppkey",
        date_col="d",
        value_cols=["qty"],
        fill="ffill",
    )
    return out.select(
        "l_suppkey",
        F.unix_timestamp(F.col("d").cast("timestamp")).alias("d_epoch"),
        "qty",
        "is_observed",
    )


SPLIT_W = {"train": 0.8, "val": 0.1, "test": 0.1}
RZ_C = 1.4826022185056018


def _panel_inputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fixed-decimal lineitem projection both neutralization
    queries run on (q_neutralize_ols_era and panel_features stage 1 —
    they are BY CONSTRUCTION the same frame)."""
    return _lineitem(spark, sf_dir).select(
        *KEYS,
        F.date_trunc("month", F.col("l_shipdate")).alias("era"),
        F.col("l_quantity").cast("double").alias("q"),
        F.round(F.col("l_discount") * 100).alias("d100"),
        F.round(F.col("l_tax") * 100).alias("t100"),
        F.round(F.col("l_extendedprice") * 100).alias("e100"),
    )


def q_panel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-prep flagship — per-era OLS neutralization →
    global robust z-score → decile binning → deterministic hash split,
    as ONE lazy plan whose oracle nests the individually-verified stage
    oracles. Every stage rides exact carriers (decimal Gram sums,
    6dp-rounded residuals, interpolated percentiles, md5 buckets), so
    the END-TO-END pipeline is bit-exact — the composability property
    a training platform actually needs.

    The OLS stage (:func:`era_ols_neutralize`) cuts its multi-consumer
    residual frame with one eager localCheckpoint."""
    from centimators_spark.operators.encoding import quantile_bin
    from centimators_spark.operators.neutralization import era_ols_neutralize
    from centimators_spark.operators.stats import robust_zscore
    from centimators_spark.sampling import hash_split

    n = era_ols_neutralize(
        _panel_inputs(spark, sf_dir),
        "e100", ["q", "d100", "t100"], era_col="era", proportion=0.5,
        keep_cols=KEYS, materialize="localCheckpoint",
    )
    rz = robust_zscore(n, ["neutralized"], exact=True, consistency=RZ_C)
    qb = quantile_bin(rz, ["neutralized"], n_bins=10, exact=True)
    out = hash_split(
        qb.withColumn("__k", F.concat_ws("|", *KEYS)), "__k", SPLIT_W,
        salt="pf1",
    )
    return out.select(
        *KEYS,
        "neutralized",
        F.col("neutralized_rz").alias("rz"),
        F.col("neutralized_bin").alias("bin"),
        "split",
    )


def q_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-band anomaly flags on quantity per supplier — control-chart
    rule |x − ewma| > 2σ over one shared window shuffle; 6dp-rounded
    inputs make the flag set engine-exact."""
    from centimators_spark.operators.anomaly import ewma_anomaly_flags

    out = ewma_anomaly_flags(
        _lineitem(spark, sf_dir),
        "l_quantity",
        ticker_col="l_suppkey",
        order_cols=ORDER,
        span=EWMA_SPAN,
        window=EWMA_WINDOW,
        std_window=EWMA_WINDOW,
        k=2.0,
    )
    return out.select(
        *KEYS,
        f"l_quantity_ewma{EWMA_SPAN}",
        f"l_quantity_rolling_std{EWMA_WINDOW}",
        "l_quantity_z",
        "l_quantity_anomaly",
    )


def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of the supplier id
    against extendedprice, scoped per era — BIGINT micro-unit sums make
    the category statistics engine/partition-order exact."""
    from centimators_spark.operators.encoding import target_encode

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        "l_suppkey",
        "l_extendedprice",
        F.date_trunc("month", F.col("l_shipdate")).alias("era"),
    )
    out = target_encode(
        li,
        "l_suppkey",
        "l_extendedprice",
        smoothing=20.0,
        era_col="era",
        loo=True,
        out_col="te",
    )
    return out.select(*KEYS, "te")


def q_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-population decile binning of extendedprice per era (exact
    interpolated boundaries pinned for oracle parity; the mergeable
    approx sketch is the scale default)."""
    from centimators_spark.operators.encoding import quantile_bin

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        "l_extendedprice",
        F.date_trunc("month", F.col("l_shipdate")).alias("era"),
    )
    out = quantile_bin(
        li.repartition("era"),
        ["l_extendedprice"],
        n_bins=10,
        era_col="era",
        exact=True,
    )
    return out.select(*KEYS, F.col("l_extendedprice_bin").alias("bin"))


def q_feature_penalizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-era Adamax exposure capping (Arrow kernel); rows-only."""
    li = _lineitem(spark, sf_dir).withColumn(
        "era", F.date_trunc("year", F.col("l_shipdate"))
    )
    t = FeaturePenalizer(
        max_exposure=0.1,
        pred_name="l_extendedprice",
        feature_names=["l_quantity", "l_discount", "l_tax"],
        era_col="era",
        order_col=ORDER,
        keep_cols=KEYS,
    )
    return t.transform(li)


PEN_MAX_EXP = 0.1
PEN_FEATS = ("l_quantity", "l_discount", "l_tax")


def q_penalizer_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verifiable contract for FeaturePenalizer (#19) — the one
    §2.1 operator that had neither a driver-green row nor a bit-exact
    twin. Adamax in float32 is not SQL-expressible, so the CONTRACT is
    the integer invariant the kernel exists to enforce: per era, the
    number of features whose post-penalization exposure
    |corr(penalized, feature)| stays within max_exposure + 0.01 — the
    reference's own cross-framework tolerance
    (/root/reference/tests/test_penalizer_comparison.py:264,316) —
    alongside the era row count. Spark computes the counts FROM the
    kernel's actual output; the oracle asserts the claim (all
    len(PEN_FEATS) features satisfied, same row counts) from the raw
    table. Non-convergence, a broken gradient, or dropped rows all
    surface as a hash mismatch."""
    pen = q_feature_penalizer(spark, sf_dir)
    # the output name embeds the exposure ("..._penalized_0.1") — the
    # dot must be backtick-escaped or F.col parses it as a struct field
    out_col = F.col(f"`l_extendedprice_penalized_{PEN_MAX_EXP}`")
    satisfied = sum(
        F.when(
            F.abs(F.corr(out_col, f)) <= PEN_MAX_EXP + 0.01, F.lit(1)
        ).otherwise(F.lit(0))
        for f in PEN_FEATS
    )
    return pen.groupBy(F.unix_timestamp("era").alias("era")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        satisfied.cast("long").alias("n_satisfied"),
    )


def _unique_key_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The key-unique subset of lineitem — (l_orderkey, l_linenumber)
    pairs appearing exactly once; a well-defined join domain both
    engines agree on; both kernel contracts (neutralizer, PCA) join
    against it."""
    return (
        _lineitem(spark, sf_dir)
        .groupBy(*KEYS)
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") == 1)
        .select(*KEYS)
    )


_UNIQUE_KEY_COUNT_SQL = """(
    SELECT l_orderkey, l_linenumber FROM lineitem
    GROUP BY 1, 2 HAVING count(*) = 1
)"""


def q_neutralizer_kernel_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hash contract tying the Arrow FeatureNeutralizer
    KERNEL (#18, unrounded Φ⁻¹ + numpy lstsq — rows-only on its own) to
    the hash-verified expression twin (neutralizer_full_expr): Spark
    joins kernel and twin on the row keys and counts rows whose outputs
    agree within 1e-3 (the local differential test pins 2e-4 at
    tests/test_neutralization.py:338; 5× margin); the oracle asserts
    the claim — every row close, row count from the raw table. OLS
    predictions are invariant to the twin's fixed-decimal feature
    scaling, so raw-feature kernel vs scaled-feature twin is the same
    transformation.

    The comparison restricts to KEY-UNIQUE rows ((l_orderkey,
    l_linenumber) collides in this synthetic data, and duplicate-key
    rows are interchangeable under the ordinal-rank tiebreak — their
    per-row pairing is not well-defined); both engines compute the
    same key-unique set exactly.

    The kernel runs with ONLY the contract's proportion (0.5) — the
    rows-only q_feature_neutralizer computes two proportions, and the
    second would double the kernel cost for a column this contract
    never reads."""
    li = _lineitem(spark, sf_dir).withColumn(
        "era", F.date_trunc("month", F.col("l_shipdate"))
    )
    t = FeatureNeutralizer(
        proportion=[0.5],
        pred_name="l_extendedprice",
        feature_names=["l_quantity", "l_discount", "l_tax"],
        era_col="era",
        order_col=ORDER,
        keep_cols=KEYS,
    )
    kernel = t.transform(li).select(
        *KEYS,
        F.col("`l_extendedprice_neutralized_0.5`").alias("__k"),
    )
    twin = q_neutralizer_full_expr(spark, sf_dir).select(
        *KEYS, F.col("neutralized").alias("__t")
    )
    j = kernel.join(twin, KEYS).join(_unique_key_rows(spark, sf_dir), KEYS)
    close = F.abs(F.col("__k") - F.col("__t")) <= 1e-3
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(close, 1).otherwise(0)).cast("long").alias("n_close"),
    )


def q_pca_kernel_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hash contract tying DimReducer('pca')'s aggregation +
    driver-eigh kernel (#21, rows-only on its own) to the hash-verified
    closed-form twin (pca_project_expr): same inputs, join on keys,
    count rows where both projected dims agree within 1e-6 (the
    tolerance the differential test pins at tests/test_ml_surface.py:135);
    oracle asserts every row close."""
    from centimators_spark.operators.dimreduction import (
        DimReducer,
        pca2_project_expr,
    )

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        F.col("l_quantity").alias("xq"),
        F.round(F.col("l_discount") * 100).alias("yd"),
    )
    t = DimReducer("pca", 2, ["xq", "yd"], keep_cols=KEYS)
    kernel = t.fit_transform(li).select(
        *KEYS, F.col("dim_0").alias("__k0"), F.col("dim_1").alias("__k1")
    )
    twin = pca2_project_expr(li, "xq", "yd", keep_cols=KEYS).select(
        *KEYS, F.col("dim_0").alias("__t0"), F.col("dim_1").alias("__t1")
    )
    j = kernel.join(twin, KEYS).join(_unique_key_rows(spark, sf_dir), KEYS)
    close = (F.abs(F.col("__k0") - F.col("__t0")) <= 1e-6) & (
        F.abs(F.col("__k1") - F.col("__t1")) <= 1e-6
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(close, 1).otherwise(0)).cast("long").alias("n_close"),
    )


PSI_FEATS = ("l_quantity", "l_extendedprice", "l_discount")
PSI_REF_DATE = "1996-01-01"
AB_SPLIT_DATE = "2024-01-16"  # events span 2024-01; pre/post CUPED split
CV_EMBARGO = 30 * 86400.0  # 30-day label horizon, in epoch seconds


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per feature between the pre-1996
    training slice and the rest — the drift monitor a serving pipeline
    runs next to era_report. Exact-percentile boundaries pinned for
    oracle parity; the mergeable approx sketch is the scale default."""
    from centimators_spark.operators.drift import psi_drift

    li = _lineitem(spark, sf_dir)
    out = psi_drift(
        li,
        list(PSI_FEATS),
        F.col("l_shipdate") < F.lit(PSI_REF_DATE),
        n_bins=10,
        exact=True,
    )
    return out


def q_psi_sketch_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver contract for the DEFAULT (approx_percentile sketch) PSI
    path: runs the sketch mode beside the exact mode and emits the
    exact numbers (hash-pinned by the oracle) plus a boolean asserting
    the sketch PSI lies within ±0.01 of the exact PSI — so the hash
    breaks if the scale path ever drifts from the oracle-parity path.
    (Measured sketch-vs-exact gap at sf0.01: ≤ 2e-4 per feature; the
    band is 50× that.) Bin counts and totals are integers identical in
    both modes; only the interpolated boundaries differ. Both modes run
    in ONE dual-mode pass (psi_drift_dual: one boundary aggregation
    computing both percentile sets, one shared melt) — running
    psi_drift twice cost 4 full fact scans (r7 verdict item 4)."""
    from centimators_spark.operators.drift import psi_drift_dual

    li = _lineitem(spark, sf_dir)
    cond = F.col("l_shipdate") < F.lit(PSI_REF_DATE)
    dual = psi_drift_dual(li, list(PSI_FEATS), cond, n_bins=10)
    return dual.select(
        "feature",
        "n_ref",
        "n_cur",
        F.col("psi_exact").alias("psi"),
        (F.abs(F.col("psi_sketch") - F.col("psi_exact")) <= 0.01).alias(
            "sketch_within_band"
        ),
    )


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join (operators/bloomjoin.py): orders of
    high-balance customers. The blocked-Bloom word table prunes the
    fact side before the exact leftsemi join; no false negatives, so
    the result is row-identical to the plain semi-join the oracle
    states — the hash proves the pruning is transparent."""
    from centimators_spark.operators.bloomjoin import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    rich = load_table(spark, sf_dir, "customer").where(
        F.col("c_acctbal") > 9000
    )
    return bloom_semi_join(
        orders, rich, "o_custkey", dim_key="c_custkey"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def q_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining (ml/itemsets.py): frequent brand sets per
    order via distributed FP-Growth; the contract restricts to sizes
    ≤ 2 where the SQL oracle enumerates exactly (singles + basket
    self-join pairs, identical ceil threshold)."""
    from centimators_spark.ml.itemsets import frequent_itemsets, make_baskets

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bi = li.join(part, li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    baskets = make_baskets(bi, "l_orderkey", "p_brand")
    return frequent_itemsets(baskets, min_support=0.01, max_size=2)


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD construction (analytics.scd2_intervals): each user's
    event_type change-log becomes versioned validity intervals with
    no-op changes collapsed — one shuffle, three shared-window ops."""
    from centimators_spark.analytics import scd2_intervals

    return scd2_intervals(
        load_table(spark, sf_dir, "events"), "event_type"
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language embedding centroids (class prototypes):
    embeddings joined to their documents' lang, micro-unit integer
    component sums — order-independent, one posexplode + one grouped
    aggregation (similarity/centroids.py)."""
    from centimators_spark.similarity.centroids import group_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    return group_centroids(emb.join(docs, "vec_id"), "lang")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (graphs.py) over the bidirectional
    supplier↔part supply graph — 3 damped iterations of join+grouped
    sum in BIGINT micro-units; the oracle unrolls the identical integer
    arithmetic as chained CTEs (the iterative-algorithm contract)."""
    from centimators_spark.graphs import pagerank_int

    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("P"), F.col("l_partkey").cast("string")).alias("dst"),
    ).distinct()
    edges = sp.union(sp.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return pagerank_int(edges, iters=3)


def q_approx_distinct_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch contract (the psi_sketch_contract pattern for
    approx_count_distinct): per order priority, the EXACT distinct
    customer count (hash-pinned) plus a boolean asserting the sketch
    lands within its configured 5% relative error. At 100 TB the
    sketch is the only viable per-group distinct; this row proves its
    error contract against the exact path on every driver run."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.05).cast(
                    "double"
                )
                - F.countDistinct("o_custkey").cast("double")
            )
            <= 3 * 0.05 * F.countDistinct("o_custkey").cast("double")
        ).alias("sketch_within_band"),
    )


def q_active_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage (analytics.interval_union_length): each
    event opens a 5-minute activity window; per user, the union length
    of the overlapping windows — the classic island merge, exact in
    microsecond integers."""
    from centimators_spark.analytics import interval_union_length

    ev = load_table(spark, sf_dir, "events")
    if dict(ev.dtypes).get("ts") == "timestamp_ntz":
        us = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    else:
        us = F.unix_micros(F.col("ts"))
    spans = ev.select(
        "user_id",
        us.alias("s"),
        (us + 300 * 1_000_000).alias("e"),
    )
    return interval_union_length(
        spans, "s", "e", "user_id", out_col="active_us"
    )


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower weighted median (operators/stats.weighted_median):
    per return flag, the quantity level at which half the extended-
    price volume sits below — integer weights, no float tie ambiguity."""
    from centimators_spark.operators.stats import weighted_median

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("w"),
    )
    return weighted_median(li, "qty", "w", "l_returnflag")


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction over the documents corpus
    (text/keywords.py) — micro-unit integer word scores, two-pass
    stopword delimiting shared with the oracle."""
    from centimators_spark.text.keywords import rake_keywords

    return rake_keywords(load_table(spark, sf_dir, "documents"))


def q_isotonic_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration contract (pyspark.ml IsotonicRegression —
    distributed PAVA): fit y ~ p on the scored frame, then emit the
    integer invariants PAVA guarantees — zero monotonicity violations
    within every era (ordered by p), predictions inside [min y, max y],
    and Σ fitted == Σ y (PAVA preserves the weighted mean; compared at
    3dp, float error ~1e-10). The oracle asserts the claims from the
    raw table — the penalizer_contract pattern for a driver-solve-free
    distributed estimator."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    scored = _returnflag_scored(spark, sf_dir)
    va = VectorAssembler(inputCols=["p"], outputCol="__f")
    # fit on per-feature weighted points, not raw rows (r13
    # optimization): p has ~50 distinct values, so the distributed
    # PAVA's sort/collect runs over 50 weighted points instead of the
    # whole corpus. The model is IDENTICAL: mllib's makeUnique merges
    # equal-feature points into (weighted-mean label, summed weight)
    # anyway, and with unit weights and y ∈ {0,1} both its Σy_i/Σ1 and
    # this aggregation's sum(y)/count are exact integer-valued double
    # sums followed by the same single division — bit-equal inputs to
    # the same PAVA.
    train = (
        scored.groupBy("p")
        .agg(
            F.sum(F.col("y").cast("double")).alias("__sy"),
            F.count(F.lit(1)).cast("double").alias("__w"),
        )
        .select(
            "p",
            (F.col("__sy") / F.col("__w")).alias("y"),
            F.col("__w").alias("w"),
        )
    )
    model = IsotonicRegression(
        featuresCol="__f", labelCol="y", predictionCol="fit", weightCol="w"
    ).fit(va.transform(train))
    fitted = model.transform(
        va.transform(scored.select("p", F.col("y").cast("double"), "era"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("era").orderBy("p")
    flagged = fitted.withColumn(
        "__viol",
        (F.col("fit") < F.lag("fit").over(w)).cast("long"),
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum("__viol"), F.lit(0).cast("long")).alias(
            "n_violations"
        ),
        (F.min("fit") >= F.min("y")).alias("min_ok"),
        (F.max("fit") <= F.max("y")).alias("max_ok"),
        F.round(F.sum("fit"), 3).alias("sum_fit"),
    )


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-flavored min-cost supplier per part (the testdata has
    no partsupp, so unit cost comes from observed lineitem prices):
    integer cents-per-unit via DIV, per-part argmin as a struct min
    (total order — deterministic ties), supplier/nation broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.expr(
                "CAST(round(l_extendedprice * 100) AS BIGINT)"
                " DIV CAST(l_quantity AS BIGINT)"
            )
        ).alias("__c")
    )
    best = cost.groupBy("l_partkey").agg(
        F.min(F.struct(F.col("__c"), F.col("l_suppkey"))).alias("b")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    return (
        best.select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("b.l_suppkey").alias("s_suppkey"),
            F.col("b.__c").alias("cost_cents_per_unit"),
        )
        .join(F.broadcast(supp), "s_suppkey")
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "p_partkey", "s_suppkey", "cost_cents_per_unit",
            "s_name", "n_name",
        )
    )


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration reconciliation (reconcile.table_diff): orders vs a
    deterministically perturbed copy (every 97th key dropped, every
    100th total bumped, every 50th priority nulled) — one full outer
    join + one aggregation, per-column agree/disagree counts."""
    from centimators_spark.reconcile import table_diff

    orders = load_table(spark, sf_dir, "orders")
    b = (
        orders.where(F.col("o_orderkey") % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 100 == 0,
                F.col("o_totalprice") + 1,
            ).otherwise(F.col("o_totalprice")),
        )
        .withColumn(
            "o_orderpriority",
            F.when(F.col("o_orderkey") % 50 == 0, F.lit(None)).otherwise(
                F.col("o_orderpriority")
            ),
        )
    )
    return table_diff(
        orders, b, ["o_orderkey"],
        ["o_totalprice", "o_orderpriority", "o_orderstatus"],
    )


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window sessionization (F.session_window, 30-min
    gap) — the built-in whose batch semantics the oracle mirrors with
    microsecond-exact island detection (new session when the gap is
    ≥ the duration; end = last event + gap)."""
    ev = load_table(spark, sf_dir, "events")

    def us(col: str):
        # NTZ: pure naive date arithmetic (session-timezone independent
        # — matches DuckDB's naive epoch_us); tz-typed: unix_micros
        if dict(ev.dtypes).get("ts") == "timestamp_ntz":
            return F.expr(
                f"timestampdiff(MICROSECOND,"
                f" TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
            )
        return F.unix_micros(F.col(col))

    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            us("w.start").alias("session_start_us"),
            us("w.end").alias("session_end_us"),
            "n_events",
        )
    )


def _returnflag_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared classifier-eval frame: pseudo-probability from quantity,
    label = returned line (deterministic, both engines derive it
    identically)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        ((F.col("l_quantity") * 2 - 1) / 100).alias("p"),
        (F.col("l_returnflag") == "R").cast("int").alias("y"),
        F.date_trunc("month", F.col("l_shipdate")).alias("era"),
    )


_SCORED_SQL = (
    "(SELECT (l_quantity * 2 - 1) / 100 AS p,"
    " CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,"
    " date_trunc('month', l_shipdate) AS era FROM lineitem)"
)


def q_auc_by_era(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-era ROC-AUC (ml/classification_metrics.auc_score):
    Mann–Whitney average-rank identity — integer-plus-half rationals,
    no threshold sweep."""
    from centimators_spark.ml.classification_metrics import auc_score

    out = auc_score(
        _returnflag_scored(spark, sf_dir), "p", "y", group_col="era"
    )
    return out.select(
        F.col("group").alias("era_ts"), "n_pos", "n_neg", "auc"
    ).withColumn("era", F.unix_timestamp("era_ts")).drop("era_ts")


def q_logloss_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-loss + reliability bins in one frame: the one-row loss
    cross-joined onto the K-bin calibration table (nano-unit log
    carriers; value-based bins)."""
    from centimators_spark.ml.classification_metrics import (
        calibration_bins,
        log_loss,
    )

    scored = _returnflag_scored(spark, sf_dir)
    ll = log_loss(scored, "p", "y").select(
        F.col("n").alias("n_total"), "logloss"
    )
    cal = calibration_bins(scored, "p", "y")
    return cal.crossJoin(F.broadcast(ll))


def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted A/B readout (ml/abtest.cuped_adjust → report):
    pre-period event value is the covariate, post-period value the
    metric — θ from one exact-carrier aggregation; the adjusted z
    gains power with no bias."""
    from centimators_spark.ml.abtest import ab_test_report, cuped_adjust

    ev = load_table(spark, sf_dir, "events")
    post = F.col("ts") >= F.lit(AB_SPLIT_DATE).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & post, 1
            ).otherwise(0)
        ).alias("converted"),
        F.coalesce(
            F.sum(F.when(post, F.col("value"))), F.lit(0.0)
        ).alias("metric"),
        F.coalesce(
            F.sum(F.when(~post, F.col("value"))), F.lit(0.0)
        ).alias("pre_metric"),
    )
    subjects = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
        "converted",
        "metric",
        "pre_metric",
    )
    adjusted = cuped_adjust(subjects)
    return ab_test_report(adjusted, metric_col="metric_cuped")


def q_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (profile.benford_check)
    — observed vs log10(1+1/d) shares with per-digit chi² terms;
    string-based digit extraction shared with the oracle."""
    from centimators_spark.profile import benford_check

    return benford_check(load_table(spark, sf_dir, "orders"), "o_totalprice")


def q_gini_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration per market segment (analytics.gini_by_group)
    — rank-weighted DECIMAL carriers, one window + one aggregation."""
    from centimators_spark.analytics import gini_by_group

    joined = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    return gini_by_group(joined, "o_totalprice", "c_mktsegment")


def q_z_order_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (l_partkey, l_suppkey) —
    the multi-dimensional data-skipping layout key (io.z_order_key);
    pure shift/mask arithmetic, identical expression text both
    engines. write_z_ordered uses it for range-partitioned clustered
    writes (tested in tests/test_io.py)."""
    from centimators_spark.io import z_order_key

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        *KEYS, z_order_key(["l_partkey", "l_suppkey"]).alias("zkey")
    )


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout (ml/abtest.py): users split by parity
    into control/treatment; conversion = any purchase, metric = total
    event value. Exact count/decimal carriers; z-scores are pure
    IEEE arithmetic — bit-identical cross-engine."""
    from centimators_spark.ml.abtest import ab_test_report

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
        F.coalesce(F.sum("value"), F.lit(0.0)).alias("metric"),
    )
    subjects = per_user.select(
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("variant"),
        "converted",
        "metric",
    )
    return ab_test_report(subjects)


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curves (ml/survival.py): per-user
    time-to-first-purchase from the event stream, right-censored at
    the last seen event; three cohorts; nano-unit log carriers make
    the cumulative product cross-engine exact."""
    from centimators_spark.ml.survival import kaplan_meier

    ev = load_table(spark, sf_dir, "events")
    ep = F.unix_timestamp(F.col("ts"))
    per_user = ev.groupBy("user_id").agg(
        F.min(ep).alias("__mn"),
        F.min(F.when(F.col("event_type") == "purchase", ep)).alias("__mp"),
        F.max(ep).alias("__mx"),
    )
    subjects = per_user.select(
        (F.col("user_id") % 3).cast("int").alias("cohort"),
        F.when(
            F.col("__mp").isNotNull(), F.col("__mp") - F.col("__mn")
        ).otherwise(F.col("__mx") - F.col("__mn")).alias("duration"),
        F.when(F.col("__mp").isNotNull(), 1).otherwise(0).alias("event"),
    )
    return kaplan_meier(subjects)


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record-linkage scoring (dedup/linkage.py): customers
    blocked by nation, compared on derived fields (balance bucket,
    phone prefix, market segment) with integer weights — candidate
    pairs only from the block join, never all-pairs."""
    from centimators_spark.dedup.linkage import record_linkage

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_bucket"),
        (F.round(F.col("c_acctbal") * 100).cast("long") % 97).alias(
            "bal_mod"
        ),
        "c_mktsegment",
    )
    return record_linkage(
        cust,
        "c_custkey",
        "c_nationkey",
        {"bal_bucket": 3, "bal_mod": 2, "c_mktsegment": 1},
        threshold=4,
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch conversion attribution (analytics.attribution):
    per channel, conversions credited to the user's earliest and latest
    in-lookback touchpoint — RANGE-frame struct min/max, deterministic
    tie-breaks."""
    from centimators_spark.analytics import attribution

    return attribution(load_table(spark, sf_dir, "events"))


def q_woe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence of order priority against the finished-order
    label — the classification sibling of target_encode_loo."""
    from centimators_spark.operators.encoding import woe_encode

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "__lbl", F.col("o_orderstatus") == "F"
    )
    out = woe_encode(
        orders, "o_orderpriority", "__lbl", smoothing=0.5, out_col="woe"
    )
    return out.select("o_orderkey", "o_orderpriority", "woe")


def q_cv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level embargoed walk-forward CV fold assignment (the
    reference's TimeSeriesSplit surface made distributed): validation
    fold id + embargo flag per row, exact quantile boundaries."""
    from centimators_spark.model_selection import assign_folds

    li = _lineitem(spark, sf_dir).select(*KEYS, "l_shipdate")
    out = assign_folds(
        li, "l_shipdate", n_splits=5, embargo=CV_EMBARGO, exact=True
    )
    return out.select(*KEYS, "fold", "embargoed")


def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month 10%-trimmed mean/min/max of extendedprice — the robust
    location family on exact integer carriers + decimal kept-sums."""
    from centimators_spark.operators.stats import trimmed_stats

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate"))).alias(
            "era"
        ),
        "l_extendedprice",
    )
    return trimmed_stats(
        li, "l_extendedprice", era_col="era", trim=0.1, order_cols=KEYS
    )


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier Page–Hinkley upward-shift detection on quantity —
    the window-expressible changepoint test on exact integer carriers."""
    from centimators_spark.operators.anomaly import page_hinkley

    li = _lineitem(spark, sf_dir).select(
        *dict.fromkeys(KEYS + ["l_suppkey"] + ORDER + ["l_quantity"])
    )
    out = page_hinkley(
        li,
        "l_quantity",
        ticker_col="l_suppkey",
        order_cols=ORDER,
        lambda_sigmas=5.0,
    )
    # contract checks the EXACT integer statistic; the display double
    # (ph) can flip a 6dp half-boundary by 1 ulp across engines
    return out.select(*KEYS, "ph_int", "changepoint")


def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar covariates of the order date — cross-engine dow via
    shared epoch-day arithmetic; pure map-side codegen."""
    from centimators_spark.functions.calendar import calendar_features

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    return calendar_features(orders, "o_orderdate", prefix="d_").drop(
        "o_orderdate"
    )


def q_forward_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-return label construction per supplier (horizons 1, 5)
    — the lead-based complement of lag features; trailing rows null."""
    from centimators_spark.operators.time_series import (
        ForwardReturnTransformer,
    )

    t = ForwardReturnTransformer(
        horizons=[1, 5],
        feature_names=["l_extendedprice"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="replace",
        keep_cols=KEYS,
    )
    return t.transform(_lineitem(spark, sf_dir))


def q_era_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Era-balanced sample weights (each month contributes equally to a
    weighted loss) — one tiny count aggregation broadcast back."""
    from centimators_spark.sampling import era_balanced_weights

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate"))).alias(
            "era"
        ),
    )
    out = era_balanced_weights(li, "era")
    return out.select(*KEYS, "weight")


def q_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI token pairs over the documents corpus (capped-vocab
    co-occurrence — collocation mining on training text)."""
    from centimators_spark.text.cooccur import pmi_pairs

    return pmi_pairs(
        load_table(spark, sf_dir, "documents"),
        vocab_size=100,
        min_pair_count=5,
        top_k=50,
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference README's 4-stage panel pipeline
    (logreturn → rank → lag → ma) on the sf0.001 lineitem panel
    (/root/reference/README.md:144-172)."""
    sf_dir = "/root/testdata/sf0.001"
    df = _lineitem(spark, sf_dir)
    common = dict(ticker_col="l_suppkey", order_cols=ORDER)
    df = LogReturnTransformer(feature_names=["l_extendedprice"], **common).transform(df)
    df = RankTransformer(
        ["l_extendedprice_logreturn"], group_col="l_shipdate"
    ).transform(df)
    df = LagTransformer(
        windows=[1, 5], feature_names=["l_extendedprice_logreturn_rank"], **common
    ).transform(df)
    df = MovingAverageTransformer(
        windows=[5, 10], feature_names=["l_extendedprice_logreturn_rank"], **common
    ).transform(df)
    return df.select(
        *KEYS,
        "l_extendedprice_logreturn",
        "l_extendedprice_logreturn_rank",
        "l_extendedprice_logreturn_rank_lag5",
        "l_extendedprice_logreturn_rank_lag1",
        "l_extendedprice_logreturn_rank_ma5",
        "l_extendedprice_logreturn_rank_ma10",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Declared contract queries, in the driver's order.

    The driver's correctness pass checks the first 50 entries, so the
    order is part of the contract: a query no driver run has verified
    yet belongs inside that window, and only queries a previous run
    verified may sit past it
    (tests/test_driver_contract.py::test_correctness_window_covers_unverified_queries).
    The four kernels without an oracle (feature_neutralizer,
    feature_penalizer, dim_reducer_pca, ann_rp_lsh) are checked for
    rows only."""
    return {
        "dsir_budget_select": q_dsir_budget_select,
        "join_skew_audit": q_join_skew_audit,
        "theil_sen_trend": q_theil_sen_trend,
        "mann_kendall": q_mann_kendall,
        "cdc_apply": q_cdc_apply,
        "event_paths": q_event_paths,
        "fdr_audit": q_fdr_audit,
        "purged_kfold": q_purged_kfold,
        "join_size_estimate": q_join_size_estimate,
        "timed_funnel": q_timed_funnel,
        "event_paths_nullts": q_event_paths_nullts,
        "feature_corr_matrix": q_feature_corr_matrix,
        "golden_record": q_golden_record,
        "hybrid_rrf_search": q_hybrid_rrf_search,
        "ic_decay": q_ic_decay,
        "kcore_dupgraph": q_kcore_dupgraph,
        "kmeans_embeddings": q_kmeans_embeddings,
        "knn_classify": q_knn_classify,
        "large_volume_customers": relational_queries.q_large_volume_customers,
        "linear_interpolate": q_linear_interpolate,
        "naive_bayes": q_naive_bayes,
        "negative_sample": q_negative_sample,
        "pareto_front": q_pareto_front,
        "seasonal_decompose": q_seasonal_decompose,
        "signal_backtest": q_signal_backtest,
        "topk_turnover": q_topk_turnover,
        "vector_pipeline": q_vector_pipeline,
        "xicor_by_month": q_xicor_by_month,
        "top_supplier": relational_queries.q_top_supplier,
        "small_lot_revenue": relational_queries.q_small_lot_revenue,
        "volume_dominant_supplier": (
            relational_queries.q_volume_dominant_supplier
        ),
        "association_rules": datapipe_queries.q_association_rules,
        "sq8_recall_contract": datapipe_queries.q_sq8_recall_contract,
        "logistic_irls": q_logistic_irls,
        "bpe_pair_merges": q_bpe_pair_merges,
        "rfm_segments": q_rfm_segments,
        "label_propagation": q_label_propagation,
        "blocking_quality": datapipe_queries.q_blocking_quality,
        "weighted_quantiles": q_weighted_quantiles,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "bigram_lm": q_bigram_lm,
        "k_anonymity": q_k_anonymity,
        "bpe_encode": q_bpe_encode,
        "bpe_train_rounds": q_bpe_train_rounds,
        "boosted_stumps": q_boosted_stumps,
        "mmr_rerank": q_mmr_rerank,
        "dedup_clusters_star": q_dedup_clusters_star,
        "nation_profit": relational_queries.q_nation_profit,
        "shipmode_priority": relational_queries.q_shipmode_priority,
        "filtered_supplier_counts": (
            relational_queries.q_filtered_supplier_counts
        ),
        # ---- end of the driver's 50-entry correctness window
        "duplicated_spans_multi": q_duplicated_spans_multi,
        "sq8_clustered_contract": datapipe_queries.q_sq8_clustered_contract,
        "dsir_select": q_dsir_select,
        "bottomk_quantiles": q_bottomk_quantiles,
        "sign_permutation": q_sign_permutation,
        "training_split_audit": q_training_split_audit,
        "bootstrap_nullkey": q_bootstrap_nullkey,
        "image_phash_dedup": q_image_phash_dedup,
        "theta_intersections": q_theta_intersections,
        "audio_fingerprint_dedup": q_audio_fingerprint_dedup,
        "video_phash_dedup": q_video_phash_dedup,
        "l_diversity": q_l_diversity,
        "multimodal_corpus_clean": q_multimodal_corpus_clean,
        "theta_a_not_b": q_theta_a_not_b,
        "order_priority_counts": q_order_priority_counts,
        "forecast_revenue": q_forecast_revenue,
        "t_closeness": q_t_closeness,
        "isotonic_calibration": q_isotonic_calibration,
        "winnowing_overlap": q_winnowing_overlap,
        "duplicated_spans": q_duplicated_spans,
        "changepoint": q_changepoint,
        "benford_audit": q_benford_audit,
        "hll_portable": q_hll_portable,
        "hll_union": q_hll_union,
        "bootstrap_ci": q_bootstrap_ci,
        "mann_whitney": q_mann_whitney,
        "sprt_audit": q_sprt,
        "brown_forsythe": q_brown_forsythe,
        "bootstrap_signed": q_bootstrap_signed,
        "mwu_signed": q_mwu_signed,
        "customer_distribution": relational_queries.q_customer_distribution,
        "disjunctive_revenue": relational_queries.q_disjunctive_revenue,
        "budget_select": q_budget_select,
        "containment_pairs": q_containment_pairs,
        "best_split": q_best_split,
        "chi2_independence": q_chi2_independence,
        "dspymator_contract": q_dspymator_contract,
        "max_drawdown": q_max_drawdown,
        "ks_statistic": q_ks_statistic,
        "bm25_search": q_bm25_search,
        "gains_table": q_gains_table,
        "triangle_count": q_triangle_count,
        "prospect_customers": q_prospect_customers,
        "part_share": q_part_share,
        "supplier_return_blame": q_supplier_return_blame,
        "span_dedup": q_span_dedup,
        "quality_classifier": q_quality_classifier,
        "isotonic_contract": q_isotonic_contract,
        "cheapest_supplier": q_cheapest_supplier,
        "approx_distinct_contract": q_approx_distinct_contract,
        "rake_keywords": q_rake_keywords,
        "active_time": q_active_time,
        "weighted_median": q_weighted_median,
        "linreg_fast_contract": relational_queries.q_linreg_fast_contract,
        "ivfpq_pruned_contract": datapipe_queries.q_ivfpq_pruned_contract,
        "rank_transformer": q_rank_transformer,
        "lag_transformer": q_lag_transformer,
        "moving_average": q_moving_average,
        "group_stats": q_group_stats,
        "gaussianize_probit": q_gaussianize_probit,
        "promo_revenue": relational_queries.q_promo_revenue,
        "supplier_counts": relational_queries.q_supplier_counts,
        "psi_categorical": q_psi_categorical,
        "doc_sentences": q_doc_sentences,
        "transition_counts": q_transition_counts,
        "event_debounce": q_event_debounce,
        "quantile_normalize": q_quantile_normalize,
        "rolling_rank": q_rolling_rank,
        "group_kfold": q_group_kfold,
        "fuzzy_name_pairs": q_fuzzy_name_pairs,
        "pq_recall_contract": datapipe_queries.q_pq_recall_contract,
        "ivfpq_recall_contract": datapipe_queries.q_ivfpq_recall_contract,
        "psi_sketch_contract": q_psi_sketch_contract,
        "bloom_semi_join": q_bloom_semi_join,
        "frequent_itemsets": q_frequent_itemsets,
        "scd2_intervals": q_scd2_intervals,
        "embedding_centroids": q_embedding_centroids,
        "pagerank": q_pagerank,
        "attribution": q_attribution,
        "record_linkage": q_record_linkage,
        "kaplan_meier": q_kaplan_meier,
        "ab_test": q_ab_test,
        "z_order_key": q_z_order_key,
        "ab_cuped": q_ab_cuped,
        "benford_digits": q_benford_digits,
        "gini_segments": q_gini_segments,
        "auc_by_era": q_auc_by_era,
        "logloss_calibration": q_logloss_calibration,
        "table_diff": q_table_diff,
        "session_window": q_session_window,
        "melt_lineitem": q_melt_lineitem,
        "weighted_sample": q_weighted_sample,
        "conformal_quantiles": q_conformal_quantiles,
        "asof_join_forward": q_asof_join_forward,
        "line_dedup": q_line_dedup,
        "mutual_information": q_mutual_information,
        "heavy_hitters": q_heavy_hitters,
        "corpus_divergence": q_corpus_divergence,
        "rank_ensemble": q_rank_ensemble,
        "table_profile": q_table_profile,
        "validate_orders": q_validate_orders,
        "penalizer_contract": q_penalizer_contract,
        "neutralizer_kernel_contract": q_neutralizer_kernel_contract,
        "pca_kernel_contract": q_pca_kernel_contract,
        "psi_drift": q_psi_drift,
        "woe_encode": q_woe_encode,
        "cv_folds": q_cv_folds,
        "pmi_cooccur": q_pmi_cooccur,
        "market_share": relational_queries.q_market_share,
        "trimmed_stats": q_trimmed_stats,
        "page_hinkley": q_page_hinkley,
        "calendar_features": q_calendar_features,
        "forward_returns": q_forward_returns,
        "era_weights": q_era_weights,
        "session_ids": q_session_ids,
        "era_report": relational_queries.q_era_report,
        "autocorrelation": relational_queries.q_autocorrelation,
        "one_hot_segments": relational_queries.q_one_hot_segments,
        "grouping_sets_revenue": relational_queries.q_grouping_sets_revenue,
        "window_navigation": relational_queries.q_window_navigation,
        "interval_band_join": relational_queries.q_interval_band_join,
        "events_interval_join": relational_queries.q_events_interval_join,
        "event_funnel": relational_queries.q_event_funnel,
        "retention_cohorts": relational_queries.q_retention_cohorts,
        "above_avg_orders": relational_queries.q_above_avg_orders,
        "range_frame_sums": relational_queries.q_range_frame_sums,
        "cube_revenue": relational_queries.q_cube_revenue,
        "string_agg_segment": relational_queries.q_string_agg_segment,
        "pivot_revenue": relational_queries.q_pivot_revenue,
        "distinct_counts": relational_queries.q_distinct_counts,
        "volume_shipping": relational_queries.q_volume_shipping,
        "large_orders": relational_queries.q_large_orders,
        "salted_join": relational_queries.q_salted_join,
        "events_sessionize": relational_queries.q_events_sessionize,
        "events_json_extract": relational_queries.q_events_json_extract,
        "top_orders_per_segment": relational_queries.q_top_orders_per_segment,
        "shipping_priority": relational_queries.q_shipping_priority,
        "regional_revenue": relational_queries.q_regional_revenue,
        "log_return": q_log_return,
        "rolling_corr_ewma": q_rolling_corr_ewma,
        "winsorize_by_era": q_winsorize_by_era,
        "robust_zscore": q_robust_zscore,
        "target_encode_loo": q_target_encode_loo,
        "anomaly_flags": q_anomaly_flags,
        "panel_features": q_panel_features,
        "resample_ffill": q_resample_ffill,
        "quantile_bin": q_quantile_bin,
        "neutralizer_full_expr": q_neutralizer_full_expr,
        "feature_exposures": q_feature_exposures,
        "pca_project_expr": q_pca_project_expr,
        "doc_chunks": datapipe_queries.q_doc_chunks,
        "char_entropy": datapipe_queries.q_char_entropy,
        "token_positions": datapipe_queries.q_token_positions,
        "unigram_lm": datapipe_queries.q_unigram_lm,
        "text_normalize": datapipe_queries.q_text_normalize,
        "url_dedup": datapipe_queries.q_url_dedup,
        "stratified_sample": datapipe_queries.q_stratified_sample,
        "feature_hash": datapipe_queries.q_feature_hash,
        "semantic_dedup": datapipe_queries.q_semantic_dedup,
        "temperature_mixture": datapipe_queries.q_temperature_mixture,
        "embedding_transformer": datapipe_queries.q_embedding_transformer,
        "corpus_clean": datapipe_queries.q_corpus_clean,
        "dedup_exact": datapipe_queries.q_dedup_exact,
        "dedup_minhash_lsh": datapipe_queries.q_dedup_minhash_lsh,
        "ann_rp_lsh_recall": datapipe_queries.q_ann_rp_lsh_recall,
        "ann_cosine_topk": datapipe_queries.q_ann_cosine_topk,
        "mixture_sample": datapipe_queries.q_mixture_sample,
        "text_repetition": datapipe_queries.q_text_repetition,
        "ngram_contamination": datapipe_queries.q_ngram_contamination,
        "text_pii_mask": datapipe_queries.q_text_pii_mask,
        "text_c4_filters": datapipe_queries.q_text_c4_filters,
        "multimodal_metadata": datapipe_queries.q_multimodal_metadata,
        "doc_string_funcs": relational_queries.q_doc_string_funcs,
        "simhash_fingerprint": datapipe_queries.q_simhash_fingerprint,
        "window_distribution": relational_queries.q_window_distribution,
        "simhash_pairs": datapipe_queries.q_simhash_pairs,
        "dedup_embedding_cosine": datapipe_queries.q_dedup_embedding_cosine,
        "pricing_summary": q_pricing_summary,
        "diff_transformer": q_diff_transformer,
        "expanding_aggregates": q_expanding_aggregates,
        "rolling_aggregates": q_rolling_aggregates,
        "dedup_clusters": datapipe_queries.q_dedup_clusters,
        "full_outer_activity": relational_queries.q_full_outer_activity,
        "rollup_revenue": relational_queries.q_rollup_revenue,
        "set_ops_customers": relational_queries.q_set_ops_customers,
        "exists_customers": relational_queries.q_exists_customers,
        "events_percentiles": relational_queries.q_events_percentiles,
        "spearman_by_month": relational_queries.q_spearman_by_month,
        "asof_join": relational_queries.q_asof_join,
        "sql_returned_revenue": relational_queries.q_sql_returned_revenue,
        "events_windowed_counts": relational_queries.q_events_windowed_counts,
        "text_language_id": datapipe_queries.q_text_language_id,
        "text_quality_score": datapipe_queries.q_text_quality_score,
        "tfidf_topk": datapipe_queries.q_tfidf_topk,
        "doc_fingerprint": datapipe_queries.q_doc_fingerprint,
        "text_token_counts": datapipe_queries.q_text_token_counts,
        "hash_split_sample": datapipe_queries.q_hash_split_sample,
        "pack_sequences": datapipe_queries.q_pack_sequences,
        "linear_regression": relational_queries.q_linear_regression,
        "dedup_ngram_jaccard": datapipe_queries.q_dedup_ngram_jaccard,
        "neutralize_ols_era": q_neutralize_ols_era,
        "feature_neutralizer": q_feature_neutralizer,
        "feature_penalizer": q_feature_penalizer,
        "dim_reducer_pca": datapipe_queries.q_dim_reducer_pca,
        "ann_rp_lsh": datapipe_queries.q_ann_rp_lsh,
    }


# ---------------------------------------------------------------- oracles

# single definition shared with the relational plans (the
# window_navigation oracle must use the identical ORDER BY text)
from centimators_spark.plans.relational_queries import _ORDER_SQL  # noqa: E402


def _gaussianize_probit_oracle() -> str:
    from centimators_spark.functions.normal import norm_ppf_sql

    u = (
        "(CAST(row_number() OVER ("
        "   PARTITION BY date_trunc('month', l_shipdate)"
        f"   ORDER BY l_extendedprice, {_ORDER_SQL}) AS DOUBLE) - 0.5)"
        " / CAST(count(*) OVER ("
        "   PARTITION BY date_trunc('month', l_shipdate)) AS DOUBLE)"
    )
    return f"""
        WITH r AS (SELECT l_orderkey, l_linenumber, {u} AS u FROM lineitem)
        SELECT l_orderkey, l_linenumber,
               round({norm_ppf_sql('u')}, 6) AS l_extendedprice_gauss
        FROM r
    """


def _neutralizer_full_expr_oracle() -> str:
    from centimators_spark.functions.normal import norm_ppf_sql
    from centimators_spark.operators.neutralization import (
        era_ols_neutralize_oracle_sql,
    )

    u = (
        "(CAST(row_number() OVER ("
        "   PARTITION BY date_trunc('month', l_shipdate)"
        f"   ORDER BY l_extendedprice, {_ORDER_SQL}) AS DOUBLE) - 0.5)"
        " / CAST(count(*) OVER ("
        "   PARTITION BY date_trunc('month', l_shipdate)) AS DOUBLE)"
    )
    gsrc = f"""(
      WITH rnk AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DOUBLE) AS q,
               round(l_discount * 100) AS d100,
               round(l_tax * 100) AS t100,
               date_trunc('month', l_shipdate) AS era,
               {u} AS u
        FROM lineitem)
      SELECT l_orderkey, l_linenumber, q, d100, t100, era,
             round(round({norm_ppf_sql("u")}, 6) * 1e6) AS y6
      FROM rnk) AS gsrc"""
    return era_ols_neutralize_oracle_sql(
        gsrc,
        "y6",
        ["q", "d100", "t100"],
        era_sql="era",
        key_sqls=["l_orderkey", "l_linenumber"],
        proportion=0.5,
    )


def _pca_project_expr_oracle() -> str:
    from centimators_spark.operators.dimreduction import pca2_project_oracle_sql

    return pca2_project_oracle_sql(
        "lineitem",
        "l_quantity",
        "round(l_discount * 100)",
        key_sqls=["l_orderkey", "l_linenumber"],
    )


def _rolling_corr_ewma_oracle() -> str:
    from centimators_spark.operators.time_series import ewma_weights

    frame = (
        f"PARTITION BY l_suppkey ORDER BY {_ORDER_SQL} "
        f"ROWS BETWEEN {CORR_W - 1} PRECEDING AND CURRENT ROW"
    )
    lagw = f"PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}"
    wts = ewma_weights(EWMA_SPAN, EWMA_WINDOW)
    total = repr(sum(wts))
    terms = []
    for i, wt in enumerate(wts):
        src = f"lag(q, {i}) OVER ({lagw})" if i else "q"
        terms.append(f"{src} * {wt!r}")
    ewma = f"round(({' + '.join(terms)}) / {total}, 6)"
    return f"""
      WITH base AS (
        SELECT l_suppkey, {_ORDER_SQL},
               CASE WHEN l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
                    THEN CAST(l_extendedprice AS DOUBLE) END AS xm,
               CASE WHEN l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
                    THEN CAST(l_quantity AS DOUBLE) END AS ym,
               CAST(l_quantity AS DOUBLE) AS q
        FROM lineitem
      ), sums AS (
        SELECT l_orderkey, l_linenumber,
               CAST(count(xm) OVER ({frame}) AS DOUBLE) AS nn,
               sum(xm) OVER ({frame}) AS sx,
               sum(ym) OVER ({frame}) AS sy,
               sum(xm * ym) OVER ({frame}) AS sxy,
               sum(xm * xm) OVER ({frame}) AS sxx,
               sum(ym * ym) OVER ({frame}) AS syy,
               {ewma} AS l_quantity_ewma{EWMA_SPAN}
        FROM base
      )
      SELECT l_orderkey, l_linenumber,
        CASE WHEN nn = {CORR_W}
              AND nn * sxx - sx * sx > 0 AND nn * syy - sy * sy > 0
             THEN round((nn * sxy - sx * sy)
                        / (sqrt(nn * sxx - sx * sx) * sqrt(nn * syy - sy * sy)), 6)
        END AS l_extendedprice_corr{CORR_W}_l_quantity,
        CASE WHEN nn = {CORR_W} AND nn * syy - sy * sy > 0
             THEN round((nn * sxy - sx * sy) / (nn * syy - sy * sy), 6)
        END AS l_extendedprice_beta{CORR_W}_l_quantity,
        l_quantity_ewma{EWMA_SPAN}
      FROM sums
    """


_RESAMPLE_ORACLE = """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             sum(l_quantity) AS qty
      FROM lineitem GROUP BY 1, 2
    ), b AS (
      SELECT l_suppkey, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
    ), spine AS (
      SELECT l_suppkey,
             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM b
    ), joined AS (
      SELECT s.l_suppkey, s.d, daily.qty,
             CASE WHEN daily.l_suppkey IS NULL THEN 0 ELSE 1 END
               AS is_observed
      FROM spine s LEFT JOIN daily
        ON s.l_suppkey = daily.l_suppkey AND s.d = daily.d
    )
    SELECT l_suppkey,
           CAST(epoch(CAST(d AS TIMESTAMP)) AS BIGINT) AS d_epoch,
           last_value(qty IGNORE NULLS) OVER (
             PARTITION BY l_suppkey ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qty,
           is_observed
    FROM joined
"""


def _panel_features_oracle() -> str:
    from centimators_spark.operators.neutralization import (
        era_ols_neutralize_oracle_sql,
    )
    from centimators_spark.sampling import sql_hash_split

    s1 = era_ols_neutralize_oracle_sql(
        "lineitem",
        "round(l_extendedprice * 100)",
        [
            "CAST(l_quantity AS DOUBLE)",
            "round(l_discount * 100)",
            "round(l_tax * 100)",
        ],
        era_sql="date_trunc('month', l_shipdate)",
        key_sqls=["l_orderkey", "l_linenumber"],
        proportion=0.5,
    )
    qs = ", ".join(repr(i / 10) for i in range(1, 10))
    key = (
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)"
    )
    split = sql_hash_split(key, SPLIT_W, salt="pf1")
    return f"""
        WITH s1 AS ({s1}),
        med AS (SELECT quantile_cont(neutralized, 0.5) AS m FROM s1),
        mad AS (SELECT quantile_cont(abs(neutralized - m), 0.5) AS d
                FROM s1 CROSS JOIN med),
        qb AS (SELECT quantile_cont(neutralized, [{qs}]) AS bounds FROM s1)
        SELECT l_orderkey, l_linenumber, neutralized,
               CASE WHEN d > 0
                    THEN round((neutralized - m) / ({RZ_C!r} * d), 6)
               END AS rz,
               CASE WHEN neutralized IS NOT NULL THEN
                 len(list_filter(bounds, v -> neutralized > v)) END AS bin,
               {split} AS split
        FROM s1 CROSS JOIN med CROSS JOIN mad CROSS JOIN qb
    """


def _anomaly_flags_oracle() -> str:
    from centimators_spark.operators.time_series import ewma_weights

    w = EWMA_WINDOW
    lagw = f"PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}"
    frame = (
        f"PARTITION BY l_suppkey ORDER BY {_ORDER_SQL} "
        f"ROWS BETWEEN {w - 1} PRECEDING AND CURRENT ROW"
    )
    wts = ewma_weights(EWMA_SPAN, w)
    total = repr(sum(wts))
    terms = []
    for i, wt in enumerate(wts):
        src = f"lag(q, {i}) OVER ({lagw})" if i else "q"
        terms.append(f"{src} * {wt!r}")
    ewma = f"round(({' + '.join(terms)}) / {total}, 6)"
    return f"""
      WITH base AS (
        SELECT l_orderkey, l_linenumber, l_suppkey, {_ORDER_SQL},
               CAST(l_quantity AS DOUBLE) AS q
        FROM lineitem
      ), win AS (
        SELECT l_orderkey, l_linenumber, l_suppkey, {_ORDER_SQL}, q,
               {ewma} AS e,
               round(CASE WHEN count(q) OVER ({frame}) = {w}
                     THEN stddev_samp(q) OVER ({frame}) END, 6) AS s
        FROM base
      ), lagged AS (
        SELECT l_orderkey, l_linenumber, q, e, s,
               lag(e) OVER ({lagw}) AS e_prev,
               lag(s) OVER ({lagw}) AS s_prev
        FROM win
      )
      SELECT l_orderkey, l_linenumber,
             e AS l_quantity_ewma{EWMA_SPAN},
             s AS l_quantity_rolling_std{EWMA_WINDOW},
             CASE WHEN s_prev IS NOT NULL AND s_prev <> 0
                  THEN round((q - e_prev) / s_prev, 6)
             END AS l_quantity_z,
             CASE WHEN e_prev IS NOT NULL AND s_prev IS NOT NULL
                  THEN CAST(abs(q - e_prev) > 2.0 * s_prev AS INT)
             END AS l_quantity_anomaly
      FROM lagged
    """


def _target_encode_oracle() -> str:
    from centimators_spark.operators.encoding import target_encode_oracle_sql

    return target_encode_oracle_sql(
        "lineitem",
        "l_suppkey",
        "l_extendedprice",
        smoothing=20.0,
        era_sql="date_trunc('month', l_shipdate)",
        loo=True,
        select_sql="b.l_orderkey, b.l_linenumber",
        out_name="te",
    )


def _quantile_bin_oracle() -> str:
    from centimators_spark.operators.encoding import quantile_bin_oracle_sql

    return quantile_bin_oracle_sql(
        "lineitem",
        "l_extendedprice",
        n_bins=10,
        era_sql="date_trunc('month', l_shipdate)",
        select_sql="b.l_orderkey, b.l_linenumber",
        out_name="bin",
    )


def _neutralize_ols_era_oracle() -> str:
    from centimators_spark.operators.neutralization import (
        era_ols_neutralize_oracle_sql,
    )

    return era_ols_neutralize_oracle_sql(
        "lineitem",
        "round(l_extendedprice * 100)",
        [
            "CAST(l_quantity AS DOUBLE)",
            "round(l_discount * 100)",
            "round(l_tax * 100)",
        ],
        era_sql="date_trunc('month', l_shipdate)",
        key_sqls=["l_orderkey", "l_linenumber"],
        proportion=0.5,
    )


def _psi_drift_oracle() -> str:
    from centimators_spark.operators.drift import psi_drift_oracle_sql

    return psi_drift_oracle_sql(
        "lineitem",
        {f: f for f in PSI_FEATS},
        f"l_shipdate < TIMESTAMP '{PSI_REF_DATE}'",
        n_bins=10,
    )


def _psi_sketch_contract_oracle() -> str:
    """Exact-mode PSI numbers plus the asserted band claim: the oracle
    states sketch_within_band = true; the Spark side measures it."""
    from centimators_spark.operators.drift import psi_drift_oracle_sql

    inner = psi_drift_oracle_sql(
        "lineitem",
        {f: f for f in PSI_FEATS},
        f"l_shipdate < TIMESTAMP '{PSI_REF_DATE}'",
        n_bins=10,
    )
    return f"""
        SELECT feature, n_ref, n_cur, psi, true AS sketch_within_band
        FROM ({inner})
    """


def _frequent_itemsets_oracle() -> str:
    from centimators_spark.ml.itemsets import frequent_itemsets_oracle_sql

    return frequent_itemsets_oracle_sql(
        "(SELECT l_orderkey AS basket, p_brand AS item"
        " FROM lineitem JOIN part ON l_partkey = p_partkey)",
        basket_sql="basket",
        item_sql="item",
        min_support=0.01,
    )


def _scd2_oracle() -> str:
    from centimators_spark.analytics import scd2_intervals_oracle_sql

    return scd2_intervals_oracle_sql("events", "event_type")


def _table_diff_oracle() -> str:
    from centimators_spark.reconcile import table_diff_oracle_sql

    b = """(
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1
                  ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderkey % 50 = 0 THEN NULL
                  ELSE o_orderpriority END AS o_orderpriority,
             o_orderstatus
      FROM orders WHERE o_orderkey % 97 <> 0
    )"""
    return table_diff_oracle_sql(
        "orders", b, ["o_orderkey"],
        ["o_totalprice", "o_orderpriority", "o_orderstatus"],
    )


def _session_window_oracle() -> str:
    gap_us = 30 * 60 * 1_000_000
    return f"""
        WITH o AS (
          SELECT user_id, ts, event_id, epoch_us(ts) AS us,
                 lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events
        ), flagged AS (
          SELECT *, CASE WHEN prev IS NULL OR us - prev >= {gap_us}
                         THEN 1 ELSE 0 END AS new_s
          FROM o
        ), sess AS (
          SELECT *, sum(new_s) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        )
        SELECT user_id,
               min(us) AS session_start_us,
               max(us) + {gap_us} AS session_end_us,
               CAST(count(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
    """


def _auc_oracle() -> str:
    from centimators_spark.ml.classification_metrics import (
        auc_score_oracle_sql,
    )

    inner = auc_score_oracle_sql(_SCORED_SQL, "p", "y", group_sql="era")
    return f"""
        SELECT CAST(epoch("group") AS BIGINT) AS era, n_pos, n_neg, auc
        FROM ({inner})
    """


def _logloss_calibration_oracle() -> str:
    from centimators_spark.ml.classification_metrics import (
        calibration_bins_oracle_sql,
        log_loss_oracle_sql,
    )

    cal = calibration_bins_oracle_sql(_SCORED_SQL, "p", "y")
    ll = log_loss_oracle_sql(_SCORED_SQL, "p", "y")
    return f"""
        SELECT c.bin, c.n, c.mean_p, c.frac_pos,
               l.n AS n_total, l.logloss
        FROM ({cal}) c CROSS JOIN ({ll}) l
    """


def _ab_cuped_oracle() -> str:
    from centimators_spark.ml.abtest import (
        ab_test_report_oracle_sql,
        cuped_adjust_oracle_sql,
    )

    per_user = f"""(
      SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                  ELSE 'treatment' END AS variant,
             converted, metric, pre_metric
      FROM (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase'
                        AND ts >= TIMESTAMP '{AB_SPLIT_DATE}'
                        THEN 1 ELSE 0 END) AS converted,
               coalesce(sum(CASE WHEN ts >= TIMESTAMP '{AB_SPLIT_DATE}'
                                 THEN value END), 0.0) AS metric,
               coalesce(sum(CASE WHEN NOT (ts >= TIMESTAMP '{AB_SPLIT_DATE}')
                                 THEN value END), 0.0) AS pre_metric
        FROM events GROUP BY user_id
      )
    )"""
    adjusted = (
        "("
        + cuped_adjust_oracle_sql(
            per_user, select_sql="variant, converted, metric, pre_metric"
        )
        + ")"
    )
    return ab_test_report_oracle_sql(adjusted, metric_sql="metric_cuped")


def _benford_oracle() -> str:
    from centimators_spark.profile import benford_check_oracle_sql

    return benford_check_oracle_sql("orders", "o_totalprice")


def _gini_oracle() -> str:
    from centimators_spark.analytics import gini_by_group_oracle_sql

    return gini_by_group_oracle_sql(
        "(SELECT o_totalprice, c_mktsegment FROM orders"
        " JOIN customer ON o_custkey = c_custkey)",
        "o_totalprice",
        "c_mktsegment",
    )


def _z_order_key_oracle() -> str:
    from centimators_spark.io import z_order_key_sql

    z = z_order_key_sql(["l_partkey", "l_suppkey"])
    return f"""
        SELECT l_orderkey, l_linenumber, {z} AS zkey FROM lineitem
    """


def _ab_test_oracle() -> str:
    from centimators_spark.ml.abtest import ab_test_report_oracle_sql

    subjects = """(
      SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                  ELSE 'treatment' END AS variant,
             converted, metric
      FROM (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS converted,
               coalesce(sum(value), 0.0) AS metric
        FROM events GROUP BY user_id
      )
    )"""
    return ab_test_report_oracle_sql(subjects)


def _kaplan_meier_oracle() -> str:
    from centimators_spark.ml.survival import kaplan_meier_oracle_sql

    ep = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"
    subjects = f"""(
      WITH per_user AS (
        SELECT user_id,
               min({ep}) AS mn,
               min({ep}) FILTER (WHERE event_type = 'purchase') AS mp,
               max({ep}) AS mx
        FROM events GROUP BY user_id
      )
      SELECT CAST(user_id % 3 AS INTEGER) AS cohort,
             CASE WHEN mp IS NOT NULL THEN mp - mn ELSE mx - mn END
               AS duration,
             CASE WHEN mp IS NOT NULL THEN 1 ELSE 0 END AS event
      FROM per_user
    )"""
    return kaplan_meier_oracle_sql(subjects)


def _record_linkage_oracle() -> str:
    from centimators_spark.dedup.linkage import record_linkage_oracle_sql

    return record_linkage_oracle_sql(
        "(SELECT c_custkey, c_nationkey,"
        " CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,"
        " CAST(round(c_acctbal * 100) AS BIGINT) % 97 AS bal_mod,"
        " c_mktsegment FROM customer)",
        "c_custkey",
        "c_nationkey",
        {"bal_bucket": 3, "bal_mod": 2, "c_mktsegment": 1},
        threshold=4,
    )


def _attribution_oracle() -> str:
    from centimators_spark.analytics import attribution_oracle_sql

    return attribution_oracle_sql("events")


def _pagerank_oracle() -> str:
    from centimators_spark.graphs import pagerank_int_oracle_sql

    return pagerank_int_oracle_sql(
        "(SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS src,"
        "        'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem"
        " UNION ALL"
        " SELECT DISTINCT 'P' || CAST(l_partkey AS VARCHAR),"
        "        'S' || CAST(l_suppkey AS VARCHAR) FROM lineitem)",
        iters=3,
    )


def _embedding_centroids_oracle() -> str:
    from centimators_spark.similarity.centroids import (
        group_centroids_oracle_sql,
    )

    return group_centroids_oracle_sql(
        "(SELECT d.lang, e.embedding FROM embeddings e"
        " JOIN documents d ON e.vec_id = d.doc_id)",
        "lang",
        group_name="lang",
    )


def _woe_encode_oracle() -> str:
    from centimators_spark.operators.encoding import woe_encode_oracle_sql

    return woe_encode_oracle_sql(
        "orders",
        "o_orderpriority",
        "o_orderstatus = 'F'",
        smoothing=0.5,
        select_sql="b.o_orderkey, b.o_orderpriority",
        out_name="woe",
    )


def _cv_folds_oracle() -> str:
    from centimators_spark.model_selection import assign_folds_oracle_sql

    # DuckDB cannot CAST TIMESTAMP AS DOUBLE directly; epoch() yields
    # the same fractional-seconds double Spark's timestamp→double cast does
    return assign_folds_oracle_sql(
        "lineitem",
        "epoch(l_shipdate)",
        n_splits=5,
        embargo=CV_EMBARGO,
        select_sql="l_orderkey, l_linenumber",
    )


def _pmi_cooccur_oracle() -> str:
    from centimators_spark.text.cooccur import pmi_pairs_oracle_sql

    return pmi_pairs_oracle_sql(
        "documents", vocab_size=100, min_pair_count=5, top_k=50
    )


def _trimmed_stats_oracle() -> str:
    from centimators_spark.operators.stats import trimmed_stats_oracle_sql

    return trimmed_stats_oracle_sql(
        "lineitem",
        "l_extendedprice",
        "CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT)",
        trim=0.1,
        order_sql="l_orderkey, l_linenumber",
    )


def _page_hinkley_oracle() -> str:
    from centimators_spark.operators.anomaly import page_hinkley_oracle_sql
    from centimators_spark.plans.relational_queries import _ORDER_SQL

    return page_hinkley_oracle_sql(
        "lineitem",
        "l_quantity",
        "l_suppkey",
        _ORDER_SQL,
        lambda_sigmas=5.0,
        select_sql="l_orderkey, l_linenumber",
        include_display=False,
    )


def _era_weights_oracle() -> str:
    from centimators_spark.sampling import era_balanced_weights_oracle_sql

    return era_balanced_weights_oracle_sql(
        "lineitem",
        "CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT)",
        select_sql="l_orderkey, l_linenumber",
    )


def _calendar_features_oracle() -> str:
    from centimators_spark.functions.calendar import (
        calendar_features_oracle_sql,
    )

    return calendar_features_oracle_sql(
        "orders", "o_orderdate", prefix="d_", select_sql="o_orderkey"
    )


def _penalizer_contract_oracle() -> str:
    return f"""
        SELECT CAST(epoch(date_trunc('year', l_shipdate)) AS BIGINT) AS era,
               count(*) AS n_rows,
               CAST({len(PEN_FEATS)} AS BIGINT) AS n_satisfied
        FROM lineitem GROUP BY era
    """


def oracle_sql() -> dict[str, str]:
    from centimators_spark.analytics import (
        debounce_events_oracle_sql,
        transition_counts_oracle_sql,
        interval_union_length_oracle_sql,
        l_diversity_oracle_sql,
        rfm_segments_oracle_sql,
        t_closeness_oracle_sql,
    )
    from centimators_spark.dedup.fuzzy import fuzzy_self_join_oracle_sql
    from centimators_spark.dedup.substring import (
        duplicated_spans_multi_oracle_sql,
        duplicated_spans_oracle_sql,
    )
    from centimators_spark.dedup.winnowing import winnowing_overlap_oracle_sql
    from centimators_spark.graphs import triangle_count_oracle_sql
    from centimators_spark.ml.abtest import sprt_bernoulli_oracle_sql
    from centimators_spark.ml.bootstrap import (
        bootstrap_mean_ci_oracle_sql,
        permutation_sign_test_oracle_sql,
    )
    from centimators_spark.ml.calibration import (
        isotonic_calibration_oracle_sql,
    )
    from centimators_spark.ml.classification_metrics import (
        gains_table_oracle_sql,
    )
    from centimators_spark.ml.conformal import conformal_quantiles_oracle_sql
    from centimators_spark.ml.ensemble import rank_ensemble_oracle_sql
    from centimators_spark.ml.feature_selection import (
        mutual_information_oracle_sql,
    )
    from centimators_spark.ml.metrics import ks_two_sample_oracle_sql
    from centimators_spark.multimodal.audiofp import (
        audio_fingerprint_oracle_sql,
    )
    from centimators_spark.multimodal.phash import image_phash_oracle_sql
    from centimators_spark.multimodal.videofp import video_phash_oracle_sql
    from centimators_spark.operators.drift import (
        psi_drift_categorical_oracle_sql,
        single_changepoint_oracle_sql,
    )
    from centimators_spark.operators.finance import max_drawdown_oracle_sql
    from centimators_spark.operators.mwu import (
        mann_whitney_u_oracle_sql,
        brown_forsythe_oracle_sql,
    )
    from centimators_spark.operators.stats import (
        quantile_normalize_oracle_sql,
        weighted_median_oracle_sql,
    )
    from centimators_spark.profile import (
        table_profile_oracle_sql,
        heavy_hitters_oracle_sql,
        benford_audit_oracle_sql,
    )
    from centimators_spark.sampling import sql_weighted_sample, sql_group_kfold
    from centimators_spark.sketches import (
        cms_heavy_hitter_oracle_sql,
        theta_sketch_oracle_sql,
        theta_a_not_b_oracle_sql,
        hll_portable_oracle_sql,
        hll_union_oracle_sql,
        bottomk_quantile_oracle_sql,
    )
    from centimators_spark.text.analysis import bigram_lm_oracle_sql
    from centimators_spark.text.chunking import doc_sentences_oracle_sql
    from centimators_spark.text.classifier import linear_text_score_oracle_sql
    from centimators_spark.text.cooccur import (
        bpe_train_apply_oracle_sql,
        bpe_train_rounds_oracle_sql,
        bpe_pair_merges_oracle_sql,
    )
    from centimators_spark.text.divergence import corpus_divergence_oracle_sql
    from centimators_spark.text.dsir import dsir_select_oracle_sql
    from centimators_spark.text.features import bm25_topk_oracle_sql
    from centimators_spark.text.keywords import rake_keywords_oracle_sql
    from centimators_spark.text.line_filters import (
        corpus_line_dedup_oracle_sql,
    )
    from centimators_spark.text.span_dedup import corpus_span_dedup_oracle_sql

    datapipe = datapipe_queries.oracle_sql()
    sql_group_kfold_text = (
        sql_group_kfold("l_suppkey", 5, salt="gk1") + " AS fold"
    )
    ev_us = ("(SELECT user_id, epoch_us(ts) AS s,"
             " epoch_us(ts) + 300000000 AS e FROM events)")
    return {
        **datapipe,
        **relational_queries.oracle_sql(),
        "melt_lineitem": """
            SELECT l_orderkey, l_linenumber, feature, value
            FROM (SELECT l_orderkey, l_linenumber, l_quantity,
                         l_discount, l_tax FROM lineitem)
            UNPIVOT INCLUDE NULLS
              (value FOR feature IN (l_quantity, l_discount, l_tax))
        """,
        "weighted_sample": sql_weighted_sample(
            "orders", 100, "o_totalprice", "o_orderkey", "ws1",
            select_sql="o_orderkey, o_custkey, o_totalprice",
        ),
        "conformal_quantiles": conformal_quantiles_oracle_sql(
            "(SELECT CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT)"
            " AS era, l_quantity * 1000 AS pred,"
            " l_extendedprice AS target FROM lineitem)",
            "pred",
            "target",
            alpha=0.1,
            era_sql="era",
        ),
        "asof_join_forward": """
            WITH views AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'view'
            ), purchases AS (
              SELECT user_id, ts, max(value) AS pvalue FROM events
              WHERE event_type = 'purchase' GROUP BY user_id, ts
            ), nxt AS (
              SELECT v.event_id, v.user_id, v.ts, v.value,
                     min(p.ts) AS pts
              FROM views v
              LEFT JOIN purchases p
                ON v.user_id = p.user_id AND p.ts >= v.ts
              GROUP BY v.event_id, v.user_id, v.ts, v.value
            )
            SELECT n.event_id, n.user_id,
                   CAST(epoch(date_trunc('second', n.ts)) AS BIGINT)
                     AS ts_epoch,
                   n.value,
                   CAST(epoch(date_trunc('second', n.pts)) AS BIGINT)
                     AS next_purchase_ts_epoch,
                   p2.pvalue AS next_purchase_value
            FROM nxt n
            LEFT JOIN purchases p2
              ON n.user_id = p2.user_id AND n.pts = p2.ts
        """,
        "line_dedup": corpus_line_dedup_oracle_sql(),
        "mutual_information": mutual_information_oracle_sql(
            "lineitem",
            {
                "qty_bin": "CAST(floor(l_quantity / 10) AS INTEGER)",
                "disc_bin": "CAST(round(l_discount * 100) AS INTEGER)",
                "tax_bin": "CAST(round(l_tax * 100) AS INTEGER)",
            },
            "l_returnflag",
        ),
        "heavy_hitters": heavy_hitters_oracle_sql(
            "orders", "o_orderpriority", min_share=0.05
        ),
        "corpus_divergence": corpus_divergence_oracle_sql(),
        "rank_ensemble": rank_ensemble_oracle_sql(
            "(SELECT l_orderkey, l_linenumber,"
            " CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT) AS era,"
            " l_quantity AS m1, l_extendedprice AS m2 FROM lineitem)",
            ["m1", "m2"],
            era_sql="era",
            select_sql="l_orderkey, l_linenumber, era",
            weights=[2, 1],
        ),
        "table_profile": table_profile_oracle_sql(
            "documents",
            ["doc_id", "lang", "source", "n_chars"],
            ["doc_id", "n_chars"],
        ),
        "validate_orders": """
            WITH g AS (
              SELECT count(*) AS n,
                     count(o_orderkey) AS nn_k,
                     count(DISTINCT o_orderkey) AS nd_k,
                     count(CASE WHEN o_totalprice IS NOT NULL
                           AND o_totalprice < 0 THEN 1 END) AS v_range,
                     count(CASE WHEN o_orderstatus IS NOT NULL
                           AND o_orderstatus NOT IN ('F','O','P') THEN 1 END)
                       AS v_set,
                     count(CASE WHEN o_orderpriority IS NOT NULL
                           AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                           THEN 1 END) AS v_re
              FROM orders
            ), fk AS (
              SELECT count(*) AS v_fk FROM orders
              WHERE o_custkey IS NOT NULL
                AND o_custkey NOT IN (SELECT c_custkey FROM customer)
            )
            SELECT 'not_null' AS check, 'o_orderkey' AS column,
                   (n - nn_k) = 0 AS passed, n - nn_k AS n_violations FROM g
            UNION ALL
            SELECT 'unique', 'o_orderkey', (nn_k - nd_k) = 0, nn_k - nd_k
            FROM g
            UNION ALL
            SELECT 'in_range', 'o_totalprice', v_range = 0, v_range FROM g
            UNION ALL
            SELECT 'in_set', 'o_orderstatus', v_set = 0, v_set FROM g
            UNION ALL
            SELECT 'matches', 'o_orderpriority', v_re = 0, v_re FROM g
            UNION ALL
            SELECT 'foreign_key', 'o_custkey', v_fk = 0, v_fk FROM fk
        """,
        "linreg_fast_contract": relational_queries._LINREG_FAST_ORACLE,
        "promo_revenue": relational_queries._PROMO_REVENUE_ORACLE,
        "supplier_counts": relational_queries._SUPPLIER_COUNTS_ORACLE,
        "psi_categorical": psi_drift_categorical_oracle_sql(
            "orders",
            {
                "o_orderstatus": "o_orderstatus",
                "o_orderpriority": "o_orderpriority",
            },
            f"o_orderdate < TIMESTAMP '{PSI_REF_DATE}'",
        ),
        "doc_sentences": doc_sentences_oracle_sql(),
        "transition_counts": transition_counts_oracle_sql(),
        "event_debounce": debounce_events_oracle_sql(
            "events",
            86400,
            select_sql=(
                "event_id, user_id, event_type,"
                " CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_epoch"
            ),
        ),
        "fuzzy_name_pairs": fuzzy_self_join_oracle_sql(
            "(SELECT p_name, min(p_partkey) AS name_id FROM part"
            " GROUP BY p_name)",
            "p_name",
            "name_id",
            max_dist=2,
        ),
        "rolling_rank": f"""
            WITH w10 AS (
              SELECT l_orderkey, l_linenumber,
                     CAST(l_quantity AS DOUBLE) AS q,
                     array_agg(CAST(l_quantity AS DOUBLE)) OVER (
                       PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS arr,
                     count(l_quantity) OVER (
                       PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                       ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS n
              FROM lineitem
            )
            SELECT l_orderkey, l_linenumber,
                   CAST(CASE WHEN n = 10 AND q IS NOT NULL THEN
                     len(list_filter(arr, v -> v < q)) + 1 END AS INTEGER)
                     AS l_quantity_rollrank10
            FROM w10
        """,
        "group_kfold": f"""
            SELECT l_orderkey, l_linenumber, l_suppkey,
                   {sql_group_kfold_text}
            FROM lineitem
        """,
        "quantile_normalize": quantile_normalize_oracle_sql(
            "lineitem",
            "l_extendedprice",
            ref_cond_sql=f"l_shipdate < TIMESTAMP '{PSI_REF_DATE}'",
            era_sql="date_trunc('month', l_shipdate)",
            n_points=50,
            order_sql=", ".join(
                c for c in (_ORDER_SQL.split(", ")) if c != "l_extendedprice"
            ),
            select_sql="l_orderkey, l_linenumber",
            out_name="qnorm",
        ),
        "rake_keywords": rake_keywords_oracle_sql(),
        "active_time": interval_union_length_oracle_sql(
            ev_us, "s", "e", "user_id", out_name="active_us"
        ),
        "weighted_median": weighted_median_oracle_sql(
            "(SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty,"
            " CAST(round(l_extendedprice * 100) AS BIGINT) AS w"
            " FROM lineitem)",
            "qty", "w", "l_returnflag",
        ),
        "approx_distinct_contract": """
            SELECT o_orderpriority,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
                   true AS sketch_within_band
            FROM orders GROUP BY o_orderpriority
        """,
        "isotonic_contract": f"""
            WITH s AS (
              SELECT (l_quantity * 2 - 1) / 100 AS p,
                     CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
              FROM lineitem
            )
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(0 AS BIGINT) AS n_violations,
                   true AS min_ok, true AS max_ok,
                   round(sum(y), 3) AS sum_fit
            FROM s
        """,
        "cheapest_supplier": """
            WITH cost AS (
              SELECT l_partkey, l_suppkey,
                     min(CAST(round(l_extendedprice * 100) AS BIGINT)
                         // CAST(l_quantity AS BIGINT)) AS c
              FROM lineitem GROUP BY l_partkey, l_suppkey
            ), best AS (
              SELECT l_partkey AS p_partkey,
                     min({'c': c, 's': l_suppkey}) AS b
              FROM cost GROUP BY l_partkey
            )
            SELECT p_partkey,
                   CAST(b.s AS BIGINT) AS s_suppkey,
                   CAST(b.c AS BIGINT) AS cost_cents_per_unit,
                   s_name, n_name
            FROM best
            JOIN supplier ON b.s = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
        """,
        "span_dedup": corpus_span_dedup_oracle_sql(w=8, min_docs=2),
        "quality_classifier": linear_text_score_oracle_sql(
            QUALITY_WEIGHTS, QUALITY_BIAS
        ),
        "max_drawdown": max_drawdown_oracle_sql(
            "(SELECT *, CASE WHEN l_returnflag = 'R'"
            " THEN -round(l_extendedprice * 100)"
            " ELSE round(l_extendedprice * 100) END AS signed_cents"
            " FROM lineitem)",
            "signed_cents",
            ORDER,
            "l_suppkey",
            out_by="l_suppkey",
        ),
        "ks_statistic": ks_two_sample_oracle_sql(
            "lineitem",
            "CAST(l_quantity AS BIGINT)",
            "l_linestatus = 'O'",
            "l_returnflag",
            out_by="l_returnflag",
        ),
        "bm25_search": bm25_topk_oracle_sql(BM25_TERMS, k=10),
        "gains_table": gains_table_oracle_sql(
            "lineitem",
            "CAST(round(l_discount * 100) AS BIGINT)",
            "l_returnflag = 'R'",
            n_buckets=10,
        ),
        "triangle_count": triangle_count_oracle_sql(
            "(SELECT x.l_suppkey AS src, y.l_suppkey AS dst"
            " FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"
            "       WHERE l_suppkey < 300) x"
            " JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"
            "       WHERE l_suppkey < 300) y"
            " USING (l_partkey)"
            " WHERE x.l_suppkey < y.l_suppkey"
            " GROUP BY 1, 2 HAVING count(*) >= 2)"
        ),
        "prospect_customers": """
            SELECT c_nationkey,
                   CAST(count(*) AS BIGINT) AS n_cust,
                   CAST(sum(round(c_acctbal * 100)) AS BIGINT) AS bal_cents
            FROM customer c
            WHERE c_nationkey IN (1, 3, 5, 7, 9)
              AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                               WHERE c_acctbal > 0)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderdate >= TIMESTAMP '1999-01-01')
            GROUP BY c_nationkey
        """,
        "part_share": """
            WITH pr AS (
              SELECT l_partkey,
                     CAST(sum(round(l_extendedprice * 100)) AS BIGINT)
                       AS rev_cents
              FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey, rev_cents FROM pr
            WHERE rev_cents * 10000 > (SELECT sum(rev_cents) FROM pr) * 5
        """,
        "supplier_return_blame": """
            WITH os AS (
              SELECT l_orderkey, l_suppkey,
                     max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                       AS ret
              FROM lineitem GROUP BY l_orderkey, l_suppkey
            ), per_order AS (
              SELECT l_orderkey, count(*) AS n_supp, sum(ret) AS n_ret
              FROM os GROUP BY l_orderkey
            )
            SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait
            FROM os JOIN per_order USING (l_orderkey)
            WHERE n_supp >= 2 AND ret = 1 AND n_ret = 1
            GROUP BY l_suppkey
        """,
        "customer_distribution": (
            relational_queries._CUSTOMER_DISTRIBUTION_ORACLE
        ),
        "large_volume_customers": (
            relational_queries._LARGE_VOLUME_CUSTOMERS_ORACLE
        ),
        "hybrid_rrf_search": _hybrid_rrf_oracle(),
        "budget_select": _budget_select_oracle(),
        "containment_pairs": _containment_pairs_oracle(),
        "best_split": _best_split_oracle(),
        "topk_turnover": _topk_turnover_oracle(),
        "ic_decay": _ic_decay_oracle(),
        "negative_sample": _negative_sample_oracle(),
        "linear_interpolate": _LINEAR_INTERP_ORACLE,
        "pareto_front": _pareto_front_oracle(),
        "feature_corr_matrix": _feature_corr_matrix_oracle(),
        "seasonal_decompose": _seasonal_decompose_oracle(),
        "xicor_by_month": _xicor_oracle(),
        "naive_bayes": _naive_bayes_oracle(),
        "disjunctive_revenue": (
            relational_queries._DISJUNCTIVE_REVENUE_ORACLE
        ),
        "kcore_dupgraph": _kcore_oracle(),
        "signal_backtest": _signal_backtest_oracle(),
        "kmeans_embeddings": _kmeans_oracle(),
        "knn_classify": _knn_oracle(),
        "chi2_independence": _chi2_oracle(),
        "golden_record": _golden_record_oracle(),
        "vector_pipeline": _vector_pipeline_oracle(),
        "top_supplier": relational_queries._TOP_SUPPLIER_ORACLE,
        "small_lot_revenue": relational_queries._SMALL_LOT_REVENUE_ORACLE,
        "volume_dominant_supplier": (
            relational_queries._VOLUME_DOMINANT_ORACLE
        ),
        "association_rules": datapipe_queries._association_rules_oracle(),
        "sq8_recall_contract": datapipe["pq_recall_contract"],
        "logistic_irls": _logistic_irls_oracle(),
        "bpe_pair_merges": bpe_pair_merges_oracle_sql("documents"),
        "rfm_segments": rfm_segments_oracle_sql("orders"),
        "label_propagation": _label_propagation_oracle(),
        "blocking_quality": datapipe_queries._blocking_quality_oracle(),
        "weighted_quantiles": _weighted_quantiles_oracle(),
        "cms_heavy_hitters": cms_heavy_hitter_oracle_sql(
            "documents", w=CMS_CONTRACT_W
        ),
        "bigram_lm": bigram_lm_oracle_sql("documents", vocab_cap=BIGRAM_VOCAB_CAP),
        "k_anonymity": _k_anonymity_oracle(),
        "bpe_encode": bpe_train_apply_oracle_sql("documents"),
        "bpe_train_rounds": bpe_train_rounds_oracle_sql("documents"),
        "boosted_stumps": _boosted_stumps_oracle(),
        "mmr_rerank": _mmr_rerank_oracle(),
        "dedup_clusters_star": datapipe["dedup_clusters"],
        "nation_profit": relational_queries._NATION_PROFIT_ORACLE,
        "shipmode_priority": relational_queries._SHIPMODE_PRIORITY_ORACLE,
        "filtered_supplier_counts": (
            relational_queries._FILTERED_SUPPLIER_COUNTS_ORACLE
        ),
        "image_phash_dedup": image_phash_oracle_sql("documents"),
        "theta_intersections": theta_sketch_oracle_sql("documents"),
        "audio_fingerprint_dedup": audio_fingerprint_oracle_sql(
            "documents"
        ),
        "video_phash_dedup": video_phash_oracle_sql("documents"),
        "l_diversity": l_diversity_oracle_sql(
            "(SELECT c_nationkey, c_mktsegment,"
            " CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_h"
            " FROM customer)",
            ["c_nationkey", "bal_h"],
            "c_mktsegment",
            l=2,
        ),
        "multimodal_corpus_clean": _multimodal_corpus_clean_oracle(),
        "theta_a_not_b": theta_a_not_b_oracle_sql("documents"),
        "order_priority_counts": relational_queries._ORDER_PRIORITY_ORACLE,
        "forecast_revenue": relational_queries._FORECAST_REVENUE_ORACLE,
        "t_closeness": t_closeness_oracle_sql(
            "(SELECT c_nationkey, c_mktsegment,"
            " CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_h"
            " FROM customer)",
            ["c_nationkey", "bal_h"],
            "c_mktsegment",
        ),
        "isotonic_calibration": isotonic_calibration_oracle_sql(
            "(SELECT o_orderpriority,"
            " least(CAST(floor(o_totalprice / 10000) AS BIGINT), 49)"
            " AS price_bucket,"
            " CAST(o_orderstatus = 'F' AS INTEGER) AS is_f"
            " FROM orders)",
            "o_orderpriority",
            "price_bucket",
            "is_f",
        ),
        "winnowing_overlap": winnowing_overlap_oracle_sql("documents"),
        "duplicated_spans": duplicated_spans_oracle_sql("documents"),
        "changepoint": single_changepoint_oracle_sql(
            "events", "event_type", ["ts", "event_id"], "value"
        ),
        "benford_audit": benford_audit_oracle_sql(
            "orders", "o_orderpriority", "o_totalprice"
        ),
        "hll_portable": hll_portable_oracle_sql(
            "orders", "o_orderpriority", "o_custkey"
        ),
        "hll_union": hll_union_oracle_sql("documents"),
        "bootstrap_ci": bootstrap_mean_ci_oracle_sql(
            "orders", "o_orderpriority", "o_orderkey", "o_totalprice"
        ),
        "mann_whitney": mann_whitney_u_oracle_sql(
            "(SELECT event_type,"
            " CAST(event_id % 2 = 0 AS INTEGER) AS side_a, value"
            " FROM events)",
            "event_type",
            "side_a",
            "value",
        ),
        "sprt_audit": sprt_bernoulli_oracle_sql(
            "(SELECT o_orderpriority,"
            " CAST(o_orderstatus = 'F' AS INTEGER) AS is_f"
            " FROM orders)",
            "o_orderpriority",
            "is_f",
        ),
        "brown_forsythe": brown_forsythe_oracle_sql(
            "(SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,"
            " event_type, value FROM events)",
            "day",
            "event_type",
            "value",
        ),
        "duplicated_spans_multi": duplicated_spans_multi_oracle_sql(
            "documents"
        ),
        # exact top-k over the SAME derived clustered fixture the
        # IVF-PQ pruning contract uses — hash-green iff recall is 100%
        "sq8_clustered_contract": datapipe["ivfpq_pruned_contract"],
        "dsir_select": dsir_select_oracle_sql("documents", DSIR_TARGET),
        "bottomk_quantiles": bottomk_quantile_oracle_sql(
            "orders", "o_orderpriority", "o_orderkey", "o_totalprice"
        ),
        "sign_permutation": permutation_sign_test_oracle_sql(
            _SIGNED_EVENTS_SQL, "event_type", "event_id", "sv"
        ),
        "training_split_audit": _training_split_audit_oracle(),
        "dsir_budget_select": _dsir_budget_select_oracle(),
        "join_skew_audit": _join_skew_audit_oracle(),
        "theil_sen_trend": _theil_sen_trend_oracle(),
        "mann_kendall": _mann_kendall_oracle(),
        "cdc_apply": _cdc_apply_oracle(),
        "event_paths": _event_paths_oracle(),
        "fdr_audit": _fdr_audit_oracle(),
        "purged_kfold": _purged_kfold_oracle(),
        "join_size_estimate": _join_size_estimate_oracle(),
        "timed_funnel": _timed_funnel_oracle(),
        "event_paths_nullts": _event_paths_nullts_oracle(),
        "bootstrap_signed": _bootstrap_signed_oracle(),
        "mwu_signed": _mwu_signed_oracle(),
        "bootstrap_nullkey": _bootstrap_nullkey_oracle(),
        "dspymator_contract": DSPYMATOR_CONTRACT_ORACLE,
        "penalizer_contract": _penalizer_contract_oracle(),
        # kernel-contract claims: every key-unique row agrees within the
        # differential-test tolerance — any kernel drift breaks the hash
        "neutralizer_kernel_contract": f"""
            SELECT count(*) AS n_rows, count(*) AS n_close
            FROM {_UNIQUE_KEY_COUNT_SQL}
        """,
        "pca_kernel_contract": f"""
            SELECT count(*) AS n_rows, count(*) AS n_close
            FROM {_UNIQUE_KEY_COUNT_SQL}
        """,
        "psi_drift": _psi_drift_oracle(),
        "psi_sketch_contract": _psi_sketch_contract_oracle(),
        "bloom_semi_join": """
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE o_custkey IN (
              SELECT c_custkey FROM customer WHERE c_acctbal > 9000
            )
        """,
        "frequent_itemsets": _frequent_itemsets_oracle(),
        "scd2_intervals": _scd2_oracle(),
        "embedding_centroids": _embedding_centroids_oracle(),
        "pagerank": _pagerank_oracle(),
        "attribution": _attribution_oracle(),
        "record_linkage": _record_linkage_oracle(),
        "kaplan_meier": _kaplan_meier_oracle(),
        "ab_test": _ab_test_oracle(),
        "z_order_key": _z_order_key_oracle(),
        "ab_cuped": _ab_cuped_oracle(),
        "benford_digits": _benford_oracle(),
        "gini_segments": _gini_oracle(),
        "auc_by_era": _auc_oracle(),
        "logloss_calibration": _logloss_calibration_oracle(),
        "table_diff": _table_diff_oracle(),
        "session_window": _session_window_oracle(),
        "woe_encode": _woe_encode_oracle(),
        "cv_folds": _cv_folds_oracle(),
        "pmi_cooccur": _pmi_cooccur_oracle(),
        "market_share": relational_queries._MARKET_SHARE_ORACLE,
        "trimmed_stats": _trimmed_stats_oracle(),
        "page_hinkley": _page_hinkley_oracle(),
        "calendar_features": _calendar_features_oracle(),
        "forward_returns": f"""
            SELECT l_orderkey, l_linenumber,
              round(lead(l_extendedprice, 1) OVER w / l_extendedprice - 1, 6)
                AS l_extendedprice_fwd1,
              round(lead(l_extendedprice, 5) OVER w / l_extendedprice - 1, 6)
                AS l_extendedprice_fwd5
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
        """,
        "era_weights": _era_weights_oracle(),
        "neutralize_ols_era": _neutralize_ols_era_oracle(),
        "rolling_corr_ewma": _rolling_corr_ewma_oracle(),
        "pca_project_expr": _pca_project_expr_oracle(),
        "gaussianize_probit": _gaussianize_probit_oracle(),
        "neutralizer_full_expr": _neutralizer_full_expr_oracle(),
        "diff_transformer": f"""
            SELECT l_orderkey, l_linenumber,
              l_extendedprice - lag(l_extendedprice, 1) OVER w
                AS l_extendedprice_diff1,
              round(l_extendedprice / lag(l_extendedprice, 1) OVER w - 1, 6)
                AS l_extendedprice_pct1,
              l_extendedprice - lag(l_extendedprice, 5) OVER w
                AS l_extendedprice_diff5,
              round(l_extendedprice / lag(l_extendedprice, 5) OVER w - 1, 6)
                AS l_extendedprice_pct5
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
        """,
        "expanding_aggregates": f"""
            SELECT l_orderkey, l_linenumber,
              sum(l_quantity) OVER w AS l_quantity_expanding_sum,
              max(l_quantity) OVER w AS l_quantity_expanding_max
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "session_ids": """
            SELECT event_id, user_id,
              CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_epoch,
              -- DuckDB's windowed sum over ints is HUGEINT → float64 in
              -- pandas (2.0) while Spark emits int64 (2); CAST keeps the
              -- driver's canonical value hash dtype-identical (the same
              -- fix events_json_extract needed in round 1)
              CAST(sum(CASE WHEN prev IS NULL
                       OR epoch(date_trunc('second', ts)) - prev > 1800
                       THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_idx
            FROM (
              SELECT event_id, user_id, ts,
                     lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev
              FROM events
            )
        """,
        "feature_exposures": """
            SELECT CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT)
                     AS era,
                   round(corr(l_quantity, l_extendedprice), 6)
                     AS exp_l_quantity,
                   round(corr(l_discount, l_extendedprice), 6)
                     AS exp_l_discount,
                   round(corr(l_tax, l_extendedprice), 6) AS exp_l_tax
            FROM lineitem GROUP BY era
        """,
        "rolling_aggregates": f"""
            SELECT l_orderkey, l_linenumber,
              CASE WHEN count(l_quantity) OVER w5 = 5
                   THEN sum(l_quantity) OVER w5 END AS l_quantity_rolling_sum5,
              CASE WHEN count(l_quantity) OVER w5 = 5
                   THEN min(l_quantity) OVER w5 END AS l_quantity_rolling_min5,
              CASE WHEN count(l_quantity) OVER w5 = 5
                   THEN max(l_quantity) OVER w5 END AS l_quantity_rolling_max5,
              round(CASE WHEN count(l_quantity) OVER w5 = 5
                   THEN stddev_samp(l_quantity) OVER w5 END, 6)
                AS l_quantity_rolling_std5
            FROM lineitem
            WINDOW w5 AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "panel_features": _panel_features_oracle(),
        "resample_ffill": _RESAMPLE_ORACLE,
        "anomaly_flags": _anomaly_flags_oracle(),
        "target_encode_loo": _target_encode_oracle(),
        "quantile_bin": _quantile_bin_oracle(),
        "robust_zscore": """
            WITH li AS (
              SELECT l_orderkey, l_linenumber, l_extendedprice,
                     date_trunc('month', l_shipdate) AS era
              FROM lineitem
            ), med AS (
              SELECT era, quantile_cont(l_extendedprice, 0.5) AS m
              FROM li GROUP BY era
            ), mad AS (
              SELECT li.era,
                     quantile_cont(abs(l_extendedprice - m), 0.5) AS d
              FROM li JOIN med USING (era) GROUP BY li.era
            )
            SELECT l_orderkey, l_linenumber,
                   CASE WHEN d > 0 THEN
                     round((l_extendedprice - m)
                           / (1.4826022185056018 * d), 6)
                   END AS l_extendedprice_rz
            FROM li JOIN med USING (era) JOIN mad USING (era)
        """,
        "winsorize_by_era": """
            WITH b AS (
              SELECT date_trunc('month', l_shipdate) AS era,
                     quantile_cont(l_extendedprice, 0.05) AS lo,
                     quantile_cont(l_extendedprice, 0.95) AS hi
              FROM lineitem GROUP BY era
            )
            SELECT l_orderkey, l_linenumber,
                   round(least(greatest(l_extendedprice, lo), hi), 6)
                     AS clipped
            FROM lineitem JOIN b
              ON date_trunc('month', l_shipdate) = b.era
        """,
        "rank_transformer": f"""
            SELECT l_orderkey, l_linenumber,
              (rank() OVER (PARTITION BY l_shipdate ORDER BY l_quantity)
                 + (count(*) OVER (PARTITION BY l_shipdate, l_quantity) - 1) / 2.0)
                / count(l_quantity) OVER (PARTITION BY l_shipdate) AS l_quantity_rank,
              (rank() OVER (PARTITION BY l_shipdate ORDER BY l_extendedprice)
                 + (count(*) OVER (PARTITION BY l_shipdate, l_extendedprice) - 1) / 2.0)
                / count(l_extendedprice) OVER (PARTITION BY l_shipdate) AS l_extendedprice_rank
            FROM lineitem
        """,
        "lag_transformer": f"""
            SELECT l_orderkey, l_linenumber,
              lag(l_quantity, 10)      OVER w AS l_quantity_lag10,
              lag(l_extendedprice, 10) OVER w AS l_extendedprice_lag10,
              lag(l_quantity, 5)       OVER w AS l_quantity_lag5,
              lag(l_extendedprice, 5)  OVER w AS l_extendedprice_lag5,
              lag(l_quantity, 1)       OVER w AS l_quantity_lag1,
              lag(l_extendedprice, 1)  OVER w AS l_extendedprice_lag1
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
        """,
        "moving_average": f"""
            SELECT l_orderkey, l_linenumber,
              CASE WHEN count(l_quantity) OVER w5 = 5
                   THEN avg(l_quantity) OVER w5 END AS l_quantity_ma5,
              CASE WHEN count(l_quantity) OVER w20 = 20
                   THEN avg(l_quantity) OVER w20 END AS l_quantity_ma20
            FROM lineitem
            WINDOW
              w5 AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
              w20 AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
            """,
        "log_return": f"""
            SELECT l_orderkey, l_linenumber,
              round(ln(l_extendedprice) - lag(ln(l_extendedprice), 1) OVER w, 6)
                AS l_extendedprice_logreturn
            FROM lineitem
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL})
        """,
        "group_stats": """
            WITH base AS (
              SELECT l_orderkey, l_linenumber,
                     l_quantity q, l_extendedprice e, l_discount d, l_tax t,
                     (l_quantity + l_extendedprice + l_discount + l_tax) / 4.0 AS mu
              FROM lineitem
            ), m AS (
              SELECT *,
                ((q-mu)*(q-mu) + (e-mu)*(e-mu) + (d-mu)*(d-mu) + (t-mu)*(t-mu)) AS m2,
                ((q-mu)*(q-mu)*(q-mu) + (e-mu)*(e-mu)*(e-mu)
                 + (d-mu)*(d-mu)*(d-mu) + (t-mu)*(t-mu)*(t-mu)) AS m3,
                (((q-mu)*(q-mu))*((q-mu)*(q-mu)) + ((e-mu)*(e-mu))*((e-mu)*(e-mu))
                 + ((d-mu)*(d-mu))*((d-mu)*(d-mu)) + ((t-mu)*(t-mu))*((t-mu)*(t-mu)))
                  AS m4
              FROM base
            )
            SELECT l_orderkey, l_linenumber,
              mu AS li_groupstats_mean,
              sqrt(m2 / 3.0) AS li_groupstats_std,
              CASE WHEN m2 = 0 THEN 'nan'::DOUBLE ELSE
                4.0/(3.0*2.0)
                  * (m3 / (sqrt(m2/3.0)*sqrt(m2/3.0)*sqrt(m2/3.0)))
              END AS li_groupstats_skew,
              CASE WHEN m2 = 0 THEN 'nan'::DOUBLE ELSE
                4.0*5.0/(3.0*2.0*1.0) * (m4 / ((m2/3.0)*(m2/3.0)))
                - 3.0*9.0/(2.0*1.0)
              END AS li_groupstats_kurt,
              greatest(q,e,d,t) - least(q,e,d,t) AS li_groupstats_range,
              CASE WHEN mu = 0 AND sqrt(m2/3.0) = 0 THEN 'nan'::DOUBLE
                   WHEN mu = 0 THEN 'infinity'::DOUBLE
                   ELSE sqrt(m2/3.0)/mu END AS li_groupstats_cv
            FROM m
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_quantity), 6) AS avg_qty,
              round(avg(l_discount), 6) AS avg_disc,
              count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
    }


def q_rank_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-era weighted rank-ensemble of two 'model' columns."""
    from centimators_spark.ml.ensemble import rank_ensemble

    li = _lineitem(spark, sf_dir).select(
        *KEYS,
        F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate"))).alias(
            "era"
        ),
        F.col("l_quantity").alias("m1"),
        F.col("l_extendedprice").alias("m2"),
    )
    out = rank_ensemble(li, ["m1", "m2"], era_col="era", weights=[2, 1])
    return out.select(*KEYS, "era", "ensemble")


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-mode per-column profile of the documents table."""
    from centimators_spark.profile import table_profile

    docs = load_table(spark, sf_dir, "documents")
    return table_profile(
        docs, ["doc_id", "lang", "source", "n_chars"], exact=True
    )


def q_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative validation report over orders (+ customer FK)."""
    from centimators_spark.validate import (
        foreign_key,
        in_range,
        in_set,
        matches,
        not_null,
        unique,
        validate,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return validate(
        orders,
        [
            not_null("o_orderkey"),
            unique("o_orderkey"),
            in_range("o_totalprice", 0, None),
            in_set("o_orderstatus", ["F", "O", "P"]),
            matches("o_orderpriority", r"^[1-5]-"),
            foreign_key("o_custkey", customer, "c_custkey"),
        ],
    )


def q_corpus_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution shift between the even/odd doc_id halves of the
    corpus (smoothed unigram KL both directions + Jeffreys)."""
    from centimators_spark.text.divergence import corpus_divergence

    docs = load_table(spark, sf_dir, "documents")
    return corpus_divergence(docs, F.col("doc_id") % 2 == 0)


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent values of o_orderpriority (exact mode: full counts +
    shares)."""
    from centimators_spark.profile import heavy_hitters

    return heavy_hitters(
        load_table(spark, sf_dir, "orders"), "o_orderpriority", min_share=0.05
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MI feature screen over coarse integer bins of lineitem numerics
    vs the return flag."""
    from centimators_spark.ml.feature_selection import mutual_information

    li = _lineitem(spark, sf_dir).select(
        F.floor(F.col("l_quantity") / 10).cast("int").alias("qty_bin"),
        F.round(F.col("l_discount") * 100).cast("int").alias("disc_bin"),
        F.round(F.col("l_tax") * 100).cast("int").alias("tax_bin"),
        F.col("l_returnflag").alias("flag"),
    )
    return mutual_information(li, ["qty_bin", "disc_bin", "tax_bin"], "flag")


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line dedup stats (RefinedWeb boilerplate step)."""
    from centimators_spark.text.line_filters import corpus_line_dedup

    return corpus_line_dedup(load_table(spark, sf_dir, "documents"))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES keys):
    100 orders drawn with probability proportional to total price."""
    from centimators_spark.sampling import weighted_sample

    orders = load_table(spark, sf_dir, "orders")
    return weighted_sample(orders, 100, "o_totalprice", "o_orderkey", "ws1").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


def q_conformal_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-month conformal radius (k-th order statistic with the
    finite-sample correction) of the naive-pricer residual."""
    from centimators_spark.ml.conformal import conformal_quantiles

    li = _lineitem(spark, sf_dir).select(
        F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate"))).alias(
            "era"
        ),
        (F.col("l_quantity") * 1000).alias("pred"),
        F.col("l_extendedprice").alias("target"),
    )
    return conformal_quantiles(li, "pred", "target", alpha=0.1, era_col="era")


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each view picks up the user's NEXT purchase value
    at or after it (union + reverse carry window)."""
    from centimators_spark.operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = asof_join_forward(
        views, purchases, on="ts", by="user_id", value_cols=["pvalue"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "value",
        F.unix_timestamp("ts_asof").alias("next_purchase_ts_epoch"),
        F.col("pvalue_asof").alias("next_purchase_value"),
    )


def q_melt_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (UNPIVOT) of three lineitem measures — single
    Expand, zero shuffle."""
    from centimators_spark.base import melt_panel

    li = _lineitem(spark, sf_dir).select(
        *KEYS, "l_quantity", "l_discount", "l_tax"
    )
    return melt_panel(
        li, KEYS, ["l_quantity", "l_discount", "l_tax"]
    )


def q_psi_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI of order status/priority between pre-1996 and
    later orders — the discrete sibling of psi_drift."""
    from centimators_spark.operators.drift import psi_drift_categorical

    orders = load_table(spark, sf_dir, "orders")
    return psi_drift_categorical(
        orders,
        ["o_orderstatus", "o_orderpriority"],
        F.col("o_orderdate") < F.lit(PSI_REF_DATE),
    )


def q_doc_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation of the corpus (RE2-safe shared pattern)."""
    from centimators_spark.text.chunking import doc_sentences

    return doc_sentences(load_table(spark, sf_dir, "documents"))


def q_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type transition table (Markov path analysis);
    final events transition to NULL."""
    from centimators_spark.analytics import transition_counts

    return transition_counts(load_table(spark, sf_dir, "events"))


def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-repeat filter: drop events of the same (user, type)
    arriving within a day of the previous raw event (the synthetic
    stream is sparse — p05 same-key gap is ~2.5 h, so a 1-day window
    actually exercises the filter)."""
    from centimators_spark.analytics import debounce_events

    ev = load_table(spark, sf_dir, "events")
    out = debounce_events(ev, 86400)
    return out.select(
        "event_id", "user_id", "event_type",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-era quantile normalization of extendedprice onto the
    pre-1996 reference distribution (exact-percentile mode)."""
    from centimators_spark.operators.stats import quantile_normalize

    li = _lineitem(spark, sf_dir).select(
        *dict.fromkeys(KEYS + ORDER),
        F.date_trunc("month", F.col("l_shipdate")).alias("era"),
    )
    out = quantile_normalize(
        li,
        "l_extendedprice",
        ref_cond=F.col("l_shipdate") < F.lit(PSI_REF_DATE),
        era_col="era",
        n_points=50,
        order_cols=[c for c in ORDER if c != "l_extendedprice"],
        exact=True,
    )
    return out.select(*KEYS, F.col("l_extendedprice_qnorm").alias("qnorm"))


def q_rolling_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-10 rank of quantity within supplier (bounded-memory
    rank feature; integer-exact)."""
    from centimators_spark.operators.time_series import (
        RollingRankTransformer,
    )

    t = RollingRankTransformer(
        windows=[10],
        feature_names=["l_quantity"],
        ticker_col="l_suppkey",
        order_cols=ORDER,
        output_mode="replace",
        keep_cols=KEYS,
    )
    return t.transform(_lineitem(spark, sf_dir))


def q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold GROUP assignment by supplier (every row of
    a supplier in one fold — the entity-leakage guard)."""
    from centimators_spark.sampling import group_kfold

    li = _lineitem(spark, sf_dir).select(*KEYS, "l_suppkey")
    return group_kfold(li, "l_suppkey", 5, salt="gk1")


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical product names (≤2 substitutions) via pigeonhole
    segment blocking + levenshtein verify, over DISTINCT names keyed
    by their min part id."""
    from centimators_spark.dedup.fuzzy import fuzzy_self_join

    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("name_id"))
    )
    return fuzzy_self_join(names, "p_name", "name_id", max_dist=2)


BM25_TERMS = ["hash", "join", "vector", "stream"]


def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier maximum drawdown of the signed-revenue equity path
    (returned lines negate): one fused window shuffle, integer cents."""
    from centimators_spark.operators.finance import max_drawdown

    li = _lineitem(spark, sf_dir).select(
        "l_suppkey",
        *ORDER,
        F.when(
            F.col("l_returnflag") == "R",
            -F.round(F.col("l_extendedprice") * 100),
        )
        .otherwise(F.round(F.col("l_extendedprice") * 100))
        .alias("signed_cents"),
    )
    return max_drawdown(li, "signed_cents", ORDER, "l_suppkey")


def q_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS of quantity distributions (open vs finished lines)
    per return flag — exact integer numerator contract."""
    from centimators_spark.ml.metrics import ks_two_sample

    li = _lineitem(spark, sf_dir).select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("qty"),
        (F.col("l_linestatus") == "O").alias("is_open"),
    )
    return ks_two_sample(li, "qty", "is_open", "l_returnflag")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed term query."""
    from centimators_spark.text.features import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, BM25_TERMS, k=10)


def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift deciles of discount-as-score against returned-flag
    labels — exact interval arithmetic over the distinct score stream."""
    from centimators_spark.ml.classification_metrics import gains_table

    li = _lineitem(spark, sf_dir).select(
        F.round(F.col("l_discount") * 100).cast("long").alias("score"),
        (F.col("l_returnflag") == "R").alias("label"),
    )
    return gains_table(li, "score", "label", n_buckets=10)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of a supplier co-supply subgraph (edge = two
    suppliers < 300 sharing ≥ 2 parts). Edge build: distinct
    (part, supplier) pairs self-joined per part, aggregated to
    strong-tie edges; the count itself is the degree-oriented
    two-join (graphs.py:167). The supplier cap bounds |V|: this
    synthetic fixture's co-supply graph is COMPLETE over all 1000
    suppliers (every pair shares parts — measured in round 7), and
    triangle counting on a clique is Θ(|V|³) FOR ANY ALGORITHM — it
    is not a skew problem the orientation can fix but a result-size
    property of dense graphs (4.45M triangles on the 300-cap already).
    Real co-occurrence graphs at 100 TB are sparse; for dense cores
    the production guidance is this same cap/threshold pre-filter."""
    from centimators_spark.graphs import triangle_count

    # edge build without the per-part self-join (r13 optimization —
    # the winnowing/sketch map-side pair shape): ONE groupBy collects
    # each part's sorted DISTINCT supplier set (collect_set subsumes
    # the old separate .distinct() shuffle) and the x<y pairs explode
    # map-side — identical (src, dst) multiset, one corpus shuffle
    # instead of three. The isNotNull filter mirrors the old join-key
    # semantics (a NULL part never equi-joined).
    ps_sets = (
        _lineitem(spark, sf_dir)
        .where(
            (F.col("l_suppkey") < 300) & F.col("l_partkey").isNotNull()
        )
        .groupBy("l_partkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("__ss"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("__ss"),
            lambda x, i: F.transform(
                F.slice(F.col("__ss"), i + F.lit(2), F.size(F.col("__ss"))),
                lambda y: F.struct(x.alias("src"), y.alias("dst")),
            ),
        )
    )
    edges = (
        ps_sets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.src").alias("src"), F.col("p.dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
        .select("src", "dst")
    )
    return triangle_count(edges)


def q_prospect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape on this schema: positive-balance customers above
    the global positive-balance average, restricted to a nation-key
    set, with NO RECENT orders (anti-join on the date-filtered order
    stream — every testdata customer has SOME order, so Q22's "never
    ordered" degenerates; "inactive since 1999" keeps the shape and a
    non-trivial result); per nation: count + balance cents. Scalar
    subquery broadcasts; the anti-join shuffles once on custkey."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin([1, 3, 5, 7, 9])
    )
    avg_bal = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("__avg"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("__avg"))
        .join(orders, "c_custkey", "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.round(F.col("c_acctbal") * 100))
            .cast("long")
            .alias("bal_cents"),
        )
    )


def q_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds 0.05% of global
    revenue — grouped integer-cent sums HAVING a broadcast scalar
    threshold (exact: 10000·part_rev > 5·total_rev in cents)."""
    li = _lineitem(spark, sf_dir).select(
        "l_partkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    part_rev = li.groupBy("l_partkey").agg(
        F.sum("cents").alias("rev_cents")
    )
    total = part_rev.agg(F.sum("rev_cents").alias("__tot"))
    return (
        part_rev.crossJoin(F.broadcast(total))
        .where(F.col("rev_cents") * 10000 > F.col("__tot") * 5)
        .select("l_partkey", "rev_cents")
    )


def q_supplier_return_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: per supplier, count multi-supplier orders where
    THIS supplier returned a line (EXISTS) and no other supplier did
    (NOT EXISTS) — the classic double-correlated-exists, expressed as
    one grouped pass over per-(order, supplier) flags: aggregate
    lineitem to (order, supplier, returned?), then per order compare
    each supplier's flag with the others' via order-level totals
    broadcast back (two aggs + one join — no correlated re-scans)."""
    os = (
        _lineitem(spark, sf_dir)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("ret")
        )
    )
    per_order = os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("ret").alias("n_ret"),
    )
    return (
        os.join(per_order, "l_orderkey")
        .where(
            (F.col("n_supp") >= 2)
            & (F.col("ret") == 1)
            & (F.col("n_ret") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


QUALITY_WEIGHTS = {
    "fast": 200_000,
    "slow": -300_000,
    "join": 100_000,
    "scan": -50_000,
    "vector": 150_000,
}
QUALITY_BIAS = -100_000


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated-span removal (exact-substring dedup at
    w-gram granularity) over the documents table."""
    from centimators_spark.text.span_dedup import corpus_span_dedup

    docs = load_table(spark, sf_dir, "documents")
    return corpus_span_dedup(docs, w=8, min_docs=2)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality filter served as one codegen
    expression — integer micro-unit weights, zero shuffles."""
    from centimators_spark.text.classifier import linear_text_score

    docs = load_table(spark, sf_dir, "documents")
    return linear_text_score(docs, QUALITY_WEIGHTS, QUALITY_BIAS)


def q_dspymator_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSPyMator through its REAL distributed inference path — fit
    (field-routing resolution), mapInPandas, per-partition asyncio
    semaphore — with a deterministic pure-arithmetic program
    (answer = 7·qty + cents mod 97, stringified) that DuckDB
    bit-mirrors. The one §2.1 operator that had no driver row: the LLM
    call is the only part swapped out (no dspy/network in the
    container); signature routing, predict's target-only projection,
    and the executor batch shape are the production code.

    Input is the deterministic 1%-of-orders slice (l_orderkey % 100):
    the per-ROW Python program call is the semantics of an LLM
    estimator — production cost is the API calls, and the contract
    needs path coverage, not row volume (the full table would spend
    ~2 bench-minutes in asyncio bookkeeping that ships nothing)."""
    from centimators_spark.ml.dspymator import (
        DSPyMator,
        arithmetic_demo_program,
    )

    li = _lineitem(spark, sf_dir).where(
        F.col("l_orderkey") % 100 == 0
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").cast("string").alias("qty"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("cents"),
    )
    mator = DSPyMator(
        program=arithmetic_demo_program(),
        target_names="answer",
        feature_names=["qty", "cents"],
        keep_cols=["l_orderkey", "l_linenumber"],
        max_concurrent=8,
    )
    return mator.fit(li).predict(li)


DSPYMATOR_CONTRACT_ORACLE = """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_quantity AS BIGINT) * 7
                + CAST(round(l_extendedprice * 100) AS BIGINT) % 97
                AS VARCHAR) AS answer
    FROM lineitem
    WHERE l_orderkey % 100 = 0
"""


RRF_TOPN = 20  # depth of each retriever's list feeding the fusion


def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 and exact-cosine vector
    top-20 (query = embedding 0) fused by reciprocal rank (K=60,
    integer ppb carriers), top-10 out. The RAG-corpus hybrid-search
    shape: both retrievers are the engine's existing scale paths; the
    fusion itself is a union of two ≤20-row lists — its windows are
    bounded by the list depth, never by the corpus."""
    from centimators_spark.similarity.ann import brute_force_topk
    from centimators_spark.similarity.fusion import rrf_fuse
    from centimators_spark.text.features import bm25_topk
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, BM25_TERMS, k=RRF_TOPN).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        ),
    )
    q0 = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = brute_force_topk(emb, q0, k=RRF_TOPN).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, vec], k=10)


def _hybrid_rrf_oracle() -> str:
    from centimators_spark.plans.datapipe_queries import _cos
    from centimators_spark.text.features import bm25_topk_oracle_sql

    bm25 = bm25_topk_oracle_sql(BM25_TERMS, k=RRF_TOPN)
    return f"""
        WITH lex AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
          FROM ({bm25}) b
        ), e AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ), q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        vec AS (
          SELECT vec_id AS doc_id,
                 row_number() OVER (
                   ORDER BY {_cos('q.qv', 'e.v')} DESC, vec_id) AS rank
          FROM e CROSS JOIN q WHERE e.vec_id <> 0
          ORDER BY rank LIMIT {RRF_TOPN}
        ), contrib AS (
          SELECT doc_id,
                 CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c
          FROM lex
          UNION ALL
          SELECT doc_id,
                 CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c
          FROM vec
        )
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_ppb,
               CAST(count(*) AS BIGINT) AS n_lists
        FROM contrib GROUP BY doc_id
        ORDER BY rrf_ppb DESC, doc_id LIMIT 10
    """


def q_topk_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month turnover of the top-25 suppliers by revenue —
    the portfolio-churn diagnostic over era-ranked selections (rank
    window per era + tiny self-join of the top-k table against its
    era-shifted image)."""
    from centimators_spark.analytics import topk_turnover

    li = _lineitem(spark, sf_dir).withColumn(
        "month", F.date_trunc("month", F.col("l_shipdate"))
    )
    return topk_turnover(
        li,
        "month",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        k=25,
    )


def _topk_turnover_oracle() -> str:
    from centimators_spark.analytics import topk_turnover_oracle_sql

    return topk_turnover_oracle_sql(
        "lineitem",
        "date_trunc('month', l_shipdate)",
        "l_suppkey",
        "CAST(round(l_extendedprice * 100) AS BIGINT)",
        k=25,
    )


def q_ic_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC decay curve: Spearman rank-persistence of monthly supplier
    revenue at horizons 1–3 months, averaged per horizon over months —
    exact ranks, 6dp per-month ICs riding BIGINT micro-units into the
    mean."""
    from centimators_spark.ml.metrics import ic_decay

    li = _lineitem(spark, sf_dir).withColumn(
        "month", F.date_trunc("month", F.col("l_shipdate"))
    )
    return ic_decay(
        li,
        "month",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        horizons=(1, 2, 3),
    )


def _ic_decay_oracle() -> str:
    from centimators_spark.ml.metrics import ic_decay_oracle_sql

    return ic_decay_oracle_sql(
        "lineitem",
        "date_trunc('month', l_shipdate)",
        "l_suppkey",
        "CAST(round(l_extendedprice * 100) AS BIGINT)",
        horizons=(1, 2, 3),
    )


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling (4 negatives per
    doc) — pure keyed-md5 bucket/probe/pair hashing, reproducible and
    partition-invariant, one bucket equi-join + one min-struct argmin.
    n_buckets="auto" sizes the bucket count ∝ N (one count job; the
    oracle mirrors it with a scalar subquery), holding the per-probe
    fan-out at ~16 members at ANY corpus size — the 10x sweep measured
    52x wall-clock on a fixed bucket count before this. A probe
    landing on an empty/anchor-only bucket yields no row for that rank
    — deterministic, oracle-mirrored."""
    from centimators_spark.sampling import negative_sample

    docs = load_table(spark, sf_dir, "documents")
    return negative_sample(docs, "doc_id", k=4, n_buckets="auto")


def _negative_sample_oracle() -> str:
    from centimators_spark.sampling import negative_sample_oracle_sql

    return negative_sample_oracle_sql(
        "documents", "doc_id", k=4, n_buckets="auto"
    )


def q_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panel gap filling by LINEAR interpolation (the ffill sibling,
    `q_resample_ffill`): daily per-supplier quantity densified onto each
    supplier's own spine, gaps time-weighted between their bracketing
    observations; leading/trailing gaps stay null. Two O(n) window
    passes (asc + desc running last-non-null) share the supplier
    shuffle — never an O(n²) unbounded-FOLLOWING frame. The only
    inexact op is the final division (one IEEE rounding), 6dp-rounded
    in both engines."""
    from centimators_spark.operators.resample import resample_panel

    daily = (
        _lineitem(spark, sf_dir)
        .groupBy("l_suppkey", F.to_date("l_shipdate").alias("d"))
        .agg(F.sum("l_quantity").alias("qty"))
    )
    out = resample_panel(
        daily,
        ticker_col="l_suppkey",
        date_col="d",
        value_cols=["qty"],
        fill="linear",
    )
    return out.select(
        "l_suppkey",
        F.unix_timestamp(F.col("d").cast("timestamp")).alias("d_epoch"),
        F.round("qty", 6).alias("qty_lin"),
        "is_observed",
    )


_LINEAR_INTERP_ORACLE = """
    WITH daily AS (
      SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
             sum(l_quantity) AS qty
      FROM lineitem GROUP BY 1, 2
    ), b AS (
      SELECT l_suppkey, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1
    ), spine AS (
      SELECT l_suppkey,
             CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM b
    ), joined AS (
      SELECT s.l_suppkey, s.d, daily.qty,
             CASE WHEN daily.l_suppkey IS NULL THEN 0 ELSE 1 END
               AS is_observed
      FROM spine s LEFT JOIN daily
        ON s.l_suppkey = daily.l_suppkey AND s.d = daily.d
    ), br AS (
      SELECT l_suppkey, d, is_observed,
             last_value(qty IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN qty IS NOT NULL THEN d END IGNORE NULLS)
               OVER wb AS pd,
             first_value(qty IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN qty IS NOT NULL THEN d END IGNORE NULLS)
               OVER wf AS nd
      FROM joined
      WINDOW wb AS (PARTITION BY l_suppkey ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY l_suppkey ORDER BY d
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT l_suppkey,
           CAST(epoch(CAST(d AS TIMESTAMP)) AS BIGINT) AS d_epoch,
           round(CASE WHEN nd - pd = 0 THEN pv
                      ELSE pv + ((nv - pv) * (d - pd)) / (nd - pd)
                 END, 6) AS qty_lin,
           is_observed
    FROM br
"""


def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D skyline: parts Pareto-minimal in (p_size,
    cheapest-observed line price) — no other part of the brand is both
    as small and as cheap with one strict. Per-part min price from one
    fact aggregation, brand/size broadcast from the part dim, then the
    two skyline window minima (strict-predecessor RANGE frame on the
    integer size carrier) — no pairwise comparison, no global
    single-partition window."""
    from centimators_spark.operators.skyline import skyline_2d

    min_price = (
        _lineitem(spark, sf_dir)
        .groupBy("l_partkey")
        .agg(
            F.min(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "min_price_cents"
            )
        )
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", F.col("p_size").cast("long").alias("p_size")
    )
    pts = min_price.join(
        F.broadcast(part),
        min_price["l_partkey"] == part["p_partkey"],
    ).select("p_brand", "p_partkey", "p_size", "min_price_cents")
    return skyline_2d(pts, "p_brand", "p_size", "min_price_cents")


def _pareto_front_oracle() -> str:
    from centimators_spark.operators.skyline import skyline_2d_oracle_sql

    base = (
        "(SELECT p_brand, p_partkey, CAST(p_size AS BIGINT) AS p_size,"
        " m.min_price_cents"
        " FROM part JOIN (SELECT l_partkey,"
        "   CAST(min(round(l_extendedprice * 100)) AS BIGINT)"
        "     AS min_price_cents"
        "   FROM lineitem GROUP BY 1) m ON p_partkey = l_partkey) t"
    )
    return skyline_2d_oracle_sql(
        base,
        group_sql="p_brand",
        x_sql="p_size",
        y_sql="min_price_cents",
        select_sql="p_brand, p_partkey, p_size, min_price_cents",
    )


def q_feature_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs Pearson correlation of the four lineitem features in
    ONE map-side-combinable grand aggregate on exact DECIMAL(38,0)
    moments, unpivoted to (feat_a, feat_b, n, corr) — the collinearity
    screen before neutralization. The shuffle moves 15 decimals per
    upstream partition, never rows."""
    from centimators_spark.operators.stats import corr_matrix

    li = _lineitem(spark, sf_dir)
    out = corr_matrix(
        li,
        {
            "qty": F.col("l_quantity"),
            "price_c": F.round(F.col("l_extendedprice") * 100),
            "disc_c": F.round(F.col("l_discount") * 100),
            "tax_c": F.round(F.col("l_tax") * 100),
        },
    )
    return out.select(
        "feat_a", "feat_b", "n", F.round("corr", 6).alias("corr")
    )


def _feature_corr_matrix_oracle() -> str:
    from centimators_spark.operators.stats import corr_matrix_oracle_sql

    inner = corr_matrix_oracle_sql(
        "lineitem",
        {
            "qty": "l_quantity",
            "price_c": "round(l_extendedprice * 100)",
            "disc_c": "round(l_discount * 100)",
            "tax_c": "round(l_tax * 100)",
        },
    )
    return (
        f"SELECT feat_a, feat_b, n, round(corr, 6) AS corr FROM ({inner})"
    )


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the monthly
    per-supplier quantity panel (centered 13-month MA trend,
    month-of-year seasonal, residual) — one WindowExec on the
    (supplier, month) sort plus a broadcast-back seasonal table. The
    detrended stream rides the integer numerator w·v − S, so each
    output is a single fixed-order division — bit-exact cross-engine
    before the 6dp rounding."""
    from centimators_spark.operators.decompose import seasonal_decompose

    monthly = (
        _lineitem(spark, sf_dir)
        .groupBy(
            "l_suppkey", F.date_trunc("month", F.col("l_shipdate")).alias("m")
        )
        .agg(F.sum("l_quantity").alias("v"))
    )
    out = seasonal_decompose(
        monthly,
        group_col="l_suppkey",
        order_col="m",
        value_col="v",
        period=F.month("m"),
        window=13,
    )
    return out.select(
        "l_suppkey",
        F.unix_timestamp("m").alias("m_epoch"),
        "v",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round("residual", 6).alias("residual"),
    )


def _seasonal_decompose_oracle() -> str:
    from centimators_spark.operators.decompose import (
        seasonal_decompose_oracle_sql,
    )

    inner = seasonal_decompose_oracle_sql(
        "(SELECT l_suppkey, date_trunc('month', l_shipdate) AS m,"
        " sum(l_quantity) AS v FROM lineitem GROUP BY 1, 2) t",
        group_sql="l_suppkey",
        order_sql="m",
        value_sql="v",
        period_sql="month(m)",
        window=13,
    )
    return f"""
        SELECT grp AS l_suppkey,
               CAST(epoch(CAST(ord AS TIMESTAMP)) AS BIGINT) AS m_epoch,
               v, round(trend, 6) AS trend,
               round(seasonal, 6) AS seasonal,
               round(residual, 6) AS residual
        FROM ({inner})
    """


def q_xicor_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ rank correlation (tie-aware) of extendedprice
    against quantity per month — the modern nonlinear-dependence
    screen Pearson/Spearman miss (detects y = f(x) for ANY measurable
    f). Integer rank counts via value-RANGE windows, DECIMAL(38,0)
    sums, one division; all three windows partition by the month key.
    Tied x order pinned by (orderkey, linenumber)."""
    from centimators_spark.ml.metrics import xicor

    li = _lineitem(spark, sf_dir).withColumn(
        "era", F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate")))
    )
    out = xicor(
        li,
        "era",
        F.col("l_quantity"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
        ["l_orderkey", "l_linenumber"],
    )
    return out.select("era", "n", F.round("xi", 6).alias("xi"))


def _xicor_oracle() -> str:
    from centimators_spark.ml.metrics import xicor_oracle_sql

    inner = xicor_oracle_sql(
        "lineitem",
        "CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT)",
        "l_quantity",
        "CAST(round(l_extendedprice * 100) AS BIGINT)",
        ["l_orderkey", "l_linenumber"],
    )
    return (
        f"SELECT grp AS era, n, round(xi, 6) AS xi FROM ({inner})"
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment near-dups (doc-inside-doc):
    |grams(src) ∩ grams(dst)| / |grams(src)| ≥ 0.8 over the documents
    table — same inverted-index blocking as dedup_ngram_jaccard, one
    shared-gram count feeding both directions. df_cap=100 is the
    load-bearing stop-gram guard: the x10 scale build (each doc ~10
    near-copies) showed the uncapped gram self-join going quadratic
    in duplicate-cluster size — exactly the boilerplate pathology the
    cap exists for; the oracle mirrors the capped index."""
    from centimators_spark.dedup.jaccard import ngram_containment_pairs

    return ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"),
        n=3,
        threshold=0.8,
        df_cap=100,
    )


def q_best_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini decision-stump search over three lineitem features
    vs the returned-flag label — distinct-value-stream cumulative
    counts, IEEE-division-only scoring (no transcendentals), argmin
    via min-struct."""
    from centimators_spark.ml.splits import best_split

    li = _lineitem(spark, sf_dir)
    return best_split(
        li,
        {
            "quantity": F.col("l_quantity"),
            "discount_pct": F.round(F.col("l_discount") * 100),
            "tax_pct": F.round(F.col("l_tax") * 100),
        },
        F.col("l_returnflag") == "R",
    )


def _containment_pairs_oracle() -> str:
    from centimators_spark.plans.datapipe_queries import _GRAMS_CTE

    return f"""
        WITH {_GRAMS_CTE},
        inv AS (SELECT doc_id, unnest(gs) AS g FROM grams),
        keep AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 100),
        cinv AS (SELECT doc_id, g FROM inv JOIN keep USING (g)),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                  FROM cinv GROUP BY doc_id),
        shared AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2,
                 CAST(count(*) AS BIGINT) AS c
          FROM cinv a JOIN cinv b
            ON a.g = b.g AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), sized AS (
          SELECT d1, d2, c, s1.n AS n1, s2.n AS n2
          FROM shared
          JOIN sizes s1 ON s1.doc_id = d1
          JOIN sizes s2 ON s2.doc_id = d2
        ), dirs AS (
          SELECT d1 AS src, d2 AS dst,
                 CAST(c AS DOUBLE) / n1 AS containment FROM sized
          UNION ALL
          SELECT d2, d1, CAST(c AS DOUBLE) / n2 FROM sized
        )
        SELECT src, dst, containment FROM dirs WHERE containment >= 0.8
    """


def _best_split_oracle() -> str:
    from centimators_spark.ml.splits import best_split_oracle_sql

    return best_split_oracle_sql(
        "lineitem",
        {
            "quantity": "l_quantity",
            "discount_pct": "round(l_discount * 100)",
            "tax_pct": "round(l_tax * 100)",
        },
        "l_returnflag = 'R'",
    )


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: greedy prefix of the global
    quality ordering (linear classifier score desc, doc_id tiebreak)
    until 40% of the corpus's tokens are spent — the two-phase
    cell-cumsum template, so no task ever sorts the whole corpus."""
    from centimators_spark.text.classifier import linear_text_score
    from centimators_spark.text.selection import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    scored = linear_text_score(docs, QUALITY_WEIGHTS, QUALITY_BIAS)
    return token_budget_select(scored, budget_frac=0.4)


def _budget_select_oracle() -> str:
    from centimators_spark.text.classifier import linear_text_score_oracle_sql
    from centimators_spark.text.selection import (
        token_budget_select_oracle_sql,
    )

    scored = linear_text_score_oracle_sql(QUALITY_WEIGHTS, QUALITY_BIAS)
    return token_budget_select_oracle_sql(f"({scored})", budget_frac=0.4)


def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained AND served
    on the document corpus in one lazy plan — one (label, token) count
    aggregation, broadcast V×K log-prob table, per-doc argmax on exact
    micro-unit integer scores with label-asc tie-break."""
    from centimators_spark.ml.naive_bayes import naive_bayes_classify

    docs = load_table(spark, sf_dir, "documents")
    return naive_bayes_classify(docs, "lang")


def _naive_bayes_oracle() -> str:
    from centimators_spark.ml.naive_bayes import naive_bayes_oracle_sql

    return naive_bayes_oracle_sql("documents", "lang")


def q_kcore_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the near-duplicate graph (MinHash-LSH pairs at the
    dedup threshold): iterative peeling strips singly-linked docs so
    only DENSE boilerplate families remain — the "which dup families
    are cliques, not chains" triage a dedup report needs. Fixed
    8-round peel (converges well before that here; asserted in unit
    tests), each round one degree aggregation + two semi-joins on the
    monotonically shrinking edge set (kcore pins the edge list
    itself)."""
    from centimators_spark.graphs import kcore
    from centimators_spark.plans.datapipe_queries import q_dedup_minhash_lsh

    edges = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    return kcore(edges, k=2, rounds=8)


def _kcore_oracle() -> str:
    from centimators_spark.graphs import kcore_oracle_sql
    from centimators_spark.plans.datapipe_queries import (
        _JACCARD_PAIRS,
        MINHASH_T,
    )

    edges = (
        f"(SELECT d1 AS src, d2 AS dst FROM ({_JACCARD_PAIRS})"
        f" WHERE jaccard >= {MINHASH_T})"
    )
    return kcore_oracle_sql(edges, k=2, rounds=8)


def q_signal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-short QUINTILE backtest of a revenue-momentum signal on the
    monthly supplier panel: per-era integer rank cuts pick the top and
    bottom quintiles (eras smaller than n_bins rows are dropped), forward 1-month returns ride micro-unit integers,
    and the per-era spread plus its cumulative sum come out bit-exact
    (one era rank window + one map-side (era,bin) aggregation + one
    window over one-row-per-era)."""
    from centimators_spark.ml.backtest import long_short_backtest

    li = _lineitem(spark, sf_dir)
    monthly = li.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).alias("m"),
        "l_suppkey",
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
            "rev_c"
        )
    )
    w = Window.partitionBy("l_suppkey").orderBy("m")
    panel = monthly.select(
        F.unix_timestamp("m").alias("era"),
        F.col("l_suppkey").alias("tkr"),
        F.col("rev_c").alias("sig"),
        F.round(
            (F.lead("rev_c", 1).over(w) - F.col("rev_c")).cast("double")
            * 1e6
            / F.col("rev_c").cast("double")
        ).cast("long").alias("ret_u"),
    )
    return long_short_backtest(panel, "era", "tkr", "sig", "ret_u", n_bins=5)


def _signal_backtest_oracle() -> str:
    from centimators_spark.ml.backtest import long_short_backtest_oracle_sql

    panel = """(
      WITH monthly AS (
        SELECT date_trunc('month', l_shipdate) AS m, l_suppkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM lineitem GROUP BY 1, 2
      )
      SELECT CAST(epoch(m) AS BIGINT) AS era, l_suppkey AS tkr,
             rev_c AS sig,
             CAST(round(CAST(lead(rev_c) OVER (PARTITION BY l_suppkey
                    ORDER BY m) - rev_c AS DOUBLE) * 1e6
                  / CAST(rev_c AS DOUBLE)) AS BIGINT) AS ret_u
      FROM monthly
    )"""
    return long_short_backtest_oracle_sql(panel, n_bins=5)


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two exact Lloyd rounds over the embedding table (k=4, seeds =
    lowest-id vectors): integer micro-unit distances, half-up integer
    centroid means, min-struct argmin — each assignment is one codegen
    scan with literal centroids (no join/shuffle), each update one
    (cluster, position) aggregation collected at k·d rows."""
    from centimators_spark.similarity.kmeans import kmeans_lloyd_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_exact(emb, "embedding", "vec_id", k=4, iters=2)


def _kmeans_oracle() -> str:
    from centimators_spark.similarity.kmeans import kmeans_lloyd_oracle_sql

    return kmeans_lloyd_oracle_sql(
        "embeddings", "embedding", "vec_id", k=4, iters=2, dim=64
    )


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label serving: exact cosine top-10 neighbors (the
    ann_cosine_topk path) + integer majority vote with
    (votes desc, label asc) tie-break — queries broadcast, one corpus
    scan, vote aggregation over k rows per query."""
    from centimators_spark.similarity.knn import knn_classify

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return knn_classify(emb, queries, k=10)


def _knn_oracle() -> str:
    from centimators_spark.similarity.knn import knn_classify_oracle_sql

    return knn_classify_oracle_sql("embeddings", n_queries=20, k=10)


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence of (lang x source) on the
    document corpus — one (r,c) count aggregation collapses the data,
    the full r x c grid (zero cells included) is built from the cell
    table, and the statistic is an exact 6dp micro-unit integer sum."""
    from centimators_spark.profile import chi2_independence

    docs = load_table(spark, sf_dir, "documents")
    return chi2_independence(docs, "lang", "source")


def _chi2_oracle() -> str:
    from centimators_spark.profile import chi2_independence_oracle_sql

    return chi2_independence_oracle_sql("documents", "lang", "source")


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship / golden-record construction over the event stream:
    one row per user with last-non-null + first-non-null picks (ONE
    struct max/min each — no window, no sort), exact micro-unit
    extremes, and null-audit flags; the whole operator is a single
    map-side-combinable aggregation on the cluster key."""
    from centimators_spark.dedup.survivorship import golden_record

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_u"),
        F.round(F.col("value") * 1e6).cast("long").alias("value_u"),
    )
    return golden_record(
        ev,
        "user_id",
        {
            "last_type": ("last_non_null", "event_type"),
            "first_value_u": ("first_non_null", "value_u"),
            "max_value_u": ("max", "value_u"),
            "n_events": ("count", "event_id"),
            "n_values": ("count", "value_u"),
            "had_null_value": ("any_null", "value_u"),
        },
        order_col="ts_u",
        tie_col="event_id",
    )


def _golden_record_oracle() -> str:
    from centimators_spark.dedup.survivorship import golden_record_oracle_sql

    base = (
        "(SELECT user_id, event_id, event_type,"
        " CAST(epoch_us(ts) AS BIGINT) AS ts_u,"
        " CAST(round(value * 1e6) AS BIGINT) AS value_u FROM events) t"
    )
    return golden_record_oracle_sql(
        base,
        "user_id",
        {
            "last_type": ("last_non_null", "event_type"),
            "first_value_u": ("first_non_null", "value_u"),
            "max_value_u": ("max", "value_u"),
            "n_events": ("count", "event_id"),
            "n_values": ("count", "value_u"),
            "had_null_value": ("any_null", "value_u"),
        },
        order_sql="ts_u",
        tie_sql="event_id",
    )


def q_vector_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THIRD composed flagship — the vector-corpus pipeline: SemDeDup
    sign-LSH semantic dedup (keep min-id representatives) feeding two
    exact Lloyd k-means rounds over the surviving vectors, with
    per-cluster majority-label purity. One lazy plan end-to-end; the
    oracle composes the semantic_dedup twin INSIDE the unrolled kmeans
    twin. Cluster assignment scans carry literal centroids (no join);
    the dedup join is LSH-bucketed, never all-pairs."""
    from centimators_spark.dedup.semantic import semantic_dedup
    from centimators_spark.plans.datapipe_queries import (
        EMB_DIM,
        SEMDEDUP_PLANES,
        SEMDEDUP_T,
    )
    from centimators_spark.similarity.kmeans import kmeans_lloyd_exact

    emb = load_table(spark, sf_dir, "embeddings")
    kept = semantic_dedup(
        emb, dim=EMB_DIM, threshold=SEMDEDUP_T, n_planes=SEMDEDUP_PLANES
    ).select("vec_id")
    deduped = emb.join(kept, "vec_id")
    return kmeans_lloyd_exact(deduped, k=4, iters=2, label_col="label")


def _vector_pipeline_oracle() -> str:
    from centimators_spark.dedup.semantic import semantic_dedup_oracle_sql
    from centimators_spark.plans.datapipe_queries import (
        EMB_DIM,
        SEMDEDUP_PLANES,
        SEMDEDUP_T,
    )
    from centimators_spark.similarity.kmeans import kmeans_lloyd_oracle_sql

    dedup = semantic_dedup_oracle_sql(
        "embeddings",
        dim=EMB_DIM,
        threshold=SEMDEDUP_T,
        n_planes=SEMDEDUP_PLANES,
    )
    table = (
        "(SELECT e.vec_id, e.embedding, e.label FROM embeddings e"
        f" JOIN ({dedup}) kd ON kd.vec_id = e.vec_id)"
    )
    return kmeans_lloyd_oracle_sql(
        table, "embedding", "vec_id", k=4, iters=2, dim=EMB_DIM,
        label_sql="label",
    )


def staged_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Queries implemented and gate-checked (tests/test_staged_queries.py,
    `check_oracle --staged`) but not declared to the driver."""
    return {
        "plan_join_contract": q_plan_join_contract,
        "cdc_scd2_audit": q_cdc_scd2_audit,
        "dd_sketch_contract": q_dd_sketch_contract,
        "incr_agg_maintain": q_incr_agg_maintain,
    }


def staged_oracle_sql() -> dict[str, str]:
    """Oracle texts for staged_queries()."""
    return {
        "plan_join_contract": _PLAN_JOIN_CONTRACT_ORACLE,
        "cdc_scd2_audit": _cdc_scd2_audit_oracle(),
        "dd_sketch_contract": _DD_SKETCH_CONTRACT_ORACLE,
        "incr_agg_maintain": _incr_agg_maintain_oracle(),
    }


def q_bootstrap_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-value / NULL gate contract (r10 verdict item 3): the
    one-pass Poisson-bootstrap CI over SIGNED event values — even
    event_ids are negated, every 7th value is NULL — so replicate
    means land on BOTH sides of zero and the TRUNCATE-toward-zero
    division spec (DuckDB HUGEINT ``//``) plus the both-engines NULL
    exclusion are exercised by the driver gate every round, not only
    by the review regression tests. A deliberate floor-for-truncate
    swap flips this entry red locally
    (tests/test_round11_ops.py::test_signed_gate_contracts)."""
    from centimators_spark.ml.bootstrap import bootstrap_mean_ci

    ev = _signed_events(spark, sf_dir)
    return bootstrap_mean_ci(ev, "event_type", "event_id", "sv")


def _signed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared signed/NULL derivation behind every signed gate
    contract (bootstrap_signed / mwu_signed / sign_permutation): even
    event_ids negated, every 7th value NULL — one Spark twin of
    _SIGNED_EVENTS_SQL so the three contracts can never
    desynchronize from each other."""
    return load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        "user_id",
        F.when(
            F.col("event_id") % 7 != 0,
            F.col("value")
            * F.when(F.col("event_id") % 2 == 0, -1).otherwise(1),
        ).alias("sv"),
    )


_SIGNED_EVENTS_SQL = (
    "(SELECT event_type, event_id, user_id,"
    " CASE WHEN event_id % 7 <> 0 THEN value *"
    " (CASE WHEN event_id % 2 = 0 THEN -1 ELSE 1 END) END AS sv"
    " FROM events)"
)


def _bootstrap_signed_oracle() -> str:
    from centimators_spark.ml.bootstrap import bootstrap_mean_ci_oracle_sql

    return bootstrap_mean_ci_oracle_sql(
        _SIGNED_EVENTS_SQL, "event_type", "event_id", "sv"
    )


def q_mwu_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second signed/NULL gate contract: Mann-Whitney over the same
    signed derivation with a NON-0/1 integer side (user_id % 3 — the
    truthy normalization is itself gate-visible): negative
    centi-values flow through the rank window, and NULL values are
    excluded identically on both engines (Spark ranks NULLs first,
    DuckDB last — the parity class the round-10 self-review caught)."""
    from centimators_spark.operators.mwu import mann_whitney_u

    ev = _signed_events(spark, sf_dir).withColumn(
        "side3", (F.col("user_id") % 3).cast("int")
    )
    return mann_whitney_u(ev, "event_type", "side3", "sv")


def _mwu_signed_oracle() -> str:
    from centimators_spark.operators.mwu import mann_whitney_u_oracle_sql

    return mann_whitney_u_oracle_sql(
        _SIGNED_EVENTS_SQL, "event_type", "CAST(user_id % 3 AS INTEGER)", "sv"
    )


def _nullkey_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-resampling-KEY derivation (r11 verdict item 2): the
    signed/NULL event stream with every 11th ``event_id`` NULLed, so
    rows with NULL *keys* — not just NULL values — flow into every
    hash-keyed resampling kernel. Twin of _NULLKEY_EVENTS_SQL."""
    return _signed_events(spark, sf_dir).withColumn(
        "nid",
        F.when(F.col("event_id") % 11 != 0, F.col("event_id")),
    )


_NULLKEY_EVENTS_SQL = (
    "(SELECT event_type, user_id, sv,"
    " CASE WHEN event_id % 11 <> 0 THEN event_id END AS nid"
    f" FROM {_SIGNED_EVENTS_SQL} se)"
)


def q_bootstrap_nullkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-key gate contract (r11 verdict item 2 — the round-11
    self-review's blind-spot class made DRIVER-visible): the Poisson
    bootstrap CI and the bottom-k quantile sample sketch over a
    derivation that NULLs every 11th resampling key. A NULL key has
    no deterministic draw/hash: before commit 307fcfd the Spark
    when-chain fell through to Poisson weight 8 (oracle: 0) and NULL
    md5 keys filled the NULLS-FIRST bottom-k sample (oracle: NULLS
    LAST, none) — this entry turns red if either exclusion regresses
    (tests/test_round12_ops.py::test_bootstrap_nullkey_contract
    proves the red path with a deliberate fall-through weight)."""
    from centimators_spark.ml.bootstrap import bootstrap_mean_ci
    from centimators_spark.sketches import bottomk_quantile_sketch

    ev = _nullkey_events(spark, sf_dir)
    boot = bootstrap_mean_ci(ev, "event_type", "nid", "sv")
    bq = bottomk_quantile_sketch(ev, "event_type", "nid", "sv").drop(
        "n_rows"  # identical exclusion rule ⇒ identical n_rows
    )
    return boot.join(bq, "grp")


def _bootstrap_nullkey_oracle() -> str:
    from centimators_spark.ml.bootstrap import bootstrap_mean_ci_oracle_sql
    from centimators_spark.sketches import bottomk_quantile_oracle_sql

    boot = bootstrap_mean_ci_oracle_sql(
        _NULLKEY_EVENTS_SQL, "event_type", "nid", "sv"
    )
    bq = bottomk_quantile_oracle_sql(
        _NULLKEY_EVENTS_SQL, "event_type", "nid", "sv"
    )
    return f"""
        SELECT b.*, k.k_eff,
               k.q25_sample, k.q50_sample, k.q75_sample,
               k.q25_exact, k.q50_exact, k.q75_exact
        FROM ({boot}) b JOIN ({bq}) k ON b.grp = k.grp
    """


def q_duplicated_spans_multi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-resolution duplicated-substring profile (r10 verdict item
    4): duplicated_spans at L ∈ {8, 16, 32} from ONE tokenize + ONE
    md5 pass — longer-run fingerprints are lead-combined from the
    base positional grams, so span boundaries stop quantizing to a
    single gram size (dedup/substring.duplicated_spans_multi). Still
    NO pair join: cost independent of corpus duplication."""
    from centimators_spark.dedup.substring import duplicated_spans_multi

    return duplicated_spans_multi(load_table(spark, sf_dir, "documents"))


DSIR_TARGET = "source IN ('src0', 'src1', 'src2', 'src3')"


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): pick the 50
    proposal documents most like the target sources by hashed-bigram
    importance log-ratio + deterministic Gumbel top-k — the
    model-free pretraining-data selection operator
    (text/dsir.dsir_select). Bucket table built in ONE corpus pass
    and broadcast; exact micro-unit weights; selection is
    TakeOrdered."""
    from centimators_spark.text.dsir import dsir_select

    return dsir_select(
        load_table(spark, sf_dir, "documents"), DSIR_TARGET
    )


def q_bottomk_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k quantile sample sketch (sketches.py) — the mergeable
    quantile primitive (fifth sketch family beside HLL / count-min /
    percentile / theta): per order priority, q25/q50/q75 of the order
    value from the k=64 rows with the smallest portable md5(orderkey)
    — a partition-independent uniform sample that merges by union +
    re-truncate — with the EXACT full-group quantiles riding along as
    the accuracy witness. Fully deterministic: the whole sketch
    hash-matches the oracle."""
    from centimators_spark.sketches import bottomk_quantile_sketch

    return bottomk_quantile_sketch(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
    )


def q_sign_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass sign-flip permutation test (ml/bootstrap.
    permutation_sign_test) over the SAME signed/NULL event derivation
    the gate contracts use — per event type, is the signed mean
    distinguishable from 0? One md5 bit per (row, replicate), exact
    integer exceedance counts, corpus scanned once for all 32
    replicates. The resampling-family sibling of bootstrap_ci (CI)
    and sprt_audit (sequential): the permutation answer to 'is this
    lift real'."""
    from centimators_spark.ml.bootstrap import permutation_sign_test

    ev = _signed_events(spark, sf_dir)
    return permutation_sign_test(ev, "event_type", "event_id", "sv")


TSA_WEIGHTS = {"train": 0.9, "val": 0.1}
TSA_SALT = "tsa1"
TSA_N = 5


def q_training_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fourth composed flagship — train/val split with a cross-split
    LEAKAGE audit, the step every eval pipeline needs between
    splitting and training: deterministic hash split (same key ⇒ same
    split under any partitioning), then every TRAIN document's
    distinct 5-grams are checked against the VAL side's broadcast
    gram set (the decontamination kernel pointed at the pipeline's
    own held-out split instead of an external benchmark). Output: one
    row per train doc (doc_id, n_grams, n_hits, contamination,
    leaked) — `leaked` docs share at least one 5-gram with val and
    would inflate eval scores if trained on. The val side is the
    broadcast side; the corpus side streams one scan."""
    from centimators_spark.dedup.contamination import ngram_contamination
    from centimators_spark.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    tagged = hash_split(docs, "doc_id", TSA_WEIGHTS, salt=TSA_SALT)
    train = tagged.where(F.col("split") == "train")
    val = tagged.where(F.col("split") == "val")
    rep = ngram_contamination(train, val, n=TSA_N)
    return rep.select(
        "doc_id",
        "n_grams",
        "n_hits",
        "contamination",
        (F.col("n_hits") > 0).cast("int").alias("leaked"),
    )


def _training_split_audit_oracle() -> str:
    from centimators_spark.dedup.contamination import (
        contamination_oracle_sql,
    )
    from centimators_spark.sampling import sql_hash_split

    split = sql_hash_split("doc_id", TSA_WEIGHTS, salt=TSA_SALT)
    train = f"(SELECT * FROM documents WHERE ({split}) = 'train')"
    val = f"(SELECT * FROM documents WHERE ({split}) = 'val')"
    inner = contamination_oracle_sql(train, val, n=TSA_N)
    return f"""
        SELECT doc_id, n_grams, n_hits, contamination,
               CAST(n_hits > 0 AS INT) AS leaked
        FROM ({inner})
    """


DSIR_BUDGET_FRAC = 0.25


def q_dsir_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR composed with token-budget selection (r11 verdict item 6
    — the pipeline-shaped consumer): the DSIR importance log-weights
    (text/dsir.dsir_scores — the scoring stage of the driver-verified
    dsir_select) become the quality column of
    selection.token_budget_select, so the corpus keeps the most
    target-like documents until 25% of the proposal pool's tokens are
    spent — importance-weighted budget selection instead of a fixed
    top-k. Fifth composed flagship, corpus_clean-style: one lazy
    plan, the bucket importance table broadcast, the budget cumsum on
    the two-phase cell template (no global sort)."""
    from centimators_spark.text.dsir import DSIR_N, dsir_scores
    from centimators_spark.text.selection import token_budget_select

    docs = load_table(spark, sf_dir, "documents")
    scored = dsir_scores(docs, DSIR_TARGET)
    # n_tokens derived, not re-tokenized: every scored doc has
    # n_grams = n_tokens − (n−1) all-bigrams with multiplicity
    # (token_ngrams_all), so the old second tokenize pass + join
    # computed exactly n_grams + (n−1) (r13 optimization; the oracle
    # still counts sql_tokens independently, so parity is a real check)
    j = scored.select(
        "doc_id",
        "logw_micro",
        (F.col("n_grams") + F.lit(DSIR_N - 1)).cast("long").alias("n_tokens"),
    )
    return token_budget_select(
        j,
        budget_frac=DSIR_BUDGET_FRAC,
        score_col="logw_micro",
        token_col="n_tokens",
    )


def _dsir_budget_select_oracle() -> str:
    from centimators_spark.text.dsir import dsir_scores_oracle_sql
    from centimators_spark.text.portable import sql_tokens
    from centimators_spark.text.selection import (
        token_budget_select_oracle_sql,
    )

    scores = dsir_scores_oracle_sql("documents", DSIR_TARGET)
    joined = (
        f"(SELECT s.doc_id, s.logw_micro,"
        f" CAST(len({sql_tokens('d.text')}) AS BIGINT) AS n_tokens"
        f" FROM ({scores}) s JOIN documents d ON s.doc_id = d.doc_id)"
    )
    return token_budget_select_oracle_sql(
        joined, budget_frac=DSIR_BUDGET_FRAC, score_sql="logw_micro"
    )


SKEW_AUDIT_KEYS = ["cust_nk", "o_orderstatus"]
_SKEW_AUDIT_SQL = (
    "(SELECT CASE WHEN o_orderkey % 13 <> 0 THEN o_custkey END"
    " AS cust_nk, o_orderstatus FROM orders)"
)


def q_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit (profile.join_skew_audit) over the orders
    fact: the high-cardinality customer key (every 13th NULLed — the
    NULL-key branch is gate-visible) beside the 3-value status key
    whose hottest value owns most of the table — exactly the two
    regimes the salting/broadcast decision separates."""
    from centimators_spark.profile import join_skew_audit

    orders = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.col("o_orderkey") % 13 != 0, F.col("o_custkey")
        ).alias("cust_nk"),
        "o_orderstatus",
    )
    return join_skew_audit(orders, SKEW_AUDIT_KEYS)


def _join_skew_audit_oracle() -> str:
    from centimators_spark.profile import join_skew_audit_oracle_sql

    return join_skew_audit_oracle_sql(_SKEW_AUDIT_SQL, SKEW_AUDIT_KEYS)


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of each event type's daily value total
    (analytics.theil_sen_trend) — the drift family's trend member
    (median of pairwise daily slopes; the pair join runs on the
    calendar-bounded daily rollup, never the corpus)."""
    from centimators_spark.analytics import theil_sen_trend

    return theil_sen_trend(
        load_table(spark, sf_dir, "events"), "event_type", "ts", "value"
    )


def _theil_sen_trend_oracle() -> str:
    from centimators_spark.analytics import theil_sen_trend_oracle_sql

    return theil_sen_trend_oracle_sql(
        "events", "event_type", "ts", "value"
    )


_CDC_CHANGES_SQL = (
    "(SELECT o_custkey AS c_custkey, o_orderdate, o_orderkey,"
    " CASE WHEN o_orderstatus = 'F' AND o_orderpriority LIKE '1-%'"
    " THEN 'D' ELSE 'U' END AS op,"
    " o_totalprice AS c_acctbal FROM orders)"
)


TIMED_FUNNEL_WITHIN = 6 * 3600  # 6h max gap between adjacent stages


def q_timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMED funnel view→click→purchase (analytics.funnel with
    within_seconds): each stage must follow the previous within 6
    hours or the funnel breaks — the realistic conversion semantics
    the driver-green unconstrained event_funnel can't express (a
    purchase a month after the click is not a conversion). Same
    conditional-min-chain plan, one extra upper bound per stage."""
    from centimators_spark.analytics import funnel
    from centimators_spark.plans.relational_queries import FUNNEL_STAGES

    return funnel(
        load_table(spark, sf_dir, "events"),
        FUNNEL_STAGES,
        within_seconds=TIMED_FUNNEL_WITHIN,
    )


def _timed_funnel_oracle() -> str:
    from centimators_spark.analytics import funnel_oracle_sql
    from centimators_spark.plans.relational_queries import FUNNEL_STAGES

    return funnel_oracle_sql(
        "events", FUNNEL_STAGES, within_seconds=TIMED_FUNNEL_WITHIN
    )


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test (analytics.mann_kendall) over
    each event type's daily totals — the significance sibling of
    theil_sen_trend (same daily rollup, exact integer S and
    tie-corrected var18 carriers; the MWU exact-rational
    discipline)."""
    from centimators_spark.analytics import mann_kendall

    return mann_kendall(
        load_table(spark, sf_dir, "events"), "event_type", "ts", "value"
    )


def _mann_kendall_oracle() -> str:
    from centimators_spark.analytics import mann_kendall_oracle_sql

    return mann_kendall_oracle_sql("events", "event_type", "ts", "value")


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (reconcile.cdc_apply): the orders stream applied to
    the customer snapshot as a change log — each customer's LATEST
    order (by (o_orderdate, o_orderkey)) wins; a final urgent order
    deletes the account, any other order upserts the balance to that
    order's total. One window + one full-outer join, both on the
    customer key."""
    from centimators_spark.reconcile import cdc_apply

    cust = load_table(spark, sf_dir, "customer")
    return cdc_apply(
        cust,
        _cdc_changes(spark, sf_dir),
        keys=["c_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
        value_cols=["c_acctbal"],
    )


def _cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared CDC change-stream derivation behind q_cdc_apply and
    the composed q_cdc_scd2_audit — one Spark twin of
    _CDC_CHANGES_SQL so the two queries can never desynchronize."""
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        "o_orderdate",
        "o_orderkey",
        F.when(
            (F.col("o_orderstatus") == "F")
            & F.col("o_orderpriority").startswith("1-"),
            F.lit("D"),
        )
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("o_totalprice").alias("c_acctbal"),
    )


def _cdc_apply_oracle() -> str:
    from centimators_spark.reconcile import cdc_apply_oracle_sql

    return cdc_apply_oracle_sql(
        "customer",
        _CDC_CHANGES_SQL,
        keys=["c_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
        value_cols=["c_acctbal"],
    )


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 3-step event-type paths (analytics.event_paths) — the
    n-step generalization of the driver-green transition_counts: the
    funnels users actually walk, counted from consecutive
    (ts, event_id)-ordered windows, top-k via per-partition heaps."""
    from centimators_spark.analytics import event_paths

    return event_paths(load_table(spark, sf_dir, "events"))


def _event_paths_oracle() -> str:
    from centimators_spark.analytics import event_paths_oracle_sql

    return event_paths_oracle_sql("events")


_NULLTS_EVENTS_SQL = (
    "(SELECT user_id, event_type, event_id,"
    " CASE WHEN event_id % 11 <> 0 THEN ts END AS nts"
    " FROM events)"
)


def q_event_paths_nullts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL ORDER-KEY gate contract (r12 verdict item 2a): event-path
    mining over the event stream with every 11th ``ts`` NULLed, so
    NULL *order keys* — the cross-engine parity class where Spark's
    ascending default is NULLS FIRST but DuckDB's is NULLS LAST —
    flow through the lead-window ordering under the driver gate every
    round, not only through review. Removing the explicit
    asc_nulls_last in analytics.event_paths flips this entry red
    (tests/test_round13_ops.py::test_event_paths_nullts_contract_has_teeth)
    while the all-non-NULL event_paths query would stay green."""
    from centimators_spark.analytics import event_paths

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 11 != 0, F.col("ts")).alias("nts"),
    )
    return event_paths(ev, ts_col="nts")


def _event_paths_nullts_oracle() -> str:
    from centimators_spark.analytics import event_paths_oracle_sql

    return event_paths_oracle_sql(_NULLTS_EVENTS_SQL, ts_sql="nts")


def q_fdr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sixth composed flagship — the multiple-comparisons step after a
    fanned-out test: the one-pass sign-flip permutation test runs per
    (event_type, day-of-month) over the signed/NULL derivation (~150
    parallel hypotheses from ONE corpus scan), then Benjamini-Hochberg step-up
    FDR control at q = 0.10 marks which segments' lifts survive
    adjustment (ml/abtest.benjamini_hochberg — exact integer
    cross-multiplication over the permutation p_milli carriers)."""
    from centimators_spark.ml.abtest import benjamini_hochberg
    from centimators_spark.ml.bootstrap import permutation_sign_test

    ev = load_table(spark, sf_dir, "events").select(
        F.concat(
            F.col("event_type"),
            F.lit("|"),
            F.dayofmonth("ts").cast("string"),
        ).alias("seg"),
        "event_id",
        F.when(
            F.col("event_id") % 7 != 0,
            F.col("value")
            * F.when(F.col("event_id") % 2 == 0, -1).otherwise(1),
        ).alias("sv"),
    )
    tests = permutation_sign_test(ev, "seg", "event_id", "sv")
    return benjamini_hochberg(tests, "grp", "p_milli")


def _fdr_audit_oracle() -> str:
    from centimators_spark.ml.abtest import benjamini_hochberg_oracle_sql
    from centimators_spark.ml.bootstrap import (
        permutation_sign_test_oracle_sql,
    )

    signed_with_ts = (
        "(SELECT event_type, event_id, user_id, ts,"
        " CASE WHEN event_id % 7 <> 0 THEN value *"
        " (CASE WHEN event_id % 2 = 0 THEN -1 ELSE 1 END) END AS sv"
        " FROM events)"
    )
    tests = permutation_sign_test_oracle_sql(
        signed_with_ts,
        "(event_type || '|' || CAST(day(ts) AS VARCHAR))",
        "event_id",
        "sv",
    )
    return benjamini_hochberg_oracle_sql(f"({tests})")


def q_purged_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged K-fold era assignment (model_selection.purged_kfold_eras,
    López de Prado PurgedKFold) over lineitem ship months: 5
    contiguous era folds, 1-era embargo purged on each side of every
    validation block — the CV geometry walk-forward splits can't
    express (train on both sides, leak-free)."""
    from centimators_spark.model_selection import purged_kfold_eras

    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", F.col("l_shipdate")).alias("era")
    )
    return purged_kfold_eras(li, "era")


def _purged_kfold_oracle() -> str:
    from centimators_spark.model_selection import (
        purged_kfold_eras_oracle_sql,
    )

    return purged_kfold_eras_oracle_sql(
        "lineitem", "date_trunc('month', l_shipdate)"
    )


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS/count-min join-size estimate (sketches.cms_join_size): how
    many (event, order) pairs would the many-to-many
    events.user_id ⋈ orders.o_custkey equi-join emit? Each side is
    sketched independently in one scan (d×w KB cells — at 100 TB,
    build at ingest and the estimate is free at plan time); the
    sketch inner product min over d rows upper-bounds the true size
    (overcount ≥ 0 always), and the exact size rides along as the
    witness, computed on per-key counts, never the row-level join.
    The planning companion of join_skew_audit."""
    from centimators_spark.sketches import cms_join_size

    return cms_join_size(
        load_table(spark, sf_dir, "events"),
        "user_id",
        load_table(spark, sf_dir, "orders"),
        "o_custkey",
    )


def _join_size_estimate_oracle() -> str:
    from centimators_spark.sketches import cms_join_size_oracle_sql

    return cms_join_size_oracle_sql(
        "events", "user_id", "orders", "o_custkey"
    )


def q_plan_join_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy ADVISOR contract (r12 verdict item 4 —
    planner.plan_join composes the r12 measurement pair into a
    decision): lineitem with a deliberately skewed supplier key (75%
    of rows collapse onto supplier 1) joined against supplier with
    broadcast disabled (broadcast_row_limit=0 models the
    dim-too-wide 100 TB regime at gate SF). The audit measures
    top1_share≈750‰ ≥ the 200‰ threshold, so the advisor must choose
    SALTED — the chosen strategy is emitted as a constant column the
    oracle hardcodes ('salted'), so a decision flip goes hash-red —
    and the salted output multiset must equal the PLAIN join (the
    salted-join contract, operators/skew.py)."""
    from centimators_spark.planner import plan_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 4 != 0, F.lit(1).cast("long"))
        .otherwise(F.col("l_suppkey"))
        .alias("s_suppkey"),
        "l_orderkey",
        "l_linenumber",
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    out, decision = plan_join(li, sup, "s_suppkey", broadcast_row_limit=0)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "s_suppkey",
        "s_nationkey",
        F.lit(decision["strategy"]).alias("strategy"),
    )


_PLAN_JOIN_CONTRACT_ORACLE = """
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 4 <> 0 THEN CAST(1 AS BIGINT)
                  ELSE l_suppkey END AS s_suppkey,
             l_orderkey, l_linenumber
      FROM lineitem)
    SELECT l_orderkey, l_linenumber, f.s_suppkey, s_nationkey,
           'salted' AS strategy
    FROM fact f JOIN supplier s ON f.s_suppkey = s.s_suppkey
"""


def q_cdc_scd2_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seventh composed flagship (r12 verdict item 6 — CDC
    composability): the change stream feeds BOTH consistency halves —
    reconcile.cdc_apply compacts it latest-wins into the merged
    snapshot, while analytics.scd2_intervals versions the SAME stream
    into validity intervals ('D' encoded as a NULL attribute) — and
    the audit proves them consistent: every key's OPEN interval
    (valid_to NULL) must carry exactly the snapshot's merged value
    ('consistent'), or be absent from the snapshot with a NULL open
    attribute ('deleted'); 'mismatch' rows would mean the two
    operators disagree about what the stream says. Output per changed
    key: (c_custkey, n_versions, hist_bal, snap_bal, status).

    Scale: the stream is windowed once per operator on the same key
    shuffle; the audit join is key-cardinality vs key-cardinality."""
    from centimators_spark.analytics import scd2_intervals
    from centimators_spark.reconcile import cdc_apply

    changes = _cdc_changes(spark, sf_dir)
    ch_attr = changes.withColumn(
        "attr", F.when(F.col("op") != "D", F.col("c_acctbal"))
    )
    hist = scd2_intervals(
        ch_attr,
        "attr",
        entity_col="c_custkey",
        ts_col="o_orderdate",
        id_col="o_orderkey",
    )
    open_iv = hist.where(F.col("valid_to_epoch").isNull()).select(
        "c_custkey",
        F.col("attr").alias("hist_bal"),
        F.col("version").alias("n_versions"),
    )
    snap = (
        cdc_apply(
            load_table(spark, sf_dir, "customer"),
            changes,
            keys=["c_custkey"],
            seq_cols=["o_orderdate", "o_orderkey"],
            value_cols=["c_acctbal"],
        )
        .where(F.col("changed") == 1)
        .select("c_custkey", F.col("c_acctbal").alias("snap_bal"))
    )
    joined = open_iv.alias("o").join(
        snap.alias("s"), "c_custkey", "full_outer"
    )
    return joined.select(
        "c_custkey",
        "n_versions",
        "hist_bal",
        "snap_bal",
        F.when(
            F.col("s.snap_bal").isNull() & F.col("o.hist_bal").isNull(),
            F.lit("deleted"),
        )
        .when(F.col("o.hist_bal") == F.col("s.snap_bal"), F.lit("consistent"))
        .otherwise(F.lit("mismatch"))
        .alias("status"),
    )


def _cdc_scd2_audit_oracle() -> str:
    from centimators_spark.analytics import scd2_intervals_oracle_sql
    from centimators_spark.reconcile import cdc_apply_oracle_sql

    ch_attr = (
        "(SELECT c_custkey, o_orderdate, o_orderkey, op,"
        " CASE WHEN op <> 'D' THEN c_acctbal END AS attr"
        f" FROM {_CDC_CHANGES_SQL})"
    )
    hist = scd2_intervals_oracle_sql(
        ch_attr,
        "attr",
        entity_sql="c_custkey",
        ts_sql="o_orderdate",
        id_sql="o_orderkey",
    )
    snap = cdc_apply_oracle_sql(
        "customer",
        _CDC_CHANGES_SQL,
        keys=["c_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
        value_cols=["c_acctbal"],
    )
    return f"""
        WITH hist AS ({hist}),
        open_iv AS (
          SELECT c_custkey, attr AS hist_bal, version AS n_versions
          FROM hist WHERE valid_to_epoch IS NULL
        ),
        snap AS (
          SELECT c_custkey, c_acctbal AS snap_bal
          FROM ({snap}) WHERE changed = 1
        )
        SELECT coalesce(o.c_custkey, s.c_custkey) AS c_custkey,
               o.n_versions, o.hist_bal, s.snap_bal,
               CASE WHEN s.snap_bal IS NULL AND o.hist_bal IS NULL
                      THEN 'deleted'
                    WHEN o.hist_bal = s.snap_bal THEN 'consistent'
                    ELSE 'mismatch' END AS status
        FROM open_iv o FULL OUTER JOIN snap s
          ON o.c_custkey = s.c_custkey
    """


def q_dd_sketch_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hash contract for the DD percentile sketch (the 5th
    sketch family's dedicated quantile half, sketches.dd_bucket_rows/
    dd_quantiles — float log buckets, so rows-only on its own): per
    event_type the sketch's q25/q50/q75 estimates are checked against
    the EXACT type-1 quantiles (integer cents, computed in the same
    plan) under the DDSketch bound |est − exact| ≤ α·exact, and the
    driver hashes the integer (n_groups, n_within_*) counts — the
    neutralizer/pca kernel-contract pattern. Any bucket-math drift
    breaking the relative-error guarantee flips a count and goes
    hash-red; the oracle only has to count the event types with
    positive centi-values."""
    from pyspark.sql import Window as W

    from centimators_spark.sketches import (
        DD_ALPHA,
        dd_bucket_rows,
        dd_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = dd_quantiles(dd_bucket_rows(ev, "event_type", "value"))
    # exact type-1 quantiles over the SAME domain (centi > 0), the
    # bottomk integer cross-multiplication rule
    base = ev.select(
        F.col("event_type").alias("grp"),
        F.round(F.col("value") * 100).cast("long").alias("__v"),
    ).where(F.col("__v") > 0)
    w_v = W.partitionBy("grp").orderBy(
        F.col("__v").asc_nulls_last(), F.lit(1)
    )
    w_n = W.partitionBy("grp")
    ranked = base.withColumn("__r", F.row_number().over(w_v)).withColumn(
        "__n", F.count(F.lit(1)).over(w_n)
    )

    def type1(num: int, den: int):
        return F.min(
            F.when(
                F.col("__r") * F.lit(den) >= F.lit(num) * F.col("__n"),
                F.col("__v"),
            )
        )

    exact = ranked.groupBy("grp").agg(
        type1(1, 4).alias("e25"),
        type1(1, 2).alias("e50"),
        type1(3, 4).alias("e75"),
    )
    j = sk.join(exact, "grp")
    checks = []
    for nm, ec in (("q25", "e25"), ("q50", "e50"), ("q75", "e75")):
        est_cents = F.col(f"{nm}_est") * 100.0
        ex = F.col(ec).cast("double")
        ok = F.abs(est_cents - ex) <= F.lit(DD_ALPHA) * ex + 1e-6
        checks.append(
            F.sum(F.when(ok, 1).otherwise(0))
            .cast("long")
            .alias(f"n_within_{nm}")
        )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"), *checks
    )


_DD_SKETCH_CONTRACT_ORACLE = """
    SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_groups,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_within_q25,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_within_q50,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_within_q75
    FROM events
    WHERE CAST(round(value * 100) AS BIGINT) > 0
"""


_BASE_CENTS_SQL = (
    "(SELECT c_custkey, c_nationkey,"
    " CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer)"
)

_CDC_CHANGES_CENTS_SQL = (
    "(SELECT c_custkey, o_orderdate, o_orderkey, op,"
    " CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c"
    f" FROM {_CDC_CHANGES_SQL} c)"
)


def q_incr_agg_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance under the shared CDC stream
    (reconcile.incremental_agg — materialized-view maintenance): the
    per-nation (count, sum-of-cents) customer rollup is updated from
    the change stream's per-key deltas — the base fact is touched
    only by a key-cardinality old-value lookup plus the (normally
    already-maintained) base rollup — and the oracle is the FULL
    RECOMPUTE over the cdc-merged snapshot; hash equality proves the
    delta path produces the bit-identical aggregate, which is the
    entire point of incremental view maintenance at 100 TB. Integer
    cents make the sums order-independent on both engines."""
    from centimators_spark.reconcile import incremental_agg

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    changes = _cdc_changes(spark, sf_dir).select(
        "c_custkey",
        "o_orderdate",
        "o_orderkey",
        "op",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    return incremental_agg(
        base,
        changes,
        keys=["c_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
        value_col="bal_c",
        group_col="c_nationkey",
    )


def _incr_agg_maintain_oracle() -> str:
    from centimators_spark.reconcile import incremental_agg_oracle_sql

    return incremental_agg_oracle_sql(
        _BASE_CENTS_SQL,
        _CDC_CHANGES_CENTS_SQL,
        keys=["c_custkey"],
        seq_cols=["o_orderdate", "o_orderkey"],
        value_col="bal_c",
        group_col="c_nationkey",
    )


def q_image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal near-dup (r9 verdict item 4): deterministic grayscale
    BMP corpus synthesized from doc ids (groups of 4 share a base
    image; one member carries a single-pixel perturbation) → REAL BMP
    decode (multimodal/columns._parse_bmp) → fixed-point integer DCT
    pHash → Hamming-band blocked pairs (multimodal/phash.py). Every
    step integer → the pair set is hash-proven; the band join is
    recall-exact by pigeonhole, so the oracle's all-pairs Hamming at
    gate SF is the same set. Blobs from the session-shared synth
    artifact (_shared_synth_blobs, r13): the stored-corpus stand-in;
    decode → pHash → band join still run per execution."""
    from centimators_spark.multimodal.phash import image_phash_dedup
    from centimators_spark.plans.datapipe_queries import _shared_synth_blobs

    return image_phash_dedup(
        load_table(spark, sf_dir, "documents"),
        blobs=_shared_synth_blobs(spark, sf_dir, "image"),
    )


def q_theta_intersections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch distinct-intersection audit (r9 verdict item
    8): per source pair, how many distinct 3-gram shingles both
    sources contain — k-minimum-values sketches (portable md5, k=128),
    exact-integer theta/count/floor-div estimator, with the exact
    intersection riding along as the accuracy witness
    (sketches.theta_sketch_intersections). Fourth sketch family beside
    HLL, the percentile sketch, and count-min."""
    from centimators_spark.sketches import theta_sketch_intersections

    return theta_sketch_intersections(load_table(spark, sf_dir, "documents"))


def q_audio_fingerprint_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio near-dup — the second modality of the multimodal dedup
    family (multimodal/audiofp.py): deterministic int16 WAV corpus
    from doc ids → REAL RIFF/PCM decode → Haitsma-Kalker
    sign-of-energy-difference fingerprint (63 integer bits) →
    Hamming-band blocked pairs. Same hash-proven discipline and band
    join as image_phash_dedup; blobs from the session-shared synth
    artifact (_shared_synth_blobs, r13)."""
    from centimators_spark.multimodal.audiofp import (
        audio_fingerprint_dedup,
    )
    from centimators_spark.plans.datapipe_queries import _shared_synth_blobs

    return audio_fingerprint_dedup(
        load_table(spark, sf_dir, "documents"),
        blobs=_shared_synth_blobs(spark, sf_dir, "audio"),
    )


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct l-diversity audit (analytics.l_diversity) — the
    privacy step after k_anonymity: per equivalence class of
    (nation, balance-hundreds bucket), how many distinct market
    segments — homogeneous classes leak the sensitive attribute even
    when k-anonymous. Two chained map-side-combined integer
    aggregations (the Expand count-distinct path)."""
    from centimators_spark.analytics import l_diversity

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal_h"),
    )
    return l_diversity(
        cust, ["c_nationkey", "bal_h"], "c_mktsegment", l=2
    )


def q_video_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup — third modality (multimodal/videofp.py):
    deterministic RAWV clips → REAL frame-sampling stage
    (sample_video_frames, every 4th frame) → per-frame integer DCT
    pHash → per-position banded candidate join → verify EVERY sampled
    position within the threshold (hamming = max over positions).
    Clips from the session-shared synth artifact (_shared_synth_blobs,
    r13): the stored-corpus stand-in; frame sampling → pHash → band
    join still run per execution."""
    from centimators_spark.multimodal.videofp import video_phash_dedup
    from centimators_spark.plans.datapipe_queries import _shared_synth_blobs

    return video_phash_dedup(
        load_table(spark, sf_dir, "documents"),
        blobs=_shared_synth_blobs(spark, sf_dir, "video"),
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train→encode end-to-end (r8 verdict item 4): learn the top-8
    pair merges over the corpus (bpe_pair_merges — the training
    statistic) and APPLY them to every document as a static chain of
    literal string replaces (text/cooccur.bpe_apply — the serving
    half). Returns (doc_id, pos, token); merge order is deterministic
    so the DuckDB twin is exact."""
    from centimators_spark.text.cooccur import bpe_train_apply

    # output="exploded" is the CONTRACT adapter (every token a hashable
    # row); the library default is the per-doc token ARRAY column —
    # ~1× at any scale instead of the output-bound 7× (r9 item 3)
    return bpe_train_apply(
        load_table(spark, sf_dir, "documents"), output="exploded"
    )


def q_bpe_train_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE multi-round BPE training (the iterative trainer, not one
    round's statistic): per round count adjacent pairs over the
    CURRENT encoding, merge the argmax, re-encode — 3 chained
    full-corpus aggregations whose round-r counts depend on rounds
    1..r-1 (text/cooccur.bpe_train). Oracle unrolls the identical
    rounds as chained CTEs (the kcore discipline)."""
    from centimators_spark.text.cooccur import bpe_train_rounds

    return bpe_train_rounds(load_table(spark, sf_dir, "documents"))


def q_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted regression stumps (2 rounds, lr=1/2, exact
    integer arithmetic — ml/splits.boosted_stumps): round 2 fits the
    integer residual of round 1's half-mean leaves; variance-reduction
    argmax over division-cleared DECIMAL(38,0) carriers. Oracle
    unrolls the rounds as chained CTEs with scalar-subquery leaf
    dispatch."""
    from centimators_spark.ml.splits import boosted_stumps

    li = load_table(spark, sf_dir, "lineitem")
    return boosted_stumps(
        li,
        {
            "quantity": F.round(F.col("l_quantity")),
            "discount_pct": F.round(F.col("l_discount") * 100),
            "tax_pct": F.round(F.col("l_tax") * 100),
        },
        F.round(F.col("l_extendedprice") * 100),
        rounds=2,
    )


def _boosted_stumps_oracle() -> str:
    from centimators_spark.ml.splits import boosted_stumps_oracle_sql

    return boosted_stumps_oracle_sql(
        "lineitem",
        {
            "quantity": "round(l_quantity)",
            "discount_pct": "round(l_discount * 100)",
            "tax_pct": "round(l_tax * 100)",
        },
        "round(l_extendedprice * 100)",
        rounds=2,
    )


MMR_POOL_K = 20
MMR_K = 5


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-rank (similarity/mmr.py): exact cosine
    top-20 shortlist per query, then 5 greedy picks maximizing
    7/10·rel − 3/10·max-sim-to-selected (rational λ — no float-derived
    weights), ties by ascending id. The oracle unrolls the greedy
    steps as chained CTEs over the same rounded cosines."""
    from centimators_spark.plans.datapipe_queries import (
        ANN_N_QUERIES,
        EMB_DIM,
        load_table,
    )
    from centimators_spark.similarity.ann import (
        _as_double,
        brute_force_topk,
    )
    from centimators_spark.similarity.mmr import mmr_diversify

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", _as_double(F.col("embedding")).alias("vv")
    )
    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = brute_force_topk(
        emb, queries, k=MMR_POOL_K, dim=EMB_DIM
    )
    pool = topk.join(vecs, "vec_id").select(
        "query_id", "vec_id", F.round(F.col("cos"), 6).alias("rel"), "vv"
    )
    # dim=None on the greedy steps: the pool is ~n_queries*pool_k rows,
    # so the interpreted HOF fold costs microseconds while an unrolled
    # 64-term chain pays ~2s of janino compile PER STEP plan (the
    # round-8 compile trade, measured both ways); the corpus-sized
    # brute-force stage above keeps dim=EMB_DIM codegen.
    return mmr_diversify(pool, k=MMR_K, dim=None)


def _mmr_rerank_oracle() -> str:
    from centimators_spark.plans.datapipe_queries import ANN_N_QUERIES
    from centimators_spark.similarity.mmr import mmr_oracle_sql

    return mmr_oracle_sql(
        n_queries=ANN_N_QUERIES, pool_k=MMR_POOL_K, k=MMR_K
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters via ALTERNATING big-star/small-star edge
    contraction (Kiveris et al. 2014) — the O(log n)-round CC
    algorithm for diameter-unbounded graphs at 100 TB, which
    dedup_clusters takes only above its driver union-find cap. Same
    contract and the SAME recursive-CTE oracle (identical output by
    construction); differential-tested against exact union-find on
    path/clique/star/random graphs."""
    from centimators_spark.dedup.cluster import connected_components_star
    from centimators_spark.plans.datapipe_queries import q_dedup_minhash_lsh

    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    return connected_components_star(pairs).select(
        F.col("node").alias("doc_id"), "cluster"
    )


CMS_CONTRACT_W = 64


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency contract (sketches.py): the
    d=4 × w=64 CMS over the corpus token stream, estimates for the 30
    exact heavy hitters, and the per-token overcount. Portable md5
    row-hashes make the WHOLE sketch hash-provable (every cell, every
    min-estimate); w=64 forces real collisions so the ≥0 overcount
    rows demonstrate the bound, not an empty case. Third sketch
    family beside HLL (approx_distinct_contract) and the percentile
    sketch (psi_sketch_contract)."""
    from centimators_spark.sketches import cms_heavy_hitter_contract

    return cms_heavy_hitter_contract(
        load_table(spark, sf_dir, "documents"), w=CMS_CONTRACT_W
    )


BIGRAM_VOCAB_CAP = 200


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram-LM quality score (text/analysis.py): the
    model-based filter above unigram_lm — λ=8/10 bigram ratio +
    unigram floor over a capped vocabulary with '<unk>' mapping
    (vocab_cap=200 at the gate SF so the OOV path is genuinely
    exercised). 6dp micro-unit carriers; only corpus-sized shuffle is
    the pairs⇄bigram-count join."""
    from centimators_spark.text.analysis import bigram_lm_score

    return bigram_lm_score(
        load_table(spark, sf_dir, "documents"),
        vocab_cap=BIGRAM_VOCAB_CAP,
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity audit (analytics.k_anonymity): equivalence-class
    size profile of customers under the quasi-identifiers (nation,
    market segment, account-balance hundreds bucket) — the privacy
    sibling of text_pii_mask; plain integer chained aggregations."""
    from centimators_spark.analytics import k_anonymity

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal_h"),
    )
    return k_anonymity(
        cust, ["c_nationkey", "c_mktsegment", "bal_h"], k=5
    )


def _k_anonymity_oracle() -> str:
    from centimators_spark.analytics import k_anonymity_oracle_sql

    return k_anonymity_oracle_sql(
        "(SELECT c_nationkey, c_mktsegment,"
        " CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_h FROM customer)",
        ["c_nationkey", "c_mktsegment", "bal_h"],
        k=5,
    )


def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 weighted quantiles (q25/q50/q75) of order value per
    priority, weighted by the order's lineitem count — integer
    cross-multiplication thresholds, one sort window + one aggregation
    (operators/stats.weighted_quantiles)."""
    from centimators_spark.operators.stats import weighted_quantiles

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    wts = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("__w")
    )
    base = orders.join(
        wts, F.col("o_orderkey") == F.col("l_orderkey")
    ).select("o_orderpriority", "o_totalprice", "__w")
    return weighted_quantiles(
        base, "o_totalprice", "__w", "o_orderpriority"
    )


def _weighted_quantiles_oracle() -> str:
    from centimators_spark.operators.stats import weighted_quantiles_oracle_sql

    return weighted_quantiles_oracle_sql(
        "(SELECT o_orderpriority, o_totalprice, w FROM orders JOIN "
        "(SELECT l_orderkey, CAST(count(*) AS BIGINT) AS w "
        " FROM lineitem GROUP BY l_orderkey) lw "
        "ON o_orderkey = l_orderkey)",
        "o_totalprice",
        "w",
        "o_orderpriority",
    )


def q_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step Newton logistic fit of P(priority = URGENT | price
    bucket, order month) — the fixed-step declarative IRLS contract
    (ml/logistic.py): per step ONE map-side-partial aggregation of
    exact integer Hessian/gradient carriers, shared-SQL Cramer solve,
    broadcast beta back. No driver loop, no Python on rows."""
    from centimators_spark.ml.logistic import logistic_irls

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.floor(F.col("o_totalprice") / F.lit(1000.0))
        .cast("long")
        .alias("price_k"),
        F.month("o_orderdate").cast("long").alias("omonth"),
        (F.col("o_orderpriority") == "1-URGENT").alias("is_urgent"),
    )
    return logistic_irls(base, ["price_k", "omonth"], "is_urgent", steps=2)


def _logistic_irls_oracle() -> str:
    from centimators_spark.ml.logistic import logistic_irls_oracle_sql

    return logistic_irls_oracle_sql(
        "orders",
        [
            "floor(o_totalprice / 1000.0)",
            "EXTRACT(month FROM o_orderdate)",
        ],
        "o_orderpriority = '1-URGENT'",
        steps=2,
    )


def q_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE training round's merge statistic over the corpus: top
    adjacent whitespace-token pairs by count (text/cooccur.py —
    order+multiplicity aware, unlike pmi_cooccur's per-doc-distinct
    presence)."""
    from centimators_spark.text.cooccur import bpe_pair_merges

    return bpe_pair_merges(load_table(spark, sf_dir, "documents"))


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation of customers from orders (analytics.py):
    value-based quantile scores from collected literal boundaries —
    no global rank window."""
    from centimators_spark.analytics import rfm_segments

    return rfm_segments(load_table(spark, sf_dir, "orders"))


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities over the
    MinHash near-duplicate graph (graphs.py) — which dup families form
    one community vs several loosely-bridged ones; the mode-aggregation
    sibling of kcore/pagerank in the fixed-rounds iterative family."""
    from centimators_spark.graphs import label_propagation
    from centimators_spark.plans.datapipe_queries import q_dedup_minhash_lsh

    edges = q_dedup_minhash_lsh(spark, sf_dir).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    return label_propagation(edges, rounds=3)


def _label_propagation_oracle() -> str:
    from centimators_spark.graphs import label_propagation_oracle_sql
    from centimators_spark.plans.datapipe_queries import (
        MINHASH_T,
        _JACCARD_PAIRS,
    )

    return label_propagation_oracle_sql(
        f"(SELECT d1 AS src, d2 AS dst FROM ({_JACCARD_PAIRS}) "
        f"WHERE jaccard >= {MINHASH_T})",
        rounds=3,
    )


MMCLEAN_MIN_TOKENS = 20
MMCLEAN_PREFIX_TOKENS = 4
MMCLEAN_MAX_HAMMING = 6


def q_multimodal_corpus_clean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-modal composed flagship — the multimodal sibling of
    corpus_clean, chaining THREE families in one lazy plan: (1) text
    gate: keep docs with >= 20 whitespace tokens (token_counts); (2)
    leading-boilerplate dedup: keep the min doc_id per md5 of the
    first 4 tokens (the prefix twin of exact_dedup — the fixture has
    no full-text dups, prefix collisions genuinely drop docs); (3)
    image near-dup: synth BMP -> REAL decode -> integer DCT pHash ->
    Hamming-band pairs over the SURVIVING ids only, drop every doc
    that appears as the larger id of a qualifying pair. Output is the
    per-source funnel (n_in / n_tokens_ok / n_prefix_unique /
    n_final) — the audit table a 100 TB ingestion run reports.

    Scale: each stage is linear and blocked (the pHash stage is the
    pigeonhole band join, never all-pairs, and sees only survivors);
    the funnel is four map-side-combined counts joined on a
    20-value key. All-integer output: hash-proven end to end."""
    from centimators_spark.multimodal.phash import image_phash_dedup
    from centimators_spark.plans.datapipe_queries import _shared_synth_blobs
    from centimators_spark.text.portable import tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    tok = tokens(F.col("text"))
    # staged feeds SIX lazy consumers (four funnel counts, the keep
    # aggregation, the semi-join side) and s2 three more (the synth→
    # decode→pHash chain, its funnel, the final anti-join) — unpinned,
    # the tokenize+md5 chain re-ran per consumer (12 parquet scans in
    # the measured plan; r13 optimization, the corpus_clean
    # fused-signals discipline applied to the funnel)
    staged = docs.select(
        "doc_id",
        "source",
        F.size(tok).alias("n_tok"),
        F.md5(
            F.array_join(F.slice(tok, 1, MMCLEAN_PREFIX_TOKENS), " ")
        ).alias("pfx_md5"),
    ).localCheckpoint(eager=True)
    s1 = staged.where(F.col("n_tok") >= MMCLEAN_MIN_TOKENS)
    keep = s1.groupBy("pfx_md5").agg(F.min("doc_id").alias("doc_id"))
    s2 = s1.join(keep, ["pfx_md5", "doc_id"], "left_semi").localCheckpoint(
        eager=True
    )
    # blob table: the session-shared synth artifact restricted to the
    # survivors (synth is a pure per-id function, so the semi-joined
    # slice is byte-identical to synthesizing over s2; r13)
    blobs = _shared_synth_blobs(spark, sf_dir, "image").join(
        s2.select("doc_id"), "doc_id", "left_semi"
    )
    pairs = image_phash_dedup(
        s2, max_hamming=MMCLEAN_MAX_HAMMING, blobs=blobs
    )
    drop = pairs.select(F.col("d2").alias("doc_id")).distinct()
    s3 = s2.join(drop, "doc_id", "left_anti")

    def funnel(d: DataFrame, name: str) -> DataFrame:
        return d.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias(name)
        )

    z = F.lit(0).cast("long")
    return (
        funnel(staged, "n_in")
        .join(funnel(s1, "n_tokens_ok"), "source", "left")
        .join(funnel(s2, "n_prefix_unique"), "source", "left")
        .join(funnel(s3, "n_final"), "source", "left")
        .select(
            "source",
            F.col("n_in"),
            F.coalesce("n_tokens_ok", z).alias("n_tokens_ok"),
            F.coalesce("n_prefix_unique", z).alias("n_prefix_unique"),
            F.coalesce("n_final", z).alias("n_final"),
        )
    )


def _multimodal_corpus_clean_oracle() -> str:
    from centimators_spark.multimodal.phash import image_phash_oracle_sql
    from centimators_spark.text.portable import sql_tokens

    tok = sql_tokens("text")
    pairs = image_phash_oracle_sql(
        "(SELECT doc_id FROM s2)", max_hamming=MMCLEAN_MAX_HAMMING
    )
    return f"""
        WITH staged AS (
          SELECT doc_id, source, len(tk) AS n_tok,
                 md5(array_to_string(
                   tk[1:{MMCLEAN_PREFIX_TOKENS}], ' ')) AS pfx_md5
          FROM (SELECT doc_id, source, text, {tok} AS tk
                FROM documents)
        ), s1 AS (
          SELECT * FROM staged WHERE n_tok >= {MMCLEAN_MIN_TOKENS}
        ), keep AS (
          SELECT pfx_md5, min(doc_id) AS doc_id FROM s1 GROUP BY pfx_md5
        ), s2 AS (
          SELECT s1.* FROM s1
          JOIN keep ON s1.pfx_md5 = keep.pfx_md5
                   AND s1.doc_id = keep.doc_id
        ), pairs AS ({pairs}
        ), s3 AS (
          SELECT * FROM s2
          WHERE doc_id NOT IN (SELECT d2 FROM pairs)
        )
        SELECT i.source,
               CAST(i.n_in AS BIGINT) AS n_in,
               CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens_ok,
               CAST(coalesce(b.n, 0) AS BIGINT) AS n_prefix_unique,
               CAST(coalesce(c.n, 0) AS BIGINT) AS n_final
        FROM (SELECT source, count(*) AS n_in FROM staged
              GROUP BY source) i
        LEFT JOIN (SELECT source, count(*) AS n FROM s1
                   GROUP BY source) a ON a.source = i.source
        LEFT JOIN (SELECT source, count(*) AS n FROM s2
                   GROUP BY source) b ON b.source = i.source
        LEFT JOIN (SELECT source, count(*) AS n FROM s3
                   GROUP BY source) c ON c.source = i.source
    """


def q_theta_a_not_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV A-NOT-B set difference (the DataSketches a_not_b op,
    sketches.theta_sketch_a_not_b): per ORDERED source pair, distinct
    3-grams unique to A — the 'what would removing this source lose'
    audit, completing the theta family beside the intersection. Exact
    integer theta/count/floor-div estimator; true_diff witness."""
    from centimators_spark.sketches import theta_sketch_a_not_b

    return theta_sketch_a_not_b(load_table(spark, sf_dir, "documents"))


def q_order_priority_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q4 explicit (plans/relational_queries.py): quarter's
    orders with a >90-days-late lineitem, counted per priority — the
    correlated EXISTS as one LEFT SEMI join, filters at the scan."""
    from centimators_spark.plans import relational_queries

    return relational_queries.q_order_priority_counts(spark, sf_dir)


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 explicit (plans/relational_queries.py): single-scan
    filtered aggregate with exact integer cent carriers."""
    from centimators_spark.plans import relational_queries

    return relational_queries.q_forecast_revenue(spark, sf_dir)


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (analytics.t_closeness) — completes the
    privacy triad after k_anonymity and l_diversity: per equivalence
    class of (nation, balance-hundreds bucket), the total variation
    distance between the class's market-segment distribution and the
    global one, exact integer numerators, profiled into bounded
    permille bins with the t=0.3 breach flag."""
    from centimators_spark.analytics import t_closeness

    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("long").alias("bal_h"),
    )
    return t_closeness(cust, ["c_nationkey", "bal_h"], "c_mktsegment")


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) probability calibration (ml/calibration.py):
    per order priority, the monotone nondecreasing fit of the
    finished-order rate over 50 total-price buckets — exact integer
    minimax contract (lcm-scaled means, floor micro-units), the
    calibration step every scored pipeline runs before thresholding."""
    from centimators_spark.ml.calibration import isotonic_calibration

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.least(
            F.floor(F.col("o_totalprice") / 10000), F.lit(49)
        ).cast("long").alias("price_bucket"),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_f"),
    )
    return isotonic_calibration(
        o, "o_orderpriority", "price_bucket", "is_f"
    )


def q_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap (dedup/winnowing.py — Schleimer
    et al. 2003 / MOSS): position-robust partial-overlap pairs — any
    shared run of >= w+k-1 = 6 tokens guarantees a shared selected
    fingerprint, at ~2/(w+1) fingerprint density. Pure relational
    (posexplode + window min + capped hash join); complements
    set-based jaccard (whole-doc) and span_dedup (exact line spans)."""
    from centimators_spark.dedup.winnowing import winnowing_overlap_pairs

    return winnowing_overlap_pairs(load_table(spark, sf_dir, "documents"))


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring profile (dedup/substring.py — the
    relational fixed-L form of Lee et al. suffix-array substring
    dedup): per doc, maximal merged spans of tokens covered by a
    corpus-duplicated 8-gram. No pair join — cost independent of how
    duplicated the corpus is (the heavy-duplication-regime
    counterpart of minhash/winnowing pair detectors)."""
    from centimators_spark.dedup.substring import duplicated_spans

    return duplicated_spans(load_table(spark, sf_dir, "documents"))


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single mean-shift changepoint per event type
    (operators/drift.single_changepoint — binary segmentation's first
    split, the drift-LOCALIZATION step after windowed_psi /
    page_hinkley detect drift): argmax of the integer-floor
    least-squares criterion over the value series ordered by
    (ts, event_id), tie-broken on the earlier index."""
    from centimators_spark.operators.drift import single_changepoint

    return single_changepoint(
        load_table(spark, sf_dir, "events"),
        "event_type",
        ["ts", "event_id"],
        "value",
    )


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance audit (profile.benford_audit):
    per order priority, exact per-digit chi-square contributions of
    o_totalprice's first significant digit against the shared
    fixed-point Benford table — the forensic data-quality screen."""
    from centimators_spark.profile import benford_audit

    return benford_audit(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_totalprice",
    )


def q_hll_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully portable HyperLogLog (sketches.hll_portable): per order
    priority, distinct customers — every register, the raw estimator,
    and the linear-counting correction are shared-literal integers,
    so the WHOLE sketch hash-matches the oracle (upgrades the
    tolerance-banded approx_distinct_contract to the cms/theta
    standard). n_exact rides along as the accuracy witness."""
    from centimators_spark.sketches import hll_portable

    return hll_portable(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_custkey",
    )


def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL union per source pair (sketches.hll_union_pairs): distinct
    3-gram union estimated from the 64-register sketches alone by the
    register-wise max MERGE — the operation that makes HLL the 100 TB
    per-partition distinct. Completes the sketch set algebra with
    theta intersection and A-NOT-B difference; true_union witness."""
    from centimators_spark.sketches import hll_union_pairs

    return hll_union_pairs(load_table(spark, sf_dir, "documents"))


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass Poisson bootstrap CI (ml/bootstrap.bootstrap_mean_ci,
    Chamandy et al. style): per order priority, the mean total price
    with a 32-replicate percentile band — every replicate weight a
    deterministic md5 inverse-CDF Poisson(1) draw, so the whole band
    is hash-proven. The corpus is scanned ONCE for all replicates
    (2B+2 map-side-combined sums), which is the 100 TB error-bar
    recipe."""
    from centimators_spark.ml.bootstrap import bootstrap_mean_ci

    return bootstrap_mean_ci(
        load_table(spark, sf_dir, "orders"),
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
    )


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U carriers (operators/mwu.mann_whitney_u):
    per event type, the nonparametric two-sample test comparing the
    value distribution of even vs odd event ids (an A/A null split —
    U should sit near its mean, and the exact tie-corrected variance
    carriers let callers form z without any float in the contract)."""
    from centimators_spark.operators.mwu import mann_whitney_u

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 2 == 0).cast("int").alias("side_a"),
        "value",
    )
    return mann_whitney_u(ev, "event_type", "side_a", "value")


def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald SPRT for the finished-order rate per priority
    (ml/abtest.sprt_bernoulli, H0: p=0.30 vs H1: p=0.35, alpha=beta=
    0.05): exact fixed-point LLR and the three-way sequential
    decision — the sequential sibling of ab_test_report, additive and
    therefore streaming-ready."""
    from centimators_spark.ml.abtest import sprt_bernoulli

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderstatus") == "F").cast("int").alias("is_f"),
    )
    return sprt_bernoulli(o, "o_orderpriority", "is_f")


def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-homogeneity test
    (operators/mwu.brown_forsythe): per DAY, do the five event types
    have equal VALUE spread — the robust (median-centered) Levene
    test, catching dispersion drift that mean-based monitors miss.
    Exact integer medians, floor-as-spec ANOVA carriers; 30 daily
    groups at the gate SFs."""
    from centimators_spark.operators.mwu import brown_forsythe

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").cast("string").alias("day"),
        "event_type",
        "value",
    )
    return brown_forsythe(ev, "day", "event_type", "value")
