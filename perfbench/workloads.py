"""The benchmark's workloads: what each one runs, on which inputs, and why.

An operation is one unit a user waits for: ``build`` constructs the
DataFrame through the package's public surface, the sink (``collect``
via Arrow, or ``write`` to parquet) executes it, and ``check`` compares
the output with an independent computation after the timed pass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

QUERY_SF = 0.01  # scale of the generated contract tables (60k lineitem rows)
MICRO = 1_000_000  # integer carrier scale of the scored columns

# construction-bound queries, one per package module whose driver jobs
# the trace attributes (kcore_dupgraph and theta_intersections also
# build shared artifacts in plans): in a cold pass construction is at
# least half of the query's time and fires at least 4 jobs
PINNED = (
    "kcore_dupgraph",  # graphs, on dedup's near-duplicate pairs
    "bpe_train_rounds",  # text
    "theta_intersections",  # sketches
    "kmeans_embeddings",  # similarity
    "frequent_itemsets",  # ml
    "dim_reducer_pca",  # operators
)

# lazy queries: construction fires only parquet schema jobs, the
# executed plan has no Python node and no `Scan ExistingRDD`, and the
# query takes under 1.5 s cold. There are many more lazy than pinned
# queries, most of them 0.5-0.8 s, so that the pass's median operation
# falls among many lazy queries of like cost rather than at the gap
# between the two selections, where it jumped from run to run.
LAZY = (
    "above_avg_orders", "cheapest_supplier", "shipmode_priority",
    "customer_distribution", "top_supplier", "small_lot_revenue",
    "filtered_supplier_counts",  # relational
    "events_interval_join", "kaplan_meier", "event_paths_nullts",
    "active_time", "transition_counts", "event_paths", "cdc_apply",  # events
    "dedup_exact", "line_dedup", "doc_sentences", "bm25_search",
    "rake_keywords",  # text functions
    "rolling_aggregates", "lag_transformer", "rolling_rank",
    "moving_average", "group_stats",  # window
    "ks_statistic", "auc_by_era", "gini_segments",  # statistics
)

# The penalizer's per-era optimizer runs for a number of iterations that
# swings from era to era, so on few eras the stage's time was erratic;
# on 64 eras it averages out and the stage is the pass's longest, which
# keeps it out of the median of the four stages (op_p50_s).
PANEL = {
    "eras": 80,
    "tickers": 200,
    "features": 10,
    "penalize_eras": 64,
    "max_exposure": 0.1,
    "proportion": 0.5,
}


@dataclass
class Op:
    name: str
    build: Callable  # () -> DataFrame
    sink: str  # "collect" or "write"
    check: Callable  # (output) -> None on success, else a reason
    path: str | None = None  # parquet target of a "write" sink


def query_ops(spark, names, data_dir: str) -> list[Op]:
    import __spark_entry__ as entry

    from check import oracle_check

    registry = entry.queries()
    oracles = entry.oracle_sql()
    return [
        Op(
            name,
            (lambda n=name: registry[n](spark, data_dir)),
            "collect",
            oracle_check(data_dir, oracles.get(name)),
        )
        for name in names
    ]


def panel_ops(spark, data_dir: str) -> list[Op]:
    """feature pipeline → parquet feature store → neutralizer over all
    eras → parquet → penalizer on the latest eras → era report."""
    from pyspark.sql import functions as F

    import check
    from centimators_spark.ml.metrics import era_report
    from centimators_spark.operators import (
        FeatureNeutralizer,
        FeaturePenalizer,
        GroupStatsTransformer,
        LagTransformer,
        LogReturnTransformer,
        MovingAverageTransformer,
        RankTransformer,
    )

    p = PANEL
    feats = [f"feature{j}" for j in range(p["features"])]
    ranked = [f"{f}_rank" for f in feats]
    half = len(feats) // 2
    groups = {"g0": feats[:half], "g1": feats[half:]}
    panel_path = os.path.join(data_dir, "panel.parquet")
    features_path = os.path.join(data_dir, "out", "features.parquet")
    neutral_path = os.path.join(data_dir, "out", "neutralized.parquet")
    pred_out = f"prediction_neutralized_{p['proportion']}"
    pen_out = f"prediction_penalized_{p['max_exposure']}"
    latest = p["eras"] - p["penalize_eras"]

    def features():
        df = spark.read.parquet(panel_path)
        order = {"ticker_col": "ticker", "order_cols": ["era"]}
        df = LogReturnTransformer(["close"], **order).transform(df)
        df = RankTransformer(feats + ["close_logreturn"], group_col="era").transform(df)
        df = LagTransformer([1, 2], ranked, **order).transform(df)
        df = MovingAverageTransformer([3, 5], ["close_logreturn"], **order).transform(df)
        return GroupStatsTransformer(groups, ["mean", "std", "range"]).transform(df)

    def neutralize():
        df = spark.read.parquet(features_path)
        return FeatureNeutralizer(
            p["proportion"], "prediction", ranked,
            era_col="era", order_col="ticker", keep_cols=["target"],
        ).transform(df)

    def penalize():
        df = spark.read.parquet(features_path).where(F.col("era") > latest)
        return FeaturePenalizer(
            p["max_exposure"], "prediction", ranked,
            era_col="era", order_col="ticker",
        ).transform(df)

    def report():
        # era_report scores integer-valued columns, so prediction and
        # target ride a micro-unit carrier (the dotted neutralizer output
        # name is resolved through a backquoted column reference)
        df = spark.read.parquet(neutral_path).select(
            "era",
            F.round(F.col(f"`{pred_out}`") * MICRO).cast("long").alias("pred"),
            F.round(F.col("target") * MICRO).cast("long").alias("target"),
        )
        return era_report(df, "pred", "target", "era")

    ref = check.PanelReference(panel_path, feats, groups)
    return [
        Op("features", features, "write", ref.check_features, features_path),
        Op("neutralize", neutralize, "write",
           lambda out: ref.check_neutralized(out, pred_out, p["proportion"]), neutral_path),
        Op("penalize", penalize, "collect",
           lambda out: ref.check_penalized(out, pen_out, latest, p["max_exposure"])),
        Op("report", report, "collect",
           lambda out: ref.check_report(out, neutral_path, pred_out, MICRO)),
    ]


def query_names(workload: str) -> tuple[str, ...]:
    """Queries a query workload runs. The benchmark's ``queries`` runs
    the pinned and the lazy selection in one pass, each pinned query
    followed by every sixth lazy one, so the lazy queries (which set
    ``op_p50_s``) are spread over the whole pass and a burst of load on
    the host slows only a few of them; ``pinned`` (for ``twice.py``)
    and ``catalog`` (every query, for ``selection.py``) serve the tools."""
    if workload == "catalog":
        import __spark_entry__ as entry

        return tuple(entry.queries())
    if workload == "pinned":
        return PINNED
    n = len(PINNED)
    return tuple(q for i, p in enumerate(PINNED) for q in (p, *LAZY[i::n]))


def query_group(name: str) -> str:
    """The selection an operation belongs to, for reports."""
    return "pinned" if name in PINNED else "lazy" if name in LAZY else "panel"


def op_count(workload: str) -> int:
    """Operations one pass of the workload attempts."""
    return 4 if workload == "panel_train" else len(query_names(workload))


def make_ops(workload: str, spark, data_dir: str) -> list[Op]:
    if workload == "panel_train":
        return panel_ops(spark, data_dir)
    return query_ops(spark, query_names(workload), data_dir)


def prepare(workload: str, seed: int, data_dir: str) -> None:
    """Write the workload's generated inputs under ``data_dir``."""
    import gen

    if workload == "panel_train":
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(data_dir, exist_ok=True)
        panel = gen.make_panel(seed, PANEL["eras"], PANEL["tickers"], PANEL["features"])
        pq.write_table(
            pa.Table.from_pandas(panel, preserve_index=False),
            os.path.join(data_dir, "panel.parquet"),
        )
    else:
        gen.write_tables(data_dir, seed, QUERY_SF)
