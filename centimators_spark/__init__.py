"""centimators_spark — a PySpark-native analytics engine with the
query/data-processing capabilities of crowdcent/centimators.

Design: declarative DataFrame/Column plans (Catalyst optimizes), Window
functions for panel/time-series ops, Arrow (pandas) kernels only for the
per-era numeric work that genuinely needs numpy (lstsq, Adamax, norm.ppf).

Reference surface (see SURVEY.md §2): RankTransformer, LagTransformer,
MovingAverageTransformer, LogReturnTransformer, GroupStatsTransformer,
FeatureNeutralizer, FeaturePenalizer, DimReducer, EmbeddingTransformer,
plus model estimators. Extensions: dedup, similarity search, text
analysis, multimodal columns, streaming.

The package loads lazily (PEP 562): ``import centimators_spark`` runs
no submodule, and each exported name or submodule is imported on first
access. A Python worker that unpickles a per-era kernel therefore
imports only the kernel's own modules, not ``pyspark.ml`` or the
ML/dedup/text surface.
"""

# submodule -> the names it exports at the package level; every
# submodule listed here is also an attribute of the package itself
_EXPORTS = {
    "session": ("get_spark",),
    "io": ("load_tables", "register_views", "write_z_ordered", "z_order_key"),
    "base": ("melt_panel",),
    "profile": ("heavy_hitters", "table_profile"),
    "validate": (),
    "operators": (),
    "operators.ranking": ("RankTransformer",),
    "operators.time_series": (
        "LagTransformer",
        "MovingAverageTransformer",
        "LogReturnTransformer",
    ),
    "operators.stats": ("GroupStatsTransformer",),
    "operators.neutralization": ("FeatureNeutralizer",),
    "operators.penalization": ("FeaturePenalizer",),
    "operators.dimreduction": ("DimReducer",),
    "operators.embedding": ("EmbeddingTransformer",),
    "operators.bloomjoin": ("bloom_semi_join",),
    "ml": (),
    "ml.estimators": (
        "BaseKerasEstimator",
        "BottleneckEncoder",
        "KerasEstimator",
        "LinearRegressor",
        "LSTMRegressor",
        "MLPRegressor",
        "NeuralDecisionForestRegressor",
        "SequenceEstimator",
        "TransformerRegressor",
    ),
    "ml.architectures": ("TemperatureAnnealing",),
    "ml.dspymator": ("DSPyMator",),
    "ml.keras_cortex": ("KerasCortex",),
    "ml.losses": ("spearman_corr",),
    "ml.survival": ("kaplan_meier",),
    "ml.abtest": ("ab_test_report", "cuped_adjust"),
    "ml.classification_metrics": ("auc_score", "calibration_bins", "log_loss"),
    "ml.itemsets": ("frequent_itemsets", "make_baskets"),
    "config": ("get_keras_backend", "set_keras_backend"),
    "analytics": (
        "attribution",
        "funnel",
        "gini_by_group",
        "k_anonymity",
        "l_diversity",
        "retention_cohorts",
        "scd2_intervals",
        "t_closeness",
    ),
    "graphs": ("pagerank_int",),
    "reconcile": ("table_diff",),
    "dedup": (),
    "dedup.linkage": ("record_linkage",),
    "similarity": (),
    "similarity.centroids": ("group_centroids",),
    "functions": (),
    "scanstats": (),
    "text": (),
}


def _lazy_surface(package: str, exports: dict[str, tuple[str, ...]]):
    """PEP 562 ``__getattr__`` and ``__dir__`` for ``package``:
    ``exports`` maps each submodule (dotted, relative to the package)
    to the names it exports at the package level; a top-level key is
    also an attribute of the package. ``dir()`` lists the dunders, the
    public globals and every lazy name."""
    # imported here, not at module level, so that the package namespace
    # holds only its surface
    import importlib
    import sys

    lazy = {m: m for m in exports if "." not in m}
    lazy.update((name, m) for m, names in exports.items() for name in names)
    namespace = sys.modules[package].__dict__

    def __getattr__(name: str):
        module = lazy.get(name)
        if module is None:
            raise AttributeError(f"module {package!r} has no attribute {name!r}")
        value = importlib.import_module(f"{package}.{module}")
        if module != name:
            value = getattr(value, name)
        namespace[name] = value
        return value

    def __dir__() -> list[str]:
        own = {
            n for n in namespace
            if n.startswith("__") or not n.startswith("_")
        } - {"__getattr__", "__dir__"}
        return sorted(own | set(lazy))

    return __getattr__, __dir__


__getattr__, __dir__ = _lazy_surface(__name__, _EXPORTS)

__version__ = "0.3.0"  # tracks pyproject.toml

__all__ = [
    "get_spark",
    "load_tables",
    "register_views",
    # reference feature transformers
    "RankTransformer",
    "LagTransformer",
    "MovingAverageTransformer",
    "LogReturnTransformer",
    "GroupStatsTransformer",
    "FeatureNeutralizer",
    "FeaturePenalizer",
    "DimReducer",
    "EmbeddingTransformer",
    # reference model estimators (keras-gated at use, importable always)
    "BaseKerasEstimator",
    "SequenceEstimator",
    "MLPRegressor",
    "LSTMRegressor",
    "TransformerRegressor",
    "BottleneckEncoder",
    "NeuralDecisionForestRegressor",
    "TemperatureAnnealing",
    "DSPyMator",
    "KerasCortex",
    # config helpers
    "set_keras_backend",
    "get_keras_backend",
    # engine extensions
    "LinearRegressor",
    "KerasEstimator",
    "spearman_corr",
    # round-5 analytics / ML / join surface
    "attribution",
    "funnel",
    "gini_by_group",
    "retention_cohorts",
    "scd2_intervals",
    "pagerank_int",
    "table_diff",
    "kaplan_meier",
    "ab_test_report",
    "cuped_adjust",
    "auc_score",
    "calibration_bins",
    "log_loss",
    "frequent_itemsets",
    "make_baskets",
    "bloom_semi_join",
    "record_linkage",
    "group_centroids",
    "write_z_ordered",
    "z_order_key",
]
