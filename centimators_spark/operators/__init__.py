"""Operator surface: per-era kernels, panel/time-series transformers,
joins, encoders and drift/anomaly statistics.

Loads lazily (PEP 562), like the package itself: each exported name or
submodule is imported on first access, so importing one operator module
(say, the per-era kernels on a Python worker) runs no other.
"""

from centimators_spark import _lazy_surface

# submodule -> the names it exports here; every submodule listed is
# also an attribute of this package
_EXPORTS = {
    "mwu": ("brown_forsythe", "mann_whitney_u"),
    "ranking": ("RankTransformer",),
    "time_series": (
        "DiffTransformer",
        "EWMATransformer",
        "ExpandingAggTransformer",
        "ForwardReturnTransformer",
        "LagTransformer",
        "LogReturnTransformer",
        "MovingAverageTransformer",
        "DrawdownTransformer",
        "RollingAggTransformer",
        "RollingCorrTransformer",
        "RollingRankTransformer",
    ),
    "stats": (
        "GroupStatsTransformer",
        "clip_by_quantile",
        "quantile_normalize",
        "robust_zscore",
        "trimmed_stats",
    ),
    "anomaly": ("ewma_anomaly_flags", "page_hinkley"),
    "drift": ("psi_drift", "psi_drift_categorical"),
    "neutralization": ("FeatureNeutralizer",),
    "penalization": ("FeaturePenalizer",),
    "dimreduction": ("DimReducer",),
    "embedding": ("EmbeddingTransformer",),
    "asof": ("asof_join", "asof_join_forward", "asof_join_nearest"),
    "rangejoin": ("band_label", "interval_join"),
    "skew": ("salted_join",),
    "encoding": (
        "feature_hash",
        "one_hot_encode",
        "quantile_bin",
        "target_encode",
        "woe_encode",
    ),
    "bloomjoin": (),
}
__getattr__, __dir__ = _lazy_surface(__name__, _EXPORTS)

__all__ = [
    "mann_whitney_u",
    "brown_forsythe",
    "interval_join",
    "band_label",
    "salted_join",
    "one_hot_encode",
    "target_encode",
    "quantile_bin",
    "feature_hash",
    "FeatureNeutralizer",
    "FeaturePenalizer",
    "DimReducer",
    "EmbeddingTransformer",
    "asof_join",
    "asof_join_forward",
    "asof_join_nearest",
    "RankTransformer",
    "LagTransformer",
    "MovingAverageTransformer",
    "LogReturnTransformer",
    "GroupStatsTransformer",
    "DiffTransformer",
    "ExpandingAggTransformer",
    "RollingAggTransformer",
    "DrawdownTransformer",
    "RollingCorrTransformer",
    "EWMATransformer",
    "ForwardReturnTransformer",
    "RollingRankTransformer",
    "woe_encode",
    "robust_zscore",
    "clip_by_quantile",
    "trimmed_stats",
    "quantile_normalize",
    "psi_drift",
    "psi_drift_categorical",
    "page_hinkley",
    "ewma_anomaly_flags",
]
