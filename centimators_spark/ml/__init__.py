"""Model surface: the reference's Keras estimators, era metrics,
ensembling, calibration and conformal intervals.

Loads lazily (PEP 562), like the package itself: each exported name or
submodule is imported on first access, so importing one ``ml`` module
(say, ``ml.metrics``) loads neither the estimators nor ``pyspark.ml``.
"""

from centimators_spark import _lazy_surface

# submodule -> the names it exports here; every submodule listed is
# also an attribute of this package
_EXPORTS = {
    "estimators": (
        "BaseKerasEstimator",
        "BottleneckEncoder",
        "KerasEstimator",
        "LinearRegressor",
        "LSTMRegressor",
        "MLPRegressor",
        "NeuralDecisionForestRegressor",
        "SequenceEstimator",
        "TransformerRegressor",
        "sequence_reshape",
    ),
    "architectures": ("TemperatureAnnealing",),
    "bootstrap": ("bootstrap_mean_ci",),
    "calibration": ("isotonic_calibration",),
    "dspymator": ("DSPyMator",),
    "keras_cortex": ("KerasCortex",),
    "losses": ("make_keras_losses", "spearman_corr"),
    "conformal": ("conformal_interval", "conformal_quantiles"),
    "ensemble": ("rank_ensemble",),
    "feature_selection": ("mutual_information",),
    "metrics": ("autocorr", "era_corr", "era_report"),
}
__getattr__, __dir__ = _lazy_surface(__name__, _EXPORTS)

__all__ = [
    "bootstrap_mean_ci",
    "isotonic_calibration",
    "architectures",
    "BaseKerasEstimator",
    "BottleneckEncoder",
    "KerasEstimator",
    "LinearRegressor",
    "LSTMRegressor",
    "MLPRegressor",
    "NeuralDecisionForestRegressor",
    "SequenceEstimator",
    "TemperatureAnnealing",
    "TransformerRegressor",
    "autocorr",
    "conformal_interval",
    "conformal_quantiles",
    "era_corr",
    "era_report",
    "mutual_information",
    "rank_ensemble",
    "sequence_reshape",
    "DSPyMator",
    "KerasCortex",
    "make_keras_losses",
    "spearman_corr",
]
