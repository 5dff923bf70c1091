"""Training losses (Keras-gated) + evaluation correlation operators.

The reference's differentiable Spearman loss and CombinedLoss
(/root/reference/src/centimators/model_estimators/losses.py:22-189) are
training-side Keras objects; they require the keras package (gated).
The ENGINE-side counterpart — what a 100 TB pipeline actually runs — is
the exact evaluation Spearman below: rank both columns per group
(average ties), then Pearson on the ranks, all with built-in window +
aggregate functions (two window shuffles on the group key, one agg).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from centimators_spark.operators.ranking import avg_rank


def spearman_corr(
    df: DataFrame, x: str, y: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Exact Spearman rank correlation of x and y per group (or global):
    average-tie ranks → Pearson. Returns (group_cols..., spearman)."""
    groups = group_cols or []
    ranked = df.select(
        *groups,
        avg_rank(x, groups).alias("__rx"),
        avg_rank(y, groups).alias("__ry"),
    )
    agg = F.corr("__rx", "__ry").alias("spearman")
    if groups:
        return ranked.groupBy(*groups).agg(agg)
    return ranked.agg(agg)


def soft_spearman_loss_np(
    y_true: np.ndarray, y_pred: np.ndarray, regularization_strength: float = 1e-3
) -> float:
    """Numpy mirror of the reference's differentiable Spearman loss
    (pairwise-sigmoid soft ranks, O(n²); losses.py:76-95) — used to
    validate the Keras implementation when keras is available, and as
    documentation of the math when it is not. Returns NEGATIVE soft
    rank correlation (a loss)."""

    # pairwise sigmoid soft rank: rank_i = 1 + Σ_j sigmoid((v_i - v_j)/T), j≠i;
    # the tanh form of the sigmoid saturates to 0/1 without overflowing
    # (1 / (1 + exp(-x)) overflows once |x| > ~709, i.e. for values
    # ~0.71 apart at the default strength)
    def soft_rank_exact(v: np.ndarray) -> np.ndarray:
        diff = (v[:, None] - v[None, :]) / regularization_strength
        s = 0.5 * (1.0 + np.tanh(diff / 2.0))
        np.fill_diagonal(s, 0.0)
        return 1.0 + s.sum(axis=1)

    rt = soft_rank_exact(np.asarray(y_true, dtype=np.float64))
    rp = soft_rank_exact(np.asarray(y_pred, dtype=np.float64))
    rt = (rt - rt.mean()) / rt.std()
    rp = (rp - rp.mean()) / rp.std()
    return -float((rt * rp).mean())


def make_keras_losses():
    """Return (SpearmanCorrelation, CombinedLoss) Keras loss classes
    (requires keras; gated)."""
    try:
        import keras  # type: ignore
        from keras import ops  # type: ignore
    except ImportError as e:  # pragma: no cover
        raise ImportError(
            "Keras losses require the 'keras' package (not installed); "
            "see soft_spearman_loss_np for the math"
        ) from e

    class SpearmanCorrelation(keras.losses.Loss):
        def __init__(self, regularization_strength: float = 1e-3, **kw):
            super().__init__(**kw)
            self.t = regularization_strength

        def _soft_rank(self, v):
            diff = (ops.expand_dims(v, 1) - ops.expand_dims(v, 0)) / self.t
            s = ops.sigmoid(diff)
            s = s - s * ops.eye(ops.shape(v)[0])
            return 1.0 + ops.sum(s, axis=1)

        def call(self, y_true, y_pred):
            rt = self._soft_rank(ops.reshape(y_true, (-1,)))
            rp = self._soft_rank(ops.reshape(y_pred, (-1,)))
            rt = (rt - ops.mean(rt)) / ops.std(rt)
            rp = (rp - ops.mean(rp)) / ops.std(rp)
            return -ops.mean(rt * rp)

    class CombinedLoss(keras.losses.Loss):
        def __init__(self, mse_weight=1.0, spearman_weight=1.0, **kw):
            super().__init__(**kw)
            self.mse = keras.losses.MeanSquaredError()
            self.spearman = SpearmanCorrelation()
            self.w1, self.w2 = mse_weight, spearman_weight

        def call(self, y_true, y_pred):
            return self.w1 * self.mse(y_true, y_pred) + self.w2 * self.spearman(
                y_true, y_pred
            )

    return SpearmanCorrelation, CombinedLoss
