"""FeaturePenalizer — per-era exposure capping via Adamax optimization.

Reference semantics (/root/reference/src/centimators/feature_transformers/
penalization.py:34-303): per era, per (pred × max_exposure):
  1. gaussianize predictions
  2. feats := features − 0.5 (float32)
  3. target_exp = clip(exposures(feats, pred), ±max_exp) where
     exposures(x, y) = corr of unit-normalized centered columns (:296-303)
  4. minimize  Σ relu(relu(e)−relu(te)) + relu(relu(−e)−relu(−te))  over
     w (adjustment weights), e = exposures(feats, pred − feats@w), via
     Adamax (β1=.9, β2=.999, eps=1e-7, lr=1e-3, tol=1e-7,
     max_iters=100000)
  5. penalized = pred − feats@w ; standardize by population std per era
then GLOBAL min-max to [0,1]. Output ``{pred}_penalized_{exp}[_{suffix}]``.

This port replaces the reference's JAX `lax.while_loop` + autodiff with a
hand-derived analytic gradient in float32 numpy (no JAX on executors).
The reference itself accepts cross-framework slack (output correlation
> 0.95, exposure ≤ cap + 0.01 — tests/test_penalizer_comparison.py:264,316),
which is the parity bar for this kernel too.

Spark plan: FeatureNeutralizer's (see its module doc) — the kernel
input is hash-partitioned on the era and read by one ``mapInPandas``
call per partition. The call runs every era of its partition through
ONE Adamax loop (``reduce_exposure_factored``), so the loop's
per-iteration Python overhead is paid once per partition rather than
once per era; an era's result does not depend on which eras share the
loop. Two shuffles: the era hash-partition into the kernel and the
exchange of the kernel output that both phases of the global min-max
share (each era's kernel runs once per transform). Memory: one
post-shuffle partition per Python call, at AQE's advisory size unless
a single hash partition's eras are larger.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from centimators_spark.functions.normal import gaussianize
from centimators_spark.operators.neutralization import (
    EraKernelTransformer,
    era_blocks,
    global_min_max_scale,
)


def _normalize_cols(x: np.ndarray) -> np.ndarray:
    x = x - x.mean(axis=0)
    return x / np.linalg.norm(x, axis=0)


def exposures(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Correlation of each column of x with each column of y."""
    return _normalize_cols(x).T @ _normalize_cols(y)


def reduce_exposure(
    prediction: np.ndarray,
    features: np.ndarray,
    max_exp: float,
    lr: float = 1e-3,
    max_iters: int = 100_000,
    tol: float = 1e-7,
) -> np.ndarray:
    """Numpy Adamax port of the reference JAX kernel (float32)."""
    feats = (features - 0.5).astype(np.float32)
    pred = np.asarray(prediction, dtype=np.float32)[:, None]
    n, k = feats.shape

    xhat = _normalize_cols(feats)  # constant wrt w
    target = np.clip(exposures(feats, pred), -max_exp, max_exp)
    relu = lambda a: np.maximum(a, 0.0)  # noqa: E731
    t_pos, t_neg = relu(target), relu(-target)

    beta1, beta2, eps = np.float32(0.9), np.float32(0.999), np.float32(1e-7)
    w = np.zeros((k, 1), dtype=np.float32)
    m = np.zeros((k, 1), dtype=np.float32)
    u = np.zeros((k, 1), dtype=np.float32)

    for t in range(1, max_iters + 1):
        v = pred - feats @ w
        mu = v.mean()
        c = v - mu
        norm = np.linalg.norm(c)
        yhat = c / norm
        e = xhat.T @ yhat
        pos_excess = relu(relu(e) - t_pos)
        neg_excess = relu(relu(-e) - t_neg)
        loss = float(np.sum(pos_excess + neg_excess))
        if loss < tol:
            break
        # analytic (sub)gradient: dloss/de ∈ {−1, 0, +1} per component
        s = (pos_excess > 0) * (e > 0) * 1.0 - (neg_excess > 0) * (-e > 0) * 1.0
        s = s.astype(np.float32)
        g_yhat = xhat @ s
        g_c = (g_yhat - yhat * (yhat.T @ g_yhat)) / norm
        g_v = g_c - g_c.mean()
        grads = -feats.T @ g_v
        m = beta1 * m + (1 - beta1) * grads
        u = np.maximum(beta2 * u, np.abs(grads))
        m_hat = m / (1 - beta1**t)
        w = w - lr * m_hat / (u + eps)

    return np.asarray(pred - feats @ w).squeeze()


def reduce_exposure_factored(
    prediction: np.ndarray,
    features: np.ndarray,
    max_exp: float,
    lr: float = 1e-3,
    max_iters: int = 100_000,
    tol: float = 1e-7,
    starts: Sequence[int] = (0,),
) -> np.ndarray:
    """O(k²)-per-iteration reformulation of ``reduce_exposure``, run for
    a batch of eras at once: era i is rows ``starts[i]:starts[i+1]``
    (the last era runs to the end), and each era is optimized on its own
    rows exactly as a batch of one would be.

    Every per-iteration quantity reduces to k-dimensional algebra over
    Gram-style reductions computed ONCE per era (n-dim work):
      e       = (x̂ᵀp − x̂ᵀF·w)/‖c‖          (x̂ᵀ1 = 0 kills the mean term)
      ‖c‖²    = pᵀp − 2(Fᵀp)ᵀw + wᵀ(FᵀF)w − n·μ(w)²
      ∇w      = −(x̂ᵀF)ᵀs/‖c‖ + (Fᵀc/‖c‖)·(eᵀs)/‖c‖
    (mean-gradient terms vanish because x̂ and c are centered). One
    Adamax loop then steps every era that has not converged; an era
    stops once its loss is below ``tol`` or ‖c‖² ≤ 0. The optimizer
    trajectory matches the direct kernel up to float accumulation; the
    reference's own parity bar (output corr > 0.95, exposure ≤ cap +
    0.01) is asserted in tests. Cost drops from O(n·k·iters) per era to
    O(n·k) per era + O(k²·iters) per batch, and the loop's Python
    overhead is paid once per batch instead of once per era."""
    # C order: the closing per-row sums run along the last axis, and
    # numpy sums a strided axis in another order than a contiguous one
    feats = np.ascontiguousarray(features, dtype=np.float64) - 0.5
    pred = np.asarray(prediction, dtype=np.float64)[:, None]
    edges = list(starts) + [len(pred)]
    stats = []
    for a, b in zip(edges[:-1], edges[1:]):
        # fresh copies: BLAS rounding can depend on an operand's memory
        # alignment, and a slice's alignment depends on the era's offset
        # in the batch; a copy is allocated as a batch of one's arrays are
        f, p = feats[a:b].copy(), pred[a:b].copy()
        xhat = _normalize_cols(f)
        ones = np.ones((b - a, 1))
        xf = xhat.T @ f
        stats.append((
            f.T @ f,                        # A   = FᵀF
            xf,                             # xf  = x̂ᵀF
            xf.T,                           # xfT = Fᵀx̂ (stacked as a C-order copy)
            (f.T @ p)[:, 0],                # fp  = Fᵀp
            (f.T @ ones)[:, 0],             # f1  = Fᵀ1
            (xhat.T @ p)[:, 0],             # xp  = x̂ᵀp
            (p.T @ p).item(),               # pp
            (ones.T @ p).item(),            # p1
            float(b - a),                   # n
            np.linalg.norm(p - p.mean()),   # ‖p − p̄‖
        ))
    A, xf, xfT, fp, f1, xp, pp, p1, n, pnorm = (np.array(z) for z in zip(*stats))
    # initial exposures at w=0: e0 = xp / ‖pred − mean‖
    target = np.clip(xp / pnorm[:, None], -max_exp, max_exp)
    relu = lambda a: np.maximum(a, 0.0)  # noqa: E731
    t_pos, t_neg = relu(target), relu(-target)
    # every product in the loop is an elementwise multiply summed along
    # the last axis — no BLAS call, whose rounding can depend on where an
    # era's block sits in memory — so an era's trajectory is the same
    # whichever eras share its batch
    dot = lambda a, b: (a * b).sum(axis=-1)  # noqa: E731
    mv = lambda M, v: (M * v[:, None, :]).sum(axis=-1)  # noqa: E731

    beta1, beta2, eps = 0.9, 0.999, 1e-7
    W = np.zeros_like(fp)          # final weights of every era
    live = np.arange(len(n))       # eras still stepping
    w, m, u = W.copy(), W.copy(), W.copy()
    for t in range(1, max_iters + 1):
        Aw = mv(A, w)
        mu = (p1 - dot(f1, w)) / n
        c2 = pp - 2.0 * dot(fp, w) + dot(w, Aw) - n * mu * mu
        norm = np.sqrt(np.where(c2 > 0, c2, 1.0))[:, None]
        e = (xp - mv(xf, w)) / norm
        pos_excess = relu(relu(e) - t_pos)
        neg_excess = relu(relu(-e) - t_neg)
        done = (c2 <= 0) | ((pos_excess + neg_excess).sum(axis=-1) < tol)
        if done.any():
            W[live[done]] = w[done]
            go = ~done
            if not go.any():
                break
            live = live[go]
            A, xf, xfT, fp, f1, xp, pp, p1, n, t_pos, t_neg = (
                z[go] for z in (A, xf, xfT, fp, f1, xp, pp, p1, n, t_pos, t_neg)
            )
            w, m, u, Aw, mu, norm, e, pos_excess, neg_excess = (
                z[go] for z in (w, m, u, Aw, mu, norm, e, pos_excess, neg_excess)
            )
        s = (pos_excess > 0) * (e > 0) * 1.0 - (neg_excess > 0) * (-e > 0) * 1.0
        fyhat = (fp - Aw - mu[:, None] * f1) / norm      # Fᵀŷ
        grads = -(mv(xfT, s) - fyhat * dot(e, s)[:, None]) / norm
        m = beta1 * m + (1 - beta1) * grads
        u = np.maximum(beta2 * u, np.abs(grads))
        w = w - lr * (m / (1 - beta1**t)) / (u + eps)
    else:
        W[live] = w

    return np.concatenate([
        pred[a:b, 0] - dot(feats[a:b], W[i])
        for i, (a, b) in enumerate(zip(edges[:-1], edges[1:]))
    ])


class FeaturePenalizer(EraKernelTransformer):
    """Spark port of the reference FeaturePenalizer (see module doc).

    Filter the input, not the output. A ``.where`` on the output is
    pushed under the row side of ``global_min_max_scale`` only, so the
    Adamax kernel runs twice. A filtered input is scored on the kept
    rows alone (per-era fits and min-max bounds cover only those rows);
    to keep full-frame scaling and select rows, cut the output first
    (write it, or ``localCheckpoint``) and filter that."""

    def __init__(
        self,
        max_exposure: float | Sequence[float] = 0.1,
        pred_name: str | Sequence[str] = "prediction",
        feature_names: Sequence[str] | None = None,
        suffix: str | None = None,
        *,
        lr: float = 1e-3,
        max_iters: int = 100_000,
        tol: float = 1e-7,
        era_col: str | None = "era",
        order_col: str | Sequence[str] | None = None,
        keep_cols: Sequence[str] | None = None,
    ):
        super().__init__(pred_name, feature_names, suffix, era_col, order_col, keep_cols)
        self.max_exposures = (
            [max_exposure] if isinstance(max_exposure, (int, float)) else list(max_exposure)
        )
        for e in self.max_exposures:
            if not 0.0 <= e <= 1.0:
                raise ValueError(f"max_exposure should be in [0, 1]. Got {e}.")
        self.lr, self.max_iters, self.tol = lr, max_iters, tol
        self._output_names = [
            f"{pn}_penalized_{ex}_{suffix}" if suffix else f"{pn}_penalized_{ex}"
            for pn in self.pred_names
            for ex in self.max_exposures
        ]

    def transform(self, df: DataFrame) -> DataFrame:
        narrow, era_col, feats, passthrough, schema = self._kernel_input(df)
        preds, exps, order_col = self.pred_names, self.max_exposures, self.order_col
        lr, max_iters, tol = self.lr, self.max_iters, self.tol
        out_names = self._output_names

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            # rows of one era contiguous, each era in order_col order
            if order_col:
                pdf = pdf.sort_values(order_col, kind="stable")
            pdf, starts = era_blocks(pdf, era_col)
            per_era = lambda v: np.split(v, starts[1:])  # noqa: E731
            X = pdf[feats].to_numpy(dtype=np.float64)
            out = {c: pdf[c] for c in passthrough}
            names = iter(out_names)
            for pn in preds:
                gauss = np.concatenate([
                    gaussianize(p) for p in per_era(pdf[pn].to_numpy(dtype=np.float64))
                ])
                for ex in exps:
                    pen = reduce_exposure_factored(gauss, X, ex, lr, max_iters, tol, starts)
                    out[next(names)] = np.concatenate([p / np.std(p) for p in per_era(pen)])
            return pd.DataFrame(out)

        raw = self._per_partition(narrow, era_col, schema, kernel)
        return global_min_max_scale(raw, out_names)
