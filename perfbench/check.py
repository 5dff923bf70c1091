"""Output checks, run after the timed pass.

Query outputs are compared with ``__spark_entry__.oracle_sql()`` run by
DuckDB over the same generated parquet tables. ``panel_train`` stages
are compared with an independent pandas/numpy computation on the same
generated panel. A check returns None on success, else a reason.
"""

from __future__ import annotations

import os
from statistics import NormalDist

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
RTOL, ATOL = 1e-6, 1e-9
_DUCKDB: dict[str, object] = {}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), na_position="first", kind="mergesort")
    return df.reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Same columns, same row count, and the same rows after sorting:
    floats within RTOL/ATOL (NaN equals NaN), everything else as text."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.isclose(
                a.astype("float64").to_numpy(), b.astype("float64").to_numpy(),
                rtol=RTOL, atol=ATOL, equal_nan=True,
            )
        else:
            ok = a.astype(str).to_numpy() == b.astype(str).to_numpy()
        if not ok.all():
            return f"column {c}: {(~ok).sum()} values differ"
    return None


def oracle_check(data_dir: str, sql: str | None):
    """Check against the DuckDB oracle; queries without one are
    checked on producing rows only."""

    def run(out: pd.DataFrame) -> str | None:
        if sql is None:
            return None if len(out) > 0 else "no rows"
        con = _DUCKDB.get(data_dir)
        if con is None:
            import duckdb

            con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(data_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            _DUCKDB[data_dir] = con
        return compare_frames(out, con.execute(sql).fetchdf())

    return run


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _close(got: pd.Series, want: pd.Series, tol: float = RTOL) -> bool:
    return bool(
        np.isclose(
            got.to_numpy(dtype=np.float64), want.to_numpy(dtype=np.float64),
            rtol=tol, atol=tol, equal_nan=True,
        ).all()
    )


def _gaussianize(values: np.ndarray) -> np.ndarray:
    order = np.argsort(values, kind="stable")
    ranks = np.empty(len(values))
    ranks[order] = np.arange(1, len(values) + 1)
    ppf = NormalDist().inv_cdf
    return np.array([ppf(u) for u in (ranks - 0.5) / len(values)])


def _min_max(x: np.ndarray) -> np.ndarray:
    lo, hi = x.min(), x.max()
    return np.full_like(x, 0.5) if hi - lo < 1e-10 else (x - lo) / (hi - lo)


class PanelReference:
    """pandas/numpy recomputation of the panel_train stages."""

    def __init__(self, panel_path: str, feats: list[str], groups: dict[str, list[str]]):
        self.panel_path = panel_path
        self.feats = feats
        self.ranked = [f"{f}_rank" for f in feats]
        self.groups = groups
        self._features: pd.DataFrame | None = None

    def features(self) -> pd.DataFrame:
        if self._features is not None:
            return self._features
        df = _read(self.panel_path).sort_values(["ticker", "era"]).reset_index(drop=True)
        by_ticker = df.groupby("ticker", sort=False)
        df["close_logreturn"] = np.log(df["close"]) - by_ticker["close"].shift(1).pipe(np.log)
        for f in self.feats + ["close_logreturn"]:
            col = df.groupby("era")[f]
            df[f"{f}_rank"] = col.rank(method="average") / col.transform("count")
        by_ticker = df.groupby("ticker", sort=False)
        for k in (1, 2):
            for f in self.ranked:
                df[f"{f}_lag{k}"] = by_ticker[f].shift(k)
        for w in (3, 5):
            df[f"close_logreturn_ma{w}"] = by_ticker["close_logreturn"].transform(
                lambda s, w=w: s.rolling(w, min_periods=w).mean()
            )
        for g, cols in self.groups.items():
            x = df[cols]
            df[f"{g}_groupstats_mean"] = x.mean(axis=1)
            df[f"{g}_groupstats_std"] = x.std(axis=1, ddof=1)
            df[f"{g}_groupstats_range"] = x.max(axis=1) - x.min(axis=1)
        self._features = df
        return df

    def check_features(self, path: str) -> str | None:
        want = self.features()
        got = _read(path)
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(set(got.columns) ^ set(want.columns))} differ"
        if len(got) != len(want):
            return f"rows {len(got)} != {len(want)}"
        got = got.sort_values(["ticker", "era"]).reset_index(drop=True)
        for c in want.columns:
            if c in ("ticker", "era"):
                if not (got[c].to_numpy() == want[c].to_numpy()).all():
                    return f"keys {c} differ"
            elif not _close(got[c], want[c]):
                return f"column {c} differs"
        return None

    def check_neutralized(self, path: str, col: str, proportion: float) -> str | None:
        want = self.features()
        got = _read(path).sort_values(["era", "ticker"]).reset_index(drop=True)
        parts = []
        for _, era in want.sort_values(["era", "ticker"]).groupby("era", sort=True):
            x = era[self.ranked].to_numpy(dtype=np.float64)
            gauss = _gaussianize(era["prediction"].to_numpy(dtype=np.float64))
            coef = np.linalg.lstsq(x, gauss, rcond=None)[0]
            neut = gauss - proportion * (x @ coef)
            parts.append(neut / np.std(neut))
        expected = _min_max(np.concatenate(parts))
        if len(got) != len(expected):
            return f"rows {len(got)} != {len(expected)}"
        if not _close(got[col], pd.Series(expected), 1e-6):
            return f"column {col} differs"
        return None

    def check_penalized(
        self, out: pd.DataFrame, col: str, after_era: int, max_exp: float
    ) -> str | None:
        """The penalizer is an iterative optimizer, so check what it
        promises: every latest-era row, values min-max scaled to [0, 1],
        and each era's feature exposure within the cap (+0.01 slack, the
        reference's own parity bar)."""
        want = self.features()
        want = want[want["era"] > after_era]
        if len(out) != len(want):
            return f"rows {len(out)} != {len(want)}"
        v = out[col].to_numpy(dtype=np.float64)
        if abs(v.min()) > 1e-9 or abs(v.max() - 1.0) > 1e-9:
            return f"{col} not scaled to [0, 1]"
        joined = out.merge(want, on=["era", "ticker"])
        for era, g in joined.groupby("era"):
            x = g[self.ranked].to_numpy(dtype=np.float64)
            x = x - x.mean(axis=0)
            y = g[col].to_numpy(dtype=np.float64)
            y = y - y.mean()
            expo = (x / np.linalg.norm(x, axis=0)).T @ (y / np.linalg.norm(y))
            if np.abs(expo).max() > max_exp + 0.01:
                return f"era {era} exposure {np.abs(expo).max():.4f} > {max_exp}"
        return None

    def check_report(self, out: pd.DataFrame, path: str, col: str, scale: int) -> str | None:
        neut = _read(path)
        # the same integer carrier the report scores (Spark rounds half up)
        for c in (col, "target"):
            v = neut[c].to_numpy(dtype=np.float64) * scale
            neut[c] = np.sign(v) * np.floor(np.abs(v) + 0.5)
        corr = (
            neut.groupby("era")
            .apply(lambda g: np.corrcoef(g[col], g["target"])[0, 1], include_groups=False)
            .sort_index()
            .round(6)
        )
        cum = corr.cumsum()
        want = {
            "n_eras": float(len(corr)),
            "mean_corr": corr.mean(),
            "std_corr": corr.std(ddof=1),
            "sharpe": corr.mean() / corr.std(ddof=1),
            "min_corr": corr.min(),
            "max_corr": corr.max(),
            "max_drawdown": max(float((cum.cummax() - cum).max()), 0.0),
        }
        if len(out) != 1:
            return f"rows {len(out)} != 1"
        for k, v in want.items():
            if abs(float(out[k].iloc[0]) - v) > 1e-5:
                return f"{k} {float(out[k].iloc[0])} != {v}"
        return None
