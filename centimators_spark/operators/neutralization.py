"""FeatureNeutralizer — per-era linear feature neutralization.

Reference semantics (/root/reference/src/centimators/feature_transformers/
neutralization.py:22-248): per era, per (pred × proportion):
  1. gaussianize predictions (ordinal rank → (r−0.5)/n → Φ⁻¹)
  2. OLS coeffs = lstsq(features, gauss_preds)
  3. neut = gauss_preds − proportion · (features @ coeffs)
  4. standardize: neut / std(neut)  (population std, ddof=0; no centering)
then a GLOBAL min-max of each output column to [0, 1]; constant column
(max−min < 1e-10) → 0.5. Output names
``{pred}_neutralized_{prop}[_{suffix}]`` (:96-101).

Spark plan:
- the kernel input is hash-partitioned on the era (``repartition(era)``
  with no count: AQE sizes the partitions and coalesces small ones)
  and read by ONE ``mapInPandas`` call per partition, which runs every
  era of the partition in turn (replaces the reference's serial era
  loop + joblib process-parallelism over (pred×prop) tasks, :159-177;
  we compute ALL (pred×prop) outputs in ONE kernel pass per era,
  sharing the gaussianize+lstsq work the reference recomputes per
  task). Hashing keeps every era whole inside one partition, and one
  Python call per partition instead of per era pays the call's fixed
  cost once for all of the partition's eras;
- the global min-max is a deliberate two-phase plan: tiny agg →
  broadcast crossJoin → column arithmetic (SURVEY.md §4 note 2), never
  an unpartitioned window. Both phases read the kernel output through
  one exchange keyed on every output column, which Spark plans once and
  reuses, so each era's kernel runs once per transform.

Scale: two shuffles — the era hash-partition into the kernel and the
exchange of the kernel output that both min-max phases share. One
Python call holds one post-shuffle partition in memory: AQE merges
small partitions up to its advisory size
(``spark.sql.adaptive.advisoryPartitionSizeInBytes``, 64 MB by default)
and never splits one, so a partition is larger only when a single
hash partition's eras are (an era must fit one task — inherent to
exact per-era lstsq; at 100 TB choose era granularity accordingly).
On small panels AQE coalesces the whole input into one task. Arrow
moves the batches; the kernel is vectorized numpy.
"""

from __future__ import annotations

import warnings
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from centimators_spark.functions.normal import gaussianize, ordinal_uniform


from centimators_spark.scanstats import (
    local_input_bytes,
    spread_if_underpartitioned,
)


# Below this input size, re-executing the residual lineage per consumer
# is cheaper than materializing it (round-7 measurement: the sf0.1
# 11 MB scan pays ~1.7 s for an unneeded localCheckpoint — the r5→r6
# neutralizer_kernel_contract regression — while the 10x 108 MB build
# needs the cut: 24 s → 7.8 s). The gate's shuffle is already deduped
# by ReusedExchange via the deterministic repartition key either way.
_MATERIALIZE_BYTES = 32 * 1024 * 1024


def gaussianize_stage(
    df: DataFrame,
    pred_name: str,
    *,
    era_col: str = "era",
    order_col: str | Sequence[str] | None = None,
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """The deterministic pre-Φ⁻¹ half of the neutralizer's gaussianize as
    a standalone operator: per era, ordinal rank → (r−0.5)/n, emitted as
    ``{pred}_gauss_u``. Runs the SAME numpy kernel path the
    FeatureNeutralizer uses (stable argsort after order_col sort), so an
    oracle hash-match here verifies the kernel's ordinal-tie ordering;
    the Φ⁻¹ tail stays covered by unit tests (AS241 vs known values)."""
    oc = [order_col] if isinstance(order_col, str) else list(order_col or [])
    out_name = f"{pred_name}_gauss_u"
    passthrough = list(dict.fromkeys(list(keep_cols) + [era_col]))
    schema = StructType([df.schema[c] for c in passthrough]).add(out_name, "double")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if oc:
            pdf = pdf.sort_values(oc, kind="stable")
        out = {c: pdf[c] for c in passthrough}
        out[out_name] = ordinal_uniform(pdf[pred_name].to_numpy(dtype=np.float64))
        return pd.DataFrame(out)

    narrow = df.select(*dict.fromkeys(oc + passthrough + [pred_name]))
    return narrow.groupBy(era_col).applyInPandas(kernel, schema)


def gaussianize_expr(
    df: DataFrame,
    pred_name: str,
    *,
    era_col: str,
    order_col: str | Sequence[str],
    out_name: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """The COMPLETE gaussianize (#16) as pure column expressions: per
    era, ordinal rank (row_number over (pred, order_col) — same stable
    tie order as the numpy kernel) → u = (rank−0.5)/n → AS241 Φ⁻¹
    evaluated as shared SQL text (functions/normal.norm_ppf_sql).

    Scale: one Window shuffle on era; eras of ANY size work (the
    applyInPandas kernel path holds a whole era per task). Output
    rounded to ``round_dp`` because ln/sqrt differ by 1 ULP across
    engines — everything else in the expression is bit-identical."""
    from centimators_spark.functions.normal import norm_ppf_sql

    oc = [order_col] if isinstance(order_col, str) else list(order_col)
    out = out_name or f"{pred_name}_gauss"
    w_rank = Window.partitionBy(era_col).orderBy(pred_name, *oc)
    w_era = Window.partitionBy(era_col)
    u = (
        (F.row_number().over(w_rank).cast("double") - 0.5)
        / F.count(F.lit(1)).over(w_era).cast("double")
    )
    return df.withColumn("__u", u).withColumn(
        out, F.round(F.expr(norm_ppf_sql("__u")), round_dp)
    ).drop("__u")


def global_min_max_scale(
    df: DataFrame, cols: Sequence[str], eps: float = 1e-10
) -> DataFrame:
    """Scale each col to [0,1] over the WHOLE frame (two-phase agg+broadcast);
    constant column → 0.5 (reference base.py:17-23).

    Both phases read ``df`` through ONE exchange keyed on every column
    (AQE sizes it). Spark plans the second read as a ReusedExchange, so
    an expensive ``df`` — a per-era Python kernel — is evaluated once.
    Every column must be a key: with fewer keys, column pruning pushes a
    narrower Project under the bounds side's exchange, the two exchanges
    differ and ``df`` runs twice. A filter applied to the result is
    pushed under the row side only, with the same effect: the output is
    still correct, but ``df`` is evaluated twice."""
    # output names may contain dots (e.g. "..._neutralized_0.5") — address
    # via backquoted references and dot-free temp aliases
    df = df.repartition(*[F.col(f"`{c}`") for c in df.columns])
    safe = {c: c.replace(".", "_") for c in cols}
    aggs = []
    for c in cols:
        aggs += [
            F.min(F.col(f"`{c}`")).alias(f"__min_{safe[c]}"),
            F.max(F.col(f"`{c}`")).alias(f"__max_{safe[c]}"),
        ]
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        mn, mx = F.col(f"__min_{safe[c]}"), F.col(f"__max_{safe[c]}")
        out = out.withColumn(
            c,
            F.when(mx - mn < eps, F.lit(0.5)).otherwise((F.col(f"`{c}`") - mn) / (mx - mn)),
        )
    return out.drop(*[f"__{k}_{safe[c]}" for c in cols for k in ("min", "max")])


def _ols_fragments(k: int, proportion: float, dp: int) -> dict:
    """Shared SQL text for every float-critical step of the era-OLS
    neutralizer. Spark evaluates these via F.expr and the DuckDB oracle
    embeds the same strings — identical expression trees over identical
    (exactly-aggregated) inputs make the two engines bit-equal."""
    from centimators_spark.ml import cramer

    gram_sums = []
    for i in range(k):
        for j in range(i, k):
            gram_sums.append(
                f"sum(CAST(f{i} * f{j} AS DECIMAL(38,0))) AS g_{i}_{j}"
            )
        gram_sums.append(f"sum(CAST(f{i} * y AS DECIMAL(38,0))) AS m_{i}")
    G = [
        [f"CAST(g_{min(i, j)}_{max(i, j)} AS DOUBLE)" for j in range(k)]
        for i in range(k)
    ]
    mv = [f"CAST(m_{i} AS DOUBLE)" for i in range(k)]
    coeffs = cramer.solve_sql(G, mv)
    expo = "0.0"
    for i in range(k):
        expo = f"({expo} + f{i} * b{i})"
    # the standardization sums ride in exact integer carriers: the
    # rounded residual × 10^dp is an integer both engines agree on
    # bit-for-bit; Spark holds it (and its square) in DECIMAL(19,0)/(38,0)
    # — exact at these magnitudes — while DuckDB needs HUGEINT (its
    # DECIMAL(18,·) multiply overflows int64 storage). Same integers,
    # different carrier spelling; every double-valued expression below is
    # shared text.
    ni = f"round(neut * 1e{dp})"
    return {
        "gram_sums": gram_sums,
        "coeffs": coeffs,
        "neut": f"round(y - {float(proportion)!r} * {expo}, {dp})",
        "ni_spark": f"CAST({ni} AS DECIMAL(19,0))",
        "ni_duck": f"CAST({ni} AS HUGEINT)",
        "std": (
            f"sqrt(CAST(s2 AS DOUBLE) / 1e{2 * dp} / n"
            f" - (CAST(s1 AS DOUBLE) / 1e{dp} / n)"
            f" * (CAST(s1 AS DOUBLE) / 1e{dp} / n))"
        ),
        "scaled": f"round(neut / sd, {dp})",
        "minmax": (
            f"round(CASE WHEN mx - mn < 1e-10 THEN 0.5"
            f" ELSE (v - mn) / (mx - mn) END, {dp})"
        ),
    }


def era_ols_neutralize(
    df: DataFrame,
    pred_name: str,
    feature_names: Sequence[str],
    *,
    era_col: str,
    proportion: float = 0.5,
    keep_cols: Sequence[str] = (),
    round_dp: int = 6,
    out_name: str = "neutralized",
    materialize: str = "auto",
) -> DataFrame:
    """Distributed per-era OLS neutralization as PURE column expressions
    — the deterministic (no-Φ⁻¹) sibling of FeatureNeutralizer's kernel,
    and the shape that scales: per era, coeffs = (XᵀX)⁻¹Xᵀy from one
    tiny grouped aggregation; neut = y − proportion·Xβ; per-era
    population-std standardization on fixed-decimal residuals; global
    min-max to [0,1] (constant → 0.5, reference base.py:17-23).

    No applyInPandas, no collect: three small aggregations (era Gram,
    era std, global min-max) broadcast back onto the scan — every
    per-row expression runs in whole-stage codegen. Eras of any size
    work (nothing materializes a whole era in one task, unlike the
    exact-kernel path).

    Determinism contract (the reason a bit-exact SQL oracle exists, see
    `era_ols_neutralize_oracle_sql`): callers supply INTEGER-VALUED
    features/pred (fixed-decimal columns pre-scaled by 10^k) so the
    DECIMAL(38,0) Gram sums are exact under any partition order; the
    k×k solve is the fixed-term-order Cramer expression (ml/cramer.py);
    residuals are rounded to ``round_dp`` decimals and standardized via
    exact decimal sums.

    ``materialize``: "localCheckpoint" always cuts the residual frame
    with an eager localCheckpoint; "auto" (default) cuts it only when
    spread_if_underpartitioned spreads the input and the input is at
    least _MATERIALIZE_BYTES."""
    if materialize not in ("auto", "localCheckpoint"):
        raise ValueError(
            f"materialize must be auto|localCheckpoint, got {materialize!r}"
        )
    feats = list(feature_names)
    k = len(feats)
    if k > 5:
        raise ValueError(
            f"era_ols_neutralize supports ≤5 features (k! Cramer terms); "
            f"got {k}. Use FeatureNeutralizer for wider designs."
        )
    fr = _ols_fragments(k, proportion, round_dp)
    keep = list(keep_cols)

    base = df.select(
        *keep,
        era_col,
        *[F.col(f).cast("double").alias(f"f{i}") for i, f in enumerate(feats)],
        F.col(pred_name).cast("double").alias("y"),
    )
    # spread the decimal Gram work across cores (decimal sums are
    # order-independent). The residual lineage feeds three consumers
    # (era std, global min-max, output projection); the spread's
    # deterministic key collapses them onto one reused exchange, and an
    # eager localCheckpoint cut pays only at or above _MATERIALIZE_BYTES
    # (measured 54 s uncut vs 15 s cut at 10x data, 6M rows). An input
    # the gate leaves alone is a pruned scan + broadcast join, which
    # re-scans into map-side-partial aggs cheaper than it checkpoints.
    spread = spread_if_underpartitioned(base)
    cut = materialize == "localCheckpoint" or (
        spread is not base
        and (local_input_bytes(df) or 0) >= _MATERIALIZE_BYTES
    )
    base = spread
    gram = base.groupBy(era_col).agg(
        *[
            F.expr(expr).alias(name)
            for expr, name in (s.rsplit(" AS ", 1) for s in fr["gram_sums"])
        ]
    )
    th = gram.select(
        era_col, *[F.expr(c).alias(f"b{i}") for i, c in enumerate(fr["coeffs"])]
    )
    r = (
        base.join(F.broadcast(th), era_col)
        .withColumn("neut", F.expr(fr["neut"]))
        .select(*keep, era_col, "neut")
    )
    # every stage is deterministic (exact decimal sums, fixed-order
    # Cramer, rounded residuals), so all consumers see identical values
    # whether or not the residuals are cut
    if cut:
        r = r.localCheckpoint(eager=True)
    stats = r.groupBy(era_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"sum({fr['ni_spark']})").alias("s1"),
        F.expr(f"sum({fr['ni_spark']} * {fr['ni_spark']})").alias("s2"),
    )
    sd = stats.select(era_col, F.expr(fr["std"]).alias("sd"))
    r2 = r.join(F.broadcast(sd), era_col).withColumn("v", F.expr(fr["scaled"]))
    mm = r2.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    return r2.crossJoin(F.broadcast(mm)).select(
        *keep, F.expr(fr["minmax"]).alias(out_name)
    )


def era_ols_neutralize_oracle_sql(
    table_sql: str,
    pred_sql: str,
    feature_sqls: Sequence[str],
    *,
    era_sql: str,
    key_sqls: Sequence[str],
    proportion: float = 0.5,
    round_dp: int = 6,
    out_name: str = "neutralized",
) -> str:
    """DuckDB oracle for `era_ols_neutralize`, generated from the SAME
    expression fragments the Spark plan evaluates (see _ols_fragments)."""
    k = len(feature_sqls)
    fr = _ols_fragments(k, proportion, round_dp)
    keys = ", ".join(key_sqls)
    fcols = ", ".join(f"{s} AS f{i}" for i, s in enumerate(feature_sqls))
    bcols = ", ".join(f"{c} AS b{i}" for i, c in enumerate(fr["coeffs"]))
    return f"""
        WITH base AS (
          SELECT {keys}, {era_sql} AS era, {fcols}, {pred_sql} AS y
          FROM {table_sql}
        ), g AS (
          SELECT era, {", ".join(fr["gram_sums"])} FROM base GROUP BY era
        ), th AS (
          SELECT era, {bcols} FROM g
        ), r AS (
          SELECT base.*, {fr["neut"]} AS neut
          FROM base JOIN th USING (era)
        ), st AS (
          SELECT era, count(*) AS n, sum({fr["ni_duck"]}) AS s1,
                 sum({fr["ni_duck"]} * {fr["ni_duck"]}) AS s2
          FROM r GROUP BY era
        ), sdt AS (
          SELECT era, {fr["std"]} AS sd FROM st
        ), r2 AS (
          SELECT r.*, {fr["scaled"]} AS v FROM r JOIN sdt USING (era)
        ), mm AS (SELECT min(v) AS mn, max(v) AS mx FROM r2)
        SELECT {keys}, {fr["minmax"]} AS {out_name}
        FROM r2 CROSS JOIN mm
    """


class EraKernelTransformer:
    """Set-up shared by the per-era kernel transformers
    (FeatureNeutralizer, FeaturePenalizer): the column arguments, the
    ``era_col=None`` single-era fallback, feature inference, the narrow
    kernel input, the kernel's output schema and the one-call-per-
    partition run. Subclasses set ``_output_names``."""

    def __init__(self, pred_name, feature_names, suffix, era_col, order_col, keep_cols):
        self.pred_names = [pred_name] if isinstance(pred_name, str) else list(pred_name)
        self.feature_names = list(feature_names) if feature_names else None
        self.suffix = suffix
        self.era_col = era_col
        self.order_col = (
            [order_col] if isinstance(order_col, str) else list(order_col) if order_col else None
        )
        self.keep_cols = list(keep_cols) if keep_cols else []

    def get_feature_names_out(self) -> list[str]:
        return list(self._output_names)

    def _kernel_input(self, df: DataFrame):
        """→ (narrow frame, era column, features, passthrough columns,
        kernel output schema)."""
        era_col = self.era_col
        if era_col is None:
            # reference fallback (neutralization.py:146-153): no era_series
            # → single era, with the same warning; one task processes all
            # rows (inference-sized frames only)
            warnings.warn(
                "era_col not provided. Treating all data as a single era. "
                "This is fine for live inference (1 era) but may be "
                "incorrect for training data with multiple eras.",
                UserWarning,
            )
            era_col = "__era"
            df = df.withColumn(era_col, F.lit(0))
        order = self.order_col or []
        if not order:
            warnings.warn(
                "order_col not set: ordinal tie-breaking in gaussianize will "
                "depend on partition order and is not deterministic."
            )
        skip = set(self.pred_names + self.keep_cols + [era_col] + order)
        feats = self.feature_names or [c for c in df.columns if c not in skip]
        passthrough = list(dict.fromkeys(order + self.keep_cols + [era_col]))
        narrow = df.select(*dict.fromkeys(passthrough + self.pred_names + feats))
        schema = StructType([narrow.schema[c] for c in passthrough])
        for name in self._output_names:
            schema = schema.add(name, "double")
        return narrow, era_col, feats, passthrough, schema

    @staticmethod
    def _per_partition(narrow: DataFrame, era_col: str, schema, kernel) -> DataFrame:
        """Run ``kernel`` once per partition of ``narrow`` hash-partitioned
        on the era: the partition's Arrow batches are concatenated and
        every era in them goes through one Python call. Hashing keeps
        each era whole inside one partition; AQE picks the partition
        count and coalesces small partitions up to its advisory size. An
        empty partition yields nothing."""

        def run(batches):
            parts = [b for b in batches if len(b)]
            if parts:
                yield kernel(pd.concat(parts, ignore_index=True))

        return narrow.repartition(era_col).mapInPandas(run, schema)


def era_blocks(pdf: pd.DataFrame, era_col: str) -> tuple[pd.DataFrame, np.ndarray]:
    """→ (``pdf`` with each era's rows contiguous and in their incoming
    order, the first row of each era). A null era is an era of its own."""
    codes = pd.factorize(pdf[era_col], use_na_sentinel=False)[0]
    idx = np.argsort(codes, kind="stable")
    return pdf.iloc[idx], np.flatnonzero(np.diff(codes[idx], prepend=-1))


def neutralize_era(
    X: np.ndarray, gauss: Sequence[np.ndarray], proportions: Sequence[float]
) -> list[np.ndarray]:
    """One era's neutralized columns, each gaussianized prediction's
    proportions in turn: fit ``lstsq(X, g)``, subtract ``proportion``
    times the exposure ``X @ coeffs``, divide by the population std.

    The steps run on fresh C-ordered float64 copies of ``X`` and of
    each prediction: LAPACK/BLAS rounding can depend on an operand's
    memory order and 16-byte alignment, and a pandas frame hands over
    F-ordered blocks at any offset, so without the copies the same era
    can differ in its last bits from one call to the next (the same
    reason ``penalization.reduce_exposure_factored`` copies each era's
    rows)."""
    X = np.array(X, dtype=np.float64, order="C")
    out = []
    for g in gauss:
        g = np.array(g, dtype=np.float64)
        exposure = X @ np.linalg.lstsq(X, g, rcond=None)[0]
        for pr in proportions:
            neut = g - pr * exposure
            out.append(neut / np.std(neut))
    return out


class FeatureNeutralizer(EraKernelTransformer):
    """Spark port of the reference FeatureNeutralizer (see module doc).

    Filter the input, not the output. A ``.where`` on the output is
    pushed under the row side of ``global_min_max_scale`` only, so each
    era's kernel runs twice. A filtered input is scored on the kept rows
    alone (per-era fits and min-max bounds cover only those rows); to
    keep full-frame scaling and select rows, cut the output first (write
    it, or ``localCheckpoint``) and filter that."""

    def __init__(
        self,
        proportion: float | Sequence[float] = 0.5,
        pred_name: str | Sequence[str] = "prediction",
        feature_names: Sequence[str] | None = None,
        suffix: str | None = None,
        *,
        era_col: str | None = "era",
        order_col: str | Sequence[str] | None = None,
        keep_cols: Sequence[str] | None = None,
    ):
        super().__init__(pred_name, feature_names, suffix, era_col, order_col, keep_cols)
        self.proportions = (
            [proportion] if isinstance(proportion, (int, float)) else list(proportion)
        )
        if len(set(self.pred_names)) != len(self.pred_names):
            raise ValueError("Duplicate pred_names found.")
        for p in self.proportions:
            if not 0.0 <= p <= 1.0:
                raise ValueError(f"proportion should be in [0, 1]. Got {p}.")
        self._output_names = [
            f"{pn}_neutralized_{pr}_{suffix}" if suffix else f"{pn}_neutralized_{pr}"
            for pn in self.pred_names
            for pr in self.proportions
        ]

    def transform(self, df: DataFrame) -> DataFrame:
        narrow, era_col, feats, passthrough, schema = self._kernel_input(df)
        preds, props, order_col = self.pred_names, self.proportions, self.order_col
        out_names = self._output_names

        def era_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            if order_col:
                pdf = pdf.sort_values(order_col, kind="stable")
            gauss = [gaussianize(pdf[pn].to_numpy(dtype=np.float64)) for pn in preds]
            cols = neutralize_era(pdf[feats].to_numpy(dtype=np.float64), gauss, props)
            out = {c: pdf[c] for c in passthrough}
            out.update(zip(out_names, cols))
            return pd.DataFrame(out)

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf, starts = era_blocks(pdf, era_col)
            ends = [*starts[1:], len(pdf)]
            return pd.concat([era_kernel(pdf.iloc[a:b]) for a, b in zip(starts, ends)])

        raw = self._per_partition(narrow, era_col, schema, kernel)
        return global_min_max_scale(raw, out_names)
