"""GroupStatsTransformer — per-row stats over named feature groups.

Reference (/root/reference/src/centimators/feature_transformers/stats.py:
61-146): for each (feature_group × stat) emit
``{group}_groupstats_{stat}``; validates stat names; warns when a group
has fewer columns than the stat's minimum (mean/range 1, std/cv 2,
skew 3, kurtosis 4).

Spark plan: staged ``selectExpr`` projections of pure column arithmetic
(see `_staged_group_stats`), building only the moments the requested
stats read — row-local, zero shuffles, whole-stage codegen. Scale: no
memory beyond one row; the build costs a few Py4J calls per stage,
whatever the number of groups and columns.
"""

from __future__ import annotations

import warnings
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame

from centimators_spark.base import PanelTransformer

_STATS = ("mean", "std", "skew", "kurt", "range", "cv")

# long-form spellings accepted for convenience; canonical names (and the
# emitted column suffixes) are the reference's short forms (stats.py:67)
_STAT_ALIASES = {"kurtosis": "kurt", "coefficient_of_variation": "cv"}

_MIN_COLS = {
    "mean": 1,
    "range": 1,
    "std": 2,
    "cv": 2,
    "skew": 3,
    "kurt": 4,
}


# moments each stat reads besides n: the mean needs s1 and mu, the
# spread stats m2 (over mu), skew m3 and kurtosis m4; range reads only
# the row's greatest/least, guarded by n
_NEEDS = {
    "mean": ("s1", "mu"),
    "std": ("s1", "mu", "m2"),
    "cv": ("s1", "mu", "m2"),
    "skew": ("s1", "mu", "m2", "m3"),
    "kurt": ("s1", "mu", "m2", "m4"),
    "range": (),
}

_NAN = "CAST('NaN' AS DOUBLE)"
_INF = "CAST('Infinity' AS DOUBLE)"


def _q(name: str) -> str:
    """``name`` as a backquoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _d(x: float) -> str:
    """A finite double as an exact SQL DOUBLE literal."""
    return f"{x!r}D"


def _sum(terms: Sequence[str]) -> str:
    # left to right, like the reduce it replaces: ((a + b) + c) + ...
    return " + ".join(terms)


def _staged_group_stats(
    df: DataFrame,
    mapping: Mapping[str, Sequence[str]],
    stats: Sequence[str],
    passthrough: Sequence[str],
) -> DataFrame:
    """Multi-stat plan as staged projections: per group compute n, sum,
    mu, then the centered moment sums m2/m3/m4 ONCE, then all stats as
    cheap arithmetic. Only the moments the requested stats read are
    built (``_NEEDS``). The staging keeps Catalyst from inlining the
    (expensive, multiply-referenced) intermediates into every stat
    expression — ~6x less codegen than the one-shot per-stat formulas.
    Each stage is ONE ``selectExpr`` over SQL text with every column
    name backquoted, so building the plan costs a few Py4J calls per
    stage rather than one per Column node. Skew/kurtosis divide by
    s³/s² AFTER summing (algebraically equal to the reference's
    per-term standardization; both sides of the DuckDB differential
    oracle use this same form)."""
    needs = {m for s in stats for m in _NEEDS[s]}
    stage1, stage2, stage3, final = [], [], [], [_q(c) for c in passthrough]
    for g, cols in mapping.items():
        n, s1, mu, m2, m3, m4 = (
            _q(f"__{m}_{g}") for m in ("n", "s1", "mu", "m2", "m3", "m4")
        )
        ts = [f"CAST({_q(c)} AS DOUBLE)" for c in cols]

        def guarded(e):
            return [f"CASE WHEN {t} IS NOT NULL THEN {x} ELSE 0.0D END" for t, x in zip(ts, e)]

        stage1.append(f"{_sum(guarded(['1.0D'] * len(ts)))} AS {n}")
        if "s1" in needs:
            stage1.append(f"{_sum(guarded(ts))} AS {s1}")
            stage2.append(f"CASE WHEN {n} > 0 THEN {s1} / {n} END AS {mu}")
        d = [f"({t} - {mu})" for t in ts]
        if "m2" in needs:
            stage3.append(f"{_sum(guarded([f'{x} * {x}' for x in d]))} AS {m2}")
        if "m3" in needs:
            stage3.append(f"{_sum(guarded([f'{x} * {x} * {x}' for x in d]))} AS {m3}")
        if "m4" in needs:
            stage3.append(
                f"{_sum(guarded([f'({x} * {x}) * ({x} * {x})' for x in d]))} AS {m4}"
            )

        # Reference parity (narwhals_utils.py:43-57,93-121,146-160): the
        # denominators and bias corrections use the STATIC column count
        # ns = len(cols) — only the mean and the centered-moment sums skip
        # per-row nulls. ns < min → constant NaN, decided at plan build.
        ns = float(len(cols))
        var_s = f"({m2} / {_d(ns - 1.0)})" if ns > 1 else _NAN
        std = f"SQRT({var_s})"
        std_e = _NAN if ns < 2 else std
        if len(ts) > 1:
            hi, lo = f"GREATEST({', '.join(ts)})", f"LEAST({', '.join(ts)})"
        else:
            hi = lo = ts[0]
        exprs = {
            "mean": mu,
            "std": std_e,
            "skew": _NAN
            if ns < 3
            else f"CASE WHEN {m2} = 0 THEN {_NAN} ELSE "
            f"{_d(ns / ((ns - 1) * (ns - 2)))} * ({m3} / ({std} * {std} * {std})) END",
            "kurt": _NAN
            if ns < 4
            else f"CASE WHEN {m2} = 0 THEN {_NAN} ELSE "
            f"{_d(ns * (ns + 1) / ((ns - 1) * (ns - 2) * (ns - 3)))}"
            f" * ({m4} / ({var_s} * {var_s}))"
            f" - {_d(3 * ((ns - 1) * (ns - 1)) / ((ns - 2) * (ns - 3)))} END",
            "range": f"CASE WHEN {n} > 0 THEN {hi} - {lo} END",
            "cv": f"CASE WHEN {mu} IS NULL OR isnan({std_e}) THEN {_NAN}"
            f" WHEN ({mu} = 0) AND ({std} = 0) THEN {_NAN}"
            f" WHEN {mu} = 0 THEN {_INF} ELSE {std_e} / {mu} END",
        }
        final += [f"{exprs[s]} AS {_q(f'{g}_groupstats_{s}')}" for s in stats]

    out = df
    for stage in (stage1, stage2, stage3):
        if stage:
            out = out.selectExpr("*", *stage)
    return out.selectExpr(*final)


class GroupStatsTransformer(PanelTransformer):
    def __init__(
        self,
        feature_group_mapping: Mapping[str, Sequence[str]],
        stats: Sequence[str] | None = None,
        *,
        output_mode: str = "append",
        keep_cols: Sequence[str] | None = None,
    ):
        super().__init__(None, output_mode=output_mode, keep_cols=keep_cols)
        self.feature_group_mapping = {k: list(v) for k, v in feature_group_mapping.items()}
        raw = list(stats) if stats else list(_STATS)
        self.stats = [_STAT_ALIASES.get(s, s) for s in raw]
        bad = [s for s in self.stats if s not in _STATS]
        if bad:
            raise ValueError(f"invalid stats {bad}; valid: {sorted(_STATS)}")
        for group, cols in self.feature_group_mapping.items():
            for s in self.stats:
                if len(cols) < _MIN_COLS[s]:
                    warnings.warn(
                        f"group '{group}' has {len(cols)} column(s); stat '{s}' "
                        f"needs >= {_MIN_COLS[s]} — result will be NaN/degenerate"
                    )

    def _transform(self, df: DataFrame) -> DataFrame:
        passthrough = list(df.columns) if self.output_mode == "append" else list(self.keep_cols)
        return _staged_group_stats(
            df, self.feature_group_mapping, self.stats, passthrough
        )

    def get_feature_names_out(self) -> list[str]:
        return [
            f"{group}_groupstats_{s}"
            for group in self.feature_group_mapping
            for s in self.stats
        ]


def robust_zscore(
    df: DataFrame,
    cols: Sequence[str],
    *,
    era_col: str | None = None,
    exact: bool = False,
    accuracy: int = 10_000,
    consistency: float = 1.4826022185056018,
    suffix: str = "_rz",
    round_dp: int | None = 6,
) -> DataFrame:
    """Median/MAD robust standardization — the outlier-immune sibling of
    z-scoring that financial panels prefer for fat-tailed features:
    ``rz = (x − median) / (consistency · MAD)`` with
    MAD = median(|x − median|) and the Gaussian consistency constant
    1/Φ⁻¹(3/4) ≈ 1.4826. Zero-MAD (majority-constant) columns → null.

    Plan: TWO tiny grouped aggregations (median, then MAD over the
    broadcast-joined deviations) broadcast back onto the scan — no
    Python, no window over the full table. exact=False (scale default)
    uses the mergeable approx_percentile sketch; exact=True uses
    interpolated exact ``percentile`` (full per-group sort), which is
    DuckDB ``quantile_cont``-parity for differential testing."""
    from pyspark.sql import functions as F

    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    keys = [era_col] if era_col else []

    med = (
        df.groupBy(*keys).agg(
            *[F.expr(f"{fn}({c}, 0.5{acc})").alias(f"__m_{c}") for c in cols]
        )
        if keys
        else df.agg(*[F.expr(f"{fn}({c}, 0.5{acc})").alias(f"__m_{c}") for c in cols])
    )
    with_med = (
        df.join(F.broadcast(med), keys)
        if keys
        else df.crossJoin(F.broadcast(med))
    )
    mad = (
        with_med.groupBy(*keys).agg(
            *[
                F.expr(f"{fn}(abs({c} - __m_{c}), 0.5{acc})").alias(f"__d_{c}")
                for c in cols
            ]
        )
        if keys
        else with_med.agg(
            *[
                F.expr(f"{fn}(abs({c} - __m_{c}), 0.5{acc})").alias(f"__d_{c}")
                for c in cols
            ]
        )
    )
    out = (
        with_med.join(F.broadcast(mad), keys)
        if keys
        else with_med.crossJoin(F.broadcast(mad))
    )
    for c in cols:
        z = F.when(
            F.col(f"__d_{c}") > 0,
            (F.col(c) - F.col(f"__m_{c}"))
            / (F.lit(consistency) * F.col(f"__d_{c}")),
        )
        if round_dp is not None:
            z = F.round(z, round_dp)
        out = out.withColumn(f"{c}{suffix}", z)
    return out.drop(*[f"__m_{c}" for c in cols], *[f"__d_{c}" for c in cols])


def clip_by_quantile(
    df: DataFrame,
    cols: Sequence[str],
    *,
    era_col: str | None = None,
    lo: float = 0.01,
    hi: float = 0.99,
    exact: bool = False,
    accuracy: int = 10_000,
    suffix: str = "_clipped",
) -> DataFrame:
    """Winsorization: clip each column to its [lo, hi] quantiles,
    per era when ``era_col`` is given (the financial-panel convention)
    else globally.

    Plan: one tiny per-era quantile aggregation broadcast back onto the
    scan, then pure greatest/least expressions — no Python, no second
    pass. exact=False (scale default) uses the mergeable
    ``approx_percentile`` sketch; exact=True uses interpolated exact
    ``percentile`` (full per-group sort — oracle-parity mode, same
    trade-off as event_percentiles)."""
    from pyspark.sql import functions as F

    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    keys = [era_col] if era_col else []
    aggs = []
    for c in cols:
        # one aggregate per column computes BOTH bounds: exact percentile
        # sorts the group once instead of twice (halves the dominant cost)
        aggs.append(
            F.expr(f"{fn}({c}, array({lo}, {hi}){acc})").alias(f"__b_{c}")
        )
    bounds = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    joined = (
        df.join(F.broadcast(bounds), keys)
        if keys
        else df.crossJoin(F.broadcast(bounds))
    )
    out = joined
    for c in cols:
        clipped = F.least(
            F.greatest(F.col(c), F.col(f"__b_{c}")[0]), F.col(f"__b_{c}")[1]
        )
        out = out.withColumn(f"{c}{suffix}", clipped)
    return out.drop(*[f"__b_{c}" for c in cols])


def trimmed_stats(
    df: DataFrame,
    value_col: str,
    *,
    era_col: str,
    trim: float = 0.1,
    scale: int = 100,
    order_cols: Sequence[str] = (),
    round_dp: int = 6,
):
    """Per-era TRIMMED mean/min/max of ``value_col`` — the robust
    location family between the raw mean (outlier-dominated) and the
    median (throws information away): drop the lowest and highest
    ``floor(n·trim)`` observations by RANK, aggregate the rest.

    Exactness contract (bit-exact DuckDB oracle,
    :func:`trimmed_stats_oracle_sql`): values ride a fixed-decimal
    integer carrier (``round(x · scale)``), the trim cut is integer
    rank logic (row_number ordered by the carrier then ``order_cols``
    as tiebreak), and the kept-sum accumulates as DECIMAL(38,0) —
    partition-order independent; the single division to the mean
    happens once, rounded to ``round_dp``.

    Plan: one window (rank within era — reuses the era shuffle) + one
    grouped aggregation on the same key, Catalyst-fused into a single
    exchange. Returns (era, n, n_kept, trimmed_mean, trimmed_min,
    trimmed_max) with min/max back in original units."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not 0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    u = F.round(F.col(value_col) * scale).cast("long")
    w = Window.partitionBy(era_col).orderBy(
        F.col("__u"), *[F.col(c) for c in order_cols]
    )
    ranked = (
        df.withColumn("__u", u)
        .withColumn("__r", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(era_col)))
    )
    k = F.floor(F.col("__n") * F.lit(trim)).cast("long")
    kept = ranked.where((F.col("__r") > k) & (F.col("__r") <= F.col("__n") - k))
    d = "decimal(38,0)"
    return (
        kept.groupBy(F.col(era_col).alias("era"))
        .agg(
            F.max("__n").alias("n"),
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(F.col("__u").cast(d)).alias("__s"),
            F.min("__u").alias("__mn"),
            F.max("__u").alias("__mx"),
        )
        .select(
            "era",
            "n",
            "n_kept",
            F.round(
                F.col("__s").cast("double")
                / F.col("n_kept").cast("double")
                / scale,
                round_dp,
            ).alias("trimmed_mean"),
            (F.col("__mn").cast("double") / scale).alias("trimmed_min"),
            (F.col("__mx").cast("double") / scale).alias("trimmed_max"),
        )
    )


def trimmed_stats_oracle_sql(
    table: str,
    value_sql: str,
    era_sql: str,
    *,
    trim: float = 0.1,
    scale: int = 100,
    order_sql: str = "",
    round_dp: int = 6,
) -> str:
    """DuckDB mirror of :func:`trimmed_stats` — identical carrier,
    rank rule, and decimal kept-sum."""
    tiebreak = f", {order_sql}" if order_sql else ""
    return f"""
        WITH ranked AS (
          SELECT {era_sql} AS era,
                 CAST(round(({value_sql}) * {scale}) AS BIGINT) AS u,
                 row_number() OVER (
                   PARTITION BY {era_sql}
                   ORDER BY CAST(round(({value_sql}) * {scale}) AS BIGINT){tiebreak}
                 ) AS r,
                 count(*) OVER (PARTITION BY {era_sql}) AS n
          FROM {table}
        ), kept AS (
          SELECT * FROM ranked
          WHERE r > CAST(floor(n * {trim!r}) AS BIGINT)
            AND r <= n - CAST(floor(n * {trim!r}) AS BIGINT)
        )
        SELECT era,
               CAST(max(n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_kept,
               round(CAST(sum(CAST(u AS DECIMAL(38,0))) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) / {scale}, {round_dp})
                 AS trimmed_mean,
               CAST(min(u) AS DOUBLE) / {scale} AS trimmed_min,
               CAST(max(u) AS DOUBLE) / {scale} AS trimmed_max
        FROM kept GROUP BY era
    """


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    *,
    ref_cond=None,
    era_col: str | None = None,
    n_points: int = 100,
    order_cols: Sequence[str] = (),
    out_col: str | None = None,
    exact: bool = False,
    round_dp: int = 6,
) -> DataFrame:
    """Map ``value_col``'s distribution onto a REFERENCE distribution —
    the quantile-normalization step that forces a drifted feature back
    into its training-time shape (the batch analogue of the
    rank→gaussianize family, but targeting an empirical distribution
    instead of a Gaussian):

        p    = (rank − 0.5) / n                (ordinal rank, full frame)
        out  = interp(p·K over Q[0..K])        (piecewise linear)

    where Q is the (K+1)-point interpolated quantile vector of the
    ``ref_cond`` slice (default: the whole frame — a pure
    re-normalization). K = ``n_points`` bounds BOTH the state and the
    approximation error; the reference vector is one aggregation
    broadcast back as a literal-sized array.

    ``exact=True`` pins interpolated exact percentiles for the oracle
    (:func:`quantile_normalize_oracle_sql`); the approx sketch is the
    100 TB default. ``order_cols`` breaks rank ties deterministically
    (same contract as gaussianize_expr). ``era_col`` ranks within each
    cross-section (the panel form that scales — and the semantic the
    rank family uses); omit it only on dimension-sized frames.

    NULL values have no quantile: they are excluded from the rank
    denominator (NULLS LAST ordering keeps non-null ranks 1..n intact)
    and emit NULL in ``out_col`` — pinned identically in the oracle
    (engines disagree on default NULL ordering: Spark sorts NULLS
    FIRST, DuckDB NULLS LAST, so an unpinned ordering would silently
    shift every rank on a nullable column)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    out = out_col or f"{value_col}_qnorm"
    K = int(n_points)
    if K < 2:
        raise ValueError(f"n_points must be >= 2, got {K}")
    probs = [i / K for i in range(K + 1)]
    probs_sql = ", ".join(repr(p) for p in probs)
    fn = "percentile" if exact else "approx_percentile"
    src = F.when(ref_cond, F.col(value_col)) if ref_cond is not None else F.col(value_col)
    qvec = df.select(src.alias("__rv")).agg(
        F.expr(f"{fn}(CAST(__rv AS DOUBLE), array({probs_sql}))").alias("__q")
    )
    # era_col partitions the rank (the scalable panel form: each
    # cross-section maps onto the reference distribution); WITHOUT it
    # the rank is a single-partition global window — fine for
    # dimension-sized frames, wrong for 100 TB (pass era_col there)
    part = [era_col] if era_col else []
    w = Window.partitionBy(*part).orderBy(
        F.col(value_col).asc_nulls_last(), *[F.col(c) for c in order_cols]
    )
    ranked = df.withColumn("__r", F.row_number().over(w)).withColumn(
        # count(value_col): non-null denominator — NULLs rank last so
        # non-null ranks stay 1..n
        "__n", F.count(F.col(value_col)).over(Window.partitionBy(*part))
    )
    j = ranked.crossJoin(F.broadcast(qvec))
    pk = (
        (F.col("__r").cast("double") - 0.5)
        / F.col("__n").cast("double")
        * K
    )
    i = F.floor(pk).cast("int")
    frac = pk - i.cast("double")
    lo = F.get(F.col("__q"), i)
    hi = F.get(F.col("__q"), i + 1)
    val = lo * (F.lit(1.0) - frac) + hi * frac
    guarded = F.when(F.col(value_col).isNotNull(), F.round(val, round_dp))
    return j.withColumn(out, guarded).drop("__r", "__n", "__q")


def quantile_normalize_oracle_sql(
    table: str,
    value_sql: str,
    *,
    ref_cond_sql: str | None = None,
    era_sql: str | None = None,
    n_points: int = 100,
    order_sql: str = "",
    select_sql: str = "*",
    out_name: str = "qnorm",
    round_dp: int = 6,
) -> str:
    """DuckDB mirror of :func:`quantile_normalize` (exact mode)."""
    K = int(n_points)
    probs_sql = ", ".join(repr(i / K) for i in range(K + 1))
    src = (
        f"CASE WHEN {ref_cond_sql} THEN CAST({value_sql} AS DOUBLE) END"
        if ref_cond_sql is not None
        else f"CAST({value_sql} AS DOUBLE)"
    )
    part = f"PARTITION BY {era_sql} " if era_sql else ""
    tiebreak = f", {order_sql}" if order_sql else ""
    return f"""
        WITH q AS (
          SELECT quantile_cont({src}, [{probs_sql}]) AS qv FROM {table}
        ), ranked AS (
          SELECT *,
                 row_number() OVER ({part}ORDER BY {value_sql} ASC NULLS LAST{tiebreak}) AS r,
                 count({value_sql}) OVER ({part.rstrip()}) AS n
          FROM {table}
        ), interp AS (
          SELECT *,
                 (CAST(r AS DOUBLE) - 0.5) / CAST(n AS DOUBLE) * {K} AS pk
          FROM ranked CROSS JOIN q
        )
        SELECT {select_sql},
               CASE WHEN {value_sql} IS NOT NULL THEN
               round(qv[CAST(floor(pk) AS INTEGER) + 1]
                       * (1.0 - (pk - CAST(floor(pk) AS DOUBLE)))
                     + qv[CAST(floor(pk) AS INTEGER) + 2]
                       * (pk - CAST(floor(pk) AS DOUBLE)),
                     {round_dp}) END AS {out_name}
        FROM interp
    """


def weighted_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_col: str,
    *,
    out_col: str = "wmedian",
) -> DataFrame:
    """Exact lower weighted median per group: the smallest value v such
    that Σ w over rows ≤ v reaches half the total weight (2·cumw ≥ W,
    integer weights — the comparison is exact, no float tie ambiguity).
    The standard robust location estimate when rows carry volumes.

    One (group, value) sort window + one grouped min over qualifying
    rows. Returns (group, n, total_weight, wmedian)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(group_col).orderBy(value_col)
    cum = F.sum(F.col(weight_col)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = F.sum(F.col(weight_col)).over(Window.partitionBy(group_col))
    flagged = df.select(
        F.col(group_col),
        F.col(value_col).alias("__v"),
        F.col(weight_col).alias("__w"),
        cum.alias("__cum"),
        tot.alias("__tot"),
    )
    return (
        flagged.where(2 * F.col("__cum") >= F.col("__tot"))
        .groupBy(group_col)
        .agg(F.min("__v").alias(out_col))
        .join(
            flagged.groupBy(group_col).agg(
                F.count(F.lit(1)).alias("n"),
                F.max("__tot").alias("total_weight"),
            ),
            group_col,
        )
        .select(group_col, "n", "total_weight", out_col)
    )


def weighted_median_oracle_sql(
    table_sql: str,
    value_sql: str,
    weight_sql: str,
    group_sql: str,
    *,
    out_name: str = "wmedian",
) -> str:
    """DuckDB mirror of :func:`weighted_median` (the group column keeps
    its name)."""
    g = group_sql
    return f"""
        WITH flagged AS (
          SELECT {group_sql} AS {g}, {value_sql} AS v, {weight_sql} AS wt,
                 sum({weight_sql}) OVER (PARTITION BY {group_sql}
                   ORDER BY {value_sql}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum({weight_sql}) OVER (PARTITION BY {group_sql}) AS tot
          FROM {table_sql}
        ), med AS (
          SELECT {g}, min(v) AS {out_name}
          FROM flagged WHERE 2 * cum >= tot GROUP BY {g}
        ), stats AS (
          SELECT {g}, CAST(count(*) AS BIGINT) AS n,
                 CAST(max(tot) AS BIGINT) AS total_weight
          FROM flagged GROUP BY {g}
        )
        SELECT {g}, n, total_weight, {out_name}
        FROM med JOIN stats USING ({g})
    """


def corr_matrix(
    df: DataFrame,
    features: "dict[str, Column]",
) -> DataFrame:
    """All-pairs Pearson correlation of k features in ONE aggregation
    pass — the collinearity screen run before feature neutralization
    (the reference computes exposures feature-by-feature against a
    target, `feature_transformers/neutralization.py`; the k×k matrix
    among the features themselves is its natural companion).

    ``features`` maps output names to *integral-valued* Columns (cents
    / whole-unit carriers). The k raw sums, k squared sums, and
    k(k-1)/2 cross sums all accumulate as DECIMAL(38,0) — exact, so
    ``r = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²))`` has an
    exact integer numerator and denominator factors; the only IEEE
    roundings are the two casts, one multiply, one sqrt, one divide —
    all correctly-rounded ops, bit-identical cross-engine.

    Scale shape: one map-side-combinable grand aggregate (partials
    combine associatively; the shuffle moves k(k+3)/2 decimals per
    upstream partition, not rows), then a 1-row → k(k-1)/2-row unpivot.
    No window, no join, no second pass over the data. Carrier headroom:
    DECIMAL(38) holds n·Σxy up to ~1e38 — for cents-scale features
    (|x| ≤ 1e7) that is ~1e12 rows per aggregate; beyond that, coarsen
    the carriers a decimal digit per 100× rows.

    Returns (feat_a, feat_b, n, corr) for the k(k-1)/2 pairs a < b by
    the given order; ``corr`` is null for a zero-variance side.
    """
    from pyspark.sql import functions as F

    names = list(features)
    d18 = "decimal(18,0)"
    exprs = {n: features[n].cast(d18) for n in names}
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    for n in names:
        aggs.append(F.sum(exprs[n]).alias(f"s_{n}"))
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i:]]
    for a, b in pairs:
        aggs.append(F.sum(exprs[a] * exprs[b]).alias(f"s_{a}_{b}"))
    row = df.agg(*aggs)

    def _r(a: str, b: str) -> Column:
        n = F.col("n")
        num = (n * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")).cast(
            "double"
        )
        da = (n * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
            "double"
        )
        db = (n * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast(
            "double"
        )
        den = F.sqrt(da * db)
        return F.when(den > 0, num / den)

    structs = [
        F.struct(
            F.lit(a).alias("feat_a"),
            F.lit(b).alias("feat_b"),
            _r(a, b).alias("corr"),
        )
        for a, b in pairs
        if a != b
    ]
    return row.select(
        F.col("n").cast("bigint").alias("n"),
        F.explode(F.array(*structs)).alias("p"),
    ).select(
        F.col("p.feat_a").alias("feat_a"),
        F.col("p.feat_b").alias("feat_b"),
        "n",
        F.col("p.corr").alias("corr"),
    )


def corr_matrix_oracle_sql(
    table_sql: str,
    feature_sqls: "dict[str, str]",
) -> str:
    """DuckDB twin of :func:`corr_matrix` — identical exact moments
    (HUGEINT carries what Spark carries as DECIMAL(38,0); DuckDB cannot
    multiply two DECIMAL(38,0)s, INT128 can and is overflow-checked),
    identical IEEE order (cast → multiply → sqrt → divide), UNION ALL
    unpivot."""
    names = list(feature_sqls)
    cast = {n: f"CAST({feature_sqls[n]} AS DECIMAL(18,0))" for n in names}
    sums = ["CAST(count(*) AS HUGEINT) AS n"]
    for n in names:
        sums.append(f"CAST(sum({cast[n]}) AS HUGEINT) AS s_{n}")
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i:]]
    for a, b in pairs:
        sums.append(
            f"CAST(sum({cast[a]} * {cast[b]}) AS HUGEINT) AS s_{a}_{b}"
        )
    moments = f"SELECT {', '.join(sums)} FROM {table_sql}"

    def _r(a: str, b: str) -> str:
        num = f"CAST(n * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
        da = f"CAST(n * s_{a}_{a} - s_{a} * s_{a} AS DOUBLE)"
        db = f"CAST(n * s_{b}_{b} - s_{b} * s_{b} AS DOUBLE)"
        return (
            f"CASE WHEN sqrt({da} * {db}) > 0 "
            f"THEN {num} / sqrt({da} * {db}) END"
        )

    rows = " UNION ALL ".join(
        f"SELECT '{a}' AS feat_a, '{b}' AS feat_b, "
        f"CAST(n AS BIGINT) AS n, {_r(a, b)} AS corr FROM m"
        for a, b in pairs
        if a != b
    )
    return f"WITH m AS ({moments}) {rows}"


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_col: str,
    *,
    quantiles: "tuple[tuple[int, int], ...]" = ((1, 4), (1, 2), (3, 4)),
    names: "tuple[str, ...]" = ("wq25", "wq50", "wq75"),
) -> DataFrame:
    """Exact type-1 (lower) weighted quantiles per group, the
    multi-quantile generalization of :func:`weighted_median`: for each
    q = num/den, the smallest value v whose cumulative weight reaches
    q of the total — decided by the INTEGER cross-multiplication
    cum·den ≥ num·tot, so there is no float tie ambiguity at any
    scale. ONE (group, value) sort window + ONE grouped aggregation
    computes every requested quantile (rows within an equal-value tie
    may permute in the window, but min(v) over qualifying rows is
    invariant to that). Returns (group, n, total_weight, *names)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(group_col).orderBy(value_col)
    cum = F.sum(F.col(weight_col)).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    # same (partition, order) spec with a full frame: Spark fuses both
    # sums into ONE Window operator (a bare partitionBy total would be
    # a second Window node over the same exchange)
    tot = F.sum(F.col(weight_col)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    flagged = df.select(
        F.col(group_col),
        F.col(value_col).alias("__v"),
        cum.alias("__cum"),
        tot.alias("__tot"),
    )
    aggs = [
        F.min(
            F.when(
                F.col("__cum") * F.lit(den) >= F.lit(num) * F.col("__tot"),
                F.col("__v"),
            )
        ).alias(nm)
        for (num, den), nm in zip(quantiles, names)
    ]
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("__tot").cast("long").alias("total_weight"),
        *aggs,
    )


def weighted_quantiles_oracle_sql(
    table_sql: str,
    value_sql: str,
    weight_sql: str,
    group_sql: str,
    *,
    quantiles: "tuple[tuple[int, int], ...]" = ((1, 4), (1, 2), (3, 4)),
    names: "tuple[str, ...]" = ("wq25", "wq50", "wq75"),
) -> str:
    """DuckDB mirror of :func:`weighted_quantiles`."""
    g = group_sql
    qcols = ", ".join(
        f"min(CASE WHEN cum * {den} >= {num} * tot THEN v END) AS {nm}"
        for (num, den), nm in zip(quantiles, names)
    )
    return f"""
        WITH flagged AS (
          SELECT {group_sql} AS {g}, {value_sql} AS v,
                 sum({weight_sql}) OVER (PARTITION BY {group_sql}
                   ORDER BY {value_sql}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                 sum({weight_sql}) OVER (PARTITION BY {group_sql}) AS tot
          FROM {table_sql}
        )
        SELECT {g}, CAST(count(*) AS BIGINT) AS n,
               CAST(max(tot) AS BIGINT) AS total_weight, {qcols}
        FROM flagged GROUP BY {g}
    """
