"""Categorical/numeric feature encodings for training pipelines:
smoothed target encoding (with leave-one-out), era-aware quantile
binning, and the hashing trick.

All three follow the engine's exact-carrier convention so the DuckDB
oracles are bit-exact: category statistics accumulate as BIGINT sums of
fixed-decimal targets (partition-order independent, unlike a raw double
sum), bin boundaries come from the same interpolated-percentile
computation both engines implement identically, and hash buckets ride
the portable md5→BIGINT machinery (text/portable.py).

Plans: every operator is one tiny grouped aggregation broadcast back
onto the scan (target encode, quantile bin) or a pure map-side
expression (feature hash) — nothing shuffles the fact table.

Reference scope: the reference has no categorical encoders (its panels
are all-numeric); this extends SURVEY.md §2.3's training-data
inventory. Target encoding follows the standard smoothed/LOO scheme of
the CatBoost/Micci-Barreca line of work.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from centimators_spark.text.portable import md5_long, sql_md5_long

TARGET_SCALE = 1_000_000  # fixed-decimal micro-units for exact sums


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    *,
    smoothing: float = 20.0,
    era_col: str | None = None,
    loo: bool = False,
    out_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Append ``out_col`` = smoothed mean target per category:

        enc = (S_cat + m · prior) / (n_cat + m)

    with prior = global mean target and m = ``smoothing``. With
    ``loo=True`` the row's own target leaves the statistic
    (leave-one-out — the standard guard against self-leakage when the
    encoding feeds a model trained on the same rows):

        enc_i = (S_cat − y_i + m · prior) / (n_cat − 1 + m)

    era_col scopes BOTH the category sums and the prior per era.
    Exactness: targets are quantized to micro-units and summed as
    BIGINT, so S_cat and the prior are identical in any engine and
    partition order; the final division happens once, in doubles,
    rounded to ``round_dp``. Singleton categories under LOO (n=1)
    fall back to the pure prior.

    Plan: one grouped aggregation per scope (category stats; the era
    prior rides the same shuffle via a second tiny aggregation) joined
    back. The statistics and the prior (one row per era) are broadcast,
    so the fact table never shuffles — which assumes
    |categories × eras| is dimension-sized.
    """
    out = out_col or f"{cat_col}_te"
    keys = [era_col] if era_col else []
    yq = F.round(F.col(target_col) * TARGET_SCALE).cast("long")
    base = df.withColumn("__yq", yq)
    cat_stats = base.groupBy(*keys, cat_col).agg(
        F.sum("__yq").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    prior = (
        base.groupBy(*keys).agg(
            F.sum("__yq").alias("__st"), F.count(F.lit(1)).alias("__nt")
        )
        if keys
        else base.agg(
            F.sum("__yq").alias("__st"), F.count(F.lit(1)).alias("__nt")
        )
    )
    # NULL-SAFE equality: a NULL category (or era) forms its own group
    # in the aggregation, and its rows must re-attach — a plain equi
    # join would silently DROP every null-keyed row from the output
    stat_side = F.broadcast(cat_stats).select(
        *[F.col(c).alias(f"__r_{c}") for c in keys + [cat_col]],
        "__s",
        "__n",
    )
    cond = [base[c].eqNullSafe(stat_side[f"__r_{c}"]) for c in keys + [cat_col]]
    j = base.join(stat_side, cond).drop(*[f"__r_{c}" for c in keys + [cat_col]])
    if keys:
        prior_side = F.broadcast(
            prior.select(
                *[F.col(c).alias(f"__p_{c}") for c in keys], "__st", "__nt"
            )
        )
        j = j.join(
            prior_side, [j[c].eqNullSafe(prior_side[f"__p_{c}"]) for c in keys]
        ).drop(*[f"__p_{c}" for c in keys])
    else:
        j = j.crossJoin(F.broadcast(prior))
    m = float(smoothing)
    pr = F.col("__st").cast("double") / F.col("__nt").cast("double")
    if loo:
        n1 = F.col("__n").cast("double") - 1.0
        enc = F.when(
            F.col("__n") > 1,
            ((F.col("__s") - F.col("__yq")).cast("double") + F.lit(m) * pr)
            / (n1 + F.lit(m)),
        ).otherwise(pr)
    else:
        enc = (F.col("__s").cast("double") + F.lit(m) * pr) / (
            F.col("__n").cast("double") + F.lit(m)
        )
    enc = F.round(enc / TARGET_SCALE, round_dp)
    return j.withColumn(out, enc).drop("__yq", "__s", "__n", "__st", "__nt")


def target_encode_oracle_sql(
    table: str,
    cat_sql: str,
    target_sql: str,
    *,
    smoothing: float = 20.0,
    era_sql: str | None = None,
    loo: bool = False,
    select_sql: str = "*",
    out_name: str = "te",
    round_dp: int = 6,
) -> str:
    """DuckDB mirror of :func:`target_encode` — identical BIGINT
    micro-unit sums, identical smoothing arithmetic."""
    m = repr(float(smoothing))
    era_key = f"{era_sql} AS __era, " if era_sql else ""
    era_grp = "__era, " if era_sql else ""
    era_join = "b.__era IS NOT DISTINCT FROM c.__era AND " if era_sql else ""
    era_pjoin = "ON b.__era IS NOT DISTINCT FROM p.__era" if era_sql else "ON 1 = 1"
    prior_grp = "GROUP BY __era" if era_sql else ""
    pr = "(CAST(p.__st AS DOUBLE) / CAST(p.__nt AS DOUBLE))"
    if loo:
        enc = f"""CASE WHEN c.__n > 1
            THEN (CAST(c.__s - b.__yq AS DOUBLE) + {m} * {pr})
                 / (CAST(c.__n AS DOUBLE) - 1.0 + {m})
            ELSE {pr} END"""
    else:
        enc = f"""(CAST(c.__s AS DOUBLE) + {m} * {pr})
                 / (CAST(c.__n AS DOUBLE) + {m})"""
    return f"""
        WITH b AS (
          SELECT *, {era_key}{cat_sql} AS __cat,
                 CAST(round(({target_sql}) * {TARGET_SCALE}) AS BIGINT) AS __yq
          FROM {table}
        ), c AS (
          SELECT {era_grp}__cat, sum(__yq) AS __s,
                 CAST(count(*) AS BIGINT) AS __n
          FROM b GROUP BY {era_grp}__cat
        ), p AS (
          SELECT {era_grp}sum(__yq) AS __st,
                 CAST(count(*) AS BIGINT) AS __nt
          FROM b {prior_grp}
        )
        SELECT {select_sql},
               round(({enc}) / {TARGET_SCALE}, {round_dp}) AS {out_name}
        FROM b
        JOIN c ON {era_join}b.__cat IS NOT DISTINCT FROM c.__cat
        JOIN p {era_pjoin}
    """


def woe_encode(
    df: DataFrame,
    cat_col: str,
    label_col: str,
    *,
    smoothing: float = 0.5,
    out_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Append ``out_col`` = Weight of Evidence of the category against
    a binary label — the classification sibling of :func:`target_encode`
    (credit-scoring standard; also the log-odds feature a GBM sees):

        woe_cat = ln( ((pos_cat + s) / (pos + 2s))
                    / ((neg_cat + s) / (neg + 2s)) )

    with ``s`` the Laplace ``smoothing`` keeping single-class
    categories finite. ``label_col`` is interpreted as boolean
    (nonzero/true = positive); NULL labels count as negative.

    Exactness: pos/neg counts are exact integers, the ln evaluates on
    identical ratios in both engines, rounded to ``round_dp``
    (:func:`woe_encode_oracle_sql`).

    Plan: one grouped count aggregation + broadcast join back (the
    global totals ride a second tiny aggregation) — the fact table
    never shuffles, which assumes the category count is
    dimension-sized."""
    out = out_col or f"{cat_col}_woe"
    y = F.when(F.col(label_col).cast("boolean"), 1).otherwise(0)
    base = df.withColumn("__y", y)
    cat_stats = base.groupBy(cat_col).agg(
        F.sum("__y").alias("__pos"),
        F.sum(F.lit(1) - F.col("__y")).alias("__neg"),
    )
    tot = base.agg(
        F.sum("__y").alias("__post"),
        F.sum(F.lit(1) - F.col("__y")).alias("__negt"),
    )
    stat_side = F.broadcast(cat_stats).select(
        F.col(cat_col).alias("__r_cat"), "__pos", "__neg"
    )
    j = base.join(
        stat_side, base[cat_col].eqNullSafe(stat_side["__r_cat"])
    ).drop("__r_cat").crossJoin(F.broadcast(tot))
    s = float(smoothing)
    woe = F.log(
        ((F.col("__pos") + s) / (F.col("__post") + 2 * s))
        / ((F.col("__neg") + s) / (F.col("__negt") + 2 * s))
    )
    return j.withColumn(out, F.round(woe, round_dp)).drop(
        "__y", "__pos", "__neg", "__post", "__negt"
    )


def woe_encode_oracle_sql(
    table: str,
    cat_sql: str,
    label_sql: str,
    *,
    smoothing: float = 0.5,
    select_sql: str = "*",
    out_name: str = "woe",
    round_dp: int = 6,
) -> str:
    """DuckDB mirror of :func:`woe_encode` — identical counts and ln
    arithmetic. ``label_sql`` must evaluate to BOOLEAN."""
    s = repr(float(smoothing))
    return f"""
        WITH b AS (
          SELECT *, {cat_sql} AS __cat,
                 CASE WHEN {label_sql} THEN 1 ELSE 0 END AS __y
          FROM {table}
        ), c AS (
          SELECT __cat, sum(__y) AS __pos, sum(1 - __y) AS __neg
          FROM b GROUP BY __cat
        ), t AS (
          SELECT sum(__y) AS __post, sum(1 - __y) AS __negt FROM b
        )
        SELECT {select_sql},
               round(ln(((c.__pos + {s}) / (t.__post + 2 * {s}))
                      / ((c.__neg + {s}) / (t.__negt + 2 * {s}))),
                     {round_dp}) AS {out_name}
        FROM b JOIN c ON b.__cat IS NOT DISTINCT FROM c.__cat
        CROSS JOIN t
    """


def quantile_bin(
    df: DataFrame,
    cols: Sequence[str],
    *,
    n_bins: int = 10,
    era_col: str | None = None,
    exact: bool = False,
    accuracy: int = 10_000,
    suffix: str = "_bin",
) -> DataFrame:
    """Append ``{col}{suffix}`` = which of ``n_bins`` equal-population
    bins the value falls in (0-based): bin = #{interior boundaries
    strictly below x}. Values below every boundary take 0, above every
    boundary take n_bins−1; nulls stay null.

    exact=False (scale default) derives boundaries from the mergeable
    ``approx_percentile`` sketch; exact=True uses interpolated exact
    ``percentile`` — DuckDB ``quantile_cont`` parity, the oracle mode.
    One tiny aggregation computes ALL boundaries for ALL columns,
    broadcast back; bin assignment is a codegen expression
    (``aggregate`` over the boundary array) — the fact table never
    shuffles."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    qs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    keys = [era_col] if era_col else []
    aggs = [
        F.expr(f"{fn}({c}, array({qs}){acc})").alias(f"__q_{c}") for c in cols
    ]
    bounds = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    if keys:
        # NULL-SAFE join: NULL-era rows form their own boundary group
        # and must re-attach (a plain equi join would drop them)
        b = F.broadcast(
            bounds.select(
                *[F.col(k).alias(f"__e_{k}") for k in keys],
                *[f"__q_{c}" for c in cols],
            )
        )
        out = df.join(
            b, [df[k].eqNullSafe(b[f"__e_{k}"]) for k in keys]
        ).drop(*[f"__e_{k}" for k in keys])
    else:
        out = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(
                F.col(c).isNotNull(),
                F.expr(
                    f"aggregate(__q_{c}, 0, (acc, b) ->"
                    f" acc + CASE WHEN {c} > b THEN 1 ELSE 0 END)"
                ),
            ),
        )
    return out.drop(*[f"__q_{c}" for c in cols])


def quantile_bin_oracle_sql(
    table: str,
    col_sql: str,
    *,
    n_bins: int = 10,
    era_sql: str | None = None,
    select_sql: str = "*",
    out_name: str = "bin",
) -> str:
    """DuckDB mirror of :func:`quantile_bin` (exact mode, one column):
    same interpolated quantile boundaries, same strict-> count."""
    qs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    era_key = f"{era_sql} AS __era, " if era_sql else ""
    era_grp = "GROUP BY __era" if era_sql else ""
    era_sel = "__era, " if era_sql else ""
    join = "ON b.__era IS NOT DISTINCT FROM q.__era" if era_sql else "ON 1 = 1"
    return f"""
        WITH b AS (
          SELECT *, {era_key}({col_sql}) AS __x FROM {table}
        ), q AS (
          SELECT {era_sel}quantile_cont(__x, [{qs}]) AS __qs
          FROM b {era_grp}
        )
        SELECT {select_sql},
               CASE WHEN __x IS NOT NULL THEN
                 len(list_filter(q.__qs, v -> __x > v)) END AS {out_name}
        FROM b JOIN q {join}
    """


def feature_hash(
    df: DataFrame,
    cols: Sequence[str],
    *,
    n_buckets: int = 1 << 18,
    suffix: str = "_fh",
) -> DataFrame:
    """The hashing trick: ``{col}{suffix}`` = stable bucket in
    [0, n_buckets) from the portable keyed md5 of ``"col=value"`` —
    engine-, partition- and run-independent (unlike ``F.hash``, whose
    Murmur3 seed/variant is Spark-specific), so train and serve code in
    ANY stack can reproduce the buckets. Nulls stay null. Pure
    map-side expressions."""
    out = df
    for c in cols:
        key = F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(F.col(c).isNotNull(), md5_long(key) % n_buckets),
        )
    return out


def feature_hash_sql(col_sql: str, col_name: str, n_buckets: int = 1 << 18) -> str:
    """DuckDB expression mirroring :func:`feature_hash` for one column."""
    keyed = f"'{col_name}=' || CAST({col_sql} AS VARCHAR)"
    return (
        f"CASE WHEN {col_sql} IS NOT NULL"
        f" THEN {sql_md5_long(keyed)} % {n_buckets} END"
    )


def one_hot_encode(
    df: DataFrame,
    col: str,
    categories: Sequence[str],
    *,
    prefix: str | None = None,
    other_col: bool = True,
    drop_input: bool = False,
) -> DataFrame:
    """One-hot encoding with a PINNED category list: ``{prefix}_{cat}``
    = 1 when ``col == cat`` else 0 (nulls encode as all-zeros, flagged
    by the ``{prefix}_other`` column together with unseen categories).

    Pinning the categories (rather than discovering them at fit time)
    is the scale-safe contract: the output schema is static, no
    distinct-scan job runs, and train/serve skew is impossible. Use
    ``df.select(col).distinct()`` once offline to choose the list. Pure
    map-side expressions — zero shuffle, fully codegen.

    Column names sanitize non-identifier characters to ``_`` so
    downstream SQL never needs quoting."""
    p = prefix if prefix is not None else col
    seen = None
    out_cols = list(df.columns)
    if drop_input:
        out_cols.remove(col)
    encoded = []
    for cat in categories:
        hit = F.col(col) == cat
        encoded.append(
            F.when(hit, 1).otherwise(0).alias(_sanitize(f"{p}_{cat}"))
        )
        seen = hit if seen is None else (seen | hit)
    if other_col:
        encoded.append(
            F.when(seen if seen is not None else F.lit(False), 0)
            .otherwise(1)
            .alias(_sanitize(f"{p}_other"))
        )
    return df.select(*out_cols, *encoded)


def one_hot_oracle_sql(
    col_sql: str,
    categories: Sequence[str],
    *,
    prefix: str,
    other_col: bool = True,
) -> list[str]:
    """DuckDB SELECT-list expressions mirroring :func:`one_hot_encode`."""
    lits = {cat: cat.replace("'", "''") for cat in categories}
    exprs = [
        f"CASE WHEN {col_sql} = '{lits[cat]}' THEN 1 ELSE 0 END"
        f" AS {_sanitize(f'{prefix}_{cat}')}"
        for cat in categories
    ]
    if other_col:
        anyhit = " OR ".join(f"{col_sql} = '{lits[cat]}'" for cat in categories)
        exprs.append(
            f"CASE WHEN {anyhit or 'FALSE'} THEN 0 ELSE 1 END"
            f" AS {_sanitize(f'{prefix}_other')}"
        )
    return exprs


def _sanitize(name: str) -> str:
    return "".join(ch if ch.isalnum() or ch == "_" else "_" for ch in name)
