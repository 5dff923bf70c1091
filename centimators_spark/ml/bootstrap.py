"""Distributed Poisson bootstrap confidence intervals — the online /
one-pass bootstrap (Oza & Russell 2001; Chamandy et al., "Estimating
Uncertainty for Massive Data Streams", Google 2012): each of B
replicates reweights every row by an independent Poisson(1) draw, so
a replicate's mean is computable in the SAME single aggregation pass
as the point estimate — no resampling shuffle, no per-replicate scan.
This is THE way to put error bars on a 100 TB aggregate (reference
scope: the engine's evaluation/metrics surface, e.g.
/root/reference/src/centimators/model_estimators/).

Portability (hash-proven, the cms/theta discipline): the Poisson(1)
draw for (row, replicate) is the deterministic inverse-CDF lookup of
the 20-bit slice of md5(id || ':' || r//3) for slot r%3 against the
shared fixed-point cumulative table ``POISSON1_CUM_P20`` (weights
capped at 8 — mass beyond is < 1.1e-5); replicate means are
TRUNCATED (toward zero, matching HUGEINT //) micro-units of the
weighted centi-value sums, well-defined for negative-valued metrics
too. Every number both engines compute is the same integer.

Scale: ONE pass — the groupBy computes 2B+2 map-side-combined sums
(B weighted-count + B weighted-value columns, plus n and the full
sum); the replicate table that follows is B rows per group. The
explode-free design means the corpus is scanned once regardless of
B."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from centimators_spark.scanstats import spread_if_underpartitioned
from centimators_spark.text.portable import sql_md5_long

# floor(2^20 * P(Poisson(1) <= k)) for k = 0..7; weight = #thresholds
# <= u, capped at 8. Draws live in [0, 2^20): ONE 60-bit md5 yields
# THREE independent 20-bit draws (hash i serves replicates 3i..3i+2),
# cutting the per-row hash count from B to ceil(B/3) — the md5 was
# the dominant per-row cost in the one-pass aggregation.
POISSON1_CUM_P20 = [
    385749, 771499, 964373, 1028665, 1044738, 1047952, 1048488,
    1048565,
]
BOOT_B = 32
_D38 = "decimal(38,0)"


def _poisson_weights(H, B: int):
    """(n, B) int64 Poisson(1) weights from the (n, ceil(B/3)) int64
    md5 draws ``H``: replicate r reads the 20-bit slice ``20·(r % 3)``
    of hash ``r // 3`` and weighs it #{k : POISSON1_CUM_P20[k] <= u},
    so weights run 0..8."""
    import numpy as np

    cum = np.asarray(POISSON1_CUM_P20, dtype=np.int64)
    W = np.empty((len(H), B), dtype=np.int64)
    for r in range(B):
        i, slot = divmod(r, 3)
        u = (H[:, i] >> (20 * slot)) & 0xFFFFF
        W[:, r] = np.searchsorted(cum, u, side="right")
    return W


def _exact_int_sum(a) -> int:
    """Exact (arbitrary-precision) total of a 1-D int64 numpy array.

    int64 partial sums are safe while chunk_len · max|x| < 2^62; chunks
    whose magnitudes could overflow are routed through Python ints
    (exact, rare). Integer addition is associative, so any chunking
    yields the same total — determinism is free."""
    import numpy as np

    n = len(a)
    if n == 0:
        return 0
    tot = 0
    for s in range(0, n, 32768):
        ch = a[s : s + 32768]
        if int(np.abs(ch).max()) > (1 << 47):
            tot += sum(int(x) for x in ch)
        else:
            tot += int(ch.sum())
    return tot


def _poisson_partial_fn(B: int):
    """mapInPandas partial-aggregation kernel for the Poisson
    bootstrap (guide §4.2: hand whole Arrow batches to vectorized
    native code instead of a ~1000-node JVM expression tree per row).

    Input batches carry exactly (grp, __bid string, __bc long); output
    is one partial row per (batch, group): n_rows/w-sums as long
    (bounded by 8·rows), vsum/v-sums as decimal(38,0) built from
    exact Python-int totals, so the downstream decimal aggregation is
    exact at any scale — the same integers the oracle's HUGEINT sums
    give."""

    def gen(batches):
        import hashlib
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        from centimators_spark.text.md5np import finish_blocks, pack_base

        nh = (B + 2) // 3
        suf = [f":{i}".encode() for i in range(nh)]
        md5 = hashlib.md5
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["__bid"].to_numpy()
            cents = pdf["__bc"].to_numpy(dtype=np.int64)
            # the md5 draw chain is the kernel's dominant cost (~70%
            # profiled); one packed block template serves all ceil(B/3)
            # suffixes through the vectorized single-block MD5 (bit-
            # identical — see text/md5np.py; r14 optimization, guide
            # §4.2). hashlib fallback for non-ASCII/oversized ids.
            packed = pack_base(ids, reserve=len(suf[-1]))
            if packed is not None:
                base, lens = packed
                H = np.empty((n, nh), dtype=np.int64)
                for i in range(nh):
                    H[:, i] = finish_blocks(base, lens, suf[i])
            else:
                H = np.empty((n, nh), dtype=np.int64)
                for j in range(n):
                    b0 = ids[j].encode()
                    for i in range(nh):
                        H[j, i] = int(
                            md5(b0 + suf[i]).hexdigest()[:15], 16
                        )
            W = _poisson_weights(H, B)
            grp = pdf["grp"].to_numpy()
            maxabs = int(np.abs(cents).max()) if n else 0
            if maxabs * 8 * n < (1 << 62):
                # sort-by-group + ONE np.add.reduceat over the whole
                # (n, 2B+2) int64 matrix (r14; 4.8x over the former
                # 66-column pandas groupby, exact int64 under the same
                # per-batch overflow bound, identical output)
                codes, uniq = pd.factorize(grp, use_na_sentinel=False)
                mat = np.empty((n, 2 + 2 * B), dtype=np.int64)
                mat[:, 0] = 1
                mat[:, 1] = cents
                mat[:, 2::2] = W
                mat[:, 3::2] = W * cents[:, None]
                order = np.argsort(codes, kind="stable")
                sc = codes[order]
                bounds = np.nonzero(np.r_[True, sc[1:] != sc[:-1]])[0]
                sums = np.add.reduceat(mat[order], bounds, axis=0)
                data = {
                    "grp": np.asarray(uniq)[sc[bounds]],
                    "n_rows": sums[:, 0],
                    "vsum": [Decimal(int(x)) for x in sums[:, 1]],
                }
                for r in range(B):
                    data[f"w{r}"] = sums[:, 2 + 2 * r]
                    data[f"v{r}"] = [
                        Decimal(int(x)) for x in sums[:, 3 + 2 * r]
                    ]
                yield pd.DataFrame(data)
            else:
                # astronomically-valued metrics: exact Python-int path
                groups = pd.DataFrame({"grp": grp}).groupby(
                    "grp", sort=False, dropna=False
                ).indices
                out = []
                for g, idx in groups.items():
                    c = cents[idx]
                    w = W[idx]
                    rec = {
                        "grp": g,
                        "n_rows": len(idx),
                        "vsum": Decimal(_exact_int_sum(c)),
                    }
                    for r in range(B):
                        rec[f"w{r}"] = int(w[:, r].sum())
                        rec[f"v{r}"] = Decimal(
                            sum(int(a) * int(b) for a, b in zip(w[:, r], c))
                        )
                    out.append(rec)
                yield pd.DataFrame(out)

    return gen


def _perm_partial_fn(B: int):
    """mapInPandas partial-aggregation kernel for the sign-flip
    permutation test (same rationale as :func:`_poisson_partial_fn`):
    one md5 per row, B sign-weighted exact integer sums per group."""

    def gen(batches):
        import hashlib
        from decimal import Decimal

        import numpy as np
        import pandas as pd

        from centimators_spark.text.md5np import finish_blocks, pack_base

        md5 = hashlib.md5
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["__bid"].to_numpy()
            cents = pdf["__bc"].to_numpy(dtype=np.int64)
            # one vectorized single-block MD5 over the batch (bit-
            # identical; hashlib fallback — see _poisson_partial_fn)
            packed = pack_base(ids, prefix=b"perm:")
            if packed is not None:
                H = finish_blocks(*packed)
            else:
                H = np.empty(n, dtype=np.int64)
                for j in range(n):
                    H[j] = int(
                        md5(b"perm:" + ids[j].encode()).hexdigest()[:15],
                        16,
                    )
            grp = pdf["grp"].to_numpy()
            maxabs = int(np.abs(cents).max()) if n else 0
            if maxabs * n < (1 << 62):
                # sort-by-group + one np.add.reduceat (r14; see
                # _poisson_partial_fn — exact int64, identical output)
                codes, uniq = pd.factorize(grp, use_na_sentinel=False)
                mat = np.empty((n, 2 + B), dtype=np.int64)
                mat[:, 0] = 1
                mat[:, 1] = cents
                for r in range(B):
                    sign = 2 * ((H >> r) & 1) - 1
                    mat[:, 2 + r] = sign * cents
                order = np.argsort(codes, kind="stable")
                sc = codes[order]
                bounds = np.nonzero(np.r_[True, sc[1:] != sc[:-1]])[0]
                sums = np.add.reduceat(mat[order], bounds, axis=0)
                data = {
                    "grp": np.asarray(uniq)[sc[bounds]],
                    "n_rows": sums[:, 0],
                    "s_obs": [Decimal(int(x)) for x in sums[:, 1]],
                }
                for r in range(B):
                    data[f"s{r}"] = [
                        Decimal(int(x)) for x in sums[:, 2 + r]
                    ]
                yield pd.DataFrame(data)
            else:
                groups = pd.DataFrame({"grp": grp}).groupby(
                    "grp", sort=False, dropna=False
                ).indices
                out = []
                for g, idx in groups.items():
                    c = cents[idx]
                    h = H[idx]
                    rec = {
                        "grp": g,
                        "n_rows": len(idx),
                        "s_obs": Decimal(_exact_int_sum(c)),
                    }
                    for r in range(B):
                        sign = 2 * ((h >> r) & 1) - 1
                        rec[f"s{r}"] = Decimal(
                            sum(int(s) * int(x) for s, x in zip(sign, c))
                        )
                    out.append(rec)
                yield pd.DataFrame(out)

    return gen


def _trunc_mean(num, den):
    """TRUNCATING division toward zero in micro-units — the spec shared
    with the oracle's HUGEINT // (which truncates); a pmod-based floor
    would diverge by one unit on negative-valued metrics."""
    scaled = (num * F.lit(1_000_000).cast(_D38)).cast(_D38)
    a = F.abs(scaled)
    d = den.cast(_D38)
    q = ((a - F.pmod(a, d)) / d).cast("long")
    return F.when(scaled < 0, -q).otherwise(q)


def bootstrap_mean_ci(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    *,
    B: int = BOOT_B,
) -> DataFrame:
    """Per group: point mean plus a percentile-bootstrap band from B
    deterministic Poisson-weighted replicates.

    Returns (grp, n_rows, n_replicates, mean_micro, boot_lo_micro,
    boot_hi_micro): means are truncated micro-units of the centi-unit
    value; the band is the 2nd-smallest / 2nd-largest replicate mean
    (a deterministic ~6%/94% band at B=32 — the band SPEC, chosen
    over interpolated quantiles so the contract stays integer).
    Replicates whose total weight is 0 (only possible for tiny
    groups) are dropped and reported via n_replicates. Rows with a
    NULL ``value_col`` OR a NULL ``id_col`` are excluded up front on
    BOTH engines (the MWU / Brown-Forsythe discipline): NULL values
    would dilute every replicate mean while contributing no value
    mass, and a NULL resampling key has no deterministic draw.

    The 2B+2 per-group sums come from an Arrow kernel: a 3-column
    projection feeds a mapInPandas partial aggregation (md5 draws +
    numpy searchsorted weights + exact-int partial sums emitted as
    decimal(38,0)), then one tiny final groupBy. Only the three needed
    columns cross the Python boundary (guide §4.1). A JVM expression
    form of the same sums evaluates ~1000 expression-tree nodes per
    row for B=32 and measured 3.0-5.5 s for the aggregation alone at
    sf0.1/local[32], against 1.6-2.0 s end-to-end for the kernel."""
    df = spread_if_underpartitioned(
        df.where(F.col(value_col).isNotNull() & F.col(id_col).isNotNull()),
        group_col,
        id_col,
        value_col,
    )
    cents = F.round(F.col(value_col) * 100).cast("long")
    grp_type = df.select(
        F.col(group_col).alias("grp")
    ).schema["grp"].dataType.simpleString()
    src = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).cast("string").alias("__bid"),
        cents.alias("__bc"),
    )
    schema = f"grp {grp_type}, n_rows long, vsum {_D38}, " + ", ".join(
        f"w{r} long, v{r} {_D38}" for r in range(B)
    )
    partials = src.mapInPandas(_poisson_partial_fn(B), schema)
    aggs = [
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("vsum").cast(_D38).alias("vsum"),
    ]
    for r in range(B):
        aggs.append(F.sum(f"w{r}").cast("long").alias(f"w{r}"))
        aggs.append(F.sum(f"v{r}").cast(_D38).alias(f"v{r}"))
    per_group = partials.groupBy("grp").agg(*aggs)
    # B rows per group: (r, wsum, vsum_r)
    reps = per_group.select(
        "grp",
        "n_rows",
        "vsum",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        F.col(f"w{r}").alias("wsum"),
                        F.col(f"v{r}").alias("vs"),
                    )
                    for r in range(B)
                ]
            )
        ).alias("rep"),
    ).select(
        "grp", "n_rows", "vsum", "rep.r", "rep.wsum", "rep.vs"
    ).where(F.col("wsum") > 0)

    reps = reps.withColumn(
        "rep_mean_micro", _trunc_mean(F.col("vs"), F.col("wsum"))
    )
    from pyspark.sql import Window

    w_asc = Window.partitionBy("grp").orderBy(
        F.col("rep_mean_micro").asc(), F.col("r").asc()
    )
    w_desc = Window.partitionBy("grp").orderBy(
        F.col("rep_mean_micro").desc(), F.col("r").desc()
    )
    ranked = reps.withColumn(
        "ra", F.row_number().over(w_asc)
    ).withColumn("rd", F.row_number().over(w_desc))
    bands = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_replicates"),
        F.max(F.when(F.col("ra") == 2, F.col("rep_mean_micro")))
        .alias("boot_lo_micro"),
        F.max(F.when(F.col("rd") == 2, F.col("rep_mean_micro")))
        .alias("boot_hi_micro"),
        F.max("n_rows").alias("n_rows"),
        F.max("vsum").alias("vsum"),
    )
    return bands.select(
        "grp",
        "n_rows",
        "n_replicates",
        _trunc_mean(F.col("vsum"), F.col("n_rows")).alias("mean_micro"),
        "boot_lo_micro",
        "boot_hi_micro",
    )


PERM_B = 32


def permutation_sign_test(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    *,
    B: int = PERM_B,
) -> DataFrame:
    """One-pass paired sign-flip permutation test (Fisher 1935 via the
    Rademacher trick): per group, is mean(value) distinguishable from
    0? Each of B replicates flips every row's sign by one bit of the
    SAME md5(id) (one hash per row serves up to 60 replicates — even
    cheaper than the bootstrap's Poisson lookups), and the two-sided
    exceedance count n_exceed = #{r : |S_r| >= |S_obs|} is exact
    integer arithmetic end to end; p ~ (n_exceed + 1)/(B + 1) ships as
    the floored p_milli carrier.

    The natural input is a PAIRED DIFFERENCE (a - b per unit) — under
    the exchangeability null its sign is symmetric, which is exactly
    what the flip simulates. Same one-pass shape as
    :func:`bootstrap_mean_ci`: the corpus is scanned ONCE for all
    replicates (B+1 map-side-combined decimal sums), NULL values AND
    NULL ids are excluded on both engines (a NULL id has no sign
    draw — keeping its mass in s_obs but no replicate would bias the
    p-value toward significance identically on both engines, which
    the hash gate could never see), the sums come from the same kind
    of Arrow kernel, and the under-partitioned-scan gate applies.
    Output: (grp, n_rows, n_replicates, obs_mean_micro, n_exceed,
    p_milli)."""
    if B > 60:
        raise ValueError("permutation_sign_test supports B <= 60")
    df = spread_if_underpartitioned(
        df.where(F.col(value_col).isNotNull() & F.col(id_col).isNotNull()),
        group_col,
        id_col,
        value_col,
    )
    cents = F.round(F.col(value_col) * 100).cast("long")
    grp_type = df.select(
        F.col(group_col).alias("grp")
    ).schema["grp"].dataType.simpleString()
    # Arrow partial aggregation (see bootstrap_mean_ci's kernel
    # note): only (grp, id-string, cents) cross the boundary
    src = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).cast("string").alias("__bid"),
        cents.alias("__bc"),
    )
    schema = (
        f"grp {grp_type}, n_rows long, s_obs {_D38}, "
        + ", ".join(f"s{r} {_D38}" for r in range(B))
    )
    partials = src.mapInPandas(_perm_partial_fn(B), schema)
    aggs = [
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.sum("s_obs").cast(_D38).alias("s_obs"),
    ]
    for r in range(B):
        aggs.append(F.sum(f"s{r}").cast(_D38).alias(f"s{r}"))
    per_group = partials.groupBy("grp").agg(*aggs)
    exceed = sum(
        F.when(
            F.abs(F.col(f"s{r}")) >= F.abs(F.col("s_obs")), 1
        ).otherwise(0)
        for r in range(B)
    ).cast("long")

    # exact integer division (round-11 advice): the pmod form never
    # routes through double rounding, so the oracle's integer //
    # parity holds for ANY B, not just while (n_exceed+1)*1000 stays
    # exactly double-representable
    p_num = ((exceed + 1) * 1000).cast(_D38)
    p_den = F.lit(B + 1).cast(_D38)
    p_milli = ((p_num - F.pmod(p_num, p_den)) / p_den).cast("long")
    return per_group.select(
        "grp",
        "n_rows",
        F.lit(B).cast("long").alias("n_replicates"),
        _trunc_mean(F.col("s_obs"), F.col("n_rows")).alias(
            "obs_mean_micro"
        ),
        exceed.alias("n_exceed"),
        p_milli.alias("p_milli"),
    )


def permutation_sign_test_oracle_sql(
    table: str,
    group_sql: str,
    id_sql: str,
    value_sql: str,
    *,
    B: int = PERM_B,
) -> str:
    """DuckDB mirror of :func:`permutation_sign_test` (HUGEINT sums,
    identical md5 bit signs and exceedance rule)."""
    h = sql_md5_long(f"('perm:' || CAST({id_sql} AS VARCHAR))")
    return f"""
        WITH base AS (
          SELECT {group_sql} AS grp,
                 CAST(round({value_sql} * 100) AS BIGINT) AS cents,
                 {h} AS h
          FROM {table}
          WHERE {value_sql} IS NOT NULL AND {id_sql} IS NOT NULL
        ), rep AS (
          SELECT grp, r,
                 sum(CAST((2 * ((h >> r) & 1) - 1) AS HUGEINT)
                     * cents) AS s_r
          FROM base CROSS JOIN range({B}) t(r)
          GROUP BY grp, r
        ), obs AS (
          SELECT grp,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 sum(CAST(cents AS HUGEINT)) AS s_obs
          FROM base GROUP BY grp
        ), ex AS (
          SELECT o.grp,
                 CAST(sum(CASE WHEN abs(r.s_r) >= abs(o.s_obs)
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
          FROM obs o JOIN rep r ON o.grp = r.grp
          GROUP BY o.grp
        )
        SELECT o.grp, o.n_rows,
               CAST({B} AS BIGINT) AS n_replicates,
               CAST(CASE WHEN o.s_obs < 0
                    THEN -((abs(o.s_obs) * 1000000) // o.n_rows)
                    ELSE (o.s_obs * 1000000) // o.n_rows END
                    AS BIGINT) AS obs_mean_micro,
               e.n_exceed,
               CAST(((e.n_exceed + 1) * 1000) // {B + 1} AS BIGINT)
                 AS p_milli
        FROM obs o JOIN ex e ON o.grp = e.grp
    """


def bootstrap_mean_ci_oracle_sql(
    table: str,
    group_sql: str,
    id_sql: str,
    value_sql: str,
    *,
    B: int = BOOT_B,
) -> str:
    """DuckDB mirror of :func:`bootstrap_mean_ci` (HUGEINT; identical
    Poisson table, identical order statistics)."""
    th = POISSON1_CUM_P20
    th_list = ", ".join(str(t) for t in th)
    h = sql_md5_long(
        "(CAST(id AS VARCHAR) || ':' || CAST(r // 3 AS VARCHAR))"
    )
    u = f"(({h}) >> (20 * (r % 3))) & 1048575"
    return f"""
        WITH rows_r AS (
          SELECT {group_sql} AS grp, {id_sql} AS id,
                 CAST(round({value_sql} * 100) AS BIGINT) AS cents, r
          FROM {table} CROSS JOIN range({B}) t(r)
          WHERE {value_sql} IS NOT NULL AND {id_sql} IS NOT NULL
        ), weighted AS (
          SELECT grp, r, cents,
                 CAST(len(list_filter([{th_list}],
                      t -> t <= ({u}))) AS BIGINT) AS w
          FROM rows_r
        ), reps AS (
          SELECT grp, r,
                 sum(w) AS wsum,
                 sum(CAST(w AS HUGEINT) * cents) AS vs
          FROM weighted GROUP BY grp, r
        ), totals AS (
          SELECT {group_sql} AS grp,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 sum(CAST(round({value_sql} * 100) AS BIGINT)) AS vsum
          FROM {table}
          WHERE {value_sql} IS NOT NULL AND {id_sql} IS NOT NULL
          GROUP BY 1
        ), means AS (
          SELECT grp, r,
                 CAST((CAST(vs AS HUGEINT) * 1000000) // wsum
                      AS BIGINT) AS rep_mean_micro
          FROM reps WHERE wsum > 0
        ), ranked AS (
          SELECT grp, r, rep_mean_micro,
                 row_number() OVER (PARTITION BY grp
                   ORDER BY rep_mean_micro ASC, r ASC) AS ra,
                 row_number() OVER (PARTITION BY grp
                   ORDER BY rep_mean_micro DESC, r DESC) AS rd
          FROM means
        )
        SELECT t.grp, t.n_rows,
               CAST(count(*) AS BIGINT) AS n_replicates,
               CAST((CAST(t.vsum AS HUGEINT) * 1000000) // t.n_rows
                    AS BIGINT) AS mean_micro,
               CAST(max(CASE WHEN ra = 2 THEN rep_mean_micro END)
                    AS BIGINT) AS boot_lo_micro,
               CAST(max(CASE WHEN rd = 2 THEN rep_mean_micro END)
                    AS BIGINT) AS boot_hi_micro
        FROM ranked k JOIN totals t ON k.grp = t.grp
        GROUP BY t.grp, t.n_rows, t.vsum
    """
