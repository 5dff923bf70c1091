"""Event-analytics operators over an event stream table: ordered
funnels and cohort retention — the two queries every product-analytics
warehouse runs hourly — plus an EWMA-band anomaly flagger for panel
series.

All three are pure DataFrame compositions (grouped aggregations +
broadcast-able joins + window reuse) with bit-exact DuckDB oracles:
funnel stage times are MIN timestamps (exact), retention offsets are
integer week arithmetic on week-truncated UTC timestamps, and the
anomaly band compares 6dp-rounded EWMA/rolling-std outputs so both
engines flag identical rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WEEK_SECONDS = 7 * 86400


def funnel(
    events: DataFrame,
    stages: Sequence[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    within_seconds: int | None = None,
) -> DataFrame:
    """Ordered-funnel progression: for each user, the earliest time of
    stage k at-or-after their earliest stage k-1 time. Returns one row
    per user with ``t_0 … t_{k-1}`` epoch timestamps (null once the
    funnel breaks) and ``stages_reached``.

    ``within_seconds`` adds the TIMED-funnel constraint every product
    funnel actually means: stage k must occur within that many whole
    seconds of the user's stage k-1 time, or the funnel breaks — a
    purchase a month after the click is not a conversion. None
    (default) keeps the unconstrained chain; the parameter only adds
    an upper bound to each conditional min, so the plan shape is
    unchanged.

    Plan: one scan + k tiny conditional-min aggregations per stage,
    each broadcast back — the event table shuffles once per stage on
    the user key (at scale: pre-bucket the table by user and all k
    aggregations are shuffle-free). Each stage's per-user aggregate is
    broadcast, which assumes the stage-0 cohort is dimension-sized."""
    if len(stages) < 2:
        raise ValueError("funnel needs >= 2 stages")
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.col(type_col).alias("et"),
        F.col(ts_col).cast("timestamp").alias("ts"),
    )
    cur = ev.where(F.col("et") == stages[0]).groupBy("user_id").agg(
        F.min("ts").alias("t_0")
    )
    for i, stage in enumerate(stages[1:], start=1):
        cond = F.col("ts") >= F.col(f"t_{i-1}")
        if within_seconds is not None:
            cond = cond & (
                F.col("ts")
                <= F.col(f"t_{i-1}")
                + F.expr(f"INTERVAL {int(within_seconds)} SECONDS")
            )
        nxt = (
            ev.where(F.col("et") == stage)
            .join(F.broadcast(cur.select("user_id", f"t_{i-1}")), "user_id")
            .where(cond)
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"t_{i}"))
        )
        cur = cur.join(nxt, "user_id", "left")
    reached = sum(
        (F.col(f"t_{i}").isNotNull()).cast("int") for i in range(len(stages))
    )
    return cur.select(
        "user_id",
        *[
            F.unix_timestamp(f"t_{i}").alias(f"t_{i}")
            for i in range(len(stages))
        ],
        reached.alias("stages_reached"),
    )


def funnel_oracle_sql(
    table: str,
    stages: Sequence[str],
    *,
    user_sql: str = "user_id",
    ts_sql: str = "ts",
    type_sql: str = "event_type",
    within_seconds: int | None = None,
) -> str:
    """DuckDB mirror of :func:`funnel` (same conditional-min chain,
    same optional whole-second gap bound)."""
    ctes = [
        f"""s0 AS (
          SELECT {user_sql} AS user_id, min({ts_sql}) AS t_0
          FROM {table} WHERE {type_sql} = '{stages[0]}' GROUP BY 1)"""
    ]
    joined = "s0"
    for i, stage in enumerate(stages[1:], start=1):
        gap = (
            f" AND e.{ts_sql} <= p.t_{i-1}"
            f" + INTERVAL {int(within_seconds)} SECOND"
            if within_seconds is not None
            else ""
        )
        ctes.append(
            f"""s{i} AS (
          SELECT e.{user_sql} AS user_id, min(e.{ts_sql}) AS t_{i}
          FROM {table} e JOIN s{i-1} p ON e.{user_sql} = p.user_id
          WHERE e.{type_sql} = '{stage}' AND e.{ts_sql} >= p.t_{i-1}{gap}
          GROUP BY 1)"""
        )
        joined += f" LEFT JOIN s{i} USING (user_id)"
    epochs = ", ".join(
        f"CAST(epoch(date_trunc('second', t_{i})) AS BIGINT) AS t_{i}"
        for i in range(len(stages))
    )
    reached = " + ".join(
        f"CASE WHEN t_{i} IS NOT NULL THEN 1 ELSE 0 END"
        for i in range(len(stages))
    )
    return f"""
        WITH {", ".join(ctes)}
        SELECT user_id, {epochs}, ({reached}) AS stages_reached
        FROM {joined}
    """


def retention_cohorts(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week;
    for each (cohort_week, week_offset), how many distinct cohort
    members were active. The classic triangle table.

    Plan: one aggregation for first-seen, broadcast back, one distinct
    aggregation for the counts. Week arithmetic stays in integers
    (UTC week-truncated epochs divide evenly by 604800)."""
    ev = events.select(
        F.col(user_col).alias("user_id"),
        F.unix_timestamp(
            F.date_trunc("week", F.col(ts_col).cast("timestamp"))
        ).alias("wk"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        ev.join(F.broadcast(first), "user_id")
        .select(
            "user_id",
            "cohort_wk",
            ((F.col("wk") - F.col("cohort_wk")) / WEEK_SECONDS)
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_wk", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def retention_oracle_sql(
    table: str, *, user_sql: str = "user_id", ts_sql: str = "ts"
) -> str:
    """DuckDB mirror of :func:`retention_cohorts`."""
    return f"""
        WITH ev AS (
          SELECT {user_sql} AS user_id,
                 CAST(epoch(date_trunc('week', {ts_sql})) AS BIGINT) AS wk
          FROM {table}
        ), first AS (
          SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1
        )
        SELECT cohort_wk,
               (wk - cohort_wk) // {WEEK_SECONDS} AS week_offset,
               count(DISTINCT user_id) AS n_users
        FROM ev JOIN first USING (user_id)
        GROUP BY cohort_wk, week_offset
    """


def transition_counts(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order path analysis: counts of (event_type → next
    event_type) transitions within each user's ordered stream — the
    Markov transition table behind funnel diagnostics and
    next-action models. A user's final event transitions to NULL
    ('exit'), so rows sum to the event count exactly.

    One window (lead over the user shuffle) + one grouped count.
    Bit-exact oracle: :func:`transition_counts_oracle_sql` (identical
    (ts, id) ordering)."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    )
    return pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )


def transition_counts_oracle_sql(
    table: str = "events",
    *,
    user_sql: str = "user_id",
    type_sql: str = "event_type",
    ts_sql: str = "ts",
    id_sql: str = "event_id",
) -> str:
    """DuckDB mirror of :func:`transition_counts`."""
    return f"""
        WITH pairs AS (
          SELECT {type_sql} AS from_type,
                 lead({type_sql}) OVER (
                   PARTITION BY {user_sql} ORDER BY {ts_sql}, {id_sql})
                   AS to_type
          FROM {table}
        )
        SELECT from_type, to_type, count(*) AS n
        FROM pairs GROUP BY from_type, to_type
    """


def event_paths(
    events: DataFrame,
    *,
    n: int = 3,
    k: int = 20,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k frequent ``n``-step event-type paths — the n-step
    generalization of :func:`transition_counts` (sequential pattern
    mining over clickstreams; the funnel-discovery primitive: the
    paths users actually take, not the funnel you guessed). Per user,
    every window of ``n`` CONSECUTIVE events (ordered by (ts, id),
    NULLS LAST explicitly — Spark's ascending default is NULLS FIRST
    where DuckDB's is NULLS LAST, and a NULL-ts event would shift
    every window in its user's stream differently per engine)
    contributes one '>'-joined path; paths that would run off the end
    of a user's stream are excluded, as is any window containing a
    NULL event type (Spark's concat_ws skips NULLs while SQL ``||``
    nulls out — the filter makes both engines see the same windows).

    One lead-window over the user shuffle + one grouped count; the
    top-k is ORDER BY + LIMIT, which Spark plans as
    TakeOrderedAndProject (per-partition heaps, never a full sort).
    Ties break on path text ascending — deterministic on both
    engines. Output: (path, n_occurrences), k rows."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, n)
    ]
    stepped = events.select(*[s.alias(f"__s{i}") for i, s in enumerate(steps)])
    cond = F.lit(True)
    for i in range(n):
        cond = cond & F.col(f"__s{i}").isNotNull()
    paths = stepped.where(cond).select(
        F.concat_ws(">", *[F.col(f"__s{i}") for i in range(n)]).alias(
            "path"
        )
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )
    return counts.orderBy(
        F.col("n_occurrences").desc(), F.col("path").asc()
    ).limit(k)


def event_paths_oracle_sql(
    table: str = "events",
    *,
    n: int = 3,
    k: int = 20,
    user_sql: str = "user_id",
    type_sql: str = "event_type",
    ts_sql: str = "ts",
    id_sql: str = "event_id",
) -> str:
    """DuckDB mirror of :func:`event_paths`."""
    leads = [f"{type_sql} AS s0"] + [
        f"lead({type_sql}, {i}) OVER (PARTITION BY {user_sql}"
        f" ORDER BY {ts_sql} NULLS LAST, {id_sql} NULLS LAST) AS s{i}"
        for i in range(1, n)
    ]
    not_null = " AND ".join(f"s{i} IS NOT NULL" for i in range(n))
    path = " || '>' || ".join(f"s{i}" for i in range(n))
    return f"""
        WITH stepped AS (
          SELECT {", ".join(leads)} FROM {table}
        ), paths AS (
          SELECT {path} AS path FROM stepped WHERE {not_null}
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_occurrences
        FROM paths GROUP BY path
        ORDER BY n_occurrences DESC, path ASC
        LIMIT {k}
    """


def theil_sen_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-Sen robust trend (Theil 1950 / Sen 1968 — the
    median-of-pairwise-slopes estimator, up to 29% outlier breakdown
    where OLS has zero) per group, over the group's DAILY TOTALS: is
    the metric drifting, robustly? The drift-family member for trend
    the way Page-Hinkley is for level shifts.

    Exactness (hash-proven): values ride centi-unit integers; each
    day's total y_d is an exact sum; each pair's slope is the
    TRUNCATED (toward zero — the bootstrap spec, matching the
    oracle's explicit abs-form) micro-unit quotient
    trunc(1e6·(y_j−y_i)/(d_j−d_i)); the reported carrier is the
    integer 2×median slope2_micro = s_((p+1)//2) + s_((p+2)//2) over
    the p sorted pair slopes (the Brown-Forsythe order-statistic
    idiom — no .5, value-deterministic under ties).

    Scale: the only corpus-sized operation is ONE map-side-combined
    daily rollup (groupBy (grp, day)); the pair join runs on the
    rollup, whose size per group is bounded by the CALENDAR (distinct
    days), independent of row count — C(D,2) pairs ≈ 66k for a full
    year, constant whether the group holds 1e4 or 1e12 rows. NULL
    values and NULL timestamps are excluded up front on both engines
    (the MWU discipline). Output: (grp, n_days, n_pairs,
    slope2_micro) for groups with ≥ 2 days."""
    from pyspark.sql import Window

    d38 = "decimal(38,0)"
    cents = F.round(F.col(value_col) * 100).cast("long")
    day = F.datediff(
        F.to_date(F.col(ts_col)), F.lit("1970-01-01")
    ).cast("long")
    daily = (
        df.where(F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"), day.alias("__d")
        )
        .agg(F.sum(cents).cast("long").alias("__y"))
    )
    a = daily.select(
        "grp",
        F.col("__d").alias("__di"),
        F.col("__y").alias("__yi"),
    )
    b = daily.select(
        "grp",
        F.col("__d").alias("__dj"),
        F.col("__y").alias("__yj"),
    )
    pairs = a.join(b, "grp").where(F.col("__di") < F.col("__dj"))
    num = (
        (F.col("__yj") - F.col("__yi")).cast(d38)
        * F.lit(1_000_000).cast(d38)
    ).cast(d38)
    den = (F.col("__dj") - F.col("__di")).cast(d38)
    q = ((F.abs(num) - F.pmod(F.abs(num), den)) / den).cast("long")
    slope = F.when(num < 0, -q).otherwise(q)
    sl = pairs.select("grp", slope.alias("__s"))
    w_rank = Window.partitionBy("grp").orderBy("__s")
    w_all = Window.partitionBy("grp")
    ranked = sl.withColumn("__rn", F.row_number().over(w_rank)).withColumn(
        "__p", F.count(F.lit(1)).over(w_all)
    )
    lo = F.floor((F.col("__p") + 1) / 2)
    hi = F.floor((F.col("__p") + 2) / 2)
    mid = F.when(
        (F.col("__rn") == lo) & (F.col("__rn") == hi), 2 * F.col("__s")
    ).when(
        (F.col("__rn") == lo) | (F.col("__rn") == hi), F.col("__s")
    ).otherwise(F.lit(0))
    med = ranked.groupBy("grp").agg(
        F.max("__p").cast("long").alias("n_pairs"),
        F.sum(mid).cast("long").alias("slope2_micro"),
    )
    ndays = daily.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    return ndays.join(med, "grp").select(
        "grp", "n_days", "n_pairs", "slope2_micro"
    )


def mann_kendall(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall trend TEST (Mann 1945; Kendall 1975) per group
    over the group's DAILY TOTALS — the significance sibling of
    :func:`theil_sen_trend` (Theil-Sen answers "how steep", MK
    answers "is the monotone trend real"): S = Σ_{i<j} sign(y_j −
    y_i) over day-ordered pairs, with the tie-corrected variance.

    Exactness (hash-proven): daily totals are exact centi-unit sums;
    S is an integer sum of signs; the variance ships as the exact
    integer carrier var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) (the
    classic Var(S)·18, tie groups t over equal daily totals) — z and
    p-values need a sqrt, so callers derive them; the contract
    carries the exact integers (the MWU var_num/var_den discipline).

    Scale: identical shape to theil_sen_trend — ONE map-side-combined
    daily rollup is the corpus-sized work; the sign pairs and the
    tie aggregation run on the calendar-bounded rollup. NULL values
    and NULL timestamps are excluded up front on both engines.
    Output: (grp, n_days, s_stat, var18) for groups with ≥ 2 days."""
    cents = F.round(F.col(value_col) * 100).cast("long")
    day = F.datediff(
        F.to_date(F.col(ts_col)), F.lit("1970-01-01")
    ).cast("long")
    daily = (
        df.where(F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.col(group_col).alias("grp"), day.alias("__d"))
        .agg(F.sum(cents).cast("long").alias("__y"))
    )
    a = daily.select(
        "grp", F.col("__d").alias("__di"), F.col("__y").alias("__yi")
    )
    b = daily.select(
        "grp", F.col("__d").alias("__dj"), F.col("__y").alias("__yj")
    )
    pairs = a.join(b, "grp").where(F.col("__di") < F.col("__dj"))
    s = pairs.groupBy("grp").agg(
        F.sum(F.signum(F.col("__yj") - F.col("__yi")).cast("long"))
        .cast("long")
        .alias("s_stat")
    )
    ties = (
        daily.groupBy("grp", "__y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__ng"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("__tie18"),
            F.sum("t").cast("long").alias("n_days"),
        )
    )
    n = F.col("n_days")
    var18 = (n * (n - 1) * (2 * n + 5) - F.col("__tie18")).cast("long")
    return (
        ties.join(s, "grp")
        .where(n >= 2)
        .select("grp", "n_days", "s_stat", var18.alias("var18"))
    )


def mann_kendall_oracle_sql(
    table: str,
    group_sql: str,
    ts_sql: str,
    value_sql: str,
) -> str:
    """DuckDB mirror of :func:`mann_kendall`."""
    return f"""
        WITH daily AS (
          SELECT {group_sql} AS grp,
                 date_diff('day', DATE '1970-01-01',
                           CAST({ts_sql} AS DATE)) AS d,
                 CAST(sum(CAST(round({value_sql} * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM {table}
          WHERE {value_sql} IS NOT NULL AND {ts_sql} IS NOT NULL
          GROUP BY 1, 2
        ), s AS (
          SELECT a.grp,
                 CAST(sum(CASE WHEN b.y > a.y THEN 1
                               WHEN b.y < a.y THEN -1 ELSE 0 END)
                      AS BIGINT) AS s_stat
          FROM daily a JOIN daily b ON a.grp = b.grp AND a.d < b.d
          GROUP BY a.grp
        ), ties AS (
          SELECT grp,
                 CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
                   AS tie18,
                 CAST(sum(t) AS BIGINT) AS n_days
          FROM (SELECT grp, y, CAST(count(*) AS BIGINT) AS t
                FROM daily GROUP BY grp, y)
          GROUP BY grp
        )
        SELECT t.grp, t.n_days, s.s_stat,
               CAST(t.n_days * (t.n_days - 1) * (2 * t.n_days + 5)
                    - t.tie18 AS BIGINT) AS var18
        FROM ties t JOIN s ON t.grp = s.grp
        WHERE t.n_days >= 2
    """


def theil_sen_trend_oracle_sql(
    table: str,
    group_sql: str,
    ts_sql: str,
    value_sql: str,
) -> str:
    """DuckDB mirror of :func:`theil_sen_trend` (HUGEINT; identical
    truncation and order-statistic median)."""
    return f"""
        WITH daily AS (
          SELECT {group_sql} AS grp,
                 date_diff('day', DATE '1970-01-01',
                           CAST({ts_sql} AS DATE)) AS d,
                 CAST(sum(CAST(round({value_sql} * 100) AS BIGINT))
                      AS BIGINT) AS y
          FROM {table}
          WHERE {value_sql} IS NOT NULL AND {ts_sql} IS NOT NULL
          GROUP BY 1, 2
        ), pairs AS (
          SELECT a.grp,
                 CASE WHEN b.y < a.y
                   THEN -((CAST(a.y - b.y AS HUGEINT) * 1000000)
                          // (b.d - a.d))
                   ELSE (CAST(b.y - a.y AS HUGEINT) * 1000000)
                        // (b.d - a.d) END AS s
          FROM daily a JOIN daily b
            ON a.grp = b.grp AND a.d < b.d
        ), ranked AS (
          SELECT grp, s,
                 row_number() OVER (PARTITION BY grp ORDER BY s) AS rn,
                 count(*) OVER (PARTITION BY grp) AS p
          FROM pairs
        ), med AS (
          SELECT grp,
                 CAST(max(p) AS BIGINT) AS n_pairs,
                 CAST(sum(CASE
                   WHEN rn = (p + 1) // 2 AND rn = (p + 2) // 2 THEN 2 * s
                   WHEN rn = (p + 1) // 2 OR rn = (p + 2) // 2 THEN s
                   ELSE 0 END) AS BIGINT) AS slope2_micro
          FROM ranked GROUP BY grp
        ), nd AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n_days
          FROM daily GROUP BY grp
        )
        SELECT n.grp, n.n_days, m.n_pairs, m.slope2_micro
        FROM nd n JOIN med m ON n.grp = m.grp
    """


def scd2_intervals(
    events: DataFrame,
    attr_col: str,
    *,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    collapse: bool = True,
) -> DataFrame:
    """Type-2 slowly-changing-dimension construction: turn a change-log
    of (entity, ts, attribute) events into versioned validity intervals
    — the standard warehouse MERGE target shape:

        (entity, attr, valid_from_epoch, valid_to_epoch, version)

    ``valid_to_epoch`` is NULL for the current (open) version;
    ``collapse=True`` drops no-op changes (consecutive events with the
    same attribute value — null-safe, so NULL→NULL is also a no-op)
    before versioning, like a MERGE that skips identical updates.

    Plan: the collapse filter, the interval lead, and the version
    row_number all share ONE (entity, ts, id) window partitioning —
    Catalyst plans a single shuffle; nothing else moves. Bit-exact
    oracle: :func:`scd2_intervals_oracle_sql`."""
    from pyspark.sql import Window

    w = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    src = events
    if collapse:
        # keep the first event per entity and every null-safe change
        src = (
            events.withColumn("__rn", F.row_number().over(w))
            .withColumn(
                "__chg",
                ~F.col(attr_col).eqNullSafe(F.lag(F.col(attr_col)).over(w)),
            )
            .where((F.col("__rn") == 1) | F.col("__chg"))
            .drop("__rn", "__chg")
        )
    w2 = Window.partitionBy(entity_col).orderBy(ts_col, id_col)
    ep = F.unix_timestamp(F.col(ts_col))
    return src.select(
        F.col(entity_col),
        F.col(attr_col),
        ep.alias("valid_from_epoch"),
        F.lead(ep).over(w2).alias("valid_to_epoch"),
        F.row_number().over(w2).alias("version"),
    )


def scd2_intervals_oracle_sql(
    table: str,
    attr_sql: str,
    *,
    entity_sql: str = "user_id",
    ts_sql: str = "ts",
    id_sql: str = "event_id",
    collapse: bool = True,
) -> str:
    """DuckDB mirror of :func:`scd2_intervals`."""
    epoch = f"CAST(epoch(date_trunc('second', {ts_sql})) AS BIGINT)"
    over = f"PARTITION BY {entity_sql} ORDER BY {ts_sql}, {id_sql}"
    if collapse:
        src = f"""(
          SELECT * FROM (
            SELECT *,
                   lag({attr_sql}) OVER ({over}) AS __prev,
                   row_number() OVER ({over}) AS __rn
            FROM {table}
          ) WHERE __rn = 1 OR ({attr_sql} IS DISTINCT FROM __prev)
        )"""
    else:
        src = table
    return f"""
        SELECT {entity_sql}, {attr_sql},
               {epoch} AS valid_from_epoch,
               lead({epoch}) OVER ({over}) AS valid_to_epoch,
               CAST(row_number() OVER ({over}) AS INTEGER) AS version
        FROM {src}
    """


def attribution(
    events: DataFrame,
    *,
    conversion_type: str = "purchase",
    lookback_seconds: int = 7 * 86400,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """First-touch / last-touch marketing attribution: for every
    conversion event, credit the channel (event type) of the user's
    EARLIEST and LATEST non-conversion touchpoint in the trailing
    ``lookback_seconds`` window. Returns one row per channel:
    (channel, first_touch, last_touch) conversion counts; conversions
    with no in-window touchpoint credit the NULL channel ('direct').

    Determinism: the touchpoint inside the RANGE frame is chosen as
    min/max of a (epoch, id, type) struct — a total order, so equal
    timestamps break ties identically in both engines (plain
    first_value/last_value would depend on peer scan order). One
    window over the (user) shuffle + one grouped count."""
    from pyspark.sql import Window

    ep = F.unix_timestamp(F.col(ts_col))
    w = (
        Window.partitionBy(user_col)
        .orderBy(ep)
        .rangeBetween(-lookback_seconds, -1)
    )
    touch = F.when(
        F.col(type_col) != conversion_type,
        F.struct(
            ep.alias("ep"),
            F.col(id_col).alias("id"),
            F.col(type_col).alias("ch"),
        ),
    )
    tagged = events.select(
        F.col(type_col),
        F.coalesce(
            F.min(touch).over(w).getField("ch"), F.lit("direct")
        ).alias("__first"),
        F.coalesce(
            F.max(touch).over(w).getField("ch"), F.lit("direct")
        ).alias("__last"),
    ).where(F.col(type_col) == conversion_type)
    per_first = tagged.groupBy(F.col("__first").alias("channel")).agg(
        F.count(F.lit(1)).alias("first_touch")
    )
    per_last = tagged.groupBy(F.col("__last").alias("channel")).agg(
        F.count(F.lit(1)).alias("last_touch")
    )
    return per_first.join(per_last, "channel", "full").select(
        "channel",
        F.coalesce("first_touch", F.lit(0)).alias("first_touch"),
        F.coalesce("last_touch", F.lit(0)).alias("last_touch"),
    )


def attribution_oracle_sql(
    table: str = "events",
    *,
    conversion_type: str = "purchase",
    lookback_seconds: int = 7 * 86400,
    user_sql: str = "user_id",
    type_sql: str = "event_type",
    ts_sql: str = "ts",
    id_sql: str = "event_id",
) -> str:
    """DuckDB mirror of :func:`attribution` (identical struct-ordered
    touchpoint choice)."""
    epoch = f"CAST(epoch(date_trunc('second', {ts_sql})) AS BIGINT)"
    touch = (
        f"CASE WHEN {type_sql} <> '{conversion_type}' THEN "
        f"{{'ep': {epoch}, 'id': {id_sql}, 'ch': {type_sql}}} END"
    )
    over = (
        f"PARTITION BY {user_sql} ORDER BY {epoch} "
        f"RANGE BETWEEN {lookback_seconds} PRECEDING AND 1 PRECEDING"
    )
    return f"""
        WITH tagged AS (
          SELECT {type_sql} AS t,
                 coalesce((min({touch}) OVER ({over})).ch, 'direct') AS f,
                 coalesce((max({touch}) OVER ({over})).ch, 'direct') AS l
          FROM {table}
        ), conv AS (SELECT * FROM tagged WHERE t = '{conversion_type}'),
        pf AS (SELECT f AS channel, CAST(count(*) AS BIGINT) AS first_touch
               FROM conv GROUP BY f),
        pl AS (SELECT l AS channel, CAST(count(*) AS BIGINT) AS last_touch
               FROM conv GROUP BY l)
        SELECT channel,
               coalesce(first_touch, 0) AS first_touch,
               coalesce(last_touch, 0) AS last_touch
        FROM pf FULL JOIN pl USING (channel)
    """


def debounce_events(
    events: DataFrame,
    min_gap_seconds: int,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Windowed de-duplication of rapid repeats: keep an event only if
    the SAME user's PREVIOUS KEPT-OR-DROPPED event of the same type is
    at least ``min_gap_seconds`` older — the client-retry / double-
    click filter that runs before sessionization.

    Semantics note (deliberate, and what one window can express): the
    gap is measured to the immediately preceding RAW event, not the
    last kept one — a burst of N rapid repeats keeps only its first
    event as long as consecutive gaps stay under the threshold, but a
    slow drip each ``min_gap−ε`` apart keeps nothing after the first
    only while gaps stay short. (Last-KEPT semantics is a running
    state; use streaming/dedup for that shape.) One window on the
    (user, type) key."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col, type_col).orderBy(ts_col, id_col)
    prev = F.lag(F.unix_timestamp(F.col(ts_col))).over(w)
    gap_ok = prev.isNull() | (
        F.unix_timestamp(F.col(ts_col)) - prev >= min_gap_seconds
    )
    return events.withColumn("__keep", gap_ok).where(F.col("__keep")).drop(
        "__keep"
    )


def debounce_events_oracle_sql(
    table: str,
    min_gap_seconds: int,
    *,
    select_sql: str = "*",
    user_sql: str = "user_id",
    type_sql: str = "event_type",
    ts_sql: str = "ts",
    id_sql: str = "event_id",
) -> str:
    """DuckDB mirror of :func:`debounce_events`."""
    epoch = f"CAST(epoch(date_trunc('second', {ts_sql})) AS BIGINT)"
    return f"""
        WITH lagged AS (
          SELECT *, lag({epoch}) OVER (
                   PARTITION BY {user_sql}, {type_sql}
                   ORDER BY {ts_sql}, {id_sql}) AS __prev,
                 {epoch} AS __now
          FROM {table}
        )
        SELECT {select_sql} FROM lagged
        WHERE __prev IS NULL OR __now - __prev >= {min_gap_seconds}
    """


def gini_by_group(
    df: DataFrame,
    value_col: str,
    group_col: str,
    *,
    value_dp: int = 2,
    round_dp: int = 6,
) -> DataFrame:
    """Gini concentration coefficient per group over a non-negative
    value column (revenue/volume inequality — the standard
    concentration diagnostic next to heavy_hitters):

        G = (2·Σᵢ i·x₍ᵢ₎) / (n·Σx) − (n+1)/n      (x sorted asc)

    Exactness: values quantized to ``value_dp`` decimals ride as
    DECIMAL(38,0); the rank-weighted sum Σ i·x₍ᵢ₎ is invariant under
    tie permutations (equal x share the tie block's rank sum), so the
    carriers are partition- and tie-order independent; ONE double
    division at the end, rounded identically in the mirror. One
    (group, value) sort window + one grouped aggregation.

    Rows with NULL value are excluded; negative values are a caller
    error for Gini (not checked — the formula simply loses its
    [0,1) interpretation)."""
    from pyspark.sql import Window

    scale = 10 ** value_dp
    q = F.round(F.col(value_col).cast("double") * scale).cast(
        "decimal(38,0)"
    )
    ranked = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("grp"), q.alias("__q"))
        .withColumn("__i", F.row_number().over(
            Window.partitionBy("grp").orderBy(F.col("__q"))
        ).cast("decimal(38,0)"))
    )
    agg = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__i") * F.col("__q")).alias("__s"),
        F.sum("__q").alias("__t"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("__s")
        - (n + 1) * F.col("__t")
    ).cast("double")
    den = (n * F.col("__t")).cast("double")
    return agg.select(
        "grp",
        "n",
        F.when(den > 0, F.round(num / den, round_dp)).alias("gini"),
    )


def gini_by_group_oracle_sql(
    table_sql: str,
    value_sql: str,
    group_sql: str,
    *,
    value_dp: int = 2,
    round_dp: int = 6,
) -> str:
    """DuckDB mirror of :func:`gini_by_group`."""
    scale = 10 ** value_dp
    return f"""
        WITH ranked AS (
          SELECT {group_sql} AS grp,
                 CAST(round(CAST({value_sql} AS DOUBLE) * {scale})
                      AS HUGEINT) AS q,
                 CAST(row_number() OVER (
                   PARTITION BY {group_sql}
                   ORDER BY CAST(round(CAST({value_sql} AS DOUBLE) * {scale})
                            AS HUGEINT)) AS HUGEINT) AS i
          FROM {table_sql} WHERE {value_sql} IS NOT NULL
        ), agg AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 sum(i * q) AS s, sum(q) AS t
          FROM ranked GROUP BY grp
        )
        SELECT grp, n,
               CASE WHEN CAST(CAST(n AS HUGEINT) * t AS DOUBLE) > 0 THEN
                 round(CAST(2 * s - (CAST(n AS HUGEINT) + 1) * t AS DOUBLE)
                       / CAST(CAST(n AS HUGEINT) * t AS DOUBLE), {round_dp})
               END AS gini
        FROM agg
    """


def interval_union_length(
    df: DataFrame,
    start_col: str,
    end_col: str,
    group_col: str,
    *,
    out_col: str = "covered",
) -> DataFrame:
    """Total length covered by a set of possibly-overlapping intervals
    per group — the classic island merge (total active time from
    session intervals, SLA coverage, sensor uptime).

    One window pass: an interval starts a new island when its start
    exceeds the running max of previous ends; islands sum
    (max(end) − min(start)). All arithmetic on the caller's integer
    units — exact. Returns (group, n_intervals, n_islands, covered)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(start_col, end_col)
    prev_max_end = F.max(F.col(end_col)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = df.withColumn(
        "__new",
        F.when(
            prev_max_end.isNull() | (F.col(start_col) > prev_max_end), 1
        ).otherwise(0),
    )
    labeled = flagged.withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = labeled.groupBy(group_col, "__island").agg(
        F.min(start_col).alias("__s"),
        F.max(end_col).alias("__e"),
        F.count(F.lit(1)).alias("__n"),
    )
    return islands.groupBy(group_col).agg(
        F.sum("__n").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("__e") - F.col("__s")).alias(out_col),
    )


def interval_union_length_oracle_sql(
    table_sql: str,
    start_sql: str,
    end_sql: str,
    group_sql: str,
    *,
    out_name: str = "covered",
) -> str:
    """DuckDB mirror of :func:`interval_union_length` (the group column
    keeps its name)."""
    g = group_sql
    over = f"PARTITION BY {group_sql} ORDER BY {start_sql}, {end_sql}"
    return f"""
        WITH flagged AS (
          SELECT {group_sql} AS {g}, {start_sql} AS s, {end_sql} AS e,
                 CASE WHEN max({end_sql}) OVER ({over}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      IS NULL
                      OR {start_sql} > max({end_sql}) OVER ({over}
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS new_s
          FROM {table_sql}
        ), labeled AS (
          SELECT *, sum(new_s) OVER (PARTITION BY {g} ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS island
          FROM flagged
        ), islands AS (
          SELECT {g}, island, min(s) AS i_s, max(e) AS i_e,
                 CAST(count(*) AS BIGINT) AS n
          FROM labeled GROUP BY {g}, island
        )
        SELECT {g}, CAST(sum(n) AS BIGINT) AS n_intervals,
               CAST(count(*) AS BIGINT) AS n_islands,
               CAST(sum(i_e - i_s) AS BIGINT) AS {out_name}
        FROM islands GROUP BY {g}
    """


def topk_turnover(
    df: DataFrame,
    era_col: str,
    item_col: str,
    metric,
    k: int = 25,
    era_step=None,
) -> DataFrame:
    """Top-k membership turnover between consecutive eras — the
    portfolio-churn diagnostic for era-ranked selections: per era,
    rank items by the (exact-integer) metric, keep the top ``k``
    (deterministic tiebreak: metric desc, item asc), then for each era
    with a predecessor report how much of the current top-k is new:

        turnover = (|top_k(t)| − |top_k(t) ∩ top_k(t−1)|) / |top_k(t)|

    ``era_step`` maps an era value to its SUCCESSOR era value
    (default: ``F.add_months(era, 1)`` for month eras — calendar
    holes simply produce no pair, documented behavior).

    Plan: one (era, item) aggregation, one era-partitioned rank
    window, an equi-join of the tiny top-k table against its own
    era-shifted image, one count per era — no windows over more than
    one era, no driver collection. Counts are BIGINT; the single
    ratio divides two small integers (IEEE-exact both engines).
    """
    from pyspark.sql import Window

    if era_step is None:
        # add_months returns DateType; month eras built with date_trunc
        # are TimestampType, and the implicit date->timestamp coercion in
        # the prev/curr join only matches midnight values.  Cast the
        # stepped era back to the input era column's own type so any
        # era representation joins exactly.
        era_step = F.add_months(F.col("__era"), 1).cast(
            df.schema[era_col].dataType
        )
    per = df.groupBy(
        F.col(era_col).alias("__era"), F.col(item_col).alias("__item")
    ).agg(F.sum(metric).alias("__m"))
    w = Window.partitionBy("__era").orderBy(
        F.col("__m").desc(), F.col("__item").asc()
    )
    top = (
        per.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <= int(k))
        .select("__era", "__item")
        # k rows per era, but the lineage is the full-table aggregation
        # + rank window and it feeds FOUR consumers (prev, curr counts,
        # both join sides) — cut it once
        .localCheckpoint(eager=True)
    )
    prev = top.select(
        era_step.alias("__era"), F.col("__item").alias("__pitem")
    )
    curr_counts = top.groupBy("__era").agg(
        F.count(F.lit(1)).cast("long").alias("n_curr")
    )
    prev_counts = prev.groupBy("__era").agg(
        F.count(F.lit(1)).cast("long").alias("n_prev")
    )
    common = (
        top.join(
            prev,
            (top["__era"] == prev["__era"])
            & (top["__item"] == prev["__pitem"]),
        )
        .groupBy(top["__era"].alias("__era"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    return (
        curr_counts.join(prev_counts, "__era")  # eras WITH a predecessor
        .join(common, "__era", "left")
        .select(
            F.col("__era").alias("era"),
            "n_prev",
            "n_curr",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            F.round(
                (
                    F.col("n_curr")
                    - F.coalesce(F.col("n_common"), F.lit(0))
                ).cast("double")
                / F.col("n_curr"),
                6,
            ).alias("turnover"),
        )
    )


def topk_turnover_oracle_sql(
    table_sql: str,
    era_sql: str,
    item_sql: str,
    metric_sql: str,
    k: int = 25,
    step_sql: str = "__era + INTERVAL 1 MONTH",
) -> str:
    """DuckDB twin of :func:`topk_turnover` (identical rank tiebreak
    and count arithmetic)."""
    return f"""
        WITH per AS (
          SELECT {era_sql} AS __era, {item_sql} AS __item,
                 sum({metric_sql}) AS __m
          FROM {table_sql} GROUP BY 1, 2
        ), ranked AS (
          SELECT __era, __item,
                 row_number() OVER (PARTITION BY __era
                   ORDER BY __m DESC, __item ASC) AS __r
          FROM per
        ), top AS (
          SELECT __era, __item FROM ranked WHERE __r <= {int(k)}
        ), prev AS (
          SELECT {step_sql} AS __era, __item AS __pitem FROM top
        ), cc AS (
          SELECT __era, CAST(count(*) AS BIGINT) AS n_curr
          FROM top GROUP BY __era
        ), pc AS (
          SELECT __era, CAST(count(*) AS BIGINT) AS n_prev
          FROM prev GROUP BY __era
        ), com AS (
          SELECT t.__era AS __era, CAST(count(*) AS BIGINT) AS n_common
          FROM top t JOIN prev p
            ON t.__era = p.__era AND t.__item = p.__pitem
          GROUP BY t.__era
        )
        SELECT cc.__era AS era, n_prev, n_curr,
               coalesce(n_common, 0) AS n_common,
               round(CAST(n_curr - coalesce(n_common, 0) AS DOUBLE)
                     / n_curr, 6) AS turnover
        FROM cc JOIN pc ON cc.__era = pc.__era
        LEFT JOIN com ON cc.__era = com.__era
    """


def rfm_segments(
    orders: DataFrame,
    *,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_bins: int = 5,
) -> DataFrame:
    """RFM customer segmentation — the standard CRM readout: per
    customer Recency (days since their last order, measured against
    the corpus max date), Frequency (order count), Monetary (total
    spend), each scored 1..n_bins by VALUE-based quantile bins: the
    n_bins−1 interpolated percentile boundaries of the per-customer
    metric are collected as ONE tiny row and inlined as literal
    comparisons (the PSI/quantile_bin discipline — Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, parity pinned by
    quantile_bin), score = 1 + #boundaries strictly below the value,
    recency inverted so fresher = higher. No global rank window
    anywhere — at 100 TB the per-customer frame never funnels into a
    single ordered partition.

    Plan: one grouped aggregation per customer (map-side partial,
    output bounded by |customers|), the corpus max date and the nine
    boundaries as collected literals, then a single codegen projection.
    Returns (customer, recency_days, frequency, monetary, r_score,
    f_score, m_score, segment)."""
    per_cust = orders.groupBy(F.col(customer_col).alias("customer")).agg(
        F.max(F.col(date_col)).alias("__last"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.round(F.sum(F.col(amount_col)), 2).alias("monetary"),
    )
    maxd = orders.agg(F.max(F.col(date_col)).alias("__maxd"))
    base = per_cust.crossJoin(F.broadcast(maxd)).select(
        "customer",
        F.datediff(F.col("__maxd"), F.col("__last"))
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )
    probs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))
    brow = base.agg(
        *[
            F.expr(
                f"percentile(CAST(`{c}` AS DOUBLE), array({probs}))"
            ).alias(f"__b_{c}")
            for c in ("recency_days", "frequency", "monetary")
        ]
    ).collect()[0]

    def _score(c: str, invert: bool):
        v = F.col(c).cast("double")
        blist = brow[f"__b_{c}"] or []
        bins = F.lit(0)
        for b in blist:
            bins = bins + F.when(v > F.lit(float(b)), 1).otherwise(0)
        raw = F.lit(1) + bins  # 1..n_bins ascending with the value
        return (
            (F.lit(n_bins + 1) - raw) if invert else raw
        ).cast("int")

    scored = base.select(
        "customer",
        "recency_days",
        "frequency",
        "monetary",
        _score("recency_days", invert=True).alias("r_score"),
        _score("frequency", invert=False).alias("f_score"),
        _score("monetary", invert=False).alias("m_score"),
    )
    return scored.select(
        "*",
        F.concat_ws(
            "",
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    )


def rfm_segments_oracle_sql(
    table: str = "orders",
    *,
    customer_sql: str = "o_custkey",
    date_sql: str = "o_orderdate",
    amount_sql: str = "o_totalprice",
    n_bins: int = 5,
) -> str:
    """DuckDB mirror of :func:`rfm_segments` (quantile_cont boundaries,
    same strict-> bin rule, same inversion)."""
    probs = ", ".join(repr(i / n_bins) for i in range(1, n_bins))

    def score(col: str, invert: bool) -> str:
        below = (
            f"len(list_filter((SELECT quantile_cont(CAST({col} AS DOUBLE),"
            f" [{probs}]) FROM base), b -> CAST({col} AS DOUBLE) > b))"
        )
        raw = f"(1 + {below})"
        return f"CAST({n_bins + 1} - {raw} AS INTEGER)" if invert else (
            f"CAST({raw} AS INTEGER)"
        )

    r = score("recency_days", True)
    f_ = score("frequency", False)
    m = score("monetary", False)
    return f"""
        WITH per_cust AS (
          SELECT {customer_sql} AS customer,
                 max({date_sql}) AS last_d,
                 CAST(count(*) AS BIGINT) AS frequency,
                 round(sum({amount_sql}), 2) AS monetary
          FROM {table} GROUP BY {customer_sql}
        ), maxd AS (
          SELECT max({date_sql}) AS maxd FROM {table}
        ), base AS (
          SELECT customer,
                 CAST(date_diff('day', last_d, maxd) AS BIGINT)
                   AS recency_days,
                 frequency, monetary
          FROM per_cust CROSS JOIN maxd
        )
        SELECT customer, recency_days, frequency, monetary,
               {r} AS r_score, {f_} AS f_score, {m} AS m_score,
               CAST({r} AS VARCHAR) || CAST({f_} AS VARCHAR)
                 || CAST({m} AS VARCHAR) AS segment
        FROM base
    """


def k_anonymity(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int = 5,
) -> DataFrame:
    """K-anonymity audit (Sweeney 2002) — the privacy-pipeline
    sibling of the PII masker: group rows into equivalence classes by
    the quasi-identifier columns and profile the class-size
    distribution. A release is k-anonymous iff no class is smaller
    than k; the violating share tells you how much suppression or
    generalization is still needed.

    Output: one row per distinct class size — (class_size, n_classes,
    n_rows, violates_k) — plain integers sorted by class_size. Plan:
    two chained aggregations (rows→classes, classes→size profile),
    both map-side combined; the first groupBy is the only data-sized
    shuffle, exactly a distinct-count's cost."""
    classes = df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).cast("long").alias("__sz")
    )
    return (
        classes.groupBy(F.col("__sz").alias("class_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("__sz").cast("long").alias("n_rows"),
        )
        .select(
            "class_size",
            "n_classes",
            "n_rows",
            (F.col("class_size") < F.lit(int(k))).alias("violates_k"),
        )
        .orderBy("class_size")
    )


def k_anonymity_oracle_sql(
    table: str,
    quasi_identifier_sqls: list[str],
    k: int = 5,
) -> str:
    """DuckDB mirror of :func:`k_anonymity`."""
    qi = ", ".join(quasi_identifier_sqls)
    return f"""
        WITH classes AS (
          SELECT {qi}, CAST(count(*) AS BIGINT) AS sz
          FROM {table} GROUP BY {qi}
        )
        SELECT sz AS class_size,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(sz) AS BIGINT) AS n_rows,
               sz < {int(k)} AS violates_k
        FROM classes GROUP BY sz ORDER BY sz
    """


def l_diversity(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """Distinct l-diversity audit (Machanavajjhala et al. 2007) — the
    step after :func:`k_anonymity`: a k-anonymous release still leaks
    when an equivalence class is homogeneous in the SENSITIVE
    attribute, so profile classes by how many distinct sensitive
    values they contain. A release is (distinct) l-diverse iff every
    class has ≥ l distinct sensitive values.

    Output: one row per (class_size, n_sensitive) — (class_size,
    n_sensitive, n_classes, n_rows, violates_l), plain integers. Plan:
    one exact distinct-count aggregation over the quasi-identifier key
    (Expand-based count-distinct — map-side combined) then the tiny
    profile aggregation; the class groupBy is the only data-sized
    shuffle, same cost class as k_anonymity."""
    classes = df.groupBy(*quasi_identifiers).agg(
        F.count(F.lit(1)).cast("long").alias("__sz"),
        F.countDistinct(sensitive_col).cast("long").alias("__nd"),
    )
    return (
        classes.groupBy(
            F.col("__sz").alias("class_size"),
            F.col("__nd").alias("n_sensitive"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("__sz").cast("long").alias("n_rows"),
        )
        .select(
            "class_size",
            "n_sensitive",
            "n_classes",
            "n_rows",
            (F.col("n_sensitive") < F.lit(int(l))).alias("violates_l"),
        )
        .orderBy("class_size", "n_sensitive")
    )


def l_diversity_oracle_sql(
    table: str,
    quasi_identifier_sqls: list[str],
    sensitive_sql: str,
    l: int = 2,
) -> str:
    """DuckDB mirror of :func:`l_diversity`."""
    qi = ", ".join(quasi_identifier_sqls)
    return f"""
        WITH classes AS (
          SELECT {qi}, CAST(count(*) AS BIGINT) AS sz,
                 CAST(count(DISTINCT {sensitive_sql}) AS BIGINT) AS nd
          FROM {table} GROUP BY {qi}
        )
        SELECT sz AS class_size, nd AS n_sensitive,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(sz) AS BIGINT) AS n_rows,
               nd < {int(l)} AS violates_l
        FROM classes GROUP BY sz, nd ORDER BY sz, nd
    """


def t_closeness(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    t_num: int = 3,
    t_den: int = 10,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    third privacy check after :func:`k_anonymity` and
    :func:`l_diversity`: an l-diverse class still leaks when its
    SENSITIVE-value distribution diverges from the table's global
    one (skewness attack), so measure, per equivalence class, the
    total variation distance TVD = 1/2 * sum_v |p_class(v) -
    p_global(v)| and flag classes with TVD > t (t = t_num/t_den,
    default 0.3).

    Exactness: with counts c_v (class), g_v (global), n (class size),
    N (table size): TVD = sum_v |c_v*N - g_v*n| / (2*n*N) — the
    numerator is pure INTEGER (decimal(38,0) carriers; values absent
    from the class contribute g_v*n, folded in closed form as
    (N - sum_present g_v) * n, so no class x value universe is ever
    expanded). The breach test t_den*tvd_num > t_num*denom and the
    permille bin floor(1000*tvd_num/denom) are integer too: the whole
    audit is hash-proven.

    Output is the BOUNDED profile (<= 1001 rows at any scale): one row
    per (tvd_permille, breaches_t) with n_classes and n_rows. Plan:
    one (qi, sensitive) count agg, a broadcast join against the tiny
    global distribution, a window n-sum on the class key that the
    following class groupBy reuses the partitioning of, then the tiny
    profile agg — the only data-sized shuffle is the class key."""
    from pyspark.sql import Window

    d = "decimal(38,0)"
    qi = list(quasi_identifiers)
    # rows with a NULL sensitive value are excluded from the audit
    # ENTIRELY (class counts, global distribution, and N) — an inner
    # join on the sensitive key would otherwise drop them from class
    # sizes but not from N, silently inflating every TVD
    df = df.where(F.col(sensitive_col).isNotNull())
    cls_v = df.groupBy(*qi, sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    glob = df.groupBy(sensitive_col).agg(
        F.count(F.lit(1)).cast("long").alias("__g")
    )
    total = df.agg(F.count(F.lit(1)).cast("long").alias("__tot"))
    joined = (
        cls_v.join(F.broadcast(glob), sensitive_col)
        .crossJoin(F.broadcast(total))
        .withColumn("__n", F.sum("__c").over(Window.partitionBy(*qi)))
    )
    term = F.abs(
        F.col("__c").cast(d) * F.col("__tot").cast(d)
        - F.col("__g").cast(d) * F.col("__n").cast(d)
    )
    per_class = joined.groupBy(*qi).agg(
        F.max("__n").cast("long").alias("n"),
        F.max("__tot").cast("long").alias("n_total"),
        F.sum(term).cast(d).alias("present_abs"),
        F.sum(F.col("__g").cast(d)).cast(d).alias("present_g"),
    )
    tvd_num = (
        F.col("present_abs")
        + (F.col("n_total").cast(d) - F.col("present_g")) * F.col("n").cast(d)
    ).cast(d)
    denom = (
        F.lit(2).cast(d) * F.col("n").cast(d) * F.col("n_total").cast(d)
    ).cast(d)
    scaled = (F.lit(1000).cast(d) * tvd_num).cast(d)
    permille = (
        (scaled - F.pmod(scaled, denom)) / denom
    ).cast("long")
    breach = (
        F.lit(int(t_den)).cast(d) * tvd_num
        > F.lit(int(t_num)).cast(d) * denom
    )
    return (
        per_class.select(
            permille.alias("tvd_permille"),
            breach.alias("breaches_t"),
            F.col("n"),
        )
        .groupBy("tvd_permille", "breaches_t")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("n").cast("long").alias("n_rows"),
        )
        .orderBy("tvd_permille", "breaches_t")
    )


def t_closeness_oracle_sql(
    table: str,
    quasi_identifier_sqls: list[str],
    sensitive_sql: str,
    t_num: int = 3,
    t_den: int = 10,
) -> str:
    """DuckDB mirror of :func:`t_closeness` (HUGEINT carriers)."""
    qi = ", ".join(quasi_identifier_sqls)
    return f"""
        WITH src AS (
          SELECT * FROM {table} WHERE {sensitive_sql} IS NOT NULL
        ), cls_v AS (
          SELECT {qi}, {sensitive_sql} AS s,
                 CAST(count(*) AS BIGINT) AS c
          FROM src GROUP BY {qi}, {sensitive_sql}
        ), gdist AS (
          SELECT {sensitive_sql} AS s, CAST(count(*) AS BIGINT) AS g
          FROM src GROUP BY {sensitive_sql}
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS N FROM src
        ), per_class AS (
          SELECT {qi},
                 sum(c) AS n,
                 any_value(N) AS n_total,
                 sum(abs(CAST(c AS HUGEINT) * N
                         - CAST(g AS HUGEINT) * nn)) AS present_abs,
                 sum(CAST(g AS HUGEINT)) AS present_g
          FROM (
            SELECT cls_v.*, gdist.g, tot.N,
                   sum(c) OVER (PARTITION BY {qi}) AS nn
            FROM cls_v JOIN gdist USING (s) CROSS JOIN tot
          )
          GROUP BY {qi}
        ), scored AS (
          SELECT n,
                 present_abs
                   + (CAST(n_total AS HUGEINT) - present_g)
                     * CAST(n AS HUGEINT) AS tvd_num,
                 2 * CAST(n AS HUGEINT) * CAST(n_total AS HUGEINT)
                   AS denom
          FROM per_class
        )
        SELECT CAST((1000 * tvd_num) // denom AS BIGINT)
                 AS tvd_permille,
               {int(t_den)} * tvd_num > {int(t_num)} * denom
                 AS breaches_t,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(n) AS BIGINT) AS n_rows
        FROM scored
        GROUP BY 1, 2 ORDER BY 1, 2
    """
