"""Funnel / retention / anomaly-flag semantics on hand-built frames."""

import datetime as dt

import pyspark.sql.functions as F
import pytest

from centimators_spark.analytics import funnel, retention_cohorts


def _ts(day, hour=0):
    return dt.datetime(2024, 1, day, hour)


def test_funnel_order_matters(spark):
    rows = [
        # u1 completes in order
        (1, "view", _ts(1)), (1, "click", _ts(2)), (1, "purchase", _ts(3)),
        # u2 clicks BEFORE viewing -> click doesn't count; no purchase
        (2, "click", _ts(1)), (2, "view", _ts(2)),
        # u3 views only
        (3, "view", _ts(1)),
        # u4 never enters the funnel (click/purchase without view)
        (4, "click", _ts(1)), (4, "purchase", _ts(2)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.user_id: r for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert out[1].stages_reached == 3
    assert out[2].stages_reached == 1  # click precedes view -> not counted
    assert out[3].stages_reached == 1
    assert 4 not in out  # no stage-0 event -> not in the funnel at all
    # same-timestamp stage events count (>= semantics)
    df2 = spark.createDataFrame(
        [(9, "view", _ts(1)), (9, "click", _ts(1))],
        "user_id long, event_type string, ts timestamp",
    )
    assert funnel(df2, ["view", "click"]).collect()[0].stages_reached == 2
    with pytest.raises(ValueError):
        funnel(df, ["view"])


def test_retention_cohorts_triangle(spark):
    # u1 first week 0, active weeks 0 and 2; u2 first week 1, active week 1
    rows = [
        (1, _ts(1)), (1, _ts(2)), (1, _ts(15)),
        (2, _ts(8)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (r.cohort_wk, r.week_offset): r.n_users
        for r in retention_cohorts(df).collect()
    }
    # Jan 1 2024 is a Monday -> weeks start on the 1st, 8th, 15th
    w0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    w1 = w0 + 7 * 86400
    assert got == {(w0, 0): 1, (w0, 2): 1, (w1, 0): 1}


def test_anomaly_flags_spike(spark):
    from centimators_spark.operators.anomaly import ewma_anomaly_flags

    # one ticker, flat series with one large spike
    vals = [10.0] * 20 + [100.0] + [10.0] * 5
    rows = [(1, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "tic long, t long, x double")
    out = ewma_anomaly_flags(
        df, "x", ticker_col="tic", order_cols=["t"], span=4, window=8,
        std_window=8, k=2.0,
    ).orderBy("t").collect()
    flags = [r.x_anomaly for r in out]
    # warm-up rows have null flags; the spike row must be flagged
    assert flags[20] == 1
    # flat rows with zero std are never flagged as 1
    assert all(f in (None, 0) for i, f in enumerate(flags) if i != 20 and i < 21)
    # z is null where std is 0 (flat window)
    assert out[19].x_z is None


def test_funnel_unbroadcast_path_matches(spark):
    """The broadcast stage joins give the hand-computed chain (user 2
    clicks before viewing, so the click does not count) and leave no
    persisted plan behind."""
    rows = [
        (1, "view", _ts(1)), (1, "click", _ts(2)), (1, "purchase", _ts(3)),
        (2, "view", _ts(2)), (2, "click", _ts(1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    spark.catalog.clearCache()
    got = sorted(tuple(r) for r in funnel(df, ["view", "click"]).collect())
    epoch = {
        d: spark.range(1).select(F.unix_timestamp(F.lit(_ts(d)))).first()[0]
        for d in (1, 2)
    }
    assert got == [(1, epoch[1], epoch[2], 2), (2, epoch[2], None, 1)]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_scd2_intervals_hand_computed(spark):
    """Change-log → versioned intervals: no-op changes collapse
    (null-safe), last version open, intervals tile the timeline."""
    from centimators_spark.analytics import scd2_intervals

    rows = [
        # user 1: a@0, a@10 (no-op), b@20, b@30 (no-op), NULL@40,
        # NULL@50 (no-op), a@60
        (1, 1, 0, "a"), (2, 1, 10, "a"), (3, 1, 20, "b"),
        (4, 1, 30, "b"), (5, 1, 40, None), (6, 1, 50, None),
        (7, 1, 60, "a"),
        # user 2: single event
        (8, 2, 5, "x"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, sec long, event_type string"
    ).select(
        "event_id", "user_id",
        F.timestamp_seconds(F.col("sec")).alias("ts"), "event_type",
    )
    out = sorted(
        (
            (r.user_id, r.version, r.event_type,
             r.valid_from_epoch, r.valid_to_epoch)
            for r in scd2_intervals(df, "event_type").collect()
        )
    )
    assert out == [
        (1, 1, "a", 0, 20),
        (1, 2, "b", 20, 40),
        (1, 3, None, 40, 60),
        (1, 4, "a", 60, None),
        (2, 1, "x", 5, None),
    ]
    # collapse=False keeps every event as its own version
    assert scd2_intervals(df, "event_type", collapse=False).count() == 8


def test_attribution_hand_computed(spark):
    """First/last-touch credit with lookback cutoff, direct fallback,
    and deterministic same-timestamp tie-break (struct order by id)."""
    from centimators_spark.analytics import attribution

    rows = [
        # user 1: ad@0, email@10, purchase@20 -> first=ad, last=email
        (1, 1, 0, "ad"), (2, 1, 10, "email"), (3, 1, 20, "purchase"),
        # user 2: ad@0, purchase@200 with lookback 100 -> direct
        (4, 2, 0, "ad"), (5, 2, 200, "purchase"),
        # user 3: two touches at the SAME second (ids 6,7) then buy:
        # min struct -> id 6 (ad), max struct -> id 7 (email)
        (6, 3, 50, "ad"), (7, 3, 50, "email"), (8, 3, 60, "purchase"),
        # purchase itself is never a touchpoint for a later purchase
        (9, 4, 0, "purchase"), (10, 4, 5, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, sec long, event_type string"
    ).select(
        "event_id", "user_id",
        F.timestamp_seconds(F.col("sec")).alias("ts"), "event_type",
    )
    out = {
        r.channel: (r.first_touch, r.last_touch)
        for r in attribution(df, lookback_seconds=100).collect()
    }
    # u1: first=ad last=email; u2: direct; u3: first=ad(id 6)
    # last=email(id 7); u4: both purchases direct (a purchase is
    # never a touchpoint)
    assert out == {
        "ad": (2, 0),
        "email": (0, 2),
        "direct": (3, 3),
    }


def test_table_diff_hand_computed(spark):
    """Reconciliation counts: presence, null-safe equality, per-column
    diffs."""
    from centimators_spark.reconcile import table_diff

    a = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 20.0, None), (3, 30.0, "z"), (4, 40.0, "w")],
        "k long, v double, s string",
    )
    b = spark.createDataFrame(
        [(1, 10.0, "x"), (2, 99.0, None), (3, 30.0, "Z"), (5, 50.0, "q")],
        "k long, v double, s string",
    )
    out = {r.column: r for r in table_diff(a, b, ["k"], ["v", "s"]).collect()}
    rows = out["__rows__"]
    assert (rows.n_only_a, rows.n_only_b, rows.n_both) == (1, 1, 3)
    assert (out["v"].n_equal, out["v"].n_diff) == (2, 1)   # k=2 differs
    # s: k=1 equal, k=2 NULL==NULL equal, k=3 'z' vs 'Z' differs
    assert (out["s"].n_equal, out["s"].n_diff) == (2, 1)


def test_session_window_query_vs_manual(spark):
    """Native session_window merges events with gaps < 30 min; end =
    last event + gap."""
    import __spark_entry__ as entry

    out = entry.q_session_window(spark, "/root/testdata/sf0.001")
    pdf = out.toPandas()
    assert (pdf.n_events >= 1).all()
    # every session spans >= the 30-min gap (end = last + gap)
    assert ((pdf.session_end_us - pdf.session_start_us) >= 1800_000_000).all()
    # sessions of one user never overlap
    g = pdf.sort_values(["user_id", "session_start_us"])
    prev_end = g.groupby("user_id").session_end_us.shift()
    ok = prev_end.isna() | (g.session_start_us >= prev_end - 1)
    assert ok.all()


def test_interval_union_and_weighted_median(spark):
    """Island merge: overlapping/touching/disjoint intervals; weighted
    median boundary cases."""
    from centimators_spark.analytics import interval_union_length
    from centimators_spark.operators.stats import weighted_median

    rows = [
        ("u", 0, 10), ("u", 5, 12),    # overlap -> [0,12]
        ("u", 12, 15),                 # touching (start == prev end) merges
        ("u", 20, 25),                 # disjoint island
        ("v", 1, 2),
    ]
    df = spark.createDataFrame(rows, "g string, s long, e long")
    out = {r.g: (r.n_intervals, r.n_islands, r.covered)
           for r in interval_union_length(df, "s", "e", "g").collect()}
    assert out["u"] == (4, 2, 20)   # [0,15] + [20,25]
    assert out["v"] == (1, 1, 1)

    wm = [("a", 1, 1), ("a", 2, 1), ("a", 3, 2)]  # W=4, half=2 -> 2*cum>=4 at v=2
    wdf = spark.createDataFrame(wm, "g string, v long, w long")
    [r] = weighted_median(wdf, "v", "w", "g").collect()
    assert (r.n, r.total_weight, r.wmedian) == (3, 4, 2)
    # all weight on the last value -> median is that value
    wm2 = [("b", 1, 1), ("b", 9, 10)]
    [r2] = weighted_median(
        spark.createDataFrame(wm2, "g string, v long, w long"), "v", "w", "g"
    ).collect()
    assert r2.wmedian == 9


def test_table_diff_null_keys_match_null_safely(spark):
    """ADVICE r5 (medium): a NULL join key present in both tables must
    count as n_both (null-safe key join), matching the DuckDB oracle's
    IS NOT DISTINCT FROM — plain equality counted it only_a + only_b."""
    from centimators_spark.reconcile import table_diff

    a = spark.createDataFrame([(None, 1.0), (1, 2.0)], "k int, v double")
    b = spark.createDataFrame([(None, 1.0), (1, 2.0)], "k int, v double")
    out = {r.column: r for r in table_diff(a, b, ["k"], ["v"]).collect()}
    rows = out["__rows__"]
    assert (rows.n_only_a, rows.n_only_b, rows.n_both) == (0, 0, 2)
    assert (out["v"].n_equal, out["v"].n_diff) == (2, 0)
