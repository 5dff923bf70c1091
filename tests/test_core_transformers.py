"""Golden-value unit tests ported from the reference's fixtures
(FIXTURES.md F1; /root/reference/tests/test_feature_transformers.py:24-94).
"""

import math

import pytest
from pyspark.sql import Row

from centimators_spark.operators import (
    RankTransformer,
    LagTransformer,
    MovingAverageTransformer,
    LogReturnTransformer,
    GroupStatsTransformer,
)


@pytest.fixture(scope="module")
def panel(spark):
    # F1 panel_simple: 2 tickers x 2 dates, deterministic row order via rid
    rows = [
        Row(rid=0, date="2024-01-01", ticker="A", feature1=10, feature2=1.0),
        Row(rid=1, date="2024-01-02", ticker="A", feature1=20, feature2=2.0),
        Row(rid=2, date="2024-01-01", ticker="B", feature1=30, feature2=3.0),
        Row(rid=3, date="2024-01-02", ticker="B", feature1=40, feature2=4.0),
    ]
    return spark.createDataFrame(rows)


def _by_rid(df, *cols):
    return [tuple(r[c] for c in cols) for r in df.orderBy("rid").collect()]


def test_rank_normalized(spark, panel):
    t = RankTransformer(["feature1"], group_col="date", keep_cols=["rid"], output_mode="replace")
    out = _by_rid(t.transform(panel), "feature1_rank")
    # per date: 2 rows -> normalized avg ranks 0.5 and 1.0
    assert out == [(0.5,), (0.5,), (1.0,), (1.0,)]


def test_rank_average_ties(spark):
    df = spark.createDataFrame(
        [Row(rid=i, g="x", v=v) for i, v in enumerate([10, 20, 20, 30])]
    )
    t = RankTransformer(["v"], group_col="g", keep_cols=["rid"], output_mode="replace")
    out = [r.v_rank for r in t.transform(df).orderBy("rid").collect()]
    # ranks: 1, (2+3)/2=2.5, 2.5, 4 -> normalized by count 4
    assert out == [0.25, 0.625, 0.625, 1.0]


def test_rank_null_handling(spark):
    df = spark.createDataFrame(
        [Row(rid=0, g="x", v=10.0), Row(rid=1, g="x", v=None), Row(rid=2, g="x", v=20.0)]
    )
    t = RankTransformer(["v"], group_col="g", keep_cols=["rid"], output_mode="replace")
    out = [r.v_rank for r in t.transform(df).orderBy("rid").collect()]
    assert out[1] is None
    assert out[0] == 0.5 and out[2] == 1.0


def test_lag(spark, panel):
    t = LagTransformer(
        [1], ["feature1"], ticker_col="ticker", order_cols=["date", "rid"],
        keep_cols=["rid"], output_mode="replace",
    )
    out = _by_rid(t.transform(panel), "feature1_lag1")
    # first row per ticker null, then previous value
    assert out == [(None,), (10,), (None,), (30,)]


def test_lag_column_order_lag_major_desc(spark, panel):
    t = LagTransformer([1, 2], ["feature1", "feature2"], ticker_col="ticker",
                       order_cols=["date", "rid"], output_mode="replace")
    cols = t.transform(panel).columns
    assert cols == ["feature1_lag2", "feature2_lag2", "feature1_lag1", "feature2_lag1"]


def test_moving_average_partial_null(spark, panel):
    t = MovingAverageTransformer(
        [2], ["feature1"], ticker_col="ticker", order_cols=["date", "rid"],
        keep_cols=["rid"], output_mode="replace",
    )
    out = _by_rid(t.transform(panel), "feature1_ma2")
    # partial window (first row of each ticker) -> null; ma2 of A = 15.0
    assert out == [(None,), (15.0,), (None,), (35.0,)]


def test_log_return(spark, panel):
    t = LogReturnTransformer(
        ["feature1"], ticker_col="ticker", order_cols=["date", "rid"],
        keep_cols=["rid"], output_mode="replace",
    )
    out = _by_rid(t.transform(panel), "feature1_logreturn")
    assert out[0][0] is None and out[2][0] is None
    assert abs(out[1][0] - (math.log(20) - math.log(10))) < 1e-12
    assert abs(out[3][0] - (math.log(40) - math.log(30))) < 1e-12


def test_group_stats_golden(spark, panel):
    t = GroupStatsTransformer(
        {"g1": ["feature1", "feature2"]}, stats=["mean", "range"],
        keep_cols=["rid"], output_mode="replace",
    )
    out = _by_rid(t.transform(panel), "g1_groupstats_mean", "g1_groupstats_range")
    # row0: mean(10,1.0)=5.5 range=9
    assert out[0] == (5.5, 9.0)


def test_group_stats_nan_rules(spark):
    df = spark.createDataFrame([(0, 1.0, None)], "rid int, a double, b double")
    with pytest.warns(UserWarning):
        t = GroupStatsTransformer(
            {"g": ["a", "b"]}, stats=["std", "skew", "kurtosis"],
            keep_cols=["rid"], output_mode="replace",
        )
    r = t.transform(df).collect()[0]
    # Reference static-n semantics (narwhals_utils.py:43-57): denominators
    # use len(cols)=2 even though the row has 1 non-null — std = sqrt(0/1)=0;
    # skew (len<3) and kurt (len<4) are constant NaN. Long stat spellings
    # are accepted but columns use the reference's short names.
    assert r.g_groupstats_std == 0.0
    assert math.isnan(r.g_groupstats_skew)
    assert math.isnan(r.g_groupstats_kurt)


def test_group_stats_invalid_stat():
    with pytest.raises(ValueError):
        GroupStatsTransformer({"g": ["a"]}, stats=["median"])


def _np_skew_unbiased(d):
    import numpy as np

    n = d.shape[1]
    mu = d.mean(axis=1, keepdims=True)
    s = d.std(axis=1, ddof=1, keepdims=True)
    return n / ((n - 1) * (n - 2)) * (((d - mu) / s) ** 3).sum(axis=1)


def _np_kurt_excess_unbiased(d):
    import numpy as np

    n = d.shape[1]
    mu = d.mean(axis=1, keepdims=True)
    s2 = d.var(axis=1, ddof=1, keepdims=True)
    z4 = (((d - mu) ** 2 / s2) ** 2).sum(axis=1)
    return n * (n + 1) / ((n - 1) * (n - 2) * (n - 3)) * z4 - 3 * (n - 1) ** 2 / (
        (n - 2) * (n - 3)
    )


def test_horizontal_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(42)
    data = rng.normal(size=(50, 5))
    rows = [Row(rid=i, **{f"c{j}": float(v) for j, v in enumerate(row)}) for i, row in enumerate(data)]
    df = spark.createDataFrame(rows)
    t = GroupStatsTransformer(
        {"g": [f"c{j}" for j in range(5)]},
        stats=["mean", "std", "skew", "kurtosis"],
        keep_cols=["rid"], output_mode="replace",
    )
    got = t.transform(df).orderBy("rid").toPandas()
    np.testing.assert_allclose(got.g_groupstats_mean, data.mean(axis=1), rtol=1e-9)
    np.testing.assert_allclose(got.g_groupstats_std, data.std(axis=1, ddof=1), rtol=1e-9)
    np.testing.assert_allclose(got.g_groupstats_skew, _np_skew_unbiased(data), rtol=1e-7)
    np.testing.assert_allclose(
        got.g_groupstats_kurt, _np_kurt_excess_unbiased(data), rtol=1e-7
    )


def test_append_mode_keeps_inputs(spark, panel):
    t = RankTransformer(["feature1"], group_col="date")  # default append
    cols = t.transform(panel).columns
    assert cols == ["rid", "date", "ticker", "feature1", "feature2", "feature1_rank"]


def test_feature_name_inference(spark, panel):
    # no feature_names -> all columns except metadata/keep
    t = RankTransformer(group_col="date", keep_cols=["rid"], output_mode="replace")
    out_cols = t.transform(panel.drop("ticker")).columns
    assert set(out_cols) == {"rid", "feature1_rank", "feature2_rank"}


def test_rank_no_group_global(spark):
    df = spark.createDataFrame(
        [Row(rid=i, v=float(v)) for i, v in enumerate([30, 10, 20, 40])]
    )
    with pytest.warns(UserWarning, match="single partition"):
        t = RankTransformer(["v"], group_col=None, keep_cols=["rid"], output_mode="replace")
    out = [r.v_rank for r in t.transform(df).orderBy("rid").collect()]
    assert out == [0.75, 0.25, 0.5, 1.0]


def test_metadata_routing_shim(spark):
    """Reference-style set_transform_request + series kwargs: the sklearn
    routing spellings work with column NAMES instead of Series."""
    from centimators_spark.operators import LagTransformer, RankTransformer

    df = spark.createDataFrame(
        [("d1", "t1", 1, 10.0), ("d1", "t2", 2, 20.0),
         ("d2", "t1", 3, 30.0), ("d2", "t2", 4, 40.0)],
        "d string, t string, rid int, x double",
    )
    r = RankTransformer(["x"], group_col="placeholder", keep_cols=["rid"])
    r.set_transform_request(date_series=True)  # accepted no-op
    out = r.fit_transform(df, date_series="d").orderBy("rid").collect()
    assert [row.x_rank for row in out] == [0.5, 1.0, 0.5, 1.0]

    lt = LagTransformer([1], ["x"], ticker_col="placeholder",
                        order_cols=["d", "rid"], keep_cols=["rid"])
    out2 = lt.transform(df, ticker_series="t").orderBy("rid").collect()
    assert [row.x_lag1 for row in out2] == [None, None, 10.0, 20.0]

    # a real Series (anything non-string) explains the API divergence
    import pytest as _pytest
    with _pytest.raises(TypeError, match="COLUMN NAME"):
        lt.transform(df, ticker_series=df.select("t"))
    with _pytest.raises(TypeError, match="Unexpected metadata request"):
        r.set_transform_request(bogus_series=True)


def test_rolling_agg_family(spark):
    from centimators_spark.operators.time_series import RollingAggTransformer

    df = spark.createDataFrame(
        [(i, "t", float(v)) for i, v in enumerate([1, 2, 3, 4])],
        "rid long, tkr string, x double",
    )
    t = RollingAggTransformer(
        [2], ["x"], aggs=["sum", "min", "max", "std"],
        ticker_col="tkr", order_cols=["rid"], keep_cols=["rid"],
    )
    out = t.transform(df).orderBy("rid").collect()
    assert [r.x_rolling_sum2 for r in out] == [None, 3.0, 5.0, 7.0]
    assert [r.x_rolling_min2 for r in out] == [None, 1.0, 2.0, 3.0]
    assert [r.x_rolling_max2 for r in out] == [None, 2.0, 3.0, 4.0]
    import math
    assert out[0].x_rolling_std2 is None
    assert abs(out[1].x_rolling_std2 - math.sqrt(0.5)) < 1e-12
    assert t.get_feature_names_out() == [
        "x_rolling_sum2", "x_rolling_min2", "x_rolling_max2", "x_rolling_std2",
    ]
    with pytest.raises(ValueError, match="Unknown rolling"):
        RollingAggTransformer([2], ["x"], aggs=["mode"])


def test_clip_by_quantile_global_and_era(spark):
    from centimators_spark.operators.stats import clip_by_quantile

    df = spark.createDataFrame(
        [(i, "a" if i < 50 else "b", float(i)) for i in range(100)],
        "rid long, era string, x double",
    )
    # global exact clip at [0.1, 0.9] -> bounds 9.9 / 89.1 (interpolated)
    out = clip_by_quantile(df, ["x"], lo=0.1, hi=0.9, exact=True)
    vals = {r.rid: r.x_clipped for r in out.collect()}
    assert min(vals.values()) == pytest.approx(9.9)
    assert max(vals.values()) == pytest.approx(89.1)
    assert vals[50] == 50.0  # interior untouched
    # per-era: era 'a' spans 0..49, its p90 ≈ 44.1 clips rid 49
    out2 = clip_by_quantile(df, ["x"], era_col="era", lo=0.1, hi=0.9, exact=True)
    v2 = {r.rid: r.x_clipped for r in out2.collect()}
    assert v2[49] == pytest.approx(44.1)
    assert v2[99] == pytest.approx(94.1)


def test_diff_and_expanding_transformers(spark):
    from centimators_spark.operators.time_series import (
        DiffTransformer,
        ExpandingAggTransformer,
    )

    df = spark.createDataFrame(
        [(i, "t", float(v)) for i, v in enumerate([10, 20, 15, 30])],
        "rid long, tkr string, x double",
    )
    d = DiffTransformer([1], ["x"], pct_change=True, ticker_col="tkr",
                        order_cols=["rid"], keep_cols=["rid"])
    out = d.transform(df).orderBy("rid").collect()
    assert [r.x_diff1 for r in out] == [None, 10.0, -5.0, 15.0]
    assert out[1].x_pct1 == pytest.approx(1.0)
    assert out[2].x_pct1 == pytest.approx(-0.25)
    assert d.get_feature_names_out() == ["x_diff1", "x_pct1"]

    e = ExpandingAggTransformer(["x"], aggs=["sum", "max"], ticker_col="tkr",
                                order_cols=["rid"], keep_cols=["rid"])
    out2 = e.transform(df).orderBy("rid").collect()
    assert [r.x_expanding_sum for r in out2] == [10.0, 30.0, 45.0, 75.0]
    assert [r.x_expanding_max for r in out2] == [10.0, 20.0, 20.0, 30.0]
    with pytest.raises(ValueError, match="Unknown expanding"):
        ExpandingAggTransformer(["x"], aggs=["mode"])


def test_session_ids_gap_rule(spark):
    from datetime import datetime

    from centimators_spark.streaming.events import session_ids

    base = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 7, base),
        (2, 7, datetime(2024, 1, 1, 12, 10)),   # within gap
        (3, 7, datetime(2024, 1, 1, 13, 0)),    # 50min later -> new session
        (4, 8, datetime(2024, 1, 1, 12, 5)),    # other user
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r.event_id: r.session_idx for r in session_ids(df).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_rolling_corr_beta_matches_pandas(spark):
    """Trailing corr/beta against pandas rolling corr/cov on a 2-ticker
    panel; partial windows and zero-variance windows null."""
    import numpy as np
    import pandas as pd

    from centimators_spark.operators.time_series import RollingCorrTransformer

    rng = np.random.default_rng(7)
    rows = []
    for tk in ("A", "B"):
        y = rng.normal(size=12)
        x = 2.0 * y + rng.normal(scale=0.5, size=12)
        rows += [(tk, i, float(x[i]), float(y[i])) for i in range(12)]
    df = spark.createDataFrame(rows, ["ticker", "t", "x", "bench"])
    t = RollingCorrTransformer(
        bench_col="bench",
        windows=[5],
        feature_names=["x"],
        ticker_col="ticker",
        order_cols=["t"],
        output_mode="append",
    )
    out = t.transform(df).toPandas().sort_values(["ticker", "t"])
    assert t.get_feature_names_out() == ["x_corr5_bench", "x_beta5_bench"]
    for tk, g in out.groupby("ticker"):
        pdf = g.sort_values("t").reset_index()
        exp_corr = pdf.x.rolling(5).corr(pdf.bench)
        exp_beta = pdf.x.rolling(5).cov(pdf.bench) / pdf.bench.rolling(5).var()
        got_c, got_b = pdf.x_corr5_bench, pdf.x_beta5_bench
        assert got_c[:4].isna().all() and got_b[:4].isna().all()
        assert np.allclose(got_c[4:], exp_corr[4:], atol=1e-6)
        assert np.allclose(got_b[4:], exp_beta[4:], atol=1e-6)
    # zero-variance benchmark -> null corr and beta
    const = spark.createDataFrame(
        [("A", i, float(i), 1.0) for i in range(6)], ["ticker", "t", "x", "bench"]
    )
    out2 = t.transform(const).toPandas()
    assert out2.x_corr5_bench.isna().all() and out2.x_beta5_bench.isna().all()


def test_ewma_matches_pandas(spark):
    """Truncated EWMA equals pandas ewm(adjust=True) restricted to the
    same window of history; leading rows (incomplete window) null."""
    import numpy as np
    import pandas as pd

    from centimators_spark.operators.time_series import EWMATransformer, ewma_weights

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame(
        [("A", i, v) for i, v in enumerate(vals)], ["ticker", "t", "x"]
    )
    t = EWMATransformer(
        spans=[3],
        window=4,
        feature_names=["x"],
        ticker_col="ticker",
        order_cols=["t"],
        output_mode="append",
    )
    out = t.transform(df).toPandas().sort_values("t")
    wts = ewma_weights(3, 4)
    exp = [
        sum(w * vals[i - j] for j, w in enumerate(wts)) / sum(wts)
        if i >= 3
        else None
        for i in range(len(vals))
    ]
    got = out.x_ewma3.tolist()
    assert all(g is None or g != g for g, e in zip(got, exp) if e is None)
    assert np.allclose(
        [g for g, e in zip(got, exp) if e is not None],
        [e for e in exp if e is not None],
        atol=1e-6,
    )


def test_resample_panel_gaps_and_ffill(spark):
    """Spine rows appear only inside each ticker's own [min,max] span;
    forward fill carries the last observation; is_observed marks gaps."""
    import datetime as dt

    from pyspark.sql import functions as F

    from centimators_spark.operators.resample import resample_panel

    rows = [
        ("a", dt.date(2024, 1, 1), 1.0),
        ("a", dt.date(2024, 1, 4), 4.0),
        ("b", dt.date(2024, 2, 1), 9.0),
    ]
    df = spark.createDataFrame(rows, "t string, d date, x double")
    out = resample_panel(
        df, ticker_col="t", date_col="d", value_cols=["x"]
    ).orderBy("t", "d").collect()
    a = [(r.d.day, r.x, r.is_observed) for r in out if r.t == "a"]
    assert a == [(1, 1.0, 1), (2, 1.0, 0), (3, 1.0, 0), (4, 4.0, 1)]
    # ticker b: single-day span, no spillover from a's calendar
    b = [(r.d, r.x, r.is_observed) for r in out if r.t == "b"]
    assert b == [(dt.date(2024, 2, 1), 9.0, 1)]
    # fill=None leaves gap rows null
    raw = resample_panel(
        df, ticker_col="t", date_col="d", value_cols=["x"], fill=None
    )
    nulls = raw.where(F.col("x").isNull()).count()
    assert nulls == 2


def test_rolling_median_matches_pandas(spark):
    """Exact rolling median agrees with the pandas reference (full
    windows only; partial windows null)."""
    import pandas as pd

    from centimators_spark.operators import RollingAggTransformer

    vals = [5.0, 1.0, 4.0, 2.0, 8.0, 3.0, 9.0, 7.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "t long, o long, x double"
    )
    out = (
        RollingAggTransformer(
            [3], ["x"], aggs=["median"], ticker_col="t", order_cols=["o"],
            output_mode="append",
        )
        .transform(df)
        .orderBy("o")
        .collect()
    )
    exp = pd.Series(vals).rolling(3).median()
    for i, r in enumerate(out):
        if i < 2:
            assert r.x_rolling_median3 is None
        else:
            assert r.x_rolling_median3 == exp[i]


def test_drawdown_transformer(spark):
    from centimators_spark.operators import DrawdownTransformer

    vals = [10.0, 12.0, 9.0, 12.0, 6.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)], "t long, o long, x double"
    )
    out = (
        DrawdownTransformer(["x"], ticker_col="t", order_cols=["o"],
                            output_mode="append")
        .transform(df)
        .orderBy("o")
        .collect()
    )
    assert [r.x_cummax for r in out] == [10.0, 12.0, 12.0, 12.0, 12.0]
    assert [round(r.x_drawdown, 6) for r in out] == [
        0.0, 0.0, 0.25, 0.0, 0.5,
    ]


def test_melt_panel_matches_duckdb_unpivot(spark):
    """Wide->long melt == DuckDB UNPIVOT; plan is a single Expand
    (map-side, zero shuffle)."""
    import duckdb
    import pandas as pd

    from centimators_spark.base import melt_panel

    pdf = pd.DataFrame(
        {
            "rid": [1, 2],
            "f_a": [1.0, 2.0],
            "f_b": [3.0, None],
        }
    )
    df = spark.createDataFrame(pdf)
    out = melt_panel(df, "rid", ["f_a", "f_b"])
    got = out.toPandas().sort_values(["rid", "feature"]).reset_index(drop=True)
    con = duckdb.connect()
    con.register("t", pdf)
    exp = (
        con.execute(
            "SELECT rid, feature, value FROM t "
            "UNPIVOT INCLUDE NULLS (value FOR feature IN (f_a, f_b))"
        )
        .fetchdf()
        .sort_values(["rid", "feature"])
        .reset_index(drop=True)
    )
    assert got[["rid", "feature"]].equals(exp[["rid", "feature"]])
    import numpy as np

    np.testing.assert_allclose(
        got["value"].astype(float), exp["value"].astype(float),
        rtol=0, atol=0, equal_nan=True,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan and "Exchange" not in plan


# --- RankTransformer's Arrow kernel against the window formula -------------
#
# The oracle is the window plan RankTransformer ran before its Arrow kernel:
# ``avg_rank(f) / count(f)`` over a window on the group columns. Spark's
# window orders NaN above every number (NaN ties NaN), ties -0.0 with 0.0,
# and normalizes NaN/-0.0 group keys; the kernel must agree bit for bit.

NAN = float("nan")


def _window_rank(df, feats, group_cols, keep):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from centimators_spark.operators.ranking import avg_rank

    w = Window.partitionBy(*group_cols)
    return df.select(
        *keep,
        *[
            (avg_rank(f, group_cols) / F.count(F.col(f)).over(w)).alias(f"{f}_rank")
            for f in feats
        ],
    )


def _bits(v):
    import struct

    return struct.pack("<d", v) if isinstance(v, float) else v


def _assert_same_ranks(got, want):
    assert got.columns == want.columns
    g = [tuple(map(_bits, r)) for r in got.orderBy("rid").collect()]
    w = [tuple(map(_bits, r)) for r in want.orderBy("rid").collect()]
    assert g == w


def _rank_both(df, feats, group_cols, keep=("rid",)):
    t = RankTransformer(
        feats, group_col=group_cols, keep_cols=list(keep), output_mode="replace"
    )
    _assert_same_ranks(t.transform(df), _window_rank(df, feats, group_cols, list(keep)))


def test_rank_kernel_ties_nan_null_signed_zero(spark):
    vals = [1.0, -0.0, 0.0, NAN, NAN, None, float("inf"), 0.0, 2.0, None, -1.0]
    rows = [(i, "ab"[i % 2], v) for i, v in enumerate(vals * 2)]
    df = spark.createDataFrame(rows, "rid long, g string, v double")
    _rank_both(df, ["v"], "g")


def test_rank_kernel_decimal_integer_string_features(spark):
    from decimal import Decimal

    rows = [
        (0, "x", Decimal("1.50"), 3, "b"),
        (1, "x", Decimal("1.5"), None, "a"),
        (2, "x", None, 3, "é"),
        (3, "x", Decimal("-2.25"), -7, "Z"),
        (4, "y", Decimal("0.00"), 1, "b"),
        (5, "y", Decimal("0"), 1, None),
        (6, "y", Decimal("9.99"), 2, "b"),
    ]
    df = spark.createDataFrame(
        rows, "rid long, g string, d decimal(6,2), i int, s string"
    )
    _rank_both(df, ["d", "i", "s"], "g")


def test_rank_kernel_date_null_nan_group_keys(spark):
    import datetime

    day = datetime.date(2024, 1, 1)
    keys = [day, day, None, None, datetime.date(2024, 1, 2), day]
    dates = spark.createDataFrame(
        [(i, k, float(10 - i)) for i, k in enumerate(keys)],
        "rid long, d date, v double",
    )
    _rank_both(dates, ["v"], "d")
    fkeys = [NAN, NAN, -0.0, 0.0, None, None, 1.0, NAN]
    floats = spark.createDataFrame(
        [(i, k, float(i % 3)) for i, k in enumerate(fkeys)],
        "rid long, k double, v double",
    )
    _rank_both(floats, ["v"], "k")


def test_rank_kernel_two_group_columns(spark):
    import random

    rnd = random.Random(7)
    choices = [0.0, -0.0, 1.0, 2.0, NAN, None]
    rows = [
        (i, rnd.choice("ab"), rnd.choice([1, 2, None]), rnd.choice(choices), rnd.random())
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "rid long, g string, h int, u double, v double")
    _rank_both(df, ["u", "v"], ["g", "h"])


def test_rank_kernel_global_and_append(spark):
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([3.0, NAN, None, 1.0, 3.0, -0.0, 0.0])],
        "rid long, v double",
    )
    with pytest.warns(UserWarning, match="single partition"):
        t = RankTransformer(["v"], group_col=None, keep_cols=["rid"], output_mode="replace")
    _assert_same_ranks(t.transform(df), _window_rank(df, ["v"], [], ["rid"]))
    appended = RankTransformer(["v"], group_col="g").transform(df.withColumn("g", df.rid % 2))
    _assert_same_ranks(
        appended,
        _window_rank(df.withColumn("g", df.rid % 2), ["v"], ["g"], ["rid", "v", "g"]),
    )


def test_rank_kernel_empty_partitions(spark):
    """Partitions with no rows reach the kernel when AQE does not
    coalesce them; an empty frame gives no rows and the full schema."""
    from centimators_spark.functions.rank import rank_batches

    df = spark.createDataFrame(
        [(i, "g1" if i % 2 else "g2", float(i % 5)) for i in range(20)],
        "rid long, g string, v double",
    )
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        _rank_both(df, ["v"], "g")
    finally:
        spark.conf.set(key, before)
    empty = RankTransformer(["v"], group_col="g").transform(df.where("rid < 0"))
    assert empty.columns == ["rid", "g", "v", "v_rank"]
    assert empty.collect() == []
    assert list(rank_batches(iter([]), ["g"], ["v"], ["rid"])) == []
    import pyarrow as pa

    no_rows = pa.RecordBatch.from_pydict(
        {"rid": pa.array([], pa.int64()), "g": pa.array([], pa.string()),
         "v": pa.array([], pa.float64())}
    )
    assert list(rank_batches(iter([no_rows]), ["g"], ["v"], ["rid"])) == []


# --- GroupStats against the Column formulas it was built from -------------
#
# The oracle below is GroupStatsTransformer's earlier Column-expression
# plan, which built every moment for every group. The SQL-text stages must
# give the same bits for each stat subset.


def _column_group_stats(df, mapping, stats, passthrough):
    from functools import reduce

    import pyspark.sql.functions as F

    NAN = F.lit(float("nan"))
    inter = {}
    stage1, stage2, stage3 = [], [], []
    for g, cols in mapping.items():
        ts = [F.col(c).cast("double") for c in cols]
        guard = lambda t, e: F.when(t.isNotNull(), e).otherwise(F.lit(0.0))  # noqa: E731
        n = reduce(
            lambda a, b: a + b,
            [F.when(t.isNotNull(), F.lit(1.0)).otherwise(F.lit(0.0)) for t in ts],
        )
        s1 = reduce(lambda a, b: a + b, [guard(t, t) for t in ts])
        names = {m: f"__{m}_{g}" for m in ("n", "s1", "mu", "m2", "m3", "m4")}
        inter[g] = names
        stage1 += [n.alias(names["n"]), s1.alias(names["s1"])]
        nc, s1c = F.col(names["n"]), F.col(names["s1"])
        stage2.append(F.when(nc > 0, s1c / nc).alias(names["mu"]))
        muc = F.col(names["mu"])
        d = [t - muc for t in ts]
        stage3 += [
            reduce(lambda a, b: a + b, [guard(t, x * x) for t, x in zip(ts, d)]).alias(names["m2"]),
            reduce(lambda a, b: a + b, [guard(t, x * x * x) for t, x in zip(ts, d)]).alias(names["m3"]),
            reduce(lambda a, b: a + b, [guard(t, (x * x) * (x * x)) for t, x in zip(ts, d)]).alias(names["m4"]),
        ]
    out = df.select("*", *stage1).select("*", *stage2).select("*", *stage3)
    final = [F.col(c) for c in passthrough]
    for g, cols in mapping.items():
        names = inter[g]
        n, mu = F.col(names["n"]), F.col(names["mu"])
        m2, m3, m4 = F.col(names["m2"]), F.col(names["m3"]), F.col(names["m4"])
        ns = float(len(cols))
        var_s = m2 / F.lit(ns - 1.0) if ns > 1 else NAN
        std = F.sqrt(var_s)
        std_e = NAN if ns < 2 else std
        skew_e = (
            NAN
            if ns < 3
            else F.when(m2 == 0, NAN).otherwise(
                F.lit(ns / ((ns - 1) * (ns - 2))) * (m3 / (std * std * std))
            )
        )
        kurt_e = (
            NAN
            if ns < 4
            else F.when(m2 == 0, NAN).otherwise(
                F.lit(ns * (ns + 1) / ((ns - 1) * (ns - 2) * (ns - 3)))
                * (m4 / (var_s * var_s))
                - F.lit(3 * ((ns - 1) * (ns - 1)) / ((ns - 2) * (ns - 3)))
            )
        )
        ts = [F.col(c).cast("double") for c in cols]
        range_e = F.when(
            n > 0,
            (F.greatest(*ts) if len(ts) > 1 else ts[0])
            - (F.least(*ts) if len(ts) > 1 else ts[0]),
        )
        cv_e = (
            F.when(mu.isNull() | F.isnan(std_e), NAN)
            .when((mu == 0) & (std == 0), NAN)
            .when(mu == 0, F.lit(float("inf")))
            .otherwise(std_e / mu)
        )
        exprs = {"mean": mu, "std": std_e, "skew": skew_e, "kurt": kurt_e,
                 "range": range_e, "cv": cv_e}
        final += [exprs[s].alias(f"{g}_groupstats_{s}") for s in stats]
    return out.select(*final)


GROUPS = {
    "one": ["a"],
    "two": ["a", "b"],
    "three": ["a", "b", "c"],
    "four": ["a", "b", "c", "d"],
    "five": ["b", "d", "i", "dec", "e"],
}


@pytest.fixture(scope="module")
def stats_frame(spark):
    import random

    rnd = random.Random(11)
    pool = [None, 0.0, -0.0, 1.0, -2.5, 3.25, 1e-9, 7.0, NAN]
    rows = [(0, 0.0, 0.0, 0.0, 0.0, 0, "0.00", 0.0), (1, None, None, None, None, None, None, None),
            (2, 2.0, 2.0, 2.0, 2.0, 2, "2.00", 2.0), (3, 1.0, None, None, None, None, None, None)]
    rows += [
        (i, *(rnd.choice(pool) for _ in range(4)), rnd.choice([None, -3, 0, 5]),
         rnd.choice([None, "1.25", "-0.50", "3.00"]), rnd.gauss(0, 1))
        for i in range(4, 120)
    ]
    from decimal import Decimal

    rows = [(*r[:6], None if r[6] is None else Decimal(r[6]), r[7]) for r in rows]
    return spark.createDataFrame(
        rows,
        "rid long, a double, b double, c double, d double, i int, dec decimal(6,2), e double",
    )


@pytest.mark.parametrize(
    "stats", [[s] for s in ("mean", "std", "skew", "kurt", "range", "cv")]
    + [["mean", "std", "skew", "kurt", "range", "cv"]],
    ids=lambda s: "-".join(s),
)
def test_group_stats_sql_stages_match_column_formulas(spark, stats_frame, stats):
    from centimators_spark.operators.stats import _staged_group_stats

    passthrough = list(stats_frame.columns)
    got = _staged_group_stats(stats_frame, GROUPS, stats, passthrough)
    want = _column_group_stats(stats_frame, GROUPS, stats, passthrough)
    assert got.columns == want.columns
    assert [tuple(map(_bits, r)) for r in got.orderBy("rid").collect()] == [
        tuple(map(_bits, r)) for r in want.orderBy("rid").collect()
    ]


def test_group_stats_builds_only_needed_moments(spark, stats_frame):
    out = GroupStatsTransformer(GROUPS, ["mean", "std", "range"]).transform(stats_frame)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "__m2_" in analyzed
    assert "__m3_" not in analyzed and "__m4_" not in analyzed


def test_group_stats_quotes_names(spark, stats_frame):
    """Column and group names with dots and backticks are quoted in the
    SQL text: renaming them leaves every value unchanged."""
    plain = GroupStatsTransformer({"g": ["a", "b", "c", "d"]}, keep_cols=["rid"],
                                  output_mode="replace")
    odd = GroupStatsTransformer({"g.`x": ["a.1", "b`", "c", "d"]}, keep_cols=["rid"],
                                output_mode="replace")
    renamed = stats_frame.withColumnsRenamed({"a": "a.1", "b": "b`"})
    want = plain.transform(stats_frame)
    got = odd.transform(renamed)
    assert got.columns == [c.replace("g_", "g.`x_") for c in want.columns]
    assert [tuple(map(_bits, r)) for r in got.orderBy("rid").collect()] == [
        tuple(map(_bits, r)) for r in want.orderBy("rid").collect()
    ]
