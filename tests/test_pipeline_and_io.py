"""pyspark.ml.Pipeline composition + sources/sinks + property tests."""

import math
import os
import tempfile

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.ml import Pipeline
from pyspark.sql import Row
from pyspark.sql import functions as F

from centimators_spark.functions import (
    kurtosis_horizontal,
    max_horizontal,
    mean_horizontal,
    min_horizontal,
    skew_horizontal,
    std_horizontal,
)
from centimators_spark.operators import (
    LagTransformer,
    LogReturnTransformer,
    MovingAverageTransformer,
    RankTransformer,
)
from centimators_spark.sources import read_any, write_partitioned


def test_ml_pipeline_composition(spark):
    """Reference README 4-stage pipeline (README.md:144-172) as a
    pyspark.ml.Pipeline — metadata routing becomes constructor params,
    group/order cols ride along in append mode."""
    rows = [
        Row(rid=i, date=f"2024-01-{d:02d}", ticker=t, close=float(10 + i))
        for i, (d, t) in enumerate((d, t) for t in ("A", "B") for d in range(1, 7))
    ]
    df = spark.createDataFrame(rows)
    common = dict(ticker_col="ticker", order_cols=["date", "rid"])
    pipe = Pipeline(
        stages=[
            LogReturnTransformer(["close"], **common),
            RankTransformer(["close_logreturn"], group_col="date"),
            LagTransformer([1, 2], ["close_logreturn_rank"], **common),
            MovingAverageTransformer([2], ["close_logreturn_rank"], **common),
        ]
    )
    out = pipe.fit(df).transform(df)
    expected_cols = {
        "close_logreturn",
        "close_logreturn_rank",
        "close_logreturn_rank_lag2",
        "close_logreturn_rank_lag1",
        "close_logreturn_rank_ma2",
    }
    assert expected_cols <= set(out.columns)
    row3 = out.where(F.col("rid") == 3).collect()[0]
    assert row3.close_logreturn == pytest.approx(math.log(13) - math.log(12))


def test_write_partitioned_prunes(spark):
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(100)],
        "id long, part string, v double",
    )
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        write_partitioned(df, path, ["part"])
        assert {"part=a", "part=b"} <= set(os.listdir(path))
        back = read_any(spark, path)
        assert back.count() == 100
        # partition filter prunes: only one partition dir in the scan
        plan = back.where(F.col("part") == "a")._jdf.queryExecution().executedPlan().toString()
        assert "part=b" not in plan


def test_read_any_csv_json(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    with tempfile.TemporaryDirectory() as d:
        for fmt in ("csv", "json", "orc"):
            p = os.path.join(d, fmt)
            df.write.format(fmt).option("header", "true").save(p)
            back = read_any(spark, p, fmt=fmt)
            assert back.count() == 2
    with pytest.raises(ValueError):
        read_any(spark, "/tmp/x", fmt="avro")


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.floats(-1e6, 1e6)),
            st.one_of(st.none(), st.floats(-1e6, 1e6)),
            st.one_of(st.none(), st.floats(-1e6, 1e6)),
            st.one_of(st.none(), st.floats(-1e6, 1e6)),
            st.one_of(st.none(), st.floats(-1e6, 1e6)),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_horizontal_property_matches_numpy(spark, rows):
    """Property test: horizontal stats == numpy on any null pattern."""
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "rid int, a double, b double, c double, d double, e double",
    )
    cols = ["a", "b", "c", "d", "e"]
    got = (
        df.select(
            "rid",
            mean_horizontal(cols).alias("mean"),
            std_horizontal(cols).alias("std"),
            min_horizontal(cols).alias("mn"),
            max_horizontal(cols).alias("mx"),
        )
        .orderBy("rid")
        .collect()
    )
    for r, vals in zip(got, rows):
        arr = np.array([v for v in vals if v is not None], dtype=float)
        if arr.size == 0:
            # all-null row: mean null; std = sqrt(0/(n_static-1)) = 0
            # (reference pandas backend: sum of all-NaN terms is 0)
            assert r.mean is None and r.mn is None
            assert r.std == 0.0
            continue
        assert r.mean == pytest.approx(arr.mean(), rel=1e-9, abs=1e-9)
        assert r.mn == arr.min() and r.mx == arr.max()
        # reference static-n: denominator is len(cols)-1 = 4 regardless of
        # the row's null count; the centered-square sum skips nulls
        exp_std = math.sqrt(((arr - arr.mean()) ** 2).sum() / 4.0)
        assert r.std == pytest.approx(exp_std, rel=1e-7, abs=1e-9)


def test_skew_kurt_nan_guards(spark):
    df = spark.createDataFrame([(1.0, 1.0, 1.0, 1.0)], "a double, b double, c double, d double")
    r = df.select(
        skew_horizontal(["a", "b", "c", "d"]).alias("sk"),
        kurtosis_horizontal(["a", "b", "c", "d"]).alias("ku"),
    ).collect()[0]
    # constant row: s == 0 -> NaN (not a divide-by-zero error under ANSI)
    assert math.isnan(r.sk) and math.isnan(r.ku)


def test_bucketed_table_join_avoids_shuffle(spark):
    """Bucketed co-located layout: a join on the bucket key runs with
    zero Exchange operators — the 100 TB panel-workload pattern."""
    import uuid

    from centimators_spark.sources import write_bucketed_table

    df = spark.createDataFrame(
        [(i % 50, float(i)) for i in range(1000)], "k long, v double"
    )
    name = f"bkt_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(df, f"{name}_a", ["k"], 8, sort_cols=["k"])
        write_bucketed_table(df, f"{name}_b", ["k"], 8, sort_cols=["k"])
        a, b = spark.table(f"{name}_a"), spark.table(f"{name}_b")
        plan = (
            a.join(b, "k")._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, plan[:500]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {name}_a")
        spark.sql(f"DROP TABLE IF EXISTS {name}_b")


def test_asof_join_semantics(spark):
    from centimators_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 10, 1.0), (2, "u", 20, 2.0), (3, "u", 5, 3.0), (4, "w", 50, 4.0)],
        "event_id long, user string, ts long, value double",
    )
    right = spark.createDataFrame(
        [("u", 10, 100.0), ("u", 15, 150.0), ("v", 1, 999.0)],
        "user string, ts long, pv double",
    )
    out = {
        r.event_id: (r.ts_asof, r.pv_asof)
        for r in asof_join(
            left, right, on="ts", by="user", value_cols=["pv"]
        ).collect()
    }
    assert out[1] == (10, 100.0)   # tie at equal ts matches
    assert out[2] == (15, 150.0)   # latest at-or-before
    assert out[3] == (None, None)  # no prior right row
    assert out[4] == (None, None)  # key isolation (v's rows invisible to w)


def test_read_text_corpus_lines_and_numbers(spark):
    from centimators_spark.sources import read_text_corpus

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "a.txt"), "w") as f:
            f.write("alpha\nbeta\n\ngamma")
        with open(os.path.join(d, "b.txt"), "w") as f:
            f.write("solo")
        plain = read_text_corpus(spark, d).collect()
        assert sorted(r.text for r in plain) == ["", "alpha", "beta", "gamma", "solo"]
        assert all(r.file.endswith((".txt",)) for r in plain)

        numbered = read_text_corpus(spark, d, line_numbers=True).collect()
        by_file = {}
        for r in numbered:
            by_file.setdefault(os.path.basename(r.file), []).append(
                (r.line_no, r.text)
            )
        assert sorted(by_file["a.txt"]) == [
            (0, "alpha"), (1, "beta"), (2, ""), (3, "gamma")
        ]
        assert by_file["b.txt"] == [(0, "solo")]


def test_read_text_corpus_trailing_newline_and_crlf(spark):
    """POSIX trailing newline must not create a phantom line, CRLF must
    not leak \\r — both modes agree on row counts and text."""
    from centimators_spark.sources import read_text_corpus

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "posix.txt"), "w") as f:
            f.write("alpha\nbeta\n")          # 2 lines, trailing \n
        with open(os.path.join(d, "crlf.txt"), "wb") as f:
            f.write(b"one\r\ntwo\r\n")        # CRLF, trailing
        with open(os.path.join(d, "emptyend.txt"), "w") as f:
            f.write("a\n\n")                  # genuinely empty 2nd line
        plain = read_text_corpus(spark, d).collect()
        numbered = read_text_corpus(spark, d, line_numbers=True).collect()
        assert len(plain) == len(numbered) == 6
        by_file = {}
        for r in numbered:
            by_file.setdefault(os.path.basename(r.file), []).append(
                (r.line_no, r.text)
            )
        assert sorted(by_file["posix.txt"]) == [(0, "alpha"), (1, "beta")]
        assert sorted(by_file["crlf.txt"]) == [(0, "one"), (1, "two")]
        assert sorted(by_file["emptyend.txt"]) == [(0, "a"), (1, "")]


def test_read_text_corpus_empty_file_and_lone_cr(spark):
    """Hadoop line-reader parity on edge files: a zero-byte file emits
    ZERO rows in both modes, and a lone \\r is a line terminator (the
    numbered mode used to split only \\r?\\n)."""
    from centimators_spark.sources import read_text_corpus

    with tempfile.TemporaryDirectory() as d:
        open(os.path.join(d, "empty.txt"), "w").close()  # 0 bytes
        with open(os.path.join(d, "maccr.txt"), "wb") as f:
            f.write(b"one\rtwo\r")            # classic-Mac lone \r
        plain = read_text_corpus(spark, d).collect()
        numbered = read_text_corpus(spark, d, line_numbers=True).collect()
        assert len(plain) == len(numbered) == 2
        assert all(os.path.basename(r.file) == "maccr.txt" for r in numbered)
        assert sorted((r.line_no, r.text) for r in numbered) == [
            (0, "one"), (1, "two")
        ]


def test_cluster_conf_profile():
    """The documented 100 TB profile: partitions sized for ~256 MB
    shuffle tasks, floored at total cores; AQE/skew/Arrow/UTC pinned."""
    from centimators_spark.session import cluster_conf

    c = cluster_conf()
    assert int(c["spark.sql.shuffle.partitions"]) == 409600  # 100TB/256MB
    small = cluster_conf(input_tb=0.001, executors=4, cores_per_executor=4)
    assert int(small["spark.sql.shuffle.partitions"]) == 16  # cores floor
    for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
    ):
        assert c[k] == "true"
    assert c["spark.sql.session.timeZone"] == "UTC"


def test_host_defaults_fit_host_and_env_overrides(monkeypatch):
    """Unset environment → cores from the CPU affinity mask and half the
    physical RAM as heap, clamped to [1g, 32g]; the environment wins."""
    from centimators_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    pages = {"SC_PAGE_SIZE": 4096}

    def sysconf(name):
        return pages[name]

    monkeypatch.setattr(session.os, "sysconf", sysconf)
    for ram_gb, heap in ((15, "7g"), (128, "32g"), (1, "1g")):
        pages["SC_PHYS_PAGES"] = ram_gb * 2**30 // 4096
        assert session.host_defaults() == ("3", heap)

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert session.host_defaults() == ("5", "2g")


def _plan_nodes(plan: str) -> dict[str, int]:
    """How many times each node name heads a line of a plan tree."""
    import re
    from collections import Counter

    node = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)(.*)$")
    counts = Counter()
    for line in plan.splitlines():
        m = node.match(line)
        if m:
            name = m.group(1)
            if name == "Exchange" and m.group(2).startswith(" hashpartitioning"):
                name = "Exchange hashpartitioning"
            counts[name] += 1
    return counts


def test_feature_chain_plan_shape(spark, tmp_path):
    """The benchmark's feature pipeline (LogReturn → Rank by era → Lag →
    MovingAverage → GroupStats) plans three hash exchanges (ticker, era,
    ticker), one sort and one window per ticker window spec, and ranks
    every feature of an era in ONE Arrow call: no window or sort per
    ranked column."""
    from centimators_spark.operators import GroupStatsTransformer

    rng = np.random.default_rng(0)
    eras, tickers, n_feats = 8, 25, 10
    feats = [f"feature{j}" for j in range(n_feats)]
    rows = [
        (e, f"T{t:03d}", *(rng.integers(0, 5, n_feats) / 4.0).tolist(),
         float(100 + e + t))
        for e in range(1, eras + 1)
        for t in range(tickers)
    ]
    path = str(tmp_path / "panel.parquet")
    spark.createDataFrame(
        rows, ["era", "ticker", *feats, "close"]
    ).write.parquet(path)

    df = spark.read.parquet(path)
    order = {"ticker_col": "ticker", "order_cols": ["era"]}
    ranked = [f"{f}_rank" for f in feats]
    df = LogReturnTransformer(["close"], **order).transform(df)
    df = RankTransformer(feats + ["close_logreturn"], group_col="era").transform(df)
    df = LagTransformer([1, 2], ranked, **order).transform(df)
    df = MovingAverageTransformer([3, 5], ["close_logreturn"], **order).transform(df)
    df = GroupStatsTransformer(
        {"g0": feats[:5], "g1": feats[5:]}, ["mean", "std", "range"]
    ).transform(df)

    nodes = _plan_nodes(df._jdf.queryExecution().executedPlan().toString())
    shape = {k: nodes[k] for k in ("Exchange hashpartitioning", "Sort", "Window", "MapInArrow")}
    assert shape == {"Exchange hashpartitioning": 3, "Sort": 2, "Window": 2, "MapInArrow": 1}
    out = str(tmp_path / "features.parquet")
    df.write.parquet(out)
    assert spark.read.parquet(out).count() == eras * tickers
