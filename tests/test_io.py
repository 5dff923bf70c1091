"""Source/sink coverage: CSV/JSON round-trips, partitioned parquet with
partition pruning, bucketed tables with shuffle-free co-located joins."""

import re

import pytest
from pyspark.sql import functions as F

from centimators_spark.io import (
    read_csv,
    read_json,
    write_bucketed,
    write_partitioned,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_csv_roundtrip_with_schema(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id long, tag string, v double"
    )
    p = str(tmp_path / "csv")
    df.write.mode("overwrite").option("header", "true").csv(p)
    back = read_csv(spark, p, "id long, tag string, v double")
    assert back.schema == df.schema
    assert {tuple(r) for r in back.collect()} == {(1, "a", 1.5), (2, "b", 2.5)}
    # inference fallback parses types too
    inferred = read_csv(spark, p)
    assert dict(inferred.dtypes)["v"] == "double"


def test_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, [1, 2]), (2, [3])], "id long, xs array<long>")
    p = str(tmp_path / "json")
    df.write.mode("overwrite").json(p)
    back = read_json(spark, p, "id long, xs array<long>")
    assert {(r.id, tuple(r.xs)) for r in back.collect()} == {(1, (1, 2)), (2, (3,))}
    # missing field -> null column, unknown field dropped (tolerant reader)
    wider = read_json(spark, p, "id long, xs array<long>, extra string")
    assert wider.where(F.col("extra").isNull()).count() == 2


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, "red" if i % 2 else "blue", float(i)) for i in range(20)],
        "id long, color string, v double",
    )
    p = str(tmp_path / "part")
    write_partitioned(df, p, "color")
    back = spark.read.parquet(p)
    assert back.count() == 20
    plan = _plan(back.where(F.col("color") == "red"))
    m = re.search(r"PartitionFilters: \[[^\]]*color[^\]]*\]", plan)
    assert m, f"partition filter not pushed: {plan}"
    assert back.where(F.col("color") == "red").count() == 10


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed on the join key: the join must plan with ZERO
    Exchange operators — the bucketed scan IS the distribution."""
    left = spark.createDataFrame(
        [(i, f"l{i}") for i in range(100)], "k long, lv string"
    )
    right = spark.createDataFrame(
        [(i, f"r{i}") for i in range(100)], "k long, rv string"
    )
    write_bucketed(left, "t_bleft", "k", 4, sort_by="k")
    write_bucketed(right, "t_bright", "k", 4, sort_by="k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_bleft").join(spark.table("t_bright"), "k")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_bucketed_aggregation_has_no_shuffle(spark):
    """groupBy on the bucket key reuses the write-time distribution."""
    df = spark.createDataFrame(
        [(i % 10, float(i)) for i in range(100)], "k long, v double"
    )
    write_bucketed(df, "t_bagg", "k", 4)
    try:
        plan = _plan(spark.table("t_bagg").groupBy("k").agg(F.sum("v")))
        assert "Exchange" not in plan, plan
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bagg")


def test_compact_parquet(spark, tmp_path):
    """Many tiny files compact to the computed count; rows and values
    survive; sorted variant produces sorted-within-partition output."""
    import glob

    from centimators_spark.io import compact_parquet, load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    src = str(tmp_path / "frag")
    docs.repartition(37).write.parquet(src)
    assert len(glob.glob(src + "/*.parquet")) == 37

    dst = str(tmp_path / "compact")
    n = compact_parquet(spark, src, dst, target_file_bytes=64 * 1024 * 1024)
    assert n < 37
    a = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = (
        spark.read.parquet(dst).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert a.equals(b[a.columns])

    dst2 = str(tmp_path / "sorted")
    compact_parquet(spark, src, dst2, sort_within_by="doc_id")
    parts = spark.read.parquet(dst2)
    import pandas as pd

    for _, pdf in (
        parts.withColumn("__p", F.spark_partition_id()).toPandas().groupby("__p")
    ):
        assert pdf.doc_id.is_monotonic_increasing


def test_bucketed_panel_window_transformer_no_exchange(spark):
    """The 100 TB panel pattern: bucket the panel by ticker once at
    write time, and every ordered transformer (window partitioned by
    ticker) plans WITHOUT an Exchange — the bucketed scan already
    provides the required distribution. Results identical to the
    unbucketed path."""
    from centimators_spark.operators import LagTransformer

    df = spark.createDataFrame(
        [(i % 7, i, float(i * i)) for i in range(200)],
        "ticker long, ord long, x double",
    )
    write_bucketed(df, "t_bpanel", "ticker", 4, sort_by=["ticker", "ord"])
    try:
        t = LagTransformer(
            [1], ["x"], ticker_col="ticker", order_cols=["ord"],
            output_mode="append",
        )
        out = t.transform(spark.table("t_bpanel"))
        plan = _plan(out)
        assert "Exchange" not in plan, plan
        got = {(r.ticker, r.ord): r.x_lag1 for r in out.collect()}
        exp = {(r.ticker, r.ord): r.x_lag1 for r in t.transform(df).collect()}
        assert got == exp
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bpanel")


def test_table_profile_exact_matches_duckdb(spark):
    """Profile in exact mode == DuckDB mirror on the documents table;
    approx mode agrees on everything but n_distinct (HLL estimate
    within 10%)."""
    import duckdb

    from centimators_spark.io import load_table
    from centimators_spark.profile import table_profile, table_profile_oracle_sql

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    cols = ["doc_id", "lang", "n_chars"]
    got = (
        table_profile(docs, cols, exact=True)
        .toPandas()
        .sort_values("column")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet')"
    )
    exp = (
        con.execute(
            table_profile_oracle_sql("documents", cols, ["doc_id", "n_chars"])
        )
        .fetchdf()
        .sort_values("column")
        .reset_index(drop=True)
    )
    for c in ["column", "n", "n_null", "n_non_null", "n_distinct",
              "min_value", "max_value"]:
        assert got[c].astype(str).tolist() == exp[c].astype(str).tolist(), c
    import numpy as np

    np.testing.assert_allclose(
        got["mean"].astype(float), exp["mean"].astype(float), rtol=1e-9
    )

    approx = table_profile(docs, cols).toPandas().set_index("column")
    for c in cols:
        nd_exact = int(got.set_index("column").loc[c, "n_distinct"])
        nd_approx = int(approx.loc[c, "n_distinct"])
        assert abs(nd_approx - nd_exact) <= max(2, 0.1 * nd_exact), c


def test_parquet_schema_evolution_mergeschema(spark):
    """Schema evolution: files written before a column existed read
    back with nulls under mergeSchema — the additive-evolution contract
    a long-lived 100 TB table needs."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t")
        spark.createDataFrame([(1, "a")], "id long, s string").write.parquet(
            p + "/batch=1"
        )
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, s string, score double"
        ).write.parquet(p + "/batch=2")
        back = spark.read.option("mergeSchema", "true").parquet(p)
        rows = {r.id: r for r in back.collect()}
        assert rows[1].score is None and rows[2].score == 9.5
        assert set(back.columns) >= {"id", "s", "score", "batch"}


def test_overwrite_partitions_dynamic(spark):
    """Dynamic partition overwrite replaces ONLY the partitions present
    in the new frame — the idempotent daily-repair shape."""
    import os
    import tempfile

    from centimators_spark.io import overwrite_partitions, write_partitioned

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t")
        full = spark.createDataFrame(
            [("2024-01-01", 1, 10.0), ("2024-01-01", 2, 20.0),
             ("2024-01-02", 3, 30.0)],
            "day string, id long, v double",
        )
        write_partitioned(full, p, "day")
        repair = spark.createDataFrame(
            [("2024-01-01", 9, 99.0)], "day string, id long, v double"
        )
        overwrite_partitions(repair, p, "day")
        back = spark.read.parquet(p)
        rows = {(str(r.day), r.id): r.v for r in back.collect()}
        # day 1 fully replaced, day 2 untouched
        assert rows == {("2024-01-01", 9): 99.0, ("2024-01-02", 3): 30.0}
        # conf restored
        assert spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode"
        ).upper() == "STATIC"


def test_heavy_hitters_exact_and_sketch(spark):
    import duckdb

    from centimators_spark.profile import heavy_hitters, heavy_hitters_oracle_sql

    rows = [("hot",)] * 60 + [("warm",)] * 25 + [(f"cold{i}",) for i in range(15)]
    df = spark.createDataFrame(rows, "k string")
    got = heavy_hitters(df, "k", min_share=0.2).collect()
    assert [(r.value, r.n) for r in got] == [("hot", 60), ("warm", 25)]
    assert got[0].share == 0.6

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"('{k}')" for (k,) in rows)
        + ") v(k)"
    )
    exp = con.execute(
        heavy_hitters_oracle_sql("t", "k", min_share=0.2)
    ).fetchall()
    assert [(r.value, r.n, r.share) for r in got] == exp

    # sketch mode: candidates include every true heavy hitter
    approx = {r.value for r in heavy_hitters(df, "k", min_share=0.2, exact=False).collect()}
    assert {"hot", "warm"} <= approx
    import pytest as _pt

    with _pt.raises(ValueError):
        heavy_hitters(df, "k", min_share=0.0)


def test_z_order_key_and_clustered_write(spark, tmp_path):
    """Morton key interleaves bits correctly; a z-ordered write yields
    files whose per-file (x, y) ranges are compact cells (both columns
    bounded), which is what makes min/max skipping work on either."""
    import pyspark.sql.functions as F

    from centimators_spark.io import write_z_ordered, z_order_key

    # hand-check: x=0b11, y=0b01 with 2 cols -> bits x at even slots,
    # y at odd: z = x0<<0 | y0<<1 | x1<<2 | y1<<3 = 1 + 2 + 4 + 0 = 7
    df = spark.createDataFrame([(3, 1)], "x long, y long")
    [row] = df.select(z_order_key(["x", "y"], bits=2).alias("z")).collect()
    assert row.z == 7

    grid = spark.range(0, 256).select(
        (F.col("id") % 16).alias("x"), (F.col("id") / 16).cast("long").alias("y")
    )
    out = str(tmp_path / "zordered")
    write_z_ordered(grid, out, ["x", "y"], bits=4, n_files=4)
    back = spark.read.parquet(out)
    assert back.count() == 256
    # each file covers a compact cell: x-range * y-range well under the
    # full 16x16 domain (a row-major sort would give full-width x)
    import glob as g

    spans = []
    for f in sorted(g.glob(out + "/*.parquet")):
        pdf = spark.read.parquet(f).toPandas()
        spans.append(
            (pdf.x.max() - pdf.x.min() + 1) * (pdf.y.max() - pdf.y.min() + 1)
        )
    assert max(spans) <= 128, spans  # half the domain per file at most
