"""The under-partitioned-scan gate (scanstats.spread_if_underpartitioned)
decides from the parquet row-group count of the input files: a single
row group is read by one task however the byte ranges are split."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from centimators_spark.scanstats import spread_if_underpartitioned

SPLIT_CONFS = {
    "spark.sql.files.maxPartitionBytes": "16384",
    "spark.sql.files.openCostInBytes": "1024",
}


@pytest.fixture()
def parallelism(spark):
    n = spark.sparkContext.defaultParallelism
    if n < 2:
        pytest.skip("needs defaultParallelism >= 2")
    return n


def _write(path, n_rows: int, row_group_size: int) -> str:
    table = pa.table(
        {"id": pa.array(range(n_rows), pa.int64()),
         "v": pa.array([float(i % 97) for i in range(n_rows)])}
    )
    pq.write_table(table, path, row_group_size=row_group_size)
    return str(path)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_one_row_group_is_spread_whatever_the_split_size(
    spark, parallelism, tmp_path
):
    n_rows = 20_000
    path = _write(tmp_path / "one.parquet", n_rows, n_rows)
    assert pq.read_metadata(path).num_row_groups == 1
    df = spark.read.parquet(path)
    # small split sizes plan many byte-range partitions for this file;
    # all but one of them read nothing
    saved = {k: spark.conf.get(k, None) for k in SPLIT_CONFS}
    try:
        for k, v in SPLIT_CONFS.items():
            spark.conf.set(k, v)
        spread = spread_if_underpartitioned(df)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert spread is not df
    plan = _plan(spread)
    assert "Exchange hashpartitioning" in plan
    assert "RoundRobinPartitioning" not in plan
    assert spread.count() == n_rows


def test_enough_row_groups_is_unchanged(spark, parallelism, tmp_path):
    df = spark.read.parquet(
        _write(tmp_path / "many.parquet", 100 * parallelism, 50)
    )
    assert spread_if_underpartitioned(df) is df


def test_fileless_input_is_unchanged(spark, parallelism):
    df = spark.range(10)
    assert spread_if_underpartitioned(df) is df


def test_gate_starts_no_job(spark, parallelism, tmp_path):
    df = spark.read.parquet(_write(tmp_path / "one.parquet", 1_000, 1_000))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    spread = spread_if_underpartitioned(df, "id")
    assert spread is not df
    assert set(tracker.getJobIdsForGroup()) == before
    # the tracker does see jobs: running the spread plan adds some
    spread.count()
    assert set(tracker.getJobIdsForGroup()) > before
