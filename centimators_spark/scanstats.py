"""The one under-partitioned-scan gate, in front of every heavy
per-row or aggregation stage that would otherwise run as one task on a
single-row-group local parquet file (era-OLS neutralization, the
one-pass bootstrap family, the exact LinearRegressor fit, the PCA
covariance fit, the multimodal decode/fingerprint chains).

The rule reads what bounds the non-empty scan tasks: a parquet row
group is read whole by a single task, so a scan of R row groups has at
most R tasks that see rows, however ``spark.sql.files.maxPartitionBytes``
splits the bytes. The gate counts
row groups from the footers of ``df.inputFiles()`` (pyarrow, no Spark
job) and spreads ``df`` when it finds fewer than ``defaultParallelism``.
Non-``file:`` inputs, inputs with no files and files whose footer does
not read as parquet are returned unchanged: an object-store scan of
production tables is many row groups and never the single-row-group
local pathology the gate exists for.

Blind spot: many tiny files, each with its own row group, count as
many row groups although Spark bin-packs them into a few tasks; the
gate then leaves such an input alone. No gate caller reads that shape.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _local_paths(df: DataFrame) -> list[str] | None:
    files = df.inputFiles()
    if not files or not all(f.startswith("file:") for f in files):
        return None
    return [unquote(urlparse(f).path) for f in files]


def local_input_bytes(df: DataFrame) -> int | None:
    """Total bytes of ``df``'s local file sources; None for non-file
    or remote inputs."""
    paths = _local_paths(df)
    try:
        return None if paths is None else sum(map(os.path.getsize, paths))
    except OSError:
        return None


def _row_group_count(paths: list[str], cap: int) -> int | None:
    """Row groups in the parquet files, reading footers only until
    ``cap`` are seen; None if a footer does not read as parquet."""
    import pyarrow.parquet as pq

    seen = 0
    for p in paths:
        if seen >= cap:
            break
        try:
            seen += pq.read_metadata(p).num_row_groups
        except (OSError, ValueError):  # ArrowInvalid is a ValueError
            return None
    return seen


def spread_if_underpartitioned(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition ``df`` onto defaultParallelism when its local
    parquet sources hold fewer row groups than there are cores;
    otherwise return ``df`` itself (callers test ``spread is not df``).

    The key is DETERMINISTIC (xxhash64 of ``key_cols``, default all
    columns): round-robin ``repartition(n)`` local-sorts every row
    first (spark.sql.execution.sortBeforeRepartition, measured 1.8×
    slower), and a nondeterministic key such as
    monotonically_increasing_id blocks ReusedExchange, so a lineage
    with several consumers would re-run its scan and shuffle per
    consumer. Only consumers whose result does not depend on row
    placement (exact decimal/integer sums, per-row work) may use this.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    paths = _local_paths(df)
    groups = None if paths is None else _row_group_count(paths, parallelism)
    if groups is None or groups >= parallelism:
        return df
    return df.repartition(parallelism, F.xxhash64(*(key_cols or df.columns)))
