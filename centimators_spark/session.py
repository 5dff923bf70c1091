"""SparkSession factory tuned for the engine.

Scale notes (100 TB design):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Arrow on: all pandas-UDF boundaries (per-era kernels, embedders) move
  data in columnar Arrow batches, not pickled rows.
- shuffle.partitions defaults to 2x cores locally; on a real cluster this
  is overridden (or left to AQE's coalescing from a high initial value).
- Local cores and driver heap fit the host (``host_defaults``) unless
  ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEMORY`` say otherwise.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_defaults() -> tuple[str, str]:
    """(local cores, driver heap) for ``get_spark``: ``SPARK_GRAFT_CPUS``
    and ``SPARK_DRIVER_MEMORY`` when set, else the CPUs this process may
    run on and half the host's physical RAM, at least 1g and at most
    32g. In local mode the driver JVM hosts every executor thread, so a
    heap larger than the host gets the JVM killed, not slowed."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or f"{min(32, max(1, ram_gb // 2))}g"
    return cpus, heap


def get_spark(
    app_name: str = "centimators-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults applied."""
    host_cpus, heap = host_defaults()
    cpus = cpus or host_cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 2 * int(cpus)))
        # NOTE on scan parallelism: the local test parquet files hold a
        # SINGLE row group, so shrinking maxPartitionBytes cannot add
        # parallelism (byte-range splits that miss the row-group start
        # read nothing — one straggler does all the work plus empty
        # tasks). Operators that do heavy work after such a scan spread
        # it through scanstats.spread_if_underpartitioned instead; leave
        # the 128m default here, which is also right for TB-scale files.
        # runtime bloom-filter join pruning: the big side of a selective
        # join gets a bloom filter built from the small side's join keys
        # pushed into its scan — at 100 TB this skips reading most of the
        # probe side for filters like "orders of BUILDING customers"
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM hosts every executor thread plus
        # storage (checkpoint blocks, broadcasts)
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def cluster_conf(
    *,
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 256,
    input_tb: float = 100.0,
) -> dict[str, str]:
    """The conf dict this engine is DESIGNED for at cluster scale —
    pass to ``get_spark(extra_conf=cluster_conf())`` on a real cluster
    (the host-sized local defaults above are the test profile). Every choice
    is the one the operators assume:

    - shuffle.partitions sized so a full-input shuffle lands
      ~``target_partition_mb`` per task (AQE coalesces smaller stages
      down from there — start high, let AQE shrink; never the
      reverse).
    - AQE + skew-join on: the salted-join operator handles KNOWN hot
      keys deterministically; AQE catches the unknown ones.
    - maxPartitionBytes 256m: TB-scale tables scan in fewer, fuller
      tasks; the operators never rely on scan-partition count for
      correctness.
    - Broadcast threshold 64m: every dimension join in the plans
      (nation/region/part/customer at this ratio, stats frames,
      quantile vectors) must broadcast; raising this beats a shuffle
      join as long as executors have the headroom.
    - Arrow batches 64k rows: amortizes pandas-UDF overhead for the
      per-era kernels without blowing executor memory on wide panels.
    - Shuffle/broadcast compression and reused exchanges stay default.

    The numbers are a starting profile, not magic: re-derive
    shuffle.partitions when input_tb changes materially."""
    total_cores = executors * cores_per_executor
    # one full-input shuffle wave lands target_partition_mb per task
    parts = max(
        total_cores,
        int(input_tb * 1024 * 1024 / target_partition_mb),
    )
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "268435456",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
