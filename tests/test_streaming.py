"""Structured Streaming tests: incremental execution must agree with the
batch semantics the DuckDB oracle checks."""

import pytest
from pyspark.sql import functions as F

from centimators_spark.io import load_table
from centimators_spark.streaming import (
    read_events_stream,
    sessionize,
    stateful_running_counts,
    windowed_event_counts,
)

SF = "/root/testdata/sf0.001"


def _run_stream(stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def test_stream_windowed_counts_match_batch(spark):
    ev_stream = read_events_stream(spark, SF)
    assert ev_stream.isStreaming
    name = _run_stream(
        windowed_event_counts(ev_stream, watermark=None), "win_counts", "complete"
    )
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    exp = windowed_event_counts(load_table(spark, SF, "events")).toPandas()
    key = ["window_start", "event_type"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert got.equals(exp[got.columns])


def test_stream_sessionize_runs(spark):
    ev_stream = read_events_stream(spark, SF)
    name = _run_stream(
        sessionize(ev_stream, watermark="1 minute"), "sessions", "complete"
    )
    got = spark.sql(f"SELECT * FROM {name}")
    exp = sessionize(load_table(spark, SF, "events"))
    assert got.count() == exp.count()


def test_stateful_running_counts(spark):
    ev_stream = read_events_stream(spark, SF)
    name = _run_stream(
        stateful_running_counts(ev_stream), "running_counts", "update"
    )
    got = spark.sql(
        f"SELECT event_type, max(total) AS total FROM {name} GROUP BY event_type"
    ).toPandas()
    exp = (
        load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("total"))
        .toPandas()
    )
    merged = got.merge(exp, on="event_type", suffixes=("_s", "_b"))
    assert len(merged) == len(exp)
    assert (merged.total_s == merged.total_b).all()


def test_stream_session_ids_match_batch(spark):
    """Incremental row-level session labels (applyInPandasWithState)
    must equal the batch window query's labels."""
    from centimators_spark.streaming import session_ids, session_ids_stateful

    ev_stream = read_events_stream(spark, SF)
    name = _run_stream(
        session_ids_stateful(ev_stream), "session_labels", "update"
    )
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    exp = session_ids(load_table(spark, SF, "events")).toPandas()
    assert len(got) == len(exp)
    merged = got.merge(exp, on="event_id", suffixes=("_s", "_b"))
    assert len(merged) == len(exp)
    assert (merged.session_idx_s == merged.session_idx_b).all()
    assert (merged.ts_epoch_s == merged.ts_epoch_b).all()


def test_stream_exact_dedup(spark):
    from centimators_spark.streaming.dedup import stream_exact_dedup

    # batch semantics: duplicate payloads collapse to first occurrence
    ev = load_table(spark, SF, "events")
    doubled = ev.unionAll(ev)
    out = stream_exact_dedup(doubled, ["event_id", "props"], watermark=None)
    assert out.count() == ev.count()

    # streaming: bounded state via dropDuplicatesWithinWatermark
    ev_stream = read_events_stream(spark, SF)
    deduped = stream_exact_dedup(ev_stream, ["event_id", "props"])
    assert deduped.isStreaming
    q = (
        deduped.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) c FROM dedup_stream").collect()[0].c
    assert n == ev.count()  # source has unique event_ids -> all kept


def test_stream_stateless_text_operators_match_batch(spark):
    """The stateless corpus operators (PII masking, repetition signals,
    quality scoring) are pure projections — the SAME code runs unchanged
    on a readStream source and must emit batch-identical rows."""
    import tempfile

    from centimators_spark.text.analysis import quality_score
    from centimators_spark.text.pii import mask_pii
    from centimators_spark.text.repetition import repetition_signals

    docs = load_table(spark, SF, "documents")
    with tempfile.TemporaryDirectory() as d:
        docs.write.mode("overwrite").parquet(d + "/docs")
        stream = spark.readStream.schema(docs.schema).parquet(d + "/docs")
        assert stream.isStreaming
        from centimators_spark.text.chunking import chunk_documents

        for i, (op, keycols) in enumerate(
            [
                (mask_pii, ["doc_id"]),
                (repetition_signals, ["doc_id"]),
                (quality_score, ["doc_id"]),
                # map-side explode is stateless too: chunking a stream of
                # documents emits batch-identical chunk rows
                (chunk_documents, ["doc_id", "chunk_idx"]),
            ]
        ):
            out = op(stream)
            assert out.isStreaming
            name = _run_stream(out, f"stateless_{i}", "append")
            got = (
                spark.sql(f"SELECT * FROM {name}")
                .toPandas()
                .sort_values(keycols)
                .reset_index(drop=True)
            )
            exp = (
                op(docs).toPandas().sort_values(keycols).reset_index(drop=True)
            )
            assert got.equals(exp[got.columns]), op.__name__


def test_stream_dedup_null_layouts_distinct(spark):
    """(NULL,'a') and ('a',NULL) must NOT collide to one digest
    (concat_ws silently skips nulls; the JSON digest keeps names)."""
    from centimators_spark.streaming import stream_exact_dedup

    df = spark.createDataFrame(
        [(1, None, "a"), (2, "a", None), (3, "a", None)],
        "id long, c1 string, c2 string",
    )
    out = stream_exact_dedup(df, ["c1", "c2"]).collect()
    assert sorted(r.id for r in out)[:2] == [1, 2]  # only the (a,NULL) dup drops
    assert len(out) == 2


def test_stream_stream_interval_join_matches_batch(spark):
    """The watermarked stream-stream event-time join must emit exactly
    the rows the batch twin (the events_interval_join oracle contract)
    produces — availableNow processes all data, so no row is beyond the
    final watermark."""
    from centimators_spark.streaming.joins import interval_join_events

    def split(df):
        views = df.where(F.col("event_type") == "view").select(
            "event_id", "user_id", "ts"
        )
        purchases = df.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("rts"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("value").alias("pvalue"),
        )
        return views, purchases

    sv, sp = split(read_events_stream(spark, SF))
    joined = interval_join_events(sv, sp, within="30 minutes")
    assert joined.isStreaming
    name = _run_stream(joined, "ss_interval_join", "append")
    got = (
        spark.sql(f"SELECT event_id, purchase_event_id, pvalue FROM {name}")
        .toPandas()
        .sort_values(["event_id", "purchase_event_id"])
        .reset_index(drop=True)
    )
    bv, bp = split(load_table(spark, SF, "events"))
    exp = (
        interval_join_events(bv, bp, within="30 minutes")
        .select("event_id", "purchase_event_id", "pvalue")
        .toPandas()
        .sort_values(["event_id", "purchase_event_id"])
        .reset_index(drop=True)
    )
    assert len(exp) > 0
    assert got.equals(exp[got.columns])


def test_stream_static_enrichment(spark):
    """Stream-static broadcast join: every stream row picks up its
    static attribute; the static side is re-read per micro-batch."""
    from centimators_spark.streaming.joins import enrich_stream_static

    ev = read_events_stream(spark, SF)
    dim = (
        load_table(spark, SF, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"))
    )
    out = enrich_stream_static(ev.select("event_id", "user_id"), dim, "user_id")
    name = _run_stream(out, "ss_enrich", "append")
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    n_events = load_table(spark, SF, "events").count()
    assert len(got) == n_events
    assert got.tier.notna().all()
    assert ((got.user_id % 2 == 0) == (got.tier == "a")).all()


def test_grouped_overwrite_sink(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite maintains a parquet
    table of per-event-type aggregates that matches the batch answer,
    and a second (replayed) run leaves it unchanged (idempotence)."""
    from centimators_spark.streaming.sink import grouped_overwrite_sink

    out_dir = str(tmp_path / "agg_table")

    def run(checkpoint):
        ev = read_events_stream(spark, SF)
        agg = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        q = (
            grouped_overwrite_sink(
                agg,
                path=out_dir,
                partition_col="event_type",
                checkpoint=checkpoint,
                output_mode="complete",
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ckpt1"))
    exp = (
        load_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    got = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert got[exp.columns].equals(exp)
    # replay from a fresh checkpoint: same partitions rewritten, same table
    run(str(tmp_path / "ckpt2"))
    got2 = (
        spark.read.parquet(out_dir)
        .toPandas()
        .sort_values("event_type")
        .reset_index(drop=True)
    )
    assert got2[exp.columns].equals(exp)


def test_ewma_anomaly_stream_matches_batch_and_reference(spark):
    """The stateful streaming EWMA scorer must agree with (a) its batch
    applyInPandas twin and (b) a pure-pandas sequential reference."""
    import numpy as np
    import pandas as pd

    from centimators_spark.streaming.anomaly import ewma_anomaly_stream

    kw = dict(alpha=0.3, k=2.0, min_periods=5)
    batch = (
        ewma_anomaly_stream(load_table(spark, SF, "events"), **kw)
        .toPandas()
        .sort_values(["k", "ts_epoch", "event_id"])
        .reset_index(drop=True)
    )
    stream = ewma_anomaly_stream(read_events_stream(spark, SF), **kw)
    assert stream.isStreaming
    name = _run_stream(stream, "ewma_anom", "update")
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values(["k", "ts_epoch", "event_id"])
        .reset_index(drop=True)
    )
    assert got.equals(batch[got.columns])

    # pure-pandas reference on one key
    key = batch["k"].iloc[0]
    sub = batch[batch["k"] == key].reset_index(drop=True)
    n, mean, var = 0, 0.0, 0.0
    for i, x in enumerate(sub["x"]):
        if n >= 5 and var > 0:
            z = (x - mean) / np.sqrt(var)
            assert abs(round(z, 6) - sub["z"][i]) < 1e-9
            assert sub["anomaly"][i] == (1 if abs(z) > 2.0 else 0)
        else:
            assert pd.isna(sub["z"][i]) and pd.isna(sub["anomaly"][i])
        d = x - mean
        mean += 0.3 * d
        var = 0.7 * (var + 0.3 * d * d)
        n += 1
    # sanity: some anomalies fire somewhere in the table
    assert (batch["anomaly"] == 1).any()


def test_grouped_overwrite_sink_rejects_coarse_partition(spark, tmp_path):
    """partition_col coarser than the grouping key would delete sibling
    groups on overwrite - the sink must refuse."""
    from centimators_spark.streaming.sink import grouped_overwrite_sink

    ev = read_events_stream(spark, SF)
    agg = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    q = (
        grouped_overwrite_sink(
            agg,
            path=str(tmp_path / "bad_table"),
            partition_col="event_type",
            checkpoint=str(tmp_path / "ckpt_bad"),
            output_mode="complete",
        )
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="complete grouping key"):
        q.awaitTermination(120)
        raise RuntimeError(str(q.exception()) if q.exception() else "no error")


def test_continuous_aggregate_rollup_matches_batch(spark, tmp_path):
    """Hypertable-style continuous aggregate: the streamed hourly
    rollup table equals the batch window aggregation, and a replay
    leaves it unchanged."""
    from centimators_spark.streaming.sink import continuous_aggregate

    out_dir = str(tmp_path / "rollup")

    def run(ckpt):
        ev = read_events_stream(spark, SF)
        q = (
            continuous_aggregate(
                ev,
                ts_col="ts",
                window_duration="1 hour",
                agg_exprs={"n": "count(*)", "sum_value": "round(sum(value), 6)"},
                group_cols=["event_type"],
                watermark="2 hours",
                path=out_dir,
                checkpoint=ckpt,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "ck1"))
    exp = (
        load_table(spark, SF, "events")
        .groupBy(
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    cols = ["window_start", "event_type", "n", "sum_value"]
    got = (
        spark.read.parquet(out_dir)
        .select(*cols)
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    assert got[cols].equals(exp[cols])
    run(str(tmp_path / "ck2"))
    got2 = (
        spark.read.parquet(out_dir)
        .select(*cols)
        .toPandas()
        .sort_values(["window_start", "event_type"])
        .reset_index(drop=True)
    )
    assert got2[cols].equals(exp[cols])


def test_continuous_aggregate_null_and_separator_groups(spark, tmp_path):
    """Distinct grouping tuples that a naive concat key would collapse
    — ('a', NULL) vs (NULL, 'a'), and separator-bearing values — must
    land in distinct partitions (regression for the md5-JSON key)."""
    from centimators_spark.streaming.sink import continuous_aggregate
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 0, 5), "a", None, 1.0),
        (dt.datetime(2024, 1, 1, 0, 10), None, "a", 2.0),
        (dt.datetime(2024, 1, 1, 0, 15), "a|b", "c", 3.0),
        (dt.datetime(2024, 1, 1, 0, 20), "a", "b|c", 4.0),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(
        rows, "ts timestamp, g1 string, g2 string, value double"
    ).write.parquet(src)
    stream = spark.readStream.schema(
        "ts timestamp, g1 string, g2 string, value double"
    ).parquet(src)
    out_dir = str(tmp_path / "rollup")
    q = (
        continuous_aggregate(
            stream,
            ts_col="ts",
            window_duration="1 hour",
            agg_exprs={"n": "count(*)", "s": "round(sum(value), 6)"},
            group_cols=["g1", "g2"],
            watermark="2 hours",
            path=out_dir,
            checkpoint=str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).collect()
    assert len(got) == 4  # no tuple collapsed into another's partition
    assert {(r.g1, r.g2, r.s) for r in got} == {
        ("a", None, 1.0), (None, "a", 2.0), ("a|b", "c", 3.0), ("a", "b|c", 4.0)
    }


def test_stream_windowed_psi_matches_batch(spark):
    """Streaming windowed PSI against a static reference histogram ==
    the identical computation on the batch frame (chained time-window
    aggregations, Spark 3.4+ multiple-stateful-operator support)."""
    from centimators_spark.streaming.drift import (
        reference_histogram,
        windowed_psi,
    )

    events = load_table(spark, SF, "events").where(F.col("value").isNotNull())
    bounds, ref_counts = reference_histogram(events, "value", n_bins=8)
    assert len(bounds) == 7 and sum(ref_counts) == events.count()

    ev_stream = read_events_stream(spark, SF).where(F.col("value").isNotNull())
    name = _run_stream(
        windowed_psi(
            ev_stream, "value", "ts", bounds, ref_counts,
            window="1 day", watermark=None,
        ),
        "psi_stream",
        "complete",
    )
    got = spark.sql(f"SELECT * FROM {name}").toPandas()
    exp = windowed_psi(
        events, "value", "ts", bounds, ref_counts, window="1 day"
    ).toPandas()
    key = ["window_start"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) > 0
    assert got.equals(exp[got.columns])
    # the full-corpus reference compared against itself, per-day slices:
    # PSI small but finite; all values non-negative
    assert (got["psi"] >= 0).all()


def test_stream_session_window_matches_batch(spark, tmp_path):
    """Native session_window is a stateful streaming aggregation: with
    a watermark, availableNow processing, and a watermark-flush sentinel
    (streaming/events.flushed_session_windows — a bounded replay has no
    later event to advance the final watermark past trailing sessions,
    so a far-future sentinel event is unioned in and filtered out) it
    must emit EXACTLY the sessions the batch aggregation computes."""
    from centimators_spark.streaming import (
        flushed_session_windows,
        session_windows,
    )

    ev = load_table(spark, SF, "events")
    batch = (
        session_windows(ev)
        .toPandas()
        .sort_values(["user_id", "s"])
        .reset_index(drop=True)
    )
    out = flushed_session_windows(
        spark, SF, str(tmp_path / "sentinel")
    )
    assert out.isStreaming
    name = _run_stream(out, "session_win_stream", "append")
    got = (
        spark.sql(f"SELECT * FROM {name}")
        .toPandas()
        .sort_values(["user_id", "s"])
        .reset_index(drop=True)
    )
    assert len(got) == len(batch)
    assert got[["user_id", "n_events"]].equals(batch[["user_id", "n_events"]])
    assert (got["s"].values == batch["s"].values).all()
    assert (got["e"].values == batch["e"].values).all()


def test_stream_cms_cells_match_batch_multibatch(spark, tmp_path):
    """Count-min cells maintained incrementally over TWO micro-batches
    (maxFilesPerTrigger=1) must equal the one-shot batch sketch — the
    partial-count merge is the sketch's additivity, pinned bit for
    bit."""
    from centimators_spark.sketches import cms_build
    from centimators_spark.streaming.sketch import cms_cells_stream

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    # two files -> two micro-batches
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/a.parquet"
    )
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/b.parquet"
    )
    schema = docs.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        cms_cells_stream(stream)
        .writeStream.format("memory")
        .queryName("cms_cells")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 1  # really ran >1 micro-batch
    got = (
        spark.sql("SELECT * FROM cms_cells")
        .toPandas()
        .sort_values(["row", "bucket"])
        .reset_index(drop=True)
    )
    exp = (
        cms_build(docs)
        .toPandas()
        .sort_values(["row", "bucket"])
        .reset_index(drop=True)
    )
    assert got.equals(exp[got.columns])


def test_stream_cms_rejects_batch_frame(spark):
    from centimators_spark.streaming.sketch import cms_cells_stream

    with pytest.raises(ValueError):
        cms_cells_stream(load_table(spark, SF, "documents"))


def test_stream_hll_registers_match_batch_multibatch(spark, tmp_path):
    """HLL registers maintained incrementally over TWO micro-batches
    (register-wise max merge) must equal the one-shot batch register
    build bit for bit — and the distinct-free cell build must equal
    the distinct-based build hll_portable uses (max is duplicate-
    idempotent), so the streaming state IS the sketch."""
    from centimators_spark.sketches import (
        _hll_registers,
        hll_register_cells,
    )
    from centimators_spark.streaming.sketch import hll_registers_stream
    from centimators_spark.text.portable import md5_long

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/a.parquet"
    )
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/b.parquet"
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        hll_registers_stream(stream)
        .writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 1  # really ran >1 micro-batch
    got = (
        spark.sql("SELECT * FROM hll_regs")
        .toPandas()
        .sort_values(["grp", "j"])
        .reset_index(drop=True)
    )
    exp = (
        hll_register_cells(docs, "source", "text")
        .toPandas()
        .sort_values(["grp", "j"])
        .reset_index(drop=True)
    )
    assert got.equals(exp[got.columns])
    # duplicate-idempotence: distinct-free cells == the distinct-based
    # register build that hll_portable's estimator consumes
    hashes = docs.select(
        F.col("source").alias("grp"),
        md5_long(F.col("text").cast("string")).alias("h"),
    ).distinct()
    via_distinct = (
        _hll_registers(hashes, ["grp"])
        .select(
            "grp",
            F.col("__j").cast("long").alias("j"),
            F.col("__m").cast("long").alias("m"),
        )
        .toPandas()
        .sort_values(["grp", "j"])
        .reset_index(drop=True)
    )
    assert exp.equals(via_distinct)


def test_stream_hll_rejects_batch_frame(spark):
    from centimators_spark.streaming.sketch import hll_registers_stream

    with pytest.raises(ValueError):
        hll_registers_stream(load_table(spark, SF, "documents"))


def test_stream_bottomk_sample_matches_batch_multibatch(spark, tmp_path):
    """Bottom-k sample maintained incrementally across TWO
    micro-batches (applyInPandasWithState merge = union +
    re-truncate-to-k) must equal the one-shot batch sample rows
    exactly — the streaming state IS the sketch, k rows per group."""
    from centimators_spark.sketches import bottomk_sample_rows
    from centimators_spark.streaming.sketch import bottomk_sample_stream

    ev = load_table(spark, SF, "events").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/a.parquet"
    )
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/b.parquet"
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        bottomk_sample_stream(stream)
        .writeStream.format("memory")
        .queryName("bq_sample")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 1  # really ran >1 micro-batch
    all_rows = spark.sql("SELECT * FROM bq_sample").toPandas()
    # rows at each group's max generation = the final running sample
    last = all_rows[
        all_rows.gen == all_rows.groupby("grp").gen.transform("max")
    ]
    got = (
        last[["grp", "h", "v"]]
        .sort_values(["grp", "h", "v"])
        .reset_index(drop=True)
    )
    exp = (
        bottomk_sample_rows(ev, "event_type", "event_id", "value")
        .toPandas()
        .sort_values(["grp", "h", "v"])
        .reset_index(drop=True)
    )
    assert got.equals(exp)
    # each group's final sample is exactly k rows (corpus >> k here)
    assert (last.groupby("grp").size() == 64).all()


def test_stream_bottomk_rejects_batch_frame(spark):
    from centimators_spark.streaming.sketch import bottomk_sample_stream

    with pytest.raises(ValueError):
        bottomk_sample_stream(load_table(spark, SF, "events"))


def test_stream_theta_retained_matches_batch_multibatch(spark, tmp_path):
    """Theta/KMV retained set maintained incrementally across TWO
    micro-batches (distinct union + re-truncate-to-k) must equal the
    batch k-smallest-distinct-hash selection exactly — duplicates
    re-arriving and once-dropped hashes re-arriving are both
    truncation-stable."""
    from centimators_spark.sketches import theta_retained_rows
    from centimators_spark.streaming.sketch import theta_retained_stream

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "source", "text"
    )
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/a.parquet"
    )
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/b.parquet"
    )
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        theta_retained_stream(stream)
        .writeStream.format("memory")
        .queryName("theta_ret")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 1
    all_rows = spark.sql("SELECT * FROM theta_ret").toPandas()
    last = all_rows[
        all_rows.gen == all_rows.groupby("grp").gen.transform("max")
    ]
    got = (
        last[["grp", "h"]].sort_values(["grp", "h"]).reset_index(drop=True)
    )
    exp = (
        theta_retained_rows(docs)
        .toPandas()
        .sort_values(["grp", "h"])
        .reset_index(drop=True)
    )
    assert got.equals(exp)
    assert (last.groupby("grp").size() == 128).all()  # corpus >> k


def test_stream_dd_buckets_matches_batch_multibatch(spark, tmp_path):
    """DD percentile-sketch bucket counts maintained incrementally
    across TWO micro-batches (cell-wise integer addition) must equal
    the one-shot batch build exactly — the LAST of the five sketch
    families' streaming halves (r12 verdict item 3). Quantile
    read-out over the final streaming state must match read-out over
    the batch cells bit for bit too (shared dd_quantiles accessor)."""
    from centimators_spark.sketches import dd_bucket_rows, dd_quantiles
    from centimators_spark.streaming.sketch import dd_buckets_stream

    ev = load_table(spark, SF, "events").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        src + "/a.parquet"
    )
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        src + "/b.parquet"
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        dd_buckets_stream(stream)
        .writeStream.format("memory")
        .queryName("dd_cells")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.lastProgress["batchId"] >= 1  # really ran >1 micro-batch
    all_rows = spark.sql("SELECT * FROM dd_cells").toPandas()
    last = all_rows[
        all_rows.gen == all_rows.groupby("grp").gen.transform("max")
    ]
    got = (
        last[["grp", "b", "c"]]
        .sort_values(["grp", "b"])
        .reset_index(drop=True)
    )
    exp_cells = dd_bucket_rows(ev, "event_type", "value")
    exp = (
        exp_cells.toPandas()
        .sort_values(["grp", "b"])
        .reset_index(drop=True)
    )
    assert got.equals(exp)
    # state stays sketch-sized: every group's histogram is <= ~800
    # cells regardless of stream length (bounded by value-range log)
    assert (last.groupby("grp").size() < 900).all()
    # read-out parity: dd_quantiles over streaming state == batch
    stream_cells = spark.createDataFrame(got)
    qs = dd_quantiles(stream_cells).toPandas().sort_values("grp")
    qb = dd_quantiles(exp_cells).toPandas().sort_values("grp")
    assert qs.reset_index(drop=True).equals(qb.reset_index(drop=True))


def test_stream_dd_buckets_rejects_batch_frame(spark):
    from centimators_spark.streaming.sketch import dd_buckets_stream

    with pytest.raises(ValueError):
        dd_buckets_stream(load_table(spark, SF, "events"))


def test_stream_cdc_contributions_out_of_order(spark, tmp_path):
    """Streaming CDC contributions must keep latest-wins ACROSS
    micro-batches even when an OLDER change arrives in a LATER batch
    (replayed partition): final per-key contributions, summed per
    group and added to the base aggregate, equal the batch
    incremental_agg over the full stream exactly."""
    import pandas as pd

    from centimators_spark.reconcile import incremental_agg
    from centimators_spark.streaming.cdc import cdc_contributions_stream

    base_pdf = pd.DataFrame(
        {
            "k": [1, 2, 3],
            "grp": ["A", "A", "B"],
            "v": pd.array([10, 20, 5], dtype="Int64"),
        }
    )
    base = spark.createDataFrame(base_pdf)
    # batch a (arrives FIRST) carries the NEWER seq=2 changes;
    # batch b (arrives second) carries seq=1 — out-of-order delivery
    ch_a = pd.DataFrame(
        {
            "k": [1, 2, 4],
            "seq": [2, 2, 2],
            "op": ["D", "U", "U"],
            "v": pd.array([None, 25, 8], dtype="Int64"),
        }
    )
    ch_b = pd.DataFrame(
        {
            "k": [1, 2, 4, 5],
            "seq": [1, 1, 1, 1],
            "op": ["U", "U", "U", "D"],
            "v": pd.array([11, 22, 7, None], dtype="Int64"),
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(ch_a).coalesce(1).write.parquet(
        src + "/a.parquet"
    )
    spark.createDataFrame(ch_b).coalesce(1).write.parquet(
        src + "/b.parquet"
    )
    # pin file mtimes so the file source DELIVERS a (newer seqs)
    # strictly before b — the out-of-order property under test must
    # not depend on write-time mtime granularity
    import glob as _glob
    import os as _os
    import time as _time

    now = _time.time()
    for f in _glob.glob(src + "/a.parquet/*"):
        _os.utime(f, (now - 60, now - 60))
    for f in _glob.glob(src + "/b.parquet/*"):
        _os.utime(f, (now, now))
    schema = spark.createDataFrame(ch_a).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/*")
    )
    q = (
        cdc_contributions_stream(stream, base)
        .writeStream.format("memory")
        .queryName("cdc_contrib")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish in 120s"
    assert q.lastProgress["batchId"] >= 1
    all_rows = spark.sql("SELECT * FROM cdc_contrib").toPandas()
    last = all_rows[
        all_rows.gen == all_rows.groupby("k").gen.transform("max")
    ]
    # assemble: base aggregate + final contributions per group
    base_agg = (
        base_pdf.groupby("grp", dropna=False)
        .agg(n=("v", "size"), s=("v", "sum"))
        .reset_index()
    )
    contrib = (
        last.groupby("grp", dropna=False)
        .agg(dn=("dn", "sum"), ds=("ds", "sum"))
        .reset_index()
    )
    merged = base_agg.merge(contrib, on="grp", how="outer")
    for c in ("n", "s", "dn", "ds"):
        merged[c] = merged[c].fillna(0)
    merged["n_rows"] = (merged.n + merged.dn).astype(int)
    merged["sum_val"] = (merged.s + merged.ds).astype(int)
    got = {
        (None if pd.isna(r.grp) else r.grp): (r.n_rows, r.sum_val)
        for r in merged.itertuples()
        if r.n_rows > 0
    }
    exp_df = incremental_agg(
        base,
        spark.createDataFrame(pd.concat([ch_a, ch_b])),
        ["k"], ["seq"], "v", "grp",
    ).toPandas()
    exp = {
        (None if pd.isna(r.grp) else r.grp): (r.n_rows, r.sum_val)
        for r in exp_df.itertuples()
    }
    # the seq=2 deletes/updates must win although seq=1 arrived later:
    # A: k1 deleted, k2 -> 25 => (1, 25); B untouched (1, 5);
    # NULL group: k4 inserted at 8 (seq=2 wins over 7)
    assert got == exp == {"A": (1, 25), "B": (1, 5), None: (1, 8)}


def test_stream_cdc_contributions_rejects_batch_frame(spark):
    from centimators_spark.streaming.cdc import cdc_contributions_stream

    with pytest.raises(ValueError):
        cdc_contributions_stream(
            load_table(spark, SF, "events"),
            load_table(spark, SF, "customer"),
        )
