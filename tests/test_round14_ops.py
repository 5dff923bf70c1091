"""Round-14 staged operator tests: hand-computed traces + oracle
parity on adversarial micro-fixtures (deletes, re-inserts, no-op
updates, inserts of unseen keys — the regimes the gate fixture's
order stream only partially covers)."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _compare(name, sdf, odf):
    from check_oracle import compare

    return compare(name, sdf, odf)


# --------------------------------------------------------- cdc_scd2_audit

def test_cdc_scd2_audit_hand_trace(spark):
    """History (SCD2 over the change stream) and snapshot (CDC
    latest-wins merge) must agree key by key: upserted keys
    'consistent' with the open interval's value, deleted keys
    'deleted' with a NULL open attribute, and the version counter
    counts COLLAPSED (non-no-op) changes."""
    from centimators_spark.analytics import scd2_intervals
    from centimators_spark.reconcile import cdc_apply

    # key 1: U 10 -> U 10 (no-op, collapses) -> U 20   => 2 versions,
    #   open value 20, snapshot 20 -> consistent
    # key 2: U 5 -> D                                  => deleted
    # key 3: in base only, no changes                  => not audited
    # key 4: INSERT (not in base): U 7                 => consistent
    # key 5: D -> U 9 (delete then re-insert; latest U wins)
    #   => consistent, 2 versions (NULL attr then 9)
    base = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, 3.0)], "k long, v double"
    )
    changes = spark.createDataFrame(
        [
            (1, 1, 1, "U", 10.0),
            (1, 1, 2, "U", 10.0),
            (1, 2, 3, "U", 20.0),
            (2, 1, 4, "U", 5.0),
            (2, 2, 5, "D", None),
            (4, 1, 6, "U", 7.0),
            (5, 1, 7, "D", None),
            (5, 2, 8, "U", 9.0),
        ],
        "k long, seq long, id long, op string, v double",
    )
    ch_attr = changes.withColumn(
        "attr", F.when(F.col("op") != "D", F.col("v"))
    ).withColumn("ts", F.to_timestamp(F.col("seq").cast("string"),
                                      "s"))
    # scd2 needs a timestamp order key; seconds-since-epoch works
    hist = scd2_intervals(
        ch_attr, "attr", entity_col="k", ts_col="ts", id_col="id"
    )
    open_iv = (
        hist.where(F.col("valid_to_epoch").isNull())
        .select("k", "attr", "version")
        .toPandas()
        .set_index("k")
    )
    assert open_iv.loc[1].attr == 20.0 and open_iv.loc[1].version == 2
    assert pd.isna(open_iv.loc[2].attr)
    assert open_iv.loc[4].attr == 7.0 and open_iv.loc[4].version == 1
    assert open_iv.loc[5].attr == 9.0 and open_iv.loc[5].version == 2

    snap = (
        cdc_apply(base, changes, keys=["k"], seq_cols=["seq", "id"],
                  value_cols=["v"])
        .toPandas()
        .set_index("k")
    )
    # merged snapshot: 1->20 changed, 2 deleted, 3 carried, 4 inserted,
    # 5 re-inserted as 9
    assert set(snap.index) == {1, 3, 4, 5}
    assert snap.loc[1].v == 20.0 and snap.loc[1].changed == 1
    assert snap.loc[3].v == 3.0 and snap.loc[3].changed == 0
    assert snap.loc[4].v == 7.0 and snap.loc[5].v == 9.0

    # the audit statuses the gate query derives from these halves
    changed = snap[snap.changed == 1]
    statuses = {}
    for k in set(open_iv.index) | set(changed.index):
        hb = open_iv.attr.get(k)
        sb = changed.v.get(k)
        if pd.isna(sb) and pd.isna(hb):
            statuses[k] = "deleted"
        elif hb == sb:
            statuses[k] = "consistent"
        else:
            statuses[k] = "mismatch"
    assert statuses == {
        1: "consistent", 2: "deleted", 4: "consistent", 5: "consistent"
    }


def test_cdc_scd2_audit_gate_query_all_consistent(spark):
    """On the real gate fixture the audit must contain ONLY
    'consistent' and 'deleted' rows — a 'mismatch' would mean the two
    operators disagree about the same change stream."""
    import __spark_entry__ as entrymod

    sdf = entrymod.q_cdc_scd2_audit(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert set(sdf.status) <= {"consistent", "deleted"}
    assert (sdf.status == "consistent").any()
    assert (sdf.status == "deleted").any()


# ------------------------------------------------------ plan_join_contract

def test_plan_join_contract_decision_is_salted(spark):
    """The gate query's advisor decision must be 'salted' at every
    SF (the skewed key owns ~75% of lineitem rows and broadcast is
    disabled) — the constant the oracle hardcodes."""
    import __spark_entry__ as entrymod

    sdf = entrymod.q_plan_join_contract(
        spark, "/root/testdata/sf0.001"
    ).limit(5).toPandas()
    assert (sdf.strategy == "salted").all()


# ------------------------------------------------------- dd_sketch_contract

def test_dd_sketch_contract_has_teeth(spark):
    """The kernel-contract must flip red when the sketch's accuracy
    breaks: with a deliberately mis-scaled estimate (midpoint of the
    WRONG bucket — one octave off) at least one group falls outside
    the alpha band, so n_within < n_groups and the driver hash
    changes."""
    import __spark_entry__ as entrymod

    sdf = entrymod.q_dd_sketch_contract(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    r = sdf.iloc[0]
    assert r.n_groups > 0
    assert (
        r.n_within_q25 == r.n_within_q50 == r.n_within_q75 == r.n_groups
    )

    # broken variant: a ONE-OCTAVE bucket error (estimates doubled)
    # checked against the REAL exact quantiles — every group must
    # fall outside the alpha band, so the contract's n_within would
    # collapse and the driver hash flip
    from centimators_spark.io import load_table
    from centimators_spark.sketches import (
        DD_ALPHA,
        dd_bucket_rows,
        dd_quantiles,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    sk = (
        dd_quantiles(dd_bucket_rows(ev, "event_type", "value"))
        .toPandas()
        .set_index("grp")
    )
    import math

    exact = (
        ev.toPandas()
        .assign(cents=lambda d: (d.value * 100).round().astype("int64"))
        .query("cents > 0")
        .groupby("event_type")
        # exact type-1 median: smallest v with rank >= ceil(n/2),
        # the contract's integer cross-multiplication definition
        .cents.apply(
            lambda s: sorted(s)[math.ceil(len(s) / 2) - 1]
        )
    )
    n_within_true = n_within_broken = 0
    for g, ex in exact.items():
        est_cents = sk.loc[g, "q50_est"] * 100.0
        if abs(est_cents - ex) <= DD_ALPHA * ex + 1e-6:
            n_within_true += 1
        if abs(est_cents * 2.0 - ex) <= DD_ALPHA * ex + 1e-6:
            n_within_broken += 1
    assert n_within_true == len(exact)  # the true estimator is in-band
    assert n_within_broken == 0  # the octave-off estimator never is


# ------------------------------------------------------ incr_agg_maintain

def test_incremental_agg_hand_trace_and_recompute_parity(spark):
    """Delta maintenance must equal the full recompute on every CDC
    regime: update, delete, insert (NULL group), delete-of-unseen-key
    no-op, NULL old value, NULL base group, and a group emptied to
    n=0 dropping out."""
    from centimators_spark.reconcile import (
        incremental_agg,
        incremental_agg_oracle_sql,
    )

    # base: group A = keys 1 (v 10) and 2 (v NULL); group B = key 3
    # (v 5); group NULL = key 6 (v 4)
    base_pdf = pd.DataFrame(
        {
            "k": [1, 2, 3, 6],
            "grp": ["A", "A", "B", None],
            "v": pd.array([10, None, 5, 4], dtype="Int64"),
        }
    )
    base = spark.createDataFrame(base_pdf)
    # changes: k1 U 12 (update), k2 D (delete NULL-valued row),
    # k3 U 5 -> then D (latest D wins: group B empties out),
    # k4 U 7 (insert -> NULL group), k5 D (unseen: no-op),
    # k6 U NULL (update to NULL value)
    ch_pdf = pd.DataFrame(
        {
            "k": [1, 2, 3, 3, 4, 5, 6],
            "seq": [1, 1, 1, 2, 1, 1, 1],
            "op": ["U", "D", "U", "D", "U", "D", "U"],
            "v": pd.array([12, None, 9, None, 7, None, None],
                          dtype="Int64"),
        }
    )
    changes = spark.createDataFrame(ch_pdf)
    out = (
        incremental_agg(base, changes, ["k"], ["seq"], "v", "grp")
        .toPandas()
        .sort_values("grp", na_position="first")
        .reset_index(drop=True)
    )
    got = {
        (None if pd.isna(r.grp) else r.grp): (r.n_rows, r.sum_val)
        for r in out.itertuples()
    }
    # A: k1 12 (updated), k2 deleted -> n=1 sum=12
    # B: emptied (k3 deleted) -> dropped
    # NULL group: k6 updated to NULL (n=1 sum=0) + k4 inserted
    #   (n=1 sum=7) -> n=2 sum=7
    assert got == {"A": (1, 12), None: (2, 7)}

    con = duckdb.connect()
    con.register("b", base_pdf)
    con.register("c", ch_pdf)
    odf = con.execute(
        incremental_agg_oracle_sql("b", "c", ["k"], ["seq"], "v", "grp")
    ).fetchdf()
    sdf = incremental_agg(
        base, changes, ["k"], ["seq"], "v", "grp"
    ).toPandas()
    assert _compare("incr_agg_micro", sdf, odf)


def test_incremental_agg_composes_across_days(spark):
    """Two-step maintenance (apply day-1 changes, then maintain with
    day-2 changes against the day-1 snapshot) must equal one-step
    maintenance over the concatenated stream — the multi-day
    property a production rollup pipeline relies on."""
    from centimators_spark.reconcile import incremental_agg

    base_pdf = pd.DataFrame(
        {
            "k": [1, 2, 3],
            "grp": ["A", "A", "B"],
            "v": pd.array([10, 20, 5], dtype="Int64"),
        }
    )
    ch1 = pd.DataFrame(
        {
            "k": [1, 4],
            "seq": [1, 1],
            "op": ["U", "U"],
            "v": pd.array([11, 7], dtype="Int64"),
        }
    )
    ch2 = pd.DataFrame(
        {
            "k": [1, 2, 4],
            "seq": [2, 2, 2],
            "op": ["D", "U", "U"],
            "v": pd.array([None, 25, 8], dtype="Int64"),
        }
    )
    # day-1 snapshot, hand-applied: k1->11, k4 inserted (NULL group)
    base2_pdf = pd.DataFrame(
        {
            "k": [1, 2, 3, 4],
            "grp": ["A", "A", "B", None],
            "v": pd.array([11, 20, 5, 7], dtype="Int64"),
        }
    )
    one_step = (
        incremental_agg(
            spark.createDataFrame(base_pdf),
            spark.createDataFrame(pd.concat([ch1, ch2])),
            ["k"], ["seq"], "v", "grp",
        )
        .toPandas().sort_values("grp", na_position="first")
        .reset_index(drop=True)
    )
    two_step = (
        incremental_agg(
            spark.createDataFrame(base2_pdf),
            spark.createDataFrame(ch2),
            ["k"], ["seq"], "v", "grp",
        )
        .toPandas().sort_values("grp", na_position="first")
        .reset_index(drop=True)
    )
    assert one_step.equals(two_step)
    got = {
        (None if pd.isna(r.grp) else r.grp): (r.n_rows, r.sum_val)
        for r in one_step.itertuples()
    }
    # A: k1 deleted, k2 -> 25 => (1, 25); B untouched (1, 5);
    # NULL: k4 -> 8 => (1, 8)
    assert got == {"A": (1, 25), "B": (1, 5), None: (1, 8)}


def test_bootstrap_kernels_agree_across_md5_paths(spark):
    """r14: the Arrow kernels' vectorized single-block MD5 + reduceat
    partial sums must match the DuckDB oracles on ids exercising BOTH
    the fast path (short ASCII) and the hashlib fallback (oversized /
    non-ASCII ids force pack_base to reject the whole batch)."""
    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.ml.bootstrap import (
        bootstrap_mean_ci,
        bootstrap_mean_ci_oracle_sql,
        permutation_sign_test,
        permutation_sign_test_oracle_sql,
    )

    def frame(ids):
        return pd.DataFrame(
            {
                "g": [f"G{i % 3}" for i in range(len(ids))],
                "id": ids,
                "v": [(-1) ** i * (i * 13.37 + 0.01) for i in range(len(ids))],
            }
        )

    short_ids = [f"{i * 7}:{i % 5}" for i in range(200)]
    long_ids = ["x" * 60 + str(i) for i in range(100)] + ["ünïcode" + str(i) for i in range(100)]
    con = duckdb.connect()
    for ids in (short_ids, long_ids):
        pdf = frame(ids)
        df = spark.createDataFrame(pdf)
        con.register("tbl", pdf)
        for fn, oracle in (
            (bootstrap_mean_ci, bootstrap_mean_ci_oracle_sql),
            (permutation_sign_test, permutation_sign_test_oracle_sql),
        ):
            got = fn(df, "g", "id", "v").toPandas()
            want = con.execute(oracle("tbl", "g", "id", "v")).fetchdf()
            assert len(got) == 3
            assert compare(fn.__name__, got, want)


def test_deleted_strategy_options_raise_type_error():
    """Each operator has one implementation: the options that selected
    a second one (``kernel=``, ``verify=``, ``fake=``) are gone, so
    passing them fails at the call."""
    from centimators_spark.dedup.semantic import semantic_dedup
    from centimators_spark.ml.bootstrap import (
        bootstrap_mean_ci,
        permutation_sign_test,
    )
    from centimators_spark.multimodal import decode_images

    calls = (
        lambda: bootstrap_mean_ci(None, "g", "id", "v", kernel="expr"),
        lambda: permutation_sign_test(None, "g", "id", "v", kernel="arrow"),
        lambda: semantic_dedup(None, dim=8, verify="expr"),
        lambda: decode_images(None, fake=True),
    )
    for call in calls:
        with pytest.raises(TypeError, match="unexpected keyword argument"):
            call()
