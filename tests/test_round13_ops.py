"""Round-13 staged operator tests: hand-computed traces + oracle
parity on adversarial micro-fixtures (NULLs, ties, negatives — the
regimes the positive-valued gate fixtures cannot see)."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _compare(name, sdf, odf):
    from check_oracle import compare

    return compare(name, sdf, odf)


# ------------------------------------------------------------ event_paths

def test_event_paths_hand_trace_and_oracle(spark):
    from centimators_spark.analytics import (
        event_paths,
        event_paths_oracle_sql,
    )

    rows = [
        # user 1: a b c d  -> paths a>b>c, b>c>d
        (1, 1, "2024-01-01 00:00:00", "a"),
        (2, 1, "2024-01-01 00:01:00", "b"),
        (3, 1, "2024-01-01 00:02:00", "c"),
        (4, 1, "2024-01-01 00:03:00", "d"),
        # user 2: a b c -> a>b>c (ties on ts broken by event_id)
        (6, 2, "2024-01-02 00:00:00", "b"),
        (5, 2, "2024-01-02 00:00:00", "a"),
        (7, 2, "2024-01-02 00:05:00", "c"),
        # user 3: too short for any 3-path
        (8, 3, "2024-01-03 00:00:00", "a"),
        (9, 3, "2024-01-03 00:01:00", "b"),
        # user 4: NULL type mid-stream kills the windows crossing it
        (10, 4, "2024-01-04 00:00:00", "a"),
        (11, 4, "2024-01-04 00:01:00", None),
        (12, 4, "2024-01-04 00:02:00", "b"),
        (13, 4, "2024-01-04 00:03:00", "c"),
        (14, 4, "2024-01-04 00:04:00", "d"),
        # user 5: a NULL-ts event must sort LAST on BOTH engines
        # (Spark's asc default is NULLS FIRST — the explicit
        # asc_nulls_last in event_paths is what keeps parity)
        (15, 5, None, "x"),
        (16, 5, "2024-01-05 00:00:00", "a"),
        (17, 5, "2024-01-05 00:01:00", "b"),
        (18, 5, "2024-01-05 00:02:00", "c"),
    ]
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (i, u, datetime.fromisoformat(t) if t else None, e)
            for i, u, t, e in rows
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    got = {
        r.path: r.n_occurrences
        for r in event_paths(df).collect()
    }
    # user 5 contributes a>b>c and b>c>x (the NULL-ts 'x' sorts last)
    assert got == {"a>b>c": 3, "b>c>d": 2, "b>c>x": 1}
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            [(i, u, pd.Timestamp(t), e) for i, u, t, e in rows],
            columns=["event_id", "user_id", "ts", "event_type"],
        ),
    )
    odf = con.execute(event_paths_oracle_sql("events")).fetchdf()
    sdf = event_paths(df).toPandas()
    assert _compare("event_paths", sdf, odf)


# -------------------------------------------------------- theil_sen_trend

def test_theil_sen_hand_trace(spark):
    from centimators_spark.analytics import theil_sen_trend

    # group g: daily totals day0=1.00, day1=3.00, day3=2.00 (cents
    # 100/300/200). slopes: (300-100)/1=200e6? in micro-units of
    # cents/day: trunc(200*1e6/1)=200000000; (200-100)/3 ->
    # trunc(100e6/3)=33333333; (200-300)/2 -> trunc(-100e6/2)=-50000000
    # sorted: [-50000000, 33333333, 200000000] -> median 33333333,
    # slope2 = 2*33333333 = 66666666
    rows = [
        ("g", "2024-01-01 10:00:00", 1.0),
        ("g", "2024-01-02 09:00:00", 1.5),
        ("g", "2024-01-02 12:00:00", 1.5),
        ("g", "2024-01-04 00:00:00", 2.0),
        ("g", "2024-01-04 23:59:59", None),  # NULL value excluded
        ("g", None, 9.0),  # NULL ts excluded
    ]
    from datetime import datetime

    df = spark.createDataFrame(
        [
            (g, datetime.fromisoformat(t) if t else None, v)
            for g, t, v in rows
        ],
        "grp string, ts timestamp, value double",
    )
    out = theil_sen_trend(df, "grp", "ts", "value").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_days, r.n_pairs, r.slope2_micro) == (3, 3, 66666666)


def test_theil_sen_negative_truncation_matches_oracle(spark):
    from centimators_spark.analytics import (
        theil_sen_trend,
        theil_sen_trend_oracle_sql,
    )

    # inexact NEGATIVE slopes: trunc-toward-zero vs floor differ here
    rows = [
        ("g", "2024-01-01 00:00:00", 2.0),
        ("g", "2024-01-04 00:00:00", 1.0),  # slope -100c/3d -> trunc
        ("h", "2024-01-01 00:00:00", 5.0),
        ("h", "2024-01-08 00:00:00", 2.0),  # -300c/7d -> trunc
    ]
    pdf = pd.DataFrame(
        [(g, pd.Timestamp(t), v) for g, t, v in rows],
        columns=["grp", "ts", "value"],
    )
    df = spark.createDataFrame(pdf)
    sdf = theil_sen_trend(df, "grp", "ts", "value").toPandas()
    got = sdf.set_index("grp").slope2_micro
    # trunc(-100e6/3) = -33333333 (floor is -33333334); x2
    assert got["g"] == -66666666
    # trunc(-300e6/7) = -42857142 (floor is -42857143); x2
    assert got["h"] == -85714284
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(
        theil_sen_trend_oracle_sql("t", "grp", "ts", "value")
    ).fetchdf()
    assert _compare("theil_sen_neg", sdf, odf)


# -------------------------------------------------------- join_skew_audit

def test_join_skew_audit_hand_trace(spark):
    from centimators_spark.profile import (
        join_skew_audit,
        join_skew_audit_oracle_sql,
    )

    # key k1: values a x3, b x1, NULL x2 -> n_rows=4, n_keys=2,
    # max=3, top 'a', share=floor(3000/4)=750,
    # skew=floor(3000*2/4)=1500; counts {3:1, 1:1} -> p50: min cnt
    # with cum*2 >= 2 -> cnt=1; p99: min cnt with cum*100 >= 198 ->
    # cnt=3
    rows = [
        ("a", "u"), ("a", "u"), ("a", "v"), ("b", "v"),
        (None, "u"), (None, "w"),
    ]
    pdf = pd.DataFrame(rows, columns=["k1", "k2"])
    df = spark.createDataFrame(pdf)
    sdf = join_skew_audit(df, ["k1", "k2"]).toPandas()
    r = sdf.set_index("key_name").loc["k1"]
    assert (
        r.n_rows, r.n_null, r.n_keys, r.max_cnt, r.p50_cnt, r.p99_cnt
    ) == (4, 2, 2, 3, 1, 3)
    assert r.top_key == "a"
    assert r.top1_share_milli == 750 and r.skew_milli == 1500
    # k2: u x3 (incl. rows where k1 null), v x2, w x1 -> top 'u'
    r2 = sdf.set_index("key_name").loc["k2"]
    assert (r2.n_rows, r2.n_null, r2.n_keys, r2.max_cnt) == (6, 0, 3, 3)
    assert r2.top_key == "u" and r2.top1_share_milli == 500
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(
        join_skew_audit_oracle_sql("t", ["k1", "k2"])
    ).fetchdf()
    assert _compare("join_skew_audit", sdf, odf)


def test_join_skew_audit_all_null_key(spark):
    from centimators_spark.profile import (
        join_skew_audit,
        join_skew_audit_oracle_sql,
    )

    # a key column that is entirely NULL must not divide by zero —
    # it simply has no non-null row to audit (no row for that key)
    pdf = pd.DataFrame({"k1": [None, None], "k2": ["a", "b"]})
    df = spark.createDataFrame(pdf, "k1 string, k2 string")
    sdf = join_skew_audit(df, ["k1", "k2"]).toPandas()
    assert set(sdf.key_name) == {"k2"}
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(
        join_skew_audit_oracle_sql("t", ["k1", "k2"])
    ).fetchdf()
    assert _compare("join_skew_audit_allnull", sdf, odf)


# -------------------------------------------------------------- cdc_apply

def test_cdc_apply_hand_trace(spark):
    from centimators_spark.reconcile import (
        cdc_apply,
        cdc_apply_oracle_sql,
    )

    base = pd.DataFrame(
        {"id": [1, 2, 3, 4], "bal": [10.0, 20.0, 30.0, 40.0]}
    )
    # id 1: U(seq2, 99) wins over D(seq1)  -> bal 99
    # id 2: D(seq5) wins over U(seq4, 7)   -> dropped
    # id 3: no change                      -> bal 30
    # id 5: U insert (not in base)         -> bal 55
    # id 4: D on a base row                -> dropped
    changes = pd.DataFrame(
        {
            "id": [1, 1, 2, 2, 5, 4],
            "seq": [1, 2, 4, 5, 1, 9],
            "op": ["D", "U", "U", "D", "U", "D"],
            "bal": [0.0, 99.0, 7.0, 0.0, 55.0, 0.0],
        }
    )
    sdf = cdc_apply(
        spark.createDataFrame(base),
        spark.createDataFrame(changes),
        keys=["id"],
        seq_cols=["seq"],
        value_cols=["bal"],
    ).toPandas()
    got = dict(zip(sdf.id, sdf.bal))
    assert got == {1: 99.0, 3: 30.0, 5: 55.0}
    chg = dict(zip(sdf.id, sdf.changed))
    assert chg == {1: 1, 3: 0, 5: 1}
    con = duckdb.connect()
    con.register("b", base)
    con.register("c", changes)
    odf = con.execute(
        cdc_apply_oracle_sql(
            "b", "c", keys=["id"], seq_cols=["seq"], value_cols=["bal"]
        )
    ).fetchdf()
    assert _compare("cdc_apply", sdf, odf)


# ----------------------------------------------- dsir_budget_select

def test_dsir_budget_uses_dsir_scores_as_quality(spark):
    """The composed query's selected set must be exactly the greedy
    logw-descending prefix within the token budget — verified against
    an independently computed reference from dsir_scores + pandas."""
    import __spark_entry__ as entrymod
    from centimators_spark.text.dsir import dsir_scores
    from centimators_spark.text.portable import tokens

    import pyspark.sql.functions as F

    sf = "/root/testdata/sf0.001"
    docs = entrymod.load_table(spark, sf, "documents")
    scores = dsir_scores(docs, entrymod.DSIR_TARGET).toPandas()
    ntok = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    ).toPandas()
    ref = scores.merge(ntok, on="doc_id").sort_values(
        ["logw_micro", "doc_id"], ascending=[False, True]
    )
    budget = int(ref.n_tokens.sum() * entrymod.DSIR_BUDGET_FRAC)
    ref["cum"] = ref.n_tokens.cumsum()
    want = set(ref[ref.cum <= budget].doc_id)
    got = entrymod.q_dsir_budget_select(spark, sf).toPandas()
    assert set(got.doc_id) == want
    assert (got.score.values == got.score.values) .all()  # no NaN scores


# ------------------------------------------------- benjamini_hochberg

def test_benjamini_hochberg_step_up_semantics(spark):
    from centimators_spark.ml.abtest import (
        benjamini_hochberg,
        benjamini_hochberg_oracle_sql,
    )

    # the STEP-UP property: rank 2 (p=50 > 20*2/1000) fails its own
    # threshold but a LATER rank qualifies (rank 4: 60*5 <= 400), so
    # every p <= 60 is rejected — including the individually-failing
    # p=50. m=5, q=0.10: condition p_milli*5 <= rank*100.
    rows = [("a", 15), ("b", 50), ("c", 55), ("d", 60), ("e", 1000),
            ("f", None)]
    pdf = pd.DataFrame(rows, columns=["grp", "p_milli"]).astype(
        {"p_milli": "Int64"}
    )
    df = spark.createDataFrame(rows, "grp string, p_milli long")
    sdf = benjamini_hochberg(df, "grp", "p_milli").toPandas()
    got = dict(zip(sdf.grp, sdf.rejected))
    assert got == {"a": 1, "b": 1, "c": 1, "d": 1, "e": 0}
    assert (sdf.m_tests == 5).all()  # NULL p excluded from m
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(benjamini_hochberg_oracle_sql("t")).fetchdf()
    assert _compare("bh_stepup", sdf, odf)

    # nothing qualifies -> p_star NULL -> zero rejections
    rows2 = [("a", 900), ("b", 950)]
    df2 = spark.createDataFrame(rows2, "grp string, p_milli long")
    sdf2 = benjamini_hochberg(df2, "grp", "p_milli").toPandas()
    assert (sdf2.rejected == 0).all()
    con.register("t2", pd.DataFrame(rows2, columns=["grp", "p_milli"]))
    odf2 = con.execute(benjamini_hochberg_oracle_sql("t2")).fetchdf()
    assert _compare("bh_none", sdf2, odf2)

    # a NULL hypothesis key TIED on p_milli must rank identically on
    # both engines (explicit NULLS LAST — Spark's asc default would
    # put the NULL grp first, DuckDB's last)
    rows3 = [("a", 50), (None, 50), ("b", 50), ("z", 900)]
    df3 = spark.createDataFrame(rows3, "grp string, p_milli long")
    sdf3 = benjamini_hochberg(df3, "grp", "p_milli").toPandas()
    ranks = dict(
        zip(sdf3.grp.where(sdf3.grp.notna(), None), sdf3.p_rank)
    )
    assert ranks[None] == 3  # after 'a' and 'b', before 'z'
    con.register("t3", pd.DataFrame(rows3, columns=["grp", "p_milli"]))
    odf3 = con.execute(benjamini_hochberg_oracle_sql("t3")).fetchdf()
    assert _compare("bh_null_grp_tie", sdf3, odf3)


def test_event_paths_nullts_contract_has_teeth(spark):
    """The NULL-order-key gate contract (r12 verdict item 2a) must
    actually exercise the parity class: on a fixture with NULL ts
    values, the shipped explicit-NULLS-LAST ordering matches the
    DuckDB oracle, while Spark's DEFAULT ascending ordering (NULLS
    FIRST) yields a DIFFERENT path multiset — i.e. deleting the
    asc_nulls_last in analytics.event_paths flips the contract red."""
    from pyspark.sql import Window

    from centimators_spark.analytics import (
        event_paths,
        event_paths_oracle_sql,
    )

    rows = []
    for u in range(8):
        for i in range(6):
            eid = u * 10 + i
            ts = None if eid % 3 == 0 else f"2024-01-{i + 1:02d}"
            rows.append((u, f"t{(eid * 7) % 4}", eid, ts))
    pdf = pd.DataFrame(rows, columns=["user_id", "event_type",
                                      "event_id", "nts"])
    pdf["nts"] = pd.to_datetime(pdf["nts"])
    df = spark.createDataFrame(pdf)

    sdf = event_paths(df, ts_col="nts", k=100).toPandas()
    con = duckdb.connect()
    con.register("ev", pdf)
    odf = con.execute(
        event_paths_oracle_sql("ev", ts_sql="nts", k=100)
    ).fetchdf()
    assert _compare("event_paths_nullts_micro", sdf, odf)

    # the deliberately-broken variant: Spark's implicit ascending
    # (NULLS FIRST) — must NOT match the oracle's path counts
    w = Window.partitionBy("user_id").orderBy("nts", "event_id")
    broken = (
        df.select(
            F.col("event_type").alias("s0"),
            F.lead("event_type", 1).over(w).alias("s1"),
            F.lead("event_type", 2).over(w).alias("s2"),
        )
        .where(F.col("s1").isNotNull() & F.col("s2").isNotNull())
        .select(F.concat_ws(">", "s0", "s1", "s2").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .toPandas()
    )
    merged = broken.merge(
        odf, on="path", how="outer", suffixes=("_broken", "_oracle")
    )
    assert not (
        merged["n_occurrences_broken"]
        .fillna(-1)
        .eq(merged["n_occurrences_oracle"].fillna(-1))
        .all()
    ), "fixture fails to discriminate NULLS FIRST from NULLS LAST"


def test_benjamini_hochberg_refuses_fractional_p(spark):
    """r12 advice item 4: a conventional fractional p-value column
    (0.05) would silently truncate to 0 under the milli-unit long cast
    and be rejected at any q — the misuse must fail loudly instead."""
    from centimators_spark.ml.abtest import benjamini_hochberg

    df = spark.createDataFrame(
        [("a", 0.05), ("b", 0.90)], "grp string, p double"
    )
    with pytest.raises(ValueError, match="milli-unit"):
        benjamini_hochberg(df, "grp", "p")
    # fractional decimal refused too; integral decimal passes through
    dec = df.select("grp", F.col("p").cast("decimal(10,3)").alias("p"))
    with pytest.raises(ValueError, match="milli-unit"):
        benjamini_hochberg(dec, "grp", "p")
    ok = spark.createDataFrame(
        [("a", 50), ("b", 900)], "grp string, p_milli long"
    ).select("grp", F.col("p_milli").cast("decimal(10,0)").alias("p_milli"))
    out = benjamini_hochberg(ok, "grp", "p_milli").toPandas()
    assert set(out.grp) == {"a", "b"}


# ----------------------------------------------------- purged_kfold

def test_purged_kfold_hand_trace(spark):
    from centimators_spark.model_selection import (
        purged_kfold_eras,
        purged_kfold_eras_oracle_sql,
    )

    # 10 eras, k=5 -> folds of 2, embargo 1: fold 2 validates ranks
    # 5-6 (eras 50,60), purges ranks 4 and 7, trains the rest
    rows = [(e,) for e in range(10, 101, 10)] + [(None,), (50,)]
    pdf = pd.DataFrame(rows, columns=["era"]).astype({"era": "Int64"})
    df = spark.createDataFrame(rows, "era long")
    sdf = purged_kfold_eras(df, "era").toPandas()
    assert len(sdf) == 50  # 5 folds x 10 eras; NULL era excluded
    f2 = sdf[sdf.fold == 2].set_index("era").role
    assert f2[50] == "val" and f2[60] == "val"
    assert f2[40] == "purged" and f2[70] == "purged"
    assert all(f2[e] == "train" for e in (10, 20, 30, 80, 90, 100))
    # every fold validates exactly 2 eras and purges exactly 2 here
    per = sdf.groupby(["fold", "role"]).size()
    assert all(per[f, "val"] == 2 for f in range(5))
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(purged_kfold_eras_oracle_sql("t", "era")).fetchdf()
    assert _compare("purged_kfold", sdf, odf)


def test_purged_kfold_uneven_and_edges(spark):
    from centimators_spark.model_selection import (
        purged_kfold_eras,
        purged_kfold_eras_oracle_sql,
    )
    import pytest

    # n=10, k=3 -> fold sizes 3/3/4 by the integer rule; boundary
    # folds only purge inward
    rows = [(e,) for e in range(1, 11)]
    df = spark.createDataFrame(rows, "era long")
    sdf = purged_kfold_eras(df, "era", k=3).toPandas()
    sizes = sdf[sdf.role == "val"].groupby("fold").size()
    assert list(sizes) == [3, 3, 4]
    f0 = sdf[sdf.fold == 0].set_index("era").role
    assert f0[4] == "purged" and f0[5] == "train"  # only inward purge
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["era"]))
    odf = con.execute(
        purged_kfold_eras_oracle_sql("t", "era", k=3)
    ).fetchdf()
    assert _compare("purged_kfold_uneven", sdf, odf)
    with pytest.raises(ValueError):
        purged_kfold_eras(df, "era", k=1)
    with pytest.raises(ValueError):
        purged_kfold_eras(df, "era", embargo_eras=-1)


# --------------------------------------------------- cms_join_size

def test_cms_join_size_hand_trace_and_bounds(spark):
    from centimators_spark.sketches import (
        cms_join_size,
        cms_join_size_oracle_sql,
    )

    # exact = cntA(x)*cntB(x) + cntA(y)*cntB(y) = 2*1 + 1*2 = 4;
    # NULL keys never match and never enter the sketch
    a = spark.createDataFrame(
        [("x",), ("x",), ("y",), (None,)], "k string"
    )
    b = spark.createDataFrame(
        [("x",), ("y",), ("y",), ("z",)], "k string"
    )
    sdf = cms_join_size(a, "k", b, "k").toPandas()
    est, exact, over = (
        int(sdf.est_pairs[0]),
        int(sdf.exact_pairs[0]),
        int(sdf.overcount[0]),
    )
    assert exact == 4
    assert est >= exact and over == est - exact >= 0  # CMS guarantee
    con = duckdb.connect()
    con.register("ta_", pd.DataFrame({"k": ["x", "x", "y", None]}))
    con.register("tb_", pd.DataFrame({"k": ["x", "y", "y", "z"]}))
    odf = con.execute(
        cms_join_size_oracle_sql("ta_", "k", "tb_", "k")
    ).fetchdf()
    assert _compare("cms_join_size", sdf, odf)

    # disjoint key sets: exact = 0 and the estimate collapses to 0
    # whenever any sketch row has no matched bucket
    c = spark.createDataFrame([("p",), ("q",)], "k string")
    d = spark.createDataFrame([("r",), ("s",)], "k string")
    sdf2 = cms_join_size(c, "k", d, "k").toPandas()
    assert int(sdf2.exact_pairs[0]) == 0
    assert int(sdf2.est_pairs[0]) >= 0
    con.register("tc_", pd.DataFrame({"k": ["p", "q"]}))
    con.register("td_", pd.DataFrame({"k": ["r", "s"]}))
    odf2 = con.execute(
        cms_join_size_oracle_sql("tc_", "k", "td_", "k")
    ).fetchdf()
    assert _compare("cms_join_size_disjoint", sdf2, odf2)

    # empty side: exact 0, est 0, no NULLs anywhere
    e = spark.createDataFrame([], "k string")
    sdf3 = cms_join_size(e, "k", b, "k").toPandas()
    assert (int(sdf3.est_pairs[0]), int(sdf3.exact_pairs[0])) == (0, 0)


# ---------------------------------------------------- mann_kendall

def test_mann_kendall_hand_trace(spark):
    from centimators_spark.analytics import (
        mann_kendall,
        mann_kendall_oracle_sql,
    )

    # group g daily totals: d0=1.00, d1=1.00, d2=2.00, d3=0.50
    # pairs (i<j): (1,1)=0 (1,2)=+1 (1,.5)=-1 (1,2)=+1 (1,.5)=-1
    #              (2,.5)=-1  -> S = -1
    # ties: totals {100:2, 200:1, 50:1} -> tie18 = 2*1*9 = 18
    # var18 = 4*3*13 - 18 = 138
    # group h strictly decreasing 3 days: S = -3, var18 = 3*2*11 = 66
    rows = [
        ("g", "2024-01-01 00:00:00", 1.0),
        ("g", "2024-01-02 00:00:00", 1.0),
        ("g", "2024-01-03 00:00:00", 2.0),
        ("g", "2024-01-04 00:00:00", 0.5),
        ("g", None, 9.0),  # NULL ts excluded
        ("h", "2024-01-01 00:00:00", 3.0),
        ("h", "2024-01-02 00:00:00", 2.0),
        ("h", "2024-01-03 00:00:00", 1.0),
        ("h", "2024-01-03 12:00:00", None),  # NULL value excluded
    ]
    pdf = pd.DataFrame(
        [(g, pd.Timestamp(t) if t else None, v) for g, t, v in rows],
        columns=["grp", "ts", "value"],
    )
    df = spark.createDataFrame(pdf)
    sdf = mann_kendall(df, "grp", "ts", "value").toPandas()
    r = sdf.set_index("grp")
    assert (r.loc["g"].n_days, r.loc["g"].s_stat, r.loc["g"].var18) == (
        4, -1, 138,
    )
    assert (r.loc["h"].n_days, r.loc["h"].s_stat, r.loc["h"].var18) == (
        3, -3, 66,
    )
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(
        mann_kendall_oracle_sql("t", "grp", "ts", "value")
    ).fetchdf()
    assert _compare("mann_kendall", sdf, odf)


# ---------------------------------------------------- timed_funnel

def test_timed_funnel_gap_bound(spark):
    from datetime import datetime

    from centimators_spark.analytics import funnel, funnel_oracle_sql

    rows = [
        # user 1 converts fully within the window (gaps 30m, 30m)
        (1, "2024-01-01 10:00:00", "view"),
        (1, "2024-01-01 10:30:00", "click"),
        (1, "2024-01-01 11:00:00", "purchase"),
        # user 2: click 2h after view -> breaks at stage 1 under a
        # 1h bound; the purchase after it must NOT count either
        (2, "2024-01-02 10:00:00", "view"),
        (2, "2024-01-02 12:00:00", "click"),
        (2, "2024-01-02 12:10:00", "purchase"),
        # user 3: a too-late click exists, but a second click inside
        # the window rescues the funnel (min is over QUALIFYING times)
        (3, "2024-01-03 10:00:00", "view"),
        (3, "2024-01-03 10:20:00", "click"),
        (3, "2024-01-03 13:00:00", "click"),
        (3, "2024-01-03 11:10:00", "purchase"),
    ]
    pdf = pd.DataFrame(
        [(u, pd.Timestamp(t), e) for u, t, e in rows],
        columns=["user_id", "ts", "event_type"],
    )
    df = spark.createDataFrame(
        [(u, datetime.fromisoformat(t), e) for u, t, e in rows],
        "user_id long, ts timestamp, event_type string",
    )
    stages = ["view", "click", "purchase"]
    timed = funnel(df, stages, within_seconds=3600).toPandas()
    got = dict(zip(timed.user_id, timed.stages_reached))
    assert got == {1: 3, 2: 1, 3: 3}
    # the unconstrained funnel converts user 2 fully — the bound is
    # what distinguishes the semantics
    loose = funnel(df, stages).toPandas()
    assert dict(zip(loose.user_id, loose.stages_reached))[2] == 3
    con = duckdb.connect()
    con.register("t", pdf)
    odf = con.execute(
        funnel_oracle_sql("t", stages, within_seconds=3600)
    ).fetchdf()
    assert _compare("timed_funnel", timed, odf)


# ------------------------------------------- DD percentile sketch

def test_dd_sketch_relative_error_guarantee(spark):
    """The DDSketch bound (Masson et al. 2019): reading the bucket
    midpoint back gives relative error <= alpha for EVERY quantile.
    Pinned against exact type-1 quantiles on a heavy-tailed fixture
    (three orders of magnitude — where a rank-error sketch would
    blow up and the relative-error design is the point)."""
    import numpy as np

    from centimators_spark.sketches import (
        DD_ALPHA,
        dd_bucket_rows,
        dd_quantiles,
    )

    vals = [round(1.01 ** i, 2) for i in range(0, 700, 7)]  # 1 .. ~1e3
    pdf = pd.DataFrame(
        {"grp": ["g"] * len(vals), "value": vals}
    )
    df = spark.createDataFrame(pdf)
    cells = dd_bucket_rows(df, "grp", "value")
    out = dd_quantiles(cells).toPandas()
    assert out.n_rows.iloc[0] == len(vals)
    arr = np.sort(np.array(vals))
    n = len(arr)
    for (num, den), nm in zip(((1, 4), (1, 2), (3, 4)),
                              ("q25", "q50", "q75")):
        exact = arr[int(np.ceil(num * n / den)) - 1]  # type-1
        est = float(out[f"{nm}_est"].iloc[0])
        rel = abs(est - exact) / exact
        assert rel <= DD_ALPHA + 1e-6, (nm, est, exact, rel)

    # centi-value quantization: sub-cent values (v <= 0 after
    # rounding) are excluded; a zero/negative value never crashes
    df2 = spark.createDataFrame(
        pd.DataFrame({"grp": ["g"] * 3, "value": [-1.0, 0.0, 5.0]})
    )
    out2 = dd_quantiles(dd_bucket_rows(df2, "grp", "value")).toPandas()
    assert out2.n_rows.iloc[0] == 1


def test_dd_sketch_merge_is_cellwise_addition(spark):
    """Mergeability contract: building the sketch on two disjoint
    halves and adding cell-wise equals the one-shot build exactly —
    the property the streaming half and any 100 TB partial-merge
    rely on."""
    from centimators_spark.sketches import dd_bucket_rows

    vals = [round(0.37 * i % 97 + 0.5, 2) for i in range(1, 400)]
    pdf = pd.DataFrame({"grp": ["a" if i % 3 else "b" for i in
                                range(1, 400)], "value": vals})
    df = spark.createDataFrame(pdf)
    whole = (
        dd_bucket_rows(df, "grp", "value")
        .toPandas().sort_values(["grp", "b"]).reset_index(drop=True)
    )
    h1 = dd_bucket_rows(
        spark.createDataFrame(pdf.iloc[::2]), "grp", "value"
    ).toPandas()
    h2 = dd_bucket_rows(
        spark.createDataFrame(pdf.iloc[1::2]), "grp", "value"
    ).toPandas()
    merged = (
        pd.concat([h1, h2])
        .groupby(["grp", "b"], as_index=False)["c"].sum()
        .sort_values(["grp", "b"]).reset_index(drop=True)
    )
    assert merged[["grp", "b", "c"]].equals(whole[["grp", "b", "c"]])
