"""Round-12 operator tests: multi-resolution duplicated-span profile."""

import duckdb
import pandas as pd
import pytest


def test_duplicated_spans_multi_hand_trace_and_oracle(spark):
    """A 20-token run shared across two docs is a dup span at L=8 and
    L=16 but NOT L=32; a period-4 self-repetitive doc is fully
    covered at every level; unique / short / NULL docs report zero.
    The whole long-format profile matches the DuckDB twin, and the
    base level reproduces the single-L operator exactly."""
    from check_oracle import compare

    from centimators_spark.dedup.substring import (
        duplicated_spans,
        duplicated_spans_multi,
        duplicated_spans_multi_oracle_sql,
    )

    shared = " ".join(f"s{i}" for i in range(20))
    docs = [
        (1, shared + " " + " ".join(f"a{i}" for i in range(30))),
        (2, " ".join(f"b{i}" for i in range(15)) + " " + shared),
        (3, " ".join(f"c{i}" for i in range(40))),  # unique
        (4, " ".join(f"r{i % 4}" for i in range(40))),  # period-4
        (5, "short text only"),  # < L0 tokens
        (6, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sdf = (
        duplicated_spans_multi(df)
        .toPandas()
        .sort_values(["doc_id", "L"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(docs, columns=["doc_id", "text"]))
    odf = con.execute(duplicated_spans_multi_oracle_sql("tbl")).fetchdf()
    assert compare("multiL", sdf, odf)

    r = sdf.set_index(["doc_id", "L"])
    for d in (1, 2):
        assert r.loc[(d, 8)].n_dup_tokens == 20
        assert r.loc[(d, 16)].n_dup_tokens == 20  # no quantization loss
        assert r.loc[(d, 32)].n_dup_spans == 0  # run is only 20 tokens
    assert r.loc[(4, 32)].n_dup_tokens == 40  # fully self-duplicated
    for L in (8, 16, 32):
        assert r.loc[(3, L)].n_dup_spans == 0
        assert r.loc[(5, L)].n_dup_spans == 0

    # base level == the single-L operator (shared semantics)
    s8 = (
        sdf[sdf.L == 8]
        .drop(columns=["L"])
        .reset_index(drop=True)
    )
    s1 = (
        duplicated_spans(df)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert s8.equals(s1)


def test_duplicated_spans_multi_rejects_non_doubling_chain(spark):
    from centimators_spark.dedup.substring import duplicated_spans_multi

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        duplicated_spans_multi(df, Ls=(8, 24))


def test_mix_combine_matches_duckdb_hugeint(spark):
    """The 60-bit lead-combine is the same integer on both engines at
    the domain extremes (0 and 2^60 - 1)."""
    from pyspark.sql import functions as F

    from centimators_spark.dedup.substring import _MIX_P, _MOD60, _mix

    cases = [(0, 0), (0, _MOD60 - 1), (_MOD60 - 1, 0),
             (_MOD60 - 1, _MOD60 - 1), (123456789, 987654321)]
    df = spark.createDataFrame(cases, "a long, b long")
    got = [
        r[0]
        for r in df.select(_mix(F.col("a"), F.col("b"))).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT CAST((CAST({a} AS HUGEINT) * {_MIX_P} + {b})"
            f" % {_MOD60} AS BIGINT)"
        ).fetchone()[0]
        for a, b in cases
    ]
    assert got == want


def test_dsir_selects_target_like_proposal_docs(spark):
    """Semantics pin for DSIR: a proposal doc written in the target's
    vocabulary outscores vocabulary-disjoint proposal docs (positive
    importance log-weight), target docs are never selected, unscorable
    docs (empty/null) never appear, and the whole selection matches
    the DuckDB twin."""
    from check_oracle import compare

    from centimators_spark.text.dsir import (
        dsir_select,
        dsir_select_oracle_sql,
    )

    tvoc = "alpha beta gamma delta epsilon zeta eta theta"
    rows = []
    for i in range(10):  # target corpus
        rows.append((i, "t", f"{tvoc} alpha beta tag{i}"))
    for i in range(10, 15):  # target-like proposal docs
        rows.append((i, "p", f"{tvoc} gamma delta like{i}"))
    for i in range(15, 40):  # vocabulary-disjoint proposal docs
        rows.append((i, "p", " ".join(f"w{i}_{j}" for j in range(12))))
    rows += [(40, "p", ""), (41, "p", None)]  # unscorable
    # NULL predicate result: counts as PROPOSAL on both engines
    rows += [(42, None, " ".join(f"n{j} x{j}" for j in range(10)))]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    sel = dsir_select(df, "source = 't'", k=5).toPandas()
    assert set(sel.doc_id) == set(range(10, 15))  # the target-like five
    assert (sel.logw_micro > 0).all()
    full = dsir_select(df, "source = 't'", k=100).toPandas()
    assert not (set(full.doc_id) & set(range(10)))  # no target docs
    assert not (set(full.doc_id) & {40, 41})  # no unscorable docs
    # disjoint proposal docs carry negative weights
    assert (full[full.doc_id >= 15].logw_micro < 0).all()

    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["doc_id", "source", "text"]))
    odf = con.execute(
        dsir_select_oracle_sql("tbl", "source = 't'", k=100)
    ).fetchdf()
    sdf = dsir_select(df, "source = 't'", k=100).toPandas()
    assert compare("dsir_hand", sdf, odf)


def test_bottomk_quantile_sketch_hand_trace_and_oracle(spark):
    """Type-1 exact witness quantiles are the textbook order
    statistics; the sample is the bottom-64 hash rows; NULL values are
    excluded; tiny groups degrade to sample == exact; Spark == DuckDB."""
    from check_oracle import compare

    from centimators_spark.sketches import (
        bottomk_quantile_oracle_sql,
        bottomk_quantile_sketch,
    )

    rows = [("a", i, float(i)) for i in range(1, 201)]
    rows += [("a", 999, None)]
    rows += [("tiny", 1, 5.0), ("tiny", 2, 7.0)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    sdf = (
        bottomk_quantile_sketch(df, "g", "id", "v")
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["g", "id", "v"]))
    odf = con.execute(
        bottomk_quantile_oracle_sql("tbl", "g", "id", "v")
    ).fetchdf()
    assert compare("bq", sdf, odf)
    a = sdf[sdf.grp == "a"].iloc[0]
    assert a.n_rows == 200 and a.k_eff == 64  # NULL row excluded
    assert (a.q25_exact, a.q50_exact, a.q75_exact) == (5000, 10000, 15000)
    # sample rank error is O(1/sqrt(k)) of the group size
    assert abs(a.q50_sample - a.q50_exact) < 5000
    t = sdf[sdf.grp == "tiny"].iloc[0]
    assert t.k_eff == 2 and t.q50_sample == t.q50_exact == 500


def test_bottomk_sample_is_mergeable(spark):
    """The sketch's scale story: bottom-k of the union of two partial
    bottom-k sketches equals the whole-corpus bottom-k selection —
    partition-independent, so partial sketches merge exactly."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from centimators_spark.text.portable import md5_long

    rows = [("g", i, float(i % 37)) for i in range(500)]
    df = spark.createDataFrame(rows, "g string, id long, v double")

    def bottomk(frame, k=64):
        h = md5_long(F.concat(F.lit("bq:"), F.col("id").cast("string")))
        w = Window.partitionBy("g").orderBy("__h", "v")
        return (
            frame.withColumn("__h", h)
            .withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= k)
            .select("g", "id", "v", "__h")
        )

    full = {r.id for r in bottomk(df).collect()}
    h1 = bottomk(df.where(F.col("id") % 2 == 0)).drop("__h")
    h2 = bottomk(df.where(F.col("id") % 2 == 1)).drop("__h")
    merged = {r.id for r in bottomk(h1.unionByName(h2)).collect()}
    assert merged == full


def test_dsir_gumbel_key_finite_at_hash_extremes(spark):
    """The Gumbel u stays strictly inside (0, 1) even at the 60-bit
    hash domain extremes (a bare /2^60 rounds the top ~2^9 hashes to
    u = 1.0, where Spark log(0) -> NULL but DuckDB ln(0) RAISES);
    both engines produce the same finite integer key."""
    from pyspark.sql import functions as F

    from centimators_spark.text.dsir import _P60

    hs = [0, 1, _P60 - 4097, _P60 - 1]
    df = spark.createDataFrame([(h,) for h in hs], "h long")
    u = (F.col("h") + 1).cast("double") / F.lit(float(_P60 + 4096))
    g = F.round(F.round(-F.log(-F.log(u)), 6) * 1e6).cast("long")
    got = [r[0] for r in df.select(g).collect()]
    assert all(v is not None for v in got)
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT CAST(round(round(-ln(-ln((CAST({h} AS BIGINT) + 1)"
            f" / CAST({_P60 + 4096} AS DOUBLE))), 6) * 1e6) AS BIGINT)"
        ).fetchone()[0]
        for h in hs
    ]
    assert got == want


def test_multi_l_combine_equals_direct_gram_hash(spark):
    """Semantic pin for the lead-combine: the L=16 level of
    duplicated_spans_multi must reproduce the SINGLE-L operator run
    directly at L=16 (md5 of the raw 16-gram) on a randomized corpus —
    equal combined fingerprints iff equal token runs, so the dup-span
    profiles coincide exactly."""
    import random

    from centimators_spark.dedup.substring import (
        duplicated_spans,
        duplicated_spans_multi,
    )

    rng = random.Random(411)
    vocab = [f"w{i}" for i in range(30)]
    shared = [rng.choice(vocab) for _ in range(24)]
    docs = []
    for d in range(40):
        toks = [rng.choice(vocab) for _ in range(rng.randint(0, 60))]
        if d % 5 == 0 and len(toks) > 4:  # plant shared runs
            at = rng.randint(0, len(toks) - 1)
            toks[at:at] = shared
        docs.append((d, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    multi = (
        duplicated_spans_multi(df, Ls=(8, 16))
        .where("L = 16")
        .drop("L")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    direct = (
        duplicated_spans(df, L=16)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert multi.equals(direct)


def test_permutation_sign_test_hand_cases_and_oracle(spark):
    """A perfectly symmetric group has obs_sum 0 so EVERY replicate
    exceeds (p = 1); a strongly one-sided group is exceeded only by
    the all-same-sign flips (small p); NULLs are excluded; Spark ==
    DuckDB on exact integer carriers."""
    from check_oracle import compare

    from centimators_spark.ml.bootstrap import (
        permutation_sign_test,
        permutation_sign_test_oracle_sql,
    )

    rows = [("sym", i, float(v)) for i, v in enumerate([3, -3, 8, -8])]
    rows += [("pos", 100 + i, 5.0) for i in range(12)]
    rows += [("pos", 900, None)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    sdf = (
        permutation_sign_test(df, "g", "id", "v")
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    sym = sdf[sdf.grp == "sym"].iloc[0]
    assert sym.obs_mean_micro == 0
    assert sym.n_exceed == 32 and sym.p_milli == 1000
    pos = sdf[sdf.grp == "pos"].iloc[0]
    assert pos.n_rows == 12  # NULL excluded
    assert pos.obs_mean_micro == 500_000_000
    # |S_r| >= |S_obs| = 12*500 only when ALL 12 signs agree
    assert pos.n_exceed < 8
    assert pos.p_milli == (pos.n_exceed + 1) * 1000 // 33
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["g", "id", "v"]))
    odf = con.execute(
        permutation_sign_test_oracle_sql("tbl", "g", "id", "v")
    ).fetchdf()
    assert compare("perm", sdf, odf)

    import pytest

    with pytest.raises(ValueError):
        permutation_sign_test(df, "g", "id", "v", B=61)


def test_training_split_audit_semantics(spark):
    """A planted 5-gram shared across the hash-split boundary flags
    the TRAIN doc as leaked; unique train docs stay clean; only train
    docs appear; the whole report matches the DuckDB twin."""
    from check_oracle import compare

    import __spark_entry__ as entrymod
    from centimators_spark.sampling import hash_split

    ids = list(range(120))
    base = spark.createDataFrame(
        [(i, "") for i in ids], "doc_id long, text string"
    )
    tagged = {
        r.doc_id: r.split
        for r in hash_split(
            base, "doc_id", entrymod.TSA_WEIGHTS, salt=entrymod.TSA_SALT
        ).collect()
    }
    train_ids = [i for i in ids if tagged[i] == "train"]
    val_ids = [i for i in ids if tagged[i] == "val"]
    assert len(val_ids) >= 2 and len(train_ids) >= 2
    leak = "alpha beta gamma delta epsilon"  # one shared 5-gram
    rows = []
    for i in ids:
        if i == train_ids[0] or i == val_ids[0]:
            rows.append((i, f"{leak} pad{i} " + " ".join(
                f"x{i}_{j}" for j in range(6))))
        else:
            rows.append((i, " ".join(f"u{i}_{j}" for j in range(12))))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # run the same composition directly on the synthetic frame
    from centimators_spark.dedup.contamination import ngram_contamination
    from pyspark.sql import functions as F

    tag = hash_split(df, "doc_id", entrymod.TSA_WEIGHTS, salt=entrymod.TSA_SALT)
    rep = ngram_contamination(
        tag.where(F.col("split") == "train"),
        tag.where(F.col("split") == "val"),
        n=entrymod.TSA_N,
    ).select(
        "doc_id", "n_grams", "n_hits", "contamination",
        (F.col("n_hits") > 0).cast("int").alias("leaked"),
    )
    pdf = rep.toPandas().set_index("doc_id")
    assert set(pdf.index) == set(train_ids)  # train docs only
    assert pdf.loc[train_ids[0]].leaked == 1  # the planted leak
    clean = [i for i in train_ids if i != train_ids[0]]
    assert (pdf.loc[clean].leaked == 0).all()

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    odf = con.execute(entrymod._training_split_audit_oracle()).fetchdf()
    sdf = rep.toPandas()
    assert compare("tsa", sdf, odf)


def test_review_fixes_null_key_parity(spark):
    """Round-11 review pack: NULL resampling/sample keys are excluded
    identically on BOTH engines (Spark's when-chain fell through to
    Poisson weight 8 where the oracle's list_filter gave 0; Spark
    sorts NULL hashes first where DuckDB sorts them last; a NULL sign
    draw biased permutation p-values identically on both engines),
    and NULL items no longer mint a phantom HLL register."""
    from check_oracle import compare

    from centimators_spark.ml.bootstrap import (
        bootstrap_mean_ci,
        bootstrap_mean_ci_oracle_sql,
        permutation_sign_test,
        permutation_sign_test_oracle_sql,
    )
    from centimators_spark.sketches import (
        bottomk_quantile_oracle_sql,
        bottomk_quantile_sketch,
        hll_portable,
        hll_portable_oracle_sql,
    )

    con = duckdb.connect()

    # (1) bootstrap: NULL-id rows contribute nothing anywhere
    rows = [("g", i, 10.0) for i in range(20)] + [("g", None, 99.0)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    sdf = bootstrap_mean_ci(df, "g", "id", "v").toPandas()
    assert sdf.iloc[0].n_rows == 20
    assert sdf.iloc[0].mean_micro == 1_000_000_000  # 99.0 excluded
    con.register("t1", pd.DataFrame(rows, columns=["g", "id", "v"]).astype({"id": "Int64"}))
    odf = con.execute(
        bootstrap_mean_ci_oracle_sql("t1", "g", "id", "v")
    ).fetchdf()
    assert compare("boot_nullid", sdf, odf)

    # (2) bottom-k: NULL-id rows can't enter the sample on either side
    rows = [("g", i, float(i)) for i in range(1, 101)]
    rows += [("g", None, 0.0)] * 70  # would dominate a NULLS-FIRST sample
    df = spark.createDataFrame(rows, "g string, id long, v double")
    sdf = bottomk_quantile_sketch(df, "g", "id", "v").toPandas()
    assert sdf.iloc[0].n_rows == 100
    assert sdf.iloc[0].q50_exact == 5000  # 0-valued NULL rows excluded
    con.register("t2", pd.DataFrame(rows, columns=["g", "id", "v"]).astype({"id": "Int64"}))
    odf = con.execute(
        bottomk_quantile_oracle_sql("t2", "g", "id", "v")
    ).fetchdf()
    assert compare("bq_nullid", sdf, odf)

    # (3) permutation: NULL-id mass no longer inflates |S_obs|
    rows = [("g", i, float((-1) ** i)) for i in range(16)]
    rows += [("g", None, 100.0)] * 5
    df = spark.createDataFrame(rows, "g string, id long, v double")
    sdf = permutation_sign_test(df, "g", "id", "v").toPandas()
    assert sdf.iloc[0].n_rows == 16
    assert sdf.iloc[0].obs_mean_micro == 0  # the 500.0 mass excluded
    assert sdf.iloc[0].p_milli == 1000  # symmetric null, not spurious
    con.register("t3", pd.DataFrame(rows, columns=["g", "id", "v"]).astype({"id": "Int64"}))
    odf = con.execute(
        permutation_sign_test_oracle_sql("t3", "g", "id", "v")
    ).fetchdf()
    assert compare("perm_nullid", sdf, odf)

    # (4) HLL: NULL items mint no phantom register on either engine
    rows = [("g", f"item{i}") for i in range(30)] + [("g", None)] * 4
    rows += [("allnull", None)]
    df = spark.createDataFrame(rows, "g string, item string")
    sdf = hll_portable(df, "g", "item").toPandas()
    assert list(sdf.grp) == ["g"]  # all-NULL group vanishes
    g = sdf.iloc[0]
    assert g.n_exact == 30
    con.register("t4", pd.DataFrame(rows, columns=["g", "item"]))
    odf = con.execute(hll_portable_oracle_sql("t4", "g", "item")).fetchdf()
    assert compare("hll_nullitem", sdf, odf)
    # phantom register would have claimed one extra used register:
    # recompute with NULLs dropped up front and demand identity
    df2 = df.where(df.item.isNotNull())
    sdf2 = hll_portable(df2, "g", "item").toPandas()
    assert sdf2.equals(sdf)


def test_bootstrap_nullkey_contract(spark):
    """The NULL-resampling-KEY driver contract (r11 verdict item 2):
    hash-green vs its oracle at sf0.001, the NULL-key regime genuinely
    exercised (every 11th event_id nulled), and a deliberate
    when-chain fall-through — NULL ids kept with Poisson weight 8,
    the exact pre-307fcfd Spark behavior — produces DIFFERENT values,
    i.e. the driver gate turns red on exactly the parity class the
    round-11 self-review caught."""
    from check_oracle import compare

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )

    sdf = entrymod.q_bootstrap_nullkey(spark, sf).toPandas()
    odf = con.execute(entrymod._bootstrap_nullkey_oracle()).fetchdf()
    assert compare("bootstrap_nullkey", sdf, odf)
    # the derivation genuinely NULLs resampling keys: per group,
    # fewer rows enter than have a non-NULL signed value
    raw = con.execute(
        "SELECT event_type, count(*) c FROM events"
        " WHERE event_id % 7 <> 0 GROUP BY 1"
    ).fetchdf().set_index("event_type")["c"]
    for _, r in sdf.iterrows():
        assert r.n_rows < raw[r.grp]

    # red path: emulate the pre-fix Spark when-chain on the ORACLE —
    # NULL-id rows kept (value filter only) and falling through to
    # Poisson weight 8 — at least one value must move
    from centimators_spark.ml.bootstrap import bootstrap_mean_ci_oracle_sql

    good = bootstrap_mean_ci_oracle_sql(
        entrymod._NULLKEY_EVENTS_SQL, "event_type", "nid", "sv"
    )
    buggy = good.replace(
        "WHERE sv IS NOT NULL AND nid IS NOT NULL", "WHERE sv IS NOT NULL"
    ).replace(
        "CAST(len(list_filter",
        "CAST(CASE WHEN id IS NULL THEN 8 ELSE len(list_filter",
    ).replace(") AS BIGINT) AS w", ") END AS BIGINT) AS w")
    assert buggy != good  # all three replacements applied
    bdf = con.execute(buggy).fetchdf()
    cols = ["mean_micro", "boot_lo_micro", "boot_hi_micro", "n_rows"]
    g = odf.set_index("grp")[cols].sort_index()
    b = bdf.set_index("grp")[cols].sort_index()
    assert not g.equals(b), "weight-8 fall-through did not change any value"
