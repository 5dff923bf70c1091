"""Tests for dedup / similarity / text-analysis operators against exact
baselines on the sf0.001 tables."""

import pytest
from pyspark.sql import functions as F

from centimators_spark.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from centimators_spark.dedup.simhash import simhash_pairs
from centimators_spark.io import load_table
from centimators_spark.similarity.ann import brute_force_topk, rp_lsh_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF, "embeddings")


def test_exact_dedup_counts(spark, docs):
    out = exact_dedup(docs).toPandas()
    assert out.n_dups.sum() == docs.count()
    assert (out.n_dups >= 1).all()


def test_minhash_lsh_matches_exact_jaccard(spark, docs):
    """LSH candidates + exact verify must equal the exact all-pairs set
    (recall loss at b=32,r=2 is ~1e-6 at threshold 0.6)."""
    exact = {
        (r.d1, r.d2, round(r.jaccard, 9))
        for r in ngram_jaccard_pairs(docs, threshold=0.6).collect()
    }
    lsh = {
        (r.d1, r.d2, round(r.jaccard, 9))
        for r in minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    assert lsh == exact and len(exact) > 0


def test_simhash_near_dup_pairs(spark, docs):
    """Docs that are exact n-gram near-dups should collide at low
    Hamming distance; unrelated docs shouldn't all collide."""
    fps = simhash_fingerprints(docs)
    assert fps.count() == docs.count()
    pairs = simhash_pairs(docs, max_hamming=3)
    near = {(r.d1, r.d2) for r in pairs.collect()}
    # token-identical docs (jaccard == 1) have identical token sets ->
    # identical simhash -> hamming 0
    ident = ngram_jaccard_pairs(docs, threshold=0.999)
    for r in ident.collect():
        assert (r.d1, r.d2) in near
    assert len(near) < 0.05 * 500 * 499 / 2  # not everything collides


def test_rp_lsh_recall(spark, emb):
    queries = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).toPandas()
    # test embeddings are near-orthogonal (top cosine ~0.4): collision
    # prob per plane for θ≈70° is ~0.6 → few planes, many tables
    approx = rp_lsh_topk(emb, queries, k=5, n_planes=4, n_tables=16).toPandas()
    e = {(r.query_id, r.vec_id) for r in exact.itertuples()}
    a = {(r.query_id, r.vec_id) for r in approx.itertuples()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall  # approximate path finds most true neighbors

    # sanity: per-query result sizes and rank bounds
    assert (exact.groupby("query_id")["rank"].max() == 5).all()


def test_ivf_topk_recall(spark, emb):
    """Cluster-then-probe ANN: probing a fraction of cells finds most
    true neighbors; probing every cell degenerates to exact search."""
    from centimators_spark.similarity.ann import ivf_topk

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).toPandas()
    e = {(r.query_id, r.vec_id) for r in exact.itertuples()}

    part = ivf_topk(emb, queries, k=5, n_lists=8, n_probe=3).toPandas()
    p = {(r.query_id, r.vec_id) for r in part.itertuples()}
    assert len(e & p) / len(e) >= 0.5, len(e & p) / len(e)

    full = ivf_topk(emb, queries, k=5, n_lists=8, n_probe=8).toPandas()
    f = {(r.query_id, r.vec_id) for r in full.itertuples()}
    assert f == e  # all cells probed == exact


def test_brute_force_topk_no_self(spark, emb):
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=10).toPandas()
    assert not ((out.query_id == out.vec_id).any())
    assert out.cos.between(-1.000001, 1.000001).all()


def test_connected_components_and_deduplicate(spark, docs):
    from centimators_spark.dedup.cluster import (
        connected_components,
        connected_components_star,
        deduplicate,
    )
    from centimators_spark.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(docs, threshold=0.6)
    cc = connected_components(pairs).toPandas()
    # every cluster label is the min node of its component
    assert (cc.groupby("cluster").node.min() == cc.groupby("cluster").cluster.first()).all()
    # edges stay within clusters
    lbl = dict(zip(cc.node, cc.cluster))
    for r in pairs.collect():
        assert lbl[r.d1] == lbl[r.d2]

    kept = deduplicate(docs, pairs)
    n_docs, n_nodes, n_clusters = docs.count(), len(cc), cc.cluster.nunique()
    assert kept.count() == n_docs - (n_nodes - n_clusters)

    # the distributed star contraction and the driver union-find agree
    # exactly
    cc_dist = (
        connected_components_star(pairs)
        .toPandas()
        .sort_values("node")
        .reset_index(drop=True)
    )
    pd_cc = cc.sort_values("node").reset_index(drop=True)
    assert (cc_dist.node == pd_cc.node).all()
    assert (cc_dist.cluster == pd_cc.cluster).all()


def test_union_find_long_chain(spark):
    """A 60-node path graph: union-find handles long diameters in one
    pass (the distributed fixpoint would need ~diameter rounds)."""
    from centimators_spark.dedup.cluster import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "d1 long, d2 long"
    )
    cc = connected_components(pairs).toPandas()
    assert (cc.cluster == 0).all()
    assert len(cc) == 61


def test_exact_dedup_finds_duplicates(spark):
    from centimators_spark.dedup import exact_dedup

    df = spark.createDataFrame(
        [(0, "same text"), (1, "same text"), (2, "other")], "doc_id long, text string"
    )
    out = {r.keep_id: r.n_dups for r in exact_dedup(df).collect()}
    assert out == {0: 2, 2: 1}


def test_jaccard_df_cap_consistent_semantics(spark):
    """Stop-gram cap: every doc shares a boilerplate sentence; with a
    binding df_cap the boilerplate grams leave BOTH the intersection and
    the set sizes, so true near-dups still score exactly and
    boilerplate-only pairs produce no candidates at all."""
    from centimators_spark.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved contact us today"
    rows = [(i, f"{boiler} unique words number {i} alpha beta gamma delta")
            for i in range(40)]
    # two genuine near-duplicates sharing their unique tail
    rows.append((100, f"{boiler} zz yy xx ww vv uu tt ss"))
    rows.append((101, f"{boiler} zz yy xx ww vv uu tt qq"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = ngram_jaccard_pairs(df, threshold=0.5, df_cap=10)
    got = {(r.d1, r.d2): r.jaccard for r in capped.collect()}
    # corpus-wide grams (df=41,42 > 10) leave the index entirely; the
    # only candidates left are docs sharing low-df grams — the true
    # near-dup pair, scored over its 8 remaining grams each, 7 shared
    assert set(got) == {(100, 101)}
    assert got[(100, 101)] == pytest.approx(7 / 9)

    # WITHOUT the cap, the boilerplate inflates every one of the
    # C(40,2)+ pairs above threshold — the quadratic blow-up the
    # default guard exists to stop
    exact = ngram_jaccard_pairs(df, threshold=0.5, df_cap=None)
    exact_pairs = {(r.d1, r.d2) for r in exact.collect()}
    assert (100, 101) in exact_pairs
    assert len(exact_pairs) > 700


def test_pair_count_explode_matches_join(spark, docs):
    """r13 optimization pin: the map-side pair explode
    (_shared_gram_pair_counts, the capped-postings path) and the
    postings self-join (_shared_gram_pair_counts_join, the uncapped
    path) must produce the IDENTICAL (d1, d2, c, n1, n2) table — with
    and without the AllPairs/PPJoin length bound — so gating on
    df_cap can never change a query's result."""
    from centimators_spark.dedup.jaccard import (
        _capped_index,
        _shared_gram_pair_counts,
        _shared_gram_pair_counts_join,
    )

    inv = _capped_index(docs, "text", "doc_id", 3, 1000, None)
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    invn = inv.join(F.broadcast(sizes), "doc_id")
    for t_num in (None, 600000):
        a = {
            tuple(r)
            for r in _shared_gram_pair_counts(invn, t_num).collect()
        }
        b = {
            tuple(r)
            for r in _shared_gram_pair_counts_join(invn, t_num).collect()
        }
        assert a == b and len(a) > 0


def test_df_cap_above_explode_limit_takes_join(spark, docs):
    """A df_cap above EXPLODE_DF_CAP no longer bounds each gram's
    C(m, 2) pair array enough to build it as one row: both pair
    operators plan the postings self-join instead (no Generate over the
    flattened pair array) and return the same pairs as at the limit."""
    from centimators_spark.dedup.jaccard import (
        EXPLODE_DF_CAP,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    def pair_explodes(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [
            ln for ln in plan.splitlines()
            if "Generate" in ln and "flatten" in ln
        ]

    for op, kw in (
        (ngram_jaccard_pairs, {"threshold": 0.5}),
        (ngram_containment_pairs, {"threshold": 0.8}),
    ):
        at = op(docs, df_cap=EXPLODE_DF_CAP, **kw)
        above = op(docs, df_cap=EXPLODE_DF_CAP + 1, **kw)
        assert pair_explodes(at), op.__name__
        assert not pair_explodes(above), op.__name__
        want = sorted(map(tuple, at.collect()))
        assert want and sorted(map(tuple, above.collect())) == want


def test_containment_direction_explode_matches_union(spark, docs):
    """r13 optimization pin: the fused two-direction explode in
    ngram_containment_pairs equals the old fwd/rev union — built here
    from the join-path pair counts — including the threshold filter."""
    from centimators_spark.dedup.jaccard import (
        _capped_index,
        _shared_gram_pair_counts_join,
        ngram_containment_pairs,
    )

    threshold = 0.8
    got = {
        (r.src, r.dst, round(r.containment, 12))
        for r in ngram_containment_pairs(
            docs, threshold=threshold, df_cap=100
        ).collect()
    }
    inv = _capped_index(docs, "text", "doc_id", 3, 100, None)
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    invn = inv.join(F.broadcast(sizes), "doc_id")
    sized = _shared_gram_pair_counts_join(invn, None)
    fwd = sized.select(
        F.col("d1").alias("src"),
        F.col("d2").alias("dst"),
        (F.col("c").cast("double") / F.col("n1")).alias("containment"),
    )
    rev = sized.select(
        F.col("d2").alias("src"),
        F.col("d1").alias("dst"),
        (F.col("c").cast("double") / F.col("n2")).alias("containment"),
    )
    want = {
        (r.src, r.dst, round(r.containment, 12))
        for r in fwd.unionByName(rev)
        .where(F.col("containment") >= threshold)
        .collect()
    }
    assert got == want and len(got) > 0


def test_unigram_lm_score_matches_duckdb(spark, docs):
    """Differential oracle (same rigor as a contract query, run in-test):
    the corpus-trained unigram LM score must match DuckDB evaluating the
    identical semantics — capped vocab by (count desc, token asc),
    add-α smoothing, 6dp log-probs on exact micro-unit carriers."""
    import duckdb

    from centimators_spark.text.analysis import unigram_lm_score
    from centimators_spark.text.portable import sql_tokens

    got = (
        unigram_lm_score(docs, vocab_cap=200, alpha=1.0)
        .orderBy("doc_id")
        .toPandas()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    tok = sql_tokens("text")
    exp = con.execute(f"""
        WITH ex AS (
          SELECT doc_id, unnest({tok}) AS t FROM documents
        ), counts AS (
          SELECT t, count(*) AS c FROM ex GROUP BY t
        ), top AS (
          SELECT t, c FROM counts ORDER BY c DESC, t ASC LIMIT 200
        ), totals AS (
          SELECT (SELECT sum(c) FROM counts) AS n_corpus,
                 (SELECT count(*) FROM top) AS v
        ), lp AS (
          SELECT t, round(ln((CAST(c AS DOUBLE) + 1.0)
            / (CAST(n_corpus AS DOUBLE) + 1.0 * (CAST(v AS DOUBLE) + 1.0))), 6) AS lp
          FROM top CROSS JOIN totals
        ), oov AS (
          SELECT round(ln(1.0
            / (CAST(n_corpus AS DOUBLE) + 1.0 * (CAST(v AS DOUBLE) + 1.0))), 6) AS lp_oov
          FROM totals
        ), scored AS (
          SELECT ex.doc_id,
            CAST(round(coalesce(lp.lp, oov.lp_oov) * 1e6) AS BIGINT) AS lp_u
          FROM ex LEFT JOIN lp ON ex.t = lp.t CROSS JOIN oov
        ), per_doc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 round(CAST(sum(lp_u) AS DOUBLE) / 1e6 / count(*), 6) AS lm_logprob
          FROM scored GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(p.n_tokens, 0) AS n_tokens, p.lm_logprob
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN per_doc p USING (doc_id) ORDER BY doc_id
    """).fetchdf()

    assert len(got) == len(exp)
    assert (got["n_tokens"].to_numpy() == exp["n_tokens"].to_numpy()).all()
    import numpy as np

    assert np.allclose(
        got["lm_logprob"].to_numpy(dtype=float),
        exp["lm_logprob"].to_numpy(dtype=float),
        atol=0,
        rtol=0,
        equal_nan=True,
    ), "lm_logprob must be bit-identical"
    # sanity: scores are negative log-probs, perplexity finite
    assert (got["lm_logprob"].dropna() < 0).all()


def test_event_percentiles_approx_close_to_exact(spark):
    from centimators_spark.io import load_table
    from centimators_spark.plans.relational_queries import event_percentiles

    ev = load_table(spark, SF, "events")
    exact = {
        r.event_type: r for r in event_percentiles(ev, exact=True).collect()
    }
    approx = {r.event_type: r for r in event_percentiles(ev).collect()}
    assert set(exact) == set(approx)
    # the sketch's guarantee is on RANK (error <= 1/accuracy), not value:
    # the returned value's quantile position must sit near the target
    for et, a in approx.items():
        assert a.n_users == exact[et].n_users
        sub = ev.where(F.col("event_type") == et)
        n = sub.count()
        for p, target in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            cnt = sub.where(F.col("value") <= getattr(a, p)).count()
            assert abs(cnt / n - target) < 0.005


def test_connected_components_persist_mode(spark):
    """The distributed star contraction (the path that pins its edge
    set every round) labels every node with its component's minimum id
    and leaves no persisted plan in Spark's CacheManager: every cut is
    an eager localCheckpoint."""
    from centimators_spark.dedup.cluster import connected_components_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 long, d2 long"
    )
    spark.catalog.clearCache()
    labels = {
        (r.node, r.cluster)
        for r in connected_components_star(pairs).collect()
    }
    assert labels == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _labels(df) -> set:
    return {(r.node, r.cluster) for r in df.collect()}


def _star_spy(monkeypatch):
    """Record each call connected_components makes to the star path."""
    import centimators_spark.dedup.cluster as cluster

    calls = []
    star = cluster.connected_components_star

    def spy(*args, **kwargs):
        calls.append(args)
        return star(*args, **kwargs)

    monkeypatch.setattr(cluster, "connected_components_star", spy)
    return calls


def test_connected_components_drops_null_pairs(spark, monkeypatch):
    """A pair with a null endpoint links nothing and labels nothing, on
    the driver union-find and on the star path (cap 0). Collected, the
    null would reach the union-find as NaN, whose find() never returns
    (NaN != NaN)."""
    import centimators_spark.dedup.cluster as cluster

    pairs = spark.createDataFrame(
        [(1, None), (2, 3), (None, 4), (5, 5), (6, 2), (None, None)],
        "d1 long, d2 long",
    )
    want = {(2, 2), (3, 2), (6, 2), (5, 5)}
    calls = _star_spy(monkeypatch)
    assert _labels(cluster.connected_components(pairs)) == want
    assert not calls
    monkeypatch.setattr(cluster, "_DRIVER_EDGE_CAP", 0)
    assert _labels(cluster.connected_components(pairs)) == want
    assert len(calls) == 1
    assert _labels(cluster.connected_components_star(pairs)) == want


def test_connected_components_cap_picks_the_path(spark, monkeypatch):
    """Up to _DRIVER_EDGE_CAP distinct undirected edges take the driver
    union-find; one more takes the star contraction, with the same
    labels. The pairs below hold 4 distinct undirected edges."""
    import centimators_spark.dedup.cluster as cluster

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 2), (10, 11), (7, 7), (1, 2)],
        "d1 long, d2 long",
    )
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (7, 7)}
    calls = _star_spy(monkeypatch)
    monkeypatch.setattr(cluster, "_DRIVER_EDGE_CAP", 4)
    assert _labels(cluster.connected_components(pairs)) == want
    assert not calls
    monkeypatch.setattr(cluster, "_DRIVER_EDGE_CAP", 3)
    assert _labels(cluster.connected_components(pairs)) == want
    assert len(calls) == 1


# jobs the driver path fired on the hand pairs below, at local[4] and
# local[8], when it pinned the edge list (localCheckpoint), counted it
# and then collected it; the one capped collect fires 2 (the distinct's
# shuffle-map stage and the collect)
_PINNED_DRIVER_PATH_JOBS = 5


def test_connected_components_driver_path_one_collect(spark):
    """The driver path collects the edges in one capped action: it pins
    nothing (the CacheManager stays empty) and starts fewer jobs than
    the pinned edge list did on the same input."""
    from centimators_spark.dedup.cluster import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 long, d2 long"
    )
    spark.catalog.clearCache()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    labels = connected_components(pairs)
    jobs = len(set(tracker.getJobIdsForGroup()) - before)
    assert _labels(labels) == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert 0 < jobs < _PINNED_DRIVER_PATH_JOBS, jobs


def test_normalize_text(spark):
    """NFC folding, control strip, whitespace collapse, null pass-through
    — verified against the stdlib reference per row."""
    import unicodedata

    from centimators_spark.text.analysis import normalize_text

    rows = [
        (0, "café   du\tmonde"),       # combining accent + runs of ws
        (1, "already clean"),
        (2, "ctrl\x00chars\x1fhere"),
        (3, None),
        (4, "  MiXeD Case  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.text
        for r in normalize_text(df, lowercase=True).collect()
    }
    assert got[0] == "café du monde"
    assert got[0][3] == unicodedata.normalize("NFC", "é")  # composed é
    assert got[1] == "already clean"
    assert got[2] == "ctrlcharshere"
    assert got[3] is None
    assert got[4] == "mixed case"

    # out_col keeps the original column intact
    both = normalize_text(df, out_col="clean").where(F.col("doc_id") == 0).collect()[0]
    assert both.text != both.clean


def test_repetition_signals_golden(spark):
    """Hand-computed Gopher-style repetition signals on a tiny corpus."""
    from centimators_spark.text.repetition import repetition_signals

    rows = [
        # 3 lines, "dup dup" repeated; text chars computed below
        (1, "aa bb\naa bb\ncc"),
        # no newlines, heavy 2-gram repetition: "x y x y x y"
        (2, "x y x y x y"),
        (3, ""),  # empty doc: all fractions 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in repetition_signals(df, top_n=2, dup_n=2).collect()
    }
    d1 = out[1]
    assert d1.n_lines == 3
    assert d1.dup_line_frac == pytest.approx(1 / 3)  # "aa bb" repeats once
    # dup line chars = len("aa bb") = 5; total line chars = 5+5+2 = 12
    assert d1.dup_line_char_frac == pytest.approx(5 / 12)
    d2 = out[2]
    # 2-grams: [x y, y x, x y, y x, x y] -> top "x y" cnt 3
    assert d2.top_ngram_cnt == 3
    # covered = 3 * len("x y") = 9 over 11 text chars
    assert d2.top_ngram_char_frac == pytest.approx(9 / 11)
    # dup occurrences beyond first: "x y"x2 + "y x"x1 -> 9 chars over 11
    assert d2.dup_ngram_char_frac == pytest.approx(9 / 11)
    d3 = out[3]
    assert d3.n_lines == 0
    assert d3.dup_line_frac == 0.0
    assert d3.top_ngram_cnt == 0
    assert d3.dup_ngram_char_frac == 0.0


def test_ngram_contamination_golden(spark):
    """Planted overlap: corpus doc 1 shares its only 3-gram span with the
    benchmark; doc 2 shares nothing; doc 3 is too short for any 3-gram."""
    from centimators_spark.dedup.contamination import ngram_contamination

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),  # grams: 3 distinct
            (2, "completely different words here"),
            (3, "ab"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "we saw the quick brown fox yesterday")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in ngram_contamination(corpus, bench, n=3).collect()}
    # doc 1 grams: "the quick brown", "quick brown fox", "brown fox jumps"
    # bench contains the first two
    assert out[1].n_grams == 3 and out[1].n_hits == 2
    assert out[1].contamination == pytest.approx(2 / 3)
    assert out[2].n_grams == 2 and out[2].n_hits == 0
    assert out[3].n_grams == 0 and out[3].contamination == 0.0


def test_mask_pii_planted(spark):
    """Planted PII masks correctly; clean text passes through unchanged."""
    from centimators_spark.text.pii import mask_pii

    rows = [
        (1, "mail me at alice.smith+x@example.co.uk or bob@test.org thanks"),
        (2, "server at 192.168.1.254 port 8080"),
        (3, "call +1 555 867 5309 or 555-867-5309 today"),
        (4, "no pii here, just 3.14 and v1.2.3 and a@b (not an email)"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in mask_pii(df).collect()}
    assert out[1].n_email == 2
    assert out[1].text_masked == "mail me at [EMAIL] or [EMAIL] thanks"
    assert out[2].n_ipv4 == 1 and "[IP] port 8080" in out[2].text_masked
    assert out[3].n_phone == 2
    assert out[3].text_masked == "call [PHONE] or [PHONE] today"
    assert out[4].n_email == 0 and out[4].n_ipv4 == 0 and out[4].n_phone == 0
    assert out[4].text_masked == rows[3][1]


def test_c4_line_filters_golden(spark):
    from centimators_spark.text.line_filters import c4_line_filters

    rows = [
        (1, 'Good sentence here.\nshort.\nno terminal punct line\n'
            'contains javascript code here.\nAnother fine sentence!'),
        (2, "lorem ipsum dolor { sit }."),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in c4_line_filters(df).collect()}
    d1 = out[1]
    # kept: "Good sentence here." and "Another fine sentence!"; dropped:
    # "short." (<3 words), no-punct line, javascript line
    assert d1.n_lines == 5 and d1.n_kept == 2
    assert d1.text_clean == "Good sentence here.\nAnother fine sentence!"
    assert d1.has_lorem == 0 and d1.has_brace == 0
    d2 = out[2]
    assert d2.has_lorem == 1 and d2.has_brace == 1
    assert d2.n_kept == 1  # 5+ words ending in '.'
    d3 = out[3]
    assert d3.n_lines == 0 and d3.text_clean == ""


def test_null_text_rows_are_empty_not_poison(spark):
    """NULL text must behave as empty text in every text operator (the
    oracle aggregations coalesce to 0; a NULL-propagating array chain
    would emit size=-1 / NULL instead)."""
    from centimators_spark.dedup.contamination import ngram_contamination
    from centimators_spark.text.line_filters import c4_line_filters
    from centimators_spark.text.pii import mask_pii
    from centimators_spark.text.repetition import repetition_signals

    df = spark.createDataFrame(
        [(1, None), (2, "a real line of text here.")],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in repetition_signals(df).collect()}[1]
    assert r.n_lines == 0 and r.dup_line_frac == 0.0
    assert r.top_ngram_cnt == 0 and r.dup_ngram_char_frac == 0.0
    c = {x.doc_id: x for x in c4_line_filters(df).collect()}[1]
    assert c.n_lines == 0 and c.n_kept == 0 and c.text_clean == ""
    assert c.has_lorem == 0 and c.has_brace == 0
    p = {x.doc_id: x for x in mask_pii(df).collect()}[1]
    assert p.n_email == 0 and p.n_ipv4 == 0 and p.n_phone == 0
    assert p.text_masked == ""
    bench = spark.createDataFrame([(9, "of text")], "doc_id long, text string")
    g = {x.doc_id: x for x in ngram_contamination(df, bench, n=2).collect()}
    assert g[1].n_grams == 0 and g[1].contamination == 0.0
    assert g[2].n_grams == 5  # null row didn't poison the batch


def test_url_canonicalization_and_dedup(spark):
    from centimators_spark.text.urls import canonical_url, url_dedup

    rows = [
        (1, "https://WWW.Example.com:443/a/?utm=x#frag"),
        (2, "http://example.com/a"),
        (3, "example.com/a/"),
        (4, "https://example.com/a/b"),
        (5, "HTTP://EXAMPLE.COM:80/A"),  # path case preserved: distinct
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    canon = {r.doc_id: r.cu for r in df.select("doc_id", canonical_url(F.col("url")).alias("cu")).collect()}
    assert canon[1] == canon[2] == canon[3] == "example.com/a"
    assert canon[4] == "example.com/a/b"
    assert canon[5] == "example.com/A"
    assert canon[6] is None
    out = {r.canonical_url: r for r in url_dedup(df.where("url IS NOT NULL")).collect()}
    assert out["example.com/a"].keep_id == 1 and out["example.com/a"].n_dups == 3
    assert out["example.com/a/b"].n_dups == 1


def test_streaming_contamination_matches_batch(spark):
    """Stream-static: streaming corpus joined against the static
    broadcast benchmark gram set; complete-mode aggregation must equal
    the batch result."""
    import tempfile

    from centimators_spark.dedup.contamination import ngram_contamination

    docs = load_table(spark, SF, "documents")
    bench = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    exp = ngram_contamination(corpus, bench, n=3).toPandas().sort_values("doc_id").reset_index(drop=True)
    with tempfile.TemporaryDirectory() as d:
        corpus.write.mode("overwrite").parquet(d + "/c")
        stream = spark.readStream.schema(corpus.schema).parquet(d + "/c")
        out = ngram_contamination(stream, bench, n=3)
        assert out.isStreaming
        q = (
            out.writeStream.format("memory").queryName("contam_stream")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = spark.sql("SELECT * FROM contam_stream").toPandas().sort_values("doc_id").reset_index(drop=True)
    assert got.equals(exp[got.columns])


def test_robust_zscore_matches_duckdb(spark):
    """Exact-mode median/MAD standardization is bit-identical (at 6dp)
    to a DuckDB quantile_cont differential on the same parquet."""
    import duckdb

    from centimators_spark.operators.stats import robust_zscore

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").withColumn(
        "era", F.date_trunc("month", F.col("l_shipdate"))
    )
    got = (
        robust_zscore(li, ["l_extendedprice"], era_col="era", exact=True)
        .select("l_orderkey", "l_linenumber", "l_extendedprice_rz")
        .toPandas()
        # (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
        # include the value so tie rows align across engines
        .sort_values(["l_orderkey", "l_linenumber", "l_extendedprice_rz"])
        .reset_index(drop=True)
    )
    C = 1.4826022185056018
    con = duckdb.connect()
    exp = con.execute(f"""
        WITH li AS (
          SELECT *, date_trunc('month', l_shipdate) AS era
          FROM read_parquet('/root/testdata/sf0.001/lineitem.parquet')
        ), med AS (
          SELECT era, quantile_cont(l_extendedprice, 0.5) AS m FROM li GROUP BY era
        ), mad AS (
          SELECT li.era, quantile_cont(abs(l_extendedprice - m), 0.5) AS d
          FROM li JOIN med USING (era) GROUP BY li.era
        )
        SELECT l_orderkey, l_linenumber,
               CASE WHEN d > 0
                    THEN round((l_extendedprice - m) / ({C!r} * d), 6) END AS rz
        FROM li JOIN med USING (era) JOIN mad USING (era)
        ORDER BY l_orderkey, l_linenumber, rz
    """).fetchdf()
    import numpy as np

    assert len(got) == len(exp)
    assert np.array_equal(
        got.l_extendedprice_rz.to_numpy(), exp.rz.to_numpy(), equal_nan=True
    )
    # zero-MAD guard: constant column -> all null
    const = spark.createDataFrame([(i, 1.0) for i in range(10)], "id long, x double")
    z = robust_zscore(const, ["x"]).toPandas()
    assert z.x_rz.isna().all()


def test_semantic_dedup_prunes_dominated(spark):
    """Within a bucket, only the min-id member of each ≥τ-similar set
    survives; near-orthogonal vectors are kept. Identical vectors land
    in the same bucket by construction (same signs), so exact dups are
    always pruned."""
    import numpy as np

    from centimators_spark.dedup.semantic import semantic_dedup

    rng = np.random.default_rng(0)
    base = rng.standard_normal(16)
    rows = [
        (1, [float(x) for x in base]),
        (2, [float(x) for x in base]),                      # exact dup of 1
        (3, [float(x) for x in base + 0.01 * rng.standard_normal(16)]),  # near dup
        (4, [float(x) for x in rng.standard_normal(16)]),   # unrelated
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in semantic_dedup(
        df, dim=16, threshold=0.9, n_planes=2
    ).collect()}
    assert 1 in kept and 2 not in kept and 4 in kept
    # near-dup 3 pruned IF it shares 1's bucket (sign-LSH recall loss is
    # possible but a 0.01 perturbation flipping a sign is rare for this
    # seed; assert the actual semantic: pruned iff same bucket)
    from centimators_spark.dedup.semantic import hyperplanes, _bucket_expr
    from pyspark.sql import functions as F

    b = {r.vec_id: r.b for r in df.select(
        "vec_id", _bucket_expr(F.col("embedding"),
                               hyperplanes(2, 16, 7)).alias("b")).collect()}
    assert (3 in kept) == (b[3] != b[1])


def test_semantic_dedup_chunked_matches_unchunked(spark):
    """max_bucket_rows decomposes a fat bucket into block-pair tasks;
    the kept set must be IDENTICAL to the unchunked plan. The input is
    deliberately skewed: 60 vectors share the all-positive orthant (one
    bucket for any plane count), 20 are random."""
    import numpy as np

    import duckdb
    import pandas as pd

    from centimators_spark.dedup.semantic import (
        semantic_dedup,
        semantic_dedup_oracle_sql,
    )

    rng = np.random.default_rng(42)
    rows = []
    for i in range(60):  # same orthant: abs() keeps every plane-sign equal-ish
        v = np.abs(rng.standard_normal(8)) + 0.1
        rows.append((i, [float(x) for x in v]))
    for i in range(60, 80):
        rows.append((i, [float(x) for x in rng.standard_normal(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=8, threshold=0.8, n_planes=3)
    plain = {(r.vec_id, r.bucket) for r in semantic_dedup(df, **kw).collect()}
    for cap in (1, 7, 1000):
        chunked = {
            (r.vec_id, r.bucket)
            for r in semantic_dedup(df, max_bucket_rows=cap, **kw).collect()
        }
        assert chunked == plain, cap
    # the kernel's kept set, chunked or not, is the DuckDB oracle's
    con = duckdb.connect()
    con.register("vecs", pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    oracle = {
        tuple(r)
        for r in con.execute(
            semantic_dedup_oracle_sql("vecs", **kw)
        ).fetchall()
    }
    assert plain == oracle
    assert len(oracle) < len(rows)  # the skewed bucket does prune


def test_semantic_dedup_auto_planes():
    """'auto' derives the plane count from the row count so the default
    geometry cannot collapse web-scale input into 64 buckets."""
    from centimators_spark.dedup.semantic import derive_n_planes

    assert derive_n_planes(1_000) == 1
    assert derive_n_planes(20_000) == 1
    assert derive_n_planes(20_001, target_bucket_rows=10_000) == 2
    assert derive_n_planes(100_000) == 4          # 2^4 = 16 buckets
    assert derive_n_planes(1_000_000_000) == 17   # 131072 buckets of ~7.6k
    assert derive_n_planes(10**12) == 27


def test_semantic_dedup_auto_planes_runs(spark):
    import numpy as np

    from centimators_spark.dedup.semantic import semantic_dedup

    rng = np.random.default_rng(1)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 50 rows, target 10 → ceil(log2(5)) = 3 planes; just must run and keep ≤ 50
    out = semantic_dedup(
        df, dim=8, threshold=0.99, n_planes="auto", target_bucket_rows=10
    ).collect()
    assert 0 < len(out) <= 50


def test_pq_roundtrip_recall_and_determinism(spark, emb):
    """Product quantization: codes are deterministic; ADC top-k recalls
    most true neighbors at 32x compression; a fine codebook (k close to
    n) drives quantization error toward zero."""
    from centimators_spark.similarity.ann import brute_force_topk, cosine
    from centimators_spark.similarity.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, m=8, k=64, iters=15)
    assert books.shape == (8, 64, 8)  # dim 64 -> 8 subspaces of 8

    coded = pq_encode(emb, books)
    pdf = coded.toPandas()
    assert len(pdf) == emb.count()
    assert all(len(c) == 8 and max(c) < 64 and min(c) >= 0 for c in pdf.pq_code)
    # determinism: re-encode reproduces identical codes
    pdf2 = pq_encode(emb, books).toPandas()
    a = pdf.sort_values("vec_id").reset_index(drop=True)
    b = pdf2.sort_values("vec_id").reset_index(drop=True)
    assert (a.vec_id == b.vec_id).all()
    assert all(list(x) == list(y) for x, y in zip(a.pq_code, b.pq_code))

    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=10).toPandas()
    e = {(r.query_id, r.vec_id) for r in exact.itertuples()}
    # direct ADC top-10: far above chance (random 10/500 ~ 0.02) even on
    # these near-random synthetic vectors (PQ's hardest case)
    approx = pq_topk(coded, queries, books, k=10).toPandas()
    p = {(r.query_id, r.vec_id) for r in approx.itertuples()}
    assert len(p) == len(e)
    assert len(e & p) / len(e) >= 0.2, len(e & p) / len(e)
    # approx_cos is a cosine estimate: bounded
    assert approx.approx_cos.between(-1.1, 1.1).all()

    # the production shape: ADC shortlist (cheap, compressed) -> exact
    # re-rank of survivors against raw vectors. A 10x shortlist recovers
    # most of the exact top-10.
    short = pq_topk(coded, queries, books, k=100).select(
        "query_id", "vec_id"
    )
    rer = (
        short.join(emb, "vec_id")
        .join(
            queries.select(
                F.col("query_id"), F.col("embedding").alias("qv")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("qv"), F.col("embedding")).alias("cos"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    rr = (
        rer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .toPandas()
    )
    r = {(x.query_id, x.vec_id) for x in rr.itertuples()}
    assert len(e & r) / len(e) >= 0.6, len(e & r) / len(e)


def test_pq_validates_dims(spark, emb):
    from centimators_spark.similarity.pq import train_pq_codebooks

    with pytest.raises(ValueError):
        train_pq_codebooks(emb, m=7)  # 64 % 7 != 0


def test_operators_survive_degenerate_docs(spark):
    """Empty, whitespace-only, and NULL text must degrade (no row or
    null scores) — never throw. Under ANSI (this engine's session
    default) an unguarded x/0 raises, so these paths are load-bearing
    at corpus scale where degenerate docs always exist."""
    from centimators_spark.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_fingerprints,
    )
    from centimators_spark.text.analysis import (
        char_entropy,
        document_fingerprint,
        language_id,
        quality_score,
        token_counts,
        unigram_lm_score,
    )
    from centimators_spark.text.chunking import chunk_documents

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "ok text here")],
        "doc_id long, text string",
    )
    assert quality_score(df).count() == 4
    [r1] = quality_score(df).where(F.col("doc_id") == 1).collect()
    assert r1.quality is None and r1.stopword_ratio is None
    assert language_id(df).count() == 4
    assert token_counts(df).count() == 4
    assert char_entropy(df).count() == 4
    assert unigram_lm_score(df).count() == 4
    # pair/fingerprint ops: degenerate docs simply produce no rows
    assert document_fingerprint(df).count() == 1
    assert simhash_fingerprints(df).count() == 1
    assert minhash_lsh_pairs(df, threshold=0.5).count() == 0
    assert ngram_jaccard_pairs(df, threshold=0.5).count() == 0
    assert chunk_documents(df).count() == 1


def test_ivfpq_composition_recall(spark, emb):
    """IVF cell pruning composed with PQ ADC scoring: probing every
    cell degenerates to plain PQ ranking; partial probing still recalls
    most of the PQ-shortlist set at a fraction of the scored pairs."""
    from centimators_spark.similarity.pq import (
        ivfpq_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, m=8, k=64, iters=10)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    full_pq = pq_topk(pq_encode(emb, books), queries, books, k=10).toPandas()
    e = {(r.query_id, r.vec_id) for r in full_pq.itertuples()}

    all_cells = ivfpq_topk(
        emb, queries, books, k=10, n_lists=8, n_probe=8
    ).toPandas()
    a = {(r.query_id, r.vec_id) for r in all_cells.itertuples()}
    assert a == e  # every cell probed == plain PQ ADC ranking

    part = ivfpq_topk(
        emb, queries, books, k=10, n_lists=8, n_probe=3
    ).toPandas()
    p = {(r.query_id, r.vec_id) for r in part.itertuples()}
    assert len(e & p) / len(e) >= 0.4, len(e & p) / len(e)


def test_ivfpq_trained_pruning_on_clustered_fixture(spark, emb):
    """TRAINED KMeans coarse quantizer on the clustered fixture: with
    real cluster structure, n_probe=1 of 8 must (a) prune — each query
    scores only its own cell's vectors, a strict subset of the corpus —
    and (b) keep recall perfect vs exact brute force, because the
    fixture's separation margin puts every true top-k neighbor in the
    query's cell. This is the selectivity half the hash contract
    (q_ivfpq_pruned_contract, provided-quantizer mode) can't show."""
    from centimators_spark.plans.datapipe_queries import _clustered_fixture
    from centimators_spark.similarity.ann import brute_force_topk
    from centimators_spark.similarity.pq import (
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
    )

    demb = _clustered_fixture(emb).localCheckpoint(eager=True)
    n = demb.count()
    queries = demb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = train_ivf_centroids(demb, n_lists=8, seed=42)
    books = train_pq_codebooks(demb, m=8, k=64, iters=5)
    # shortlist covers whole probed cells -> the probed-pair count is
    # the IVF selectivity, not a k cutoff
    short = ivfpq_topk(
        demb, queries, books, k=n, n_lists=8, n_probe=1, centroids=cents
    ).toPandas()
    per_q = short.groupby("query_id").size()
    assert (per_q < n * 0.5).all(), per_q  # real pruning, not full probe
    exact = brute_force_topk(demb, queries, k=10).toPandas()
    e = {(r.query_id, r.vec_id) for r in exact.itertuples()}
    s = {(r.query_id, r.vec_id) for r in short.itertuples()}
    assert e <= s  # every true neighbor survived the pruning


def test_corpus_line_dedup_stats_rewrite_and_oracle(spark):
    """Cross-doc line dedup: boilerplate lines flagged by distinct-doc
    count, order-preserving rewrite, DuckDB mirror exact, and
    within-doc repeats don't inflate the doc count."""
    import duckdb

    from centimators_spark.text.line_filters import (
        corpus_line_dedup,
        corpus_line_dedup_oracle_sql,
    )

    rows = [
        (1, "unique alpha\nBOILER\ncontent one"),
        (2, "BOILER\ncontent two"),
        (3, "only unique things\nhere"),
        (4, "SELFDUP\nSELFDUP\nown text"),   # within-doc repeat only
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in corpus_line_dedup(df).collect()}
    assert (out[1].n_lines, out[1].n_dup_lines) == (3, 1)
    assert (out[2].n_lines, out[2].n_dup_lines) == (2, 1)
    assert out[3].n_dup_lines == 0
    # SELFDUP appears twice in ONE doc -> 1 distinct doc -> not corpus-dup
    assert out[4].n_dup_lines == 0
    assert out[5].n_lines == 0 and out[5].dup_line_frac is None
    assert out[2].dup_line_frac == 0.5

    rew = {r.doc_id: r.text_clean for r in corpus_line_dedup(df, rewrite=True).collect()}
    assert rew[1] == "unique alpha\ncontent one"   # order preserved
    assert rew[2] == "content two"
    assert rew[4] == "SELFDUP\nSELFDUP\nown text"  # untouched

    con = duckdb.connect()
    con.register(
        "documents",
        __import__("pandas").DataFrame(rows, columns=["doc_id", "text"]),
    )
    exp = con.execute(corpus_line_dedup_oracle_sql()).fetchdf()
    got = corpus_line_dedup(df).toPandas()
    cols = ["doc_id", "n_lines", "n_dup_lines", "dup_line_frac"]
    g = got[cols].sort_values("doc_id").reset_index(drop=True)
    e = exp[cols].sort_values("doc_id").reset_index(drop=True)
    import numpy as np

    for c in cols:
        if g[c].dtype.kind == "f":
            np.testing.assert_allclose(
                g[c].astype(float), e[c].astype(float),
                rtol=0, atol=0, equal_nan=True,
            )
        else:
            assert g[c].astype(str).tolist() == e[c].astype(str).tolist(), c


def test_pq_topk_empty_queries(spark, emb):
    from centimators_spark.similarity.pq import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(emb, m=8, k=16, iters=3, sample=200)
    coded = pq_encode(emb, books)
    empty = emb.where(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(coded, empty, books, k=5)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "vec_id", "approx_cos", "rank"}


def test_group_centroids_exact_and_null_handling(spark):
    """Hand-computed centroids; NULL vectors excluded; exact across
    partitionings (integer micro-unit sums)."""
    from centimators_spark.similarity.centroids import group_centroids

    rows = [
        ("a", [1.0, 2.0]),
        ("a", [3.0, 4.0]),
        ("b", [10.0, -2.0]),
        ("b", None),
    ]
    df = spark.createDataFrame(rows, "grp string, embedding array<double>")
    out = {(r.grp, r.pos): (r.centroid, r.n)
           for r in group_centroids(df, "grp").collect()}
    assert out == {
        ("a", 1): (2.0, 2), ("a", 2): (3.0, 2),
        ("b", 1): (10.0, 1), ("b", 2): (-2.0, 1),
    }
    # partition-order independence: same result under repartition
    out2 = {(r.grp, r.pos): (r.centroid, r.n)
            for r in group_centroids(df.repartition(7), "grp").collect()}
    assert out == out2


def test_pagerank_int_hub_ranks_highest_and_is_exact(spark):
    """Star graph: the hub outranks leaves; results are identical under
    repartitioning (integer arithmetic); rank mass ~ scale."""
    from centimators_spark.graphs import pagerank_int

    # 6 leaves all pointing at hub h, hub pointing back at every leaf
    edges = [(f"l{i}", "h") for i in range(6)] + [
        ("h", f"l{i}") for i in range(6)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r.node: r.rank_int for r in pagerank_int(df, iters=3).collect()}
    assert len(out) == 7
    assert out["h"] > max(v for k, v in out.items() if k != "h")
    total = sum(out.values())
    assert abs(total - 10**9) < 10**6  # floor loss only
    # leaves are symmetric -> identical ranks
    assert len({v for k, v in out.items() if k != "h"}) == 1
    out2 = {
        r.node: r.rank_int
        for r in pagerank_int(df.repartition(5), iters=3).collect()
    }
    assert out == out2


def test_record_linkage_scoring(spark):
    """Blocked pairs only; NULL never agrees; integer weighted score."""
    from centimators_spark.dedup.linkage import record_linkage

    rows = [
        (1, "b1", "x", 10),
        (2, "b1", "x", 10),   # agrees with 1 on both fields
        (3, "b1", "y", 10),   # agrees with 1,2 on f2 only
        (4, "b1", None, 10),  # NULL f1 never agrees
        (5, "b2", "x", 10),   # other block: no pair with 1-4
    ]
    df = spark.createDataFrame(rows, "id long, blk string, f1 string, f2 int")
    out = {(r.id_a, r.id_b): (r.score, r.agree_f1, r.agree_f2)
           for r in record_linkage(
               df, "id", "blk", {"f1": 5, "f2": 2}, threshold=0
           ).collect()}
    assert out[(1, 2)] == (7, True, True)
    assert out[(1, 3)] == (2, False, True)
    assert out[(1, 4)] == (2, False, True)
    assert not any(5 in p for p in out)  # blocking respected
    # threshold filters
    from centimators_spark.dedup.linkage import record_linkage as rl
    hi = rl(df, "id", "blk", {"f1": 5, "f2": 2}, threshold=7)
    assert [(r.id_a, r.id_b) for r in hi.collect()] == [(1, 2)]


def test_rake_keywords_hand_computed(spark):
    """RAKE on a textbook-style corpus: multi-word phrase outranks its
    constituent single words; adjacent stopwords split correctly."""
    from centimators_spark.text.keywords import rake_keywords

    docs = [
        (1, "linear algebra of the linear systems"),
        (2, "linear algebra in a nutshell"),
        (3, "systems and the nutshell"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.phrase: r for r in rake_keywords(
        df, min_occurrences=1, top_k=20
    ).collect()}
    # phrases: 'linear algebra' x2, 'linear systems', 'nutshell' x2,
    # 'systems'
    assert out["linear algebra"].n_occurrences == 2
    # word stats: linear freq3 deg(2+2+2)=6 -> 2.0; algebra f2 d4 -> 2;
    # systems f2 d(2+1)=3 -> 1.5; nutshell f2 d2 -> 1
    assert out["linear algebra"].score == pytest.approx(4.0, abs=1e-6)
    assert out["linear systems"].score == pytest.approx(3.5, abs=1e-6)
    assert out["nutshell"].score == pytest.approx(1.0, abs=1e-6)
    # top phrase is the high-degree multiword one
    top = max(out.values(), key=lambda r: (r.score, r.phrase))
    assert top.phrase == "linear algebra"
