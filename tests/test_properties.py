"""Property-based tests (hypothesis): core window/horizontal semantics
hold for ARBITRARY small panels, not just the golden fixtures — the
reference's cross-framework-equivalence idea pushed further (SURVEY.md
§5: differential testing as the primary correctness tool)."""

import math

import numpy as np
import pytest
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

values = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=2, max_size=25
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xs=values)
def test_avg_rank_matches_pandas(spark, xs):
    """Engine avg-tie rank == pandas rank(method='average') per group."""
    from centimators_spark.operators import RankTransformer

    df = spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate(xs)],
        "rid long, g string, x double",
    )
    t = RankTransformer(["x"], group_col="g", keep_cols=["rid"])
    got = (
        t.transform(df).orderBy("rid").toPandas()["x_rank"].to_numpy()
    )
    expected = (
        pd.Series(xs).rank(method="average") / len(xs)
    ).to_numpy()
    np.testing.assert_allclose(got, expected, rtol=1e-12)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(*[st.integers(-20, 20) for _ in range(4)]),
        min_size=1,
        max_size=12,
    )
)
def test_horizontal_stats_match_numpy(spark, rows):
    """Row-wise mean/std/range match numpy with the reference's
    static-n (ddof=1) conventions on fully-populated rows."""
    from centimators_spark.operators import GroupStatsTransformer

    df = spark.createDataFrame(
        [(i, *(float(v) for v in r)) for i, r in enumerate(rows)],
        "rid long, a double, b double, c double, d double",
    )
    t = GroupStatsTransformer(
        {"g": ["a", "b", "c", "d"]}, stats=["mean", "std", "range"],
        keep_cols=["rid"],
    )
    out = t.transform(df).orderBy("rid").toPandas()
    m = np.array(rows, dtype=float)
    np.testing.assert_allclose(out["g_groupstats_mean"], m.mean(axis=1), rtol=1e-12)
    np.testing.assert_allclose(
        out["g_groupstats_std"], m.std(axis=1, ddof=1), rtol=1e-9, atol=1e-12
    )
    np.testing.assert_allclose(
        out["g_groupstats_range"], m.max(axis=1) - m.min(axis=1), rtol=1e-12
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(xs=values, w=st.integers(min_value=1, max_value=6))
def test_moving_average_partial_windows_null(spark, xs, w):
    """Trailing mean matches pandas rolling(min_periods=w) — partial
    windows are NULL, full windows exact."""
    from centimators_spark.operators import MovingAverageTransformer

    df = spark.createDataFrame(
        [(i, "t", float(v)) for i, v in enumerate(xs)],
        "rid long, tkr string, x double",
    )
    t = MovingAverageTransformer(
        [w], ["x"], ticker_col="tkr", order_cols=["rid"], keep_cols=["rid"]
    )
    got = t.transform(df).orderBy("rid").toPandas()[f"x_ma{w}"]
    expected = pd.Series([float(v) for v in xs]).rolling(w, min_periods=w).mean()
    for g, e in zip(got, expected):
        if math.isnan(e):
            assert g is None or math.isnan(g)
        else:
            assert abs(g - e) < 1e-9


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.integers(min_value=0, max_value=20_000), # ts epoch
        ),
        min_size=1,
        max_size=40,
    )
)
def test_session_ids_matches_python_reference(spark, events):
    """The window-based session labeler == a sequential python fold for
    arbitrary event streams (gap rule, per-user, (ts, id) tie order)."""
    from centimators_spark.streaming.events import session_ids

    gap = 1800
    rows = [(i, u, ts) for i, (u, ts) in enumerate(events)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_e long")
    got = {
        r.event_id: r.session_idx
        for r in session_ids(
            df.withColumn("ts", F.timestamp_seconds(F.col("ts_e"))).drop("ts_e")
        ).collect()
    }

    exp = {}
    by_user = {}
    for i, u, ts in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        last, idx = by_user.get(u, (None, 0))
        if last is None or ts - last > gap:
            idx += 1
        exp[i] = idx
        by_user[u] = (ts, idx)
    assert got == exp


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.text(alphabet="ab \n", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_signals_match_python_reference(spark, docs):
    """Sorted-array scan signals == a Counter-based python fold for
    arbitrary texts over a tiny alphabet (dense duplicate structure)."""
    from collections import Counter

    from centimators_spark.text.repetition import repetition_signals

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_signals(df, top_n=2, dup_n=2).collect()}

    for i, text in enumerate(docs):
        lines = [l for l in text.split("\n") if l != ""]
        toks = [t for t in text.lower().split(" ") if t != ""]
        grams = [" ".join(toks[j : j + 2]) for j in range(len(toks) - 1)]
        lc, gc = Counter(lines), Counter(grams)
        r = got[i]
        assert r.n_lines == len(lines)
        if lines:
            assert abs(r.dup_line_frac - (len(lines) - len(lc)) / len(lines)) < 1e-9
            lchars = sum(len(l) for l in lines)
            dchars = sum((c - 1) * len(l) for l, c in lc.items())
            if lchars:
                assert abs(r.dup_line_char_frac - dchars / lchars) < 1e-9
        else:
            assert r.dup_line_frac == 0.0
        if grams:
            # tie-break: max count, lexicographically smallest gram
            bc = max(gc.values())
            bg = min(g for g, c in gc.items() if c == bc)
            assert r.top_ngram_cnt == bc
            assert abs(r.top_ngram_char_frac - bc * len(bg) / len(text)) < 1e-9
            dup = sum((c - 1) * len(g) for g, c in gc.items())
            assert abs(r.dup_ngram_char_frac - dup / len(text)) < 1e-9
        else:
            assert r.top_ngram_cnt == 0


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    corpus=st.lists(st.text(alphabet="xy ", min_size=0, max_size=40),
                    min_size=1, max_size=6),
    bench=st.lists(st.text(alphabet="xy ", min_size=0, max_size=40),
                   min_size=1, max_size=4),
)
def test_contamination_matches_python_reference(spark, corpus, bench):
    from centimators_spark.dedup.contamination import ngram_contamination

    n = 2
    cdf = spark.createDataFrame(list(enumerate(corpus)), "doc_id long, text string")
    bdf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(bench)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in ngram_contamination(cdf, bdf, n=n).collect()}

    def grams(text):
        toks = [t for t in text.lower().split(" ") if t != ""]
        return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}

    bgrams = set().union(*(grams(t) for t in bench)) if bench else set()
    for i, text in enumerate(corpus):
        g = grams(text)
        r = got[i]
        assert r.n_grams == len(g)
        assert r.n_hits == len(g & bgrams)
        if g:
            assert abs(r.contamination - len(g & bgrams) / len(g)) < 1e-9
        else:
            assert r.contamination == 0.0


@given(
    points=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False),
        min_size=1, max_size=25,
    ),
    intervals=st.lists(
        st.tuples(
            st.floats(min_value=-50, max_value=50, allow_nan=False),
            st.floats(min_value=0.1, max_value=30, allow_nan=False),
        ),
        min_size=1, max_size=10,
    ),
    width=st.sampled_from([1.0, 5.0, 17.3]),
)
@settings(deadline=None, max_examples=15,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_interval_join_equals_brute_force(spark, points, intervals, width):
    """Bucketed interval join ≡ the naive nested-loop range join for any
    points/intervals/bucket width (buckets only generate candidates; the
    exact predicate decides)."""
    from centimators_spark.operators import interval_join

    p = spark.createDataFrame(
        [(i, float(x)) for i, x in enumerate(points)], "pid long, x double"
    )
    iv = spark.createDataFrame(
        [(j, float(lo), float(lo + ln)) for j, (lo, ln) in enumerate(intervals)],
        "ivid long, lo double, hi double",
    )
    got = {
        (r.pid, r.ivid)
        for r in interval_join(
            p, iv, point_col="x", lo_col="lo", hi_col="hi", bucket_width=width
        ).collect()
    }
    exp = {
        (i, j)
        for i, x in enumerate(points)
        for j, (lo, ln) in enumerate(intervals)
        if lo <= x < lo + ln
    }
    assert got == exp


def test_portable_primitives_cross_engine_fuzz(spark):
    """Fuzz the portable primitives the oracles are built on: for
    adversarial strings (unicode, quotes, tabs/newlines, multi-space,
    empties) Spark and DuckDB must produce IDENTICAL token arrays,
    distinct 2-grams, and 60-bit md5 hashes."""
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F

    from centimators_spark.text.portable import (
        md5_long,
        sql_md5_long,
        sql_token_ngrams,
        sql_tokens,
        token_ngrams,
        tokens,
    )

    cases = [
        "",
        " ",
        "   a   b ",
        "a\tb\nc",            # tabs/newlines are NOT token separators
        "Ünïcode ÆØÅ tokens",
        "quote ' and \" marks",
        "emoji 🙂 mixed 中文 text",
        "UPPER lower MiXeD",
        "a a a a",
        "trailing space ",
        "semi;colon,comma.dot",
        "back\\slash $dollar %percent",
    ]
    pdf = pd.DataFrame({"rid": range(len(cases)), "text": cases})
    df = spark.createDataFrame(pdf)
    got = (
        df.select(
            "rid",
            tokens(F.col("text")).alias("tok"),
            token_ngrams(tokens(F.col("text")), 2).alias("g2"),
            md5_long(F.col("text")).alias("h"),
        )
        .orderBy("rid")
        .collect()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    exp = con.execute(
        f"SELECT rid, {sql_tokens('text')} AS tok, "
        f"{sql_token_ngrams(sql_tokens('text'), 2)} AS g2, "
        f"{sql_md5_long('text')} AS h FROM t ORDER BY rid"
    ).fetchall()
    for g, e in zip(got, exp):
        assert list(g.tok) == list(e[1]), (g.rid, g.tok, e[1])
        # gram SETS are portable; element ORDER is not (DuckDB's
        # list_distinct is hash-ordered, Spark's array_distinct keeps
        # first occurrence) — every consumer uses set semantics
        assert sorted(g.g2) == sorted(e[2]), (g.rid, g.g2, e[2])
        assert g.h == e[3], (g.rid, cases[g.rid])


@settings(max_examples=10, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(0, 2),                      # date group
            st.integers(0, 1),                      # ticker
            st.one_of(st.none(), st.integers(0, 5)),  # value with ties/nulls
        ),
        min_size=2,
        max_size=25,
    )
)
def test_core_transformers_match_pandas_reference(spark, data):
    """Property differential: RankTransformer == pandas rank(average)/count,
    LagTransformer == groupby.shift, MovingAverage == rolling(min_periods=w)
    on arbitrary small panels with ties and nulls — the reference's own
    backend semantics (narwhals-on-pandas)."""
    import pandas as pd

    from centimators_spark.operators import (
        LagTransformer,
        MovingAverageTransformer,
        RankTransformer,
    )

    pdf = pd.DataFrame(data, columns=["date", "ticker", "v"]).astype(
        {"v": "float64"}
    )
    pdf["rid"] = range(len(pdf))
    df = spark.createDataFrame(pdf)

    got = (
        RankTransformer(["v"], group_col="date")
        .transform(df)
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    exp_rank = pdf.groupby("date")["v"].rank(method="average") / pdf.groupby(
        "date"
    )["v"].transform("count")
    for g, e in zip(got.v_rank, exp_rank):
        assert (pd.isna(g) and pd.isna(e)) or g == pytest.approx(e), (g, e)

    common = dict(ticker_col="ticker", order_cols=["rid"])
    got = (
        LagTransformer([1], ["v"], **common)
        .transform(df)
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    exp_lag = pdf.sort_values("rid").groupby("ticker")["v"].shift(1)
    for g, e in zip(got.v_lag1, exp_lag):
        assert (pd.isna(g) and pd.isna(e)) or g == e, (g, e)

    w = 2
    got = (
        MovingAverageTransformer([w], ["v"], **common)
        .transform(df)
        .toPandas()
        .sort_values("rid")
        .reset_index(drop=True)
    )
    # reference semantics: min_samples = window_size -> partial windows null
    exp_ma = (
        pdf.sort_values("rid")
        .groupby("ticker")["v"]
        .rolling(w, min_periods=w)
        .mean()
        .reset_index(level=0, drop=True)
        .sort_index()
    )
    for g, e in zip(got[f"v_ma{w}"], exp_ma):
        assert (pd.isna(g) and pd.isna(e)) or g == pytest.approx(e), (g, e)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False,
            ),
            st.booleans(),
        ),
        min_size=2,
        max_size=40,
    ),
    n_cells=st.sampled_from([1, 2, 3, 7, 64]),
)
def test_gains_table_two_phase_equals_reference(spark, rows, n_cells):
    """The two-phase cell cumsum is bit-identical to the single-window
    reference path for ARBITRARY score distributions and any cell
    count — the exact-integer-arithmetic invariant behind the round-7
    continuous-score fix."""
    from centimators_spark.ml.classification_metrics import gains_table

    df = spark.createDataFrame(rows, "score double, label boolean")
    fast = sorted(gains_table(df, "score", "label", n_cells=n_cells).collect())
    ref = sorted(gains_table(df, "score", "label", n_cells=None).collect())
    assert fast == ref


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # score
            st.integers(min_value=0, max_value=50),        # tokens
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: r,  # doc ids assigned by enumeration below
    ),
    n_cells=st.sampled_from([1, 2, 5, 64]),
    frac=st.sampled_from([0.0, 0.3, 0.5, 1.0]),
)
def test_budget_select_matches_local_greedy(spark, rows, n_cells, frac):
    """token_budget_select == the local greedy prefix of the
    (score desc, doc_id asc) ordering for arbitrary scores/tokens,
    any cell count, any budget fraction."""
    from centimators_spark.text.selection import token_budget_select

    data = [(i, s, t) for i, (s, t) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, score_micro long, n_tokens long"
    )
    got = sorted(
        (r.doc_id, r.cum_tokens)
        for r in token_budget_select(
            df, budget_frac=frac, n_cells=n_cells
        ).collect()
    )
    order = sorted(data, key=lambda r: (-r[1], r[0]))
    budget = math.floor(sum(r[2] for r in data) * frac)
    cum, expected = 0, []
    for doc_id, _, tok in order:
        cum += tok
        if cum > budget:
            break
        expected.append((doc_id, cum))
    assert got == sorted(expected)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-20, max_value=20),
            st.booleans(),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_best_split_matches_bruteforce_gini(spark, rows):
    """best_split == numpy brute-force weighted-Gini argmin (same
    (score, threshold) tiebreak) for arbitrary small label patterns."""
    from centimators_spark.ml.splits import best_split

    df = spark.createDataFrame(rows, "x long, y boolean")
    got = best_split(df, {"x": F.col("x")}, F.col("y")).collect()
    xs = np.array([r[0] for r in rows])
    ys = np.array([r[1] for r in rows], dtype=int)
    n, pos = len(xs), int(ys.sum())
    cands = []
    for v in sorted(set(xs.tolist()))[:-1]:  # right side must be non-empty
        left = xs <= v
        nl, pl = int(left.sum()), int(ys[left].sum())
        nr, pr = n - nl, pos - pl
        score = (
            n
            - (pl * pl + (nl - pl) * (nl - pl)) / nl
            - (pr * pr + (nr - pr) * (nr - pr)) / nr
        )
        cands.append((round(score, 9), v, nl, pl))
    if not cands:  # single distinct value: no valid split
        assert got == []
        return
    exp = min(cands)
    r = got[0]
    assert (r.score, r.threshold, r.n_left, r.pos_left) == exp


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "ab", "x"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    ),
    rules=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "x", "a_b"]),
            st.sampled_from(["a", "b", "c", "x"]),
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_bpe_apply_matches_python_merge_pass(spark, docs, rules):
    """bpe_apply's literal replace chain == a pure-Python left-to-right
    non-overlapping single-pass-per-rule merge on random token
    sequences and random (possibly pathological) rule lists."""
    from centimators_spark.text.cooccur import bpe_apply

    def merge_pass(toks, w1, w2):
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == w1 and toks[i + 1] == w2:
                out.append(f"{w1}_{w2}")
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    expected = {}
    for d, toks in enumerate(docs):
        cur = list(toks)
        for w1, w2 in rules:
            cur = merge_pass(cur, w1, w2)
        expected[d] = cur

    df = spark.createDataFrame(
        [(d, " ".join(toks)) for d, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {}
    for r in bpe_apply(df, rules, output="exploded").collect():
        got.setdefault(r.doc_id, []).append((r.pos, r.token))
    got = {d: [t for _, t in sorted(v)] for d, v in got.items()}
    for d, toks in expected.items():
        assert got.get(d, []) == toks, (d, docs[d], rules)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cc_star_matches_fixpoint_on_random_graphs(spark, edges):
    """Star-contraction CC == the driver union-find CC on arbitrary
    random edge lists (self-loops and duplicates included): the same
    (node, cluster) set, self-loop-only singletons included."""
    from centimators_spark.dedup.cluster import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "d1 long, d2 long")
    exact = {(r.node, r.cluster) for r in connected_components(df).collect()}
    star = {
        (r.node, r.cluster)
        for r in connected_components_star(df).collect()
    }
    assert star == exact
