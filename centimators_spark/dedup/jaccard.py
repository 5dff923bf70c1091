"""Exact n-gram Jaccard near-duplicate pairs via inverted-index blocking.

Semantics: pairs (d1 < d2) whose distinct token-n-gram sets have
Jaccard similarity ≥ threshold. Blocking on shared n-grams is EXACT
(any pair with Jaccard > 0 shares ≥ 1 gram), so this is the ground
truth the MinHash path approximates-then-verifies against.

Plan: explode grams → ONE gram-keyed shuffle collecting each gram's
(doc, size) postings → map-side i<j pair explode → per-pair shared-gram
count. Scale: pair generation explodes on very common grams — at
100 TB, drop stop-grams first (document frequency cap) exactly like a
search index; `df_cap` implements that. Jaccard itself is an integer
ratio — bit-identical across engines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from centimators_spark.text.hashing_udf import gram_frame as _gram_sets_udf


def _gram_sets(df: DataFrame, content_col: str, id_col: str, n: int) -> DataFrame:
    return _gram_sets_udf(df, content_col, id_col, n)


DEFAULT_DF_CAP = 1000
# largest df_cap whose per-gram C(df_cap, 2) pair array the map-side
# explode builds as one row; larger caps take the postings self-join
EXPLODE_DF_CAP = DEFAULT_DF_CAP


def gram_inverted_index(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The uncapped (doc_id, g) inverted index — the Arrow shingling
    pass both pair detectors consume, pinned with an eager
    localCheckpoint (at cluster scale: a bucketed table). Pass it to
    :func:`ngram_jaccard_pairs` / :func:`ngram_containment_pairs` via
    ``inv=`` when one plan runs several detectors over the same corpus,
    so the Python boundary runs once."""
    grams = _gram_sets(df, content_col, id_col, n)
    return grams.select("doc_id", F.explode("grams").alias("g")).localCheckpoint(
        eager=True
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = DEFAULT_DF_CAP,
    inv: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs: (d1, d2, jaccard) with jaccard ≥ threshold.

    df_cap (default 1000): drop grams appearing in more than df_cap docs
    BEFORE blocking — the standard stop-gram guard that keeps the gram
    self-join subquadratic when a boilerplate sentence is shared corpus-
    wide. Set sizes are computed from the SAME capped index, so the
    semantics are consistently "Jaccard over non-stop-grams": a pair's
    score is unchanged iff it shares no capped gram, and every capped
    gram is excluded from both intersection and union (never deflating
    one side only). df_cap=None gives exact all-grams Jaccard (only
    sensible when the corpus is known boilerplate-free).

    inv: optionally, a prebuilt :func:`gram_inverted_index` (or the
    same (doc_id, g) postings exploded from a shingle frame the caller
    already holds) so the Arrow shingling pass executes once."""
    inv = _capped_index(df, content_col, id_col, n, df_cap, inv)
    # grams are distinct per doc → set size == exploded row count; deriving
    # sizes from the (capped) inv reuses the single shingling pass and keeps
    # |A|,|B| consistent with the capped intersection counts. The per-doc
    # size is attached to the postings BEFORE the gram-key shuffle
    # (broadcast — one row per doc) so the length filter can drop pairs
    # in the same map stage that generates them.
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    invn = inv.join(F.broadcast(sizes), "doc_id")
    # |A ∩ B| directly from the inverted index (count of shared grams);
    # |A ∪ B| = |A| + |B| − |A ∩ B|. Avoids materializing distinct
    # candidate pairs AND the per-pair array intersect — one gram-keyed
    # shuffle (map-side pair explode), one aggregation. Integer ratio →
    # bit-exact.
    #
    # Length filter (AllPairs/PPJoin): J(A,B) ≥ t forces
    # min(|A|,|B|) ≥ t·max(|A|,|B|) (since c ≤ min and union ≥ max), so
    # size-incompatible postings pairs are dropped BEFORE the pair-count
    # shuffle — exact-preserving for the thresholded output, and at 100 TB
    # it is the difference between shuffling every co-gram pair and only
    # the plausible ones. The bound is evaluated in INTEGER arithmetic
    # (min·10⁶ ≥ floor(t·10⁶)·max) with the rational rounded DOWN, so an
    # exact-boundary pair (jaccard == t) can never be dropped by one ulp
    # of double rounding — the final `jaccard >= t` filter stays the
    # authoritative test.
    t_num = int(math.floor(threshold * 10**6))
    shared = _pair_counts(invn, t_num, df_cap)
    jac = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        shared.select("d1", "d2", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _capped_index(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n: int,
    df_cap: int | None,
    inv: DataFrame | None,
) -> DataFrame:
    """(doc_id, g) postings with the stop-gram cap applied; builds (and
    checkpoint-materializes) the inverted index unless one is passed
    in."""
    if inv is None:
        inv = gram_inverted_index(df, content_col, id_col, n)
    if df_cap is not None:
        freq = inv.groupBy("g").count().where(F.col("count") <= df_cap)
        inv = inv.join(F.broadcast(freq.select("g")), "g")
    return inv


def _pair_counts(
    invn: DataFrame, length_t_num: int | None, df_cap: int | None
) -> DataFrame:
    """Shared-gram pair counts: the map-side explode when ``df_cap``
    bounds each gram's postings to at most EXPLODE_DF_CAP docs, the
    postings self-join otherwise."""
    if df_cap is not None and df_cap <= EXPLODE_DF_CAP:
        return _shared_gram_pair_counts(invn, length_t_num)
    return _shared_gram_pair_counts_join(invn, length_t_num)


def _shared_gram_pair_counts(
    invn: DataFrame, length_t_num: int | None
) -> DataFrame:
    """(d1 < d2, c, n1, n2) shared-gram pair counts from the sized
    postings in ONE gram-keyed shuffle: each gram's (doc_id, n)
    postings are collected into a sorted array and the i<j pairs
    explode MAP-SIDE (the winnowing_overlap / triangle_count
    discipline) — replacing the postings self-join that shuffled the
    inverted index TWICE (both alias sides) and paid a sort-merge
    build on top (r13 optimization, guide §2.3/§2.4).

    The pair multiset is the join's by construction: postings are
    distinct per (doc, gram), so within a gram the doc_ids are
    distinct and ``sort_array`` orders the structs strictly by doc_id
    — position pairs i<j are exactly the join's ``d1 < d2`` pairs.
    NULL grams and NULL doc_ids are filtered up front, mirroring the
    equi-join (NULL keys never match) and the ``<`` predicate (NULL
    comparisons drop the row).

    ``length_t_num``: the integer AllPairs/PPJoin length bound
    (min·10⁶ ≥ t_num·max), applied pair-local in the SAME map stage
    the explode runs in — exactly as pre-shuffle as the join's WHERE.

    ONLY for postings capped at EXPLODE_DF_CAP docs per gram: the
    nested transform+slice is interpreted (no codegen) and the
    flatten materializes a gram's ENTIRE C(m,2) pair array as one
    row before the explode — bounded and cheap when a small df_cap
    caps m, but a single-row memory spike on an uncapped (or loosely
    capped) heavy gram, where the codegen self-join streams the same
    pairs. Those callers therefore take the join
    (:func:`_shared_gram_pair_counts_join`, chosen by
    :func:`_pair_counts`); measured:
    blocking_quality's uncapped truth pass regressed 5.8 → 8.6 s
    under the explode before this gate.
    """
    ds = F.col("__ds")
    pair_arr = F.flatten(
        F.transform(
            ds,
            lambda x, i: F.transform(
                F.slice(ds, i + F.lit(2), F.size(ds)),
                lambda y: F.struct(
                    x["doc_id"].alias("d1"),
                    y["doc_id"].alias("d2"),
                    x["n"].alias("n1"),
                    y["n"].alias("n2"),
                ),
            ),
        )
    )
    pairs = (
        invn.where(F.col("g").isNotNull() & F.col("doc_id").isNotNull())
        .groupBy("g")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias(
                "__ds"
            )
        )
        .select(F.explode(pair_arr).alias("p"))
        .select("p.d1", "p.d2", "p.n1", "p.n2")
    )
    if length_t_num is not None:
        pairs = pairs.where(
            F.least(F.col("n1"), F.col("n2")) * F.lit(10**6)
            >= F.lit(length_t_num) * F.greatest(F.col("n1"), F.col("n2"))
        )
    return pairs.groupBy("d1", "d2").agg(
        F.count(F.lit(1)).alias("c"),
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
    )


def _shared_gram_pair_counts_join(
    invn: DataFrame, length_t_num: int | None
) -> DataFrame:
    """Self-join form of :func:`_shared_gram_pair_counts` — the
    uncapped (or loosely capped) postings path (see its docstring):
    codegen'd equi-join on the gram, O(m²) per heavy gram, identical
    pair multiset."""
    cond = F.col("a.doc_id") < F.col("b.doc_id")
    if length_t_num is not None:
        cond = cond & (
            F.least(F.col("a.n"), F.col("b.n")) * F.lit(10**6)
            >= F.lit(length_t_num) * F.greatest(F.col("a.n"), F.col("b.n"))
        )
    return (
        invn.alias("a")
        .join(invn.alias("b"), "g")
        .where(cond)
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.max(F.col("a.n")).alias("n1"),
            F.max(F.col("b.n")).alias("n2"),
        )
    )


def ngram_containment_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    df_cap: int | None = DEFAULT_DF_CAP,
    inv: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: (src, dst, containment) where
    containment(src→dst) = |grams(src) ∩ grams(dst)| / |grams(src)| ≥
    threshold — the doc-inside-doc detector (quotes, boilerplate
    wrappers, extended re-posts) that symmetric Jaccard misses: a
    200-gram doc fully embedded in a 10,000-gram doc scores Jaccard
    0.02 but containment 1.0. Same inverted-index blocking and df_cap
    stop-gram guard as :func:`ngram_jaccard_pairs`; one shared-gram
    count per unordered pair feeds BOTH directions. Integer ratio →
    bit-exact. No length filter is possible here — containment of a
    tiny doc in a huge one is exactly the signal — so the df_cap is
    the only (and the load-bearing) blow-up guard.

    inv: optionally, a prebuilt :func:`gram_inverted_index` (see
    :func:`ngram_jaccard_pairs`)."""
    inv = _capped_index(df, content_col, id_col, n, df_cap, inv)
    sizes = inv.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    invn = inv.join(F.broadcast(sizes), "doc_id")
    sized = _pair_counts(invn, None, df_cap)
    # BOTH directions ride one explode over the pair-count rows: the
    # old fwd/rev UNION fed `sized` to two lazy consumers, so the
    # whole gram join + aggregation subtree ran TWICE in one plan
    # (measured: 56 exchanges; r13 optimization). Row multiset is the
    # union's by construction — one (src,dst) and one (dst,src) row
    # per unordered pair, same containment arithmetic.
    both = F.explode(
        F.array(
            F.struct(
                F.col("d1").alias("src"),
                F.col("d2").alias("dst"),
                (F.col("c").cast("double") / F.col("n1")).alias(
                    "containment"
                ),
            ),
            F.struct(
                F.col("d2").alias("src"),
                F.col("d1").alias("dst"),
                (F.col("c").cast("double") / F.col("n2")).alias(
                    "containment"
                ),
            ),
        )
    )
    return (
        sized.select(both.alias("p"))
        .select("p.src", "p.dst", "p.containment")
        .where(F.col("containment") >= threshold)
    )
