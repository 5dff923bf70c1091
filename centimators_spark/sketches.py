"""Count-min sketch over token streams — the point-frequency sketch
(Cormode & Muthukrishnan 2005) beside the suite's cardinality
(approx_distinct HLL contract) and quantile (psi_sketch) families.

Portability: the d row-hashes are the engine's stable 60-bit md5 hash
of ``"{i}:" || token`` mod w — no engine-native hash — so every cell
count, every estimate, and every overcount is a deterministic INTEGER
both engines compute identically: the whole sketch is hash-provable,
not just its error bound.

Scale: building the sketch is ONE pass — explode tokens, fan each out
to its d (row, bucket) cells (a d-element posexplode), one
map-side-combined count into d·w cells (a few KB regardless of corpus
size — the point of a sketch). Estimation joins the d·w cell table
(broadcast) against the query keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from centimators_spark.text.portable import md5_long, sql_md5_long, tokens

CMS_D = 4
CMS_W = 512


def _bucket(tok: Column, i: int, w: int) -> Column:
    return F.pmod(md5_long(F.concat(F.lit(f"{i}:"), tok)), F.lit(w))


def cms_build(
    df: DataFrame,
    *,
    content_col: str = "text",
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """(row, bucket, c): the d×w cell counts of the corpus token
    stream (whitespace tokens, with multiplicity)."""
    tok = df.select(F.explode(tokens(F.col(content_col))).alias("tok"))
    cells = tok.select(
        F.posexplode(
            F.array(*[_bucket(F.col("tok"), i, w) for i in range(d)])
        ).alias("row", "bucket")
    )
    return cells.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def cms_heavy_hitter_contract(
    df: DataFrame,
    *,
    content_col: str = "text",
    k: int = 30,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """For the k most frequent tokens (exact count, ties by token):
    (token, true_n, cms_est, overcount) where cms_est = min over the d
    rows of the cell count and overcount = cms_est − true_n. The CMS
    guarantee est ≥ true means overcount ≥ 0 ALWAYS — and because the
    hashes are portable, the exact overcount values hash-match the SQL
    twin, proving the sketch itself, not a tolerance band."""
    tok = df.select(
        F.explode(tokens(F.col(content_col))).alias("tok")
    ).localCheckpoint(eager=True)
    true_c = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("true_n")
    )
    keys = true_c.orderBy(
        F.col("true_n").desc(), F.col("tok").asc()
    ).limit(k)
    cells = tok.select(
        F.posexplode(
            F.array(*[_bucket(F.col("tok"), i, w) for i in range(d)])
        ).alias("row", "bucket")
    ).groupBy("row", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    kb = keys.select(
        "tok",
        "true_n",
        F.posexplode(
            F.array(*[_bucket(F.col("tok"), i, w) for i in range(d)])
        ).alias("row", "bucket"),
    )
    est = (
        kb.join(F.broadcast(cells), ["row", "bucket"])
        .groupBy("tok", "true_n")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        F.col("tok").alias("token"),
        "true_n",
        "cms_est",
        (F.col("cms_est") - F.col("true_n")).alias("overcount"),
    )


def cms_heavy_hitter_oracle_sql(
    table: str = "documents",
    *,
    content_sql: str = "text",
    k: int = 30,
    d: int = CMS_D,
    w: int = CMS_W,
) -> str:
    """DuckDB mirror: identical md5 row-hashes, identical cells,
    identical min-estimate."""
    from centimators_spark.text.portable import sql_tokens

    tk = sql_tokens(content_sql)
    h = sql_md5_long("(CAST(i AS VARCHAR) || ':' || tok)")
    return f"""
        WITH toks AS (
          SELECT unnest({tk}) AS tok FROM {table}
        ), true_c AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS true_n
          FROM toks GROUP BY tok
        ), keys AS (
          SELECT tok, true_n FROM true_c
          ORDER BY true_n DESC, tok LIMIT {k}
        ), fan AS (
          SELECT tok, i, {h} % {w} AS bucket
          FROM toks CROSS JOIN range({d}) t(i)
        ), cells AS (
          SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
          FROM fan GROUP BY i, bucket
        ), kb AS (
          SELECT k.tok, k.true_n, t.i, {sql_md5_long(
              "(CAST(t.i AS VARCHAR) || ':' || k.tok)")} % {w} AS bucket
          FROM keys k CROSS JOIN range({d}) t(i)
        )
        SELECT kb.tok AS token, kb.true_n,
               min(c.c) AS cms_est,
               min(c.c) - kb.true_n AS overcount
        FROM kb JOIN cells c ON c.i = kb.i AND c.bucket = kb.bucket
        GROUP BY kb.tok, kb.true_n
    """


def _key_counts(df: DataFrame, key_col: str) -> DataFrame:
    """(k, n): per-key occurrence counts of a join-key column (cast
    string; NULL keys excluded — they never match an equi-join). The
    ONE corpus-sized aggregation each side of cms_join_size pays:
    both the sketch cells and the exact witness derive from it, and
    the identical subtree lets Spark reuse the shuffle
    (ReusedExchange) instead of scanning the input twice."""
    return (
        df.select(F.col(key_col).cast("string").alias("k"))
        # filter on the CAST key, not the source column: the witness
        # join infers isnotnull(k) and only an identical filter set
        # lets ReuseExchange dedupe the two consumers' scan subtrees
        .where(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _cms_key_cells(key_counts: DataFrame, d: int, w: int) -> DataFrame:
    """(row, bucket, c): count-min cells built from a (k, n) per-key
    count table — summing counts per bucket is identical to hashing
    every occurrence (the CMS cell is a sum either way)."""
    cells = key_counts.select(
        "n",
        F.posexplode(
            F.array(*[_bucket(F.col("k"), i, w) for i in range(d)])
        ).alias("row", "bucket"),
    )
    return cells.groupBy("row", "bucket").agg(
        F.sum("n").cast("long").alias("c")
    )


def cms_join_size(
    a: DataFrame,
    a_key: str,
    b: DataFrame,
    b_key: str,
    *,
    d: int = CMS_D,
    w: int = CMS_W,
) -> DataFrame:
    """Equi-join OUTPUT-SIZE estimate from two count-min sketches —
    the AMS inner-product result (Alon, Matias & Szegedy 1996;
    Cormode & Muthukrishnan 2005 §4.2): |A ⋈ B| = Σ_k cntA(k)·cntB(k)
    is estimated by min over the d rows of Σ_b cmsA[r][b]·cmsB[r][b].
    The join-PLANNING companion of profile.join_skew_audit: each side
    is sketched independently in one scan (d·w cells, KBs — build
    them at ingest and the estimate costs nothing at plan time), so a
    100 TB join's output size is known BEFORE the shuffle is
    committed. Collisions only ADD nonnegative cross terms, so
    est ≥ exact ALWAYS — the integer overcount ≥ 0 is the contract,
    and the EXACT join size rides along as the witness (computed on
    the aggregated per-key counts, never the row-level cross join).

    Exactness: portable md5 bucket hashes, products/sums on
    decimal(38,0) (HUGEINT in the oracle) — every number is the same
    integer on both engines. Output: one row
    (est_pairs, exact_pairs, overcount).

    Scan accounting: the ESTIMATE half costs one pruned key-column
    scan per side; the exact witness costs a second (it is the
    contract's verification side, the theta/bottom-k
    witness-rides-along precedent — a production caller sizing a join
    would materialize the (k, n) key-count table once at ingest and
    derive both sketch and any exact audit from it)."""
    d38 = "decimal(38,0)"
    ka = _key_counts(a, a_key)
    kb = _key_counts(b, b_key)
    ca = _cms_key_cells(ka, d, w)
    cb = _cms_key_cells(kb, d, w)
    prod = (
        ca.alias("a")
        .join(cb.alias("b"), ["row", "bucket"])
        .groupBy("row")
        .agg(
            F.sum(
                (F.col("a.c").cast(d38) * F.col("b.c").cast(d38)).cast(
                    d38
                )
            )
            .cast(d38)
            .alias("ip")
        )
    )
    # a row with ZERO matched buckets drops out of the inner cell
    # join — its inner product is 0, so the min is 0 whenever fewer
    # than d rows survive (the disjoint-keys regime; est == exact == 0)
    est = prod.agg(
        F.when(F.count(F.lit(1)) < d, F.lit(0).cast(d38))
        .otherwise(F.min("ip").cast(d38))
        .alias("est_pairs")
    )
    exact = (
        ka.select("k", F.col("n").alias("na"))
        .join(kb.select("k", F.col("n").alias("nb")), "k")
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("na").cast(d38) * F.col("nb").cast(d38)).cast(
                        d38
                    )
                ),
                F.lit(0).cast(d38),
            )
            .cast(d38)
            .alias("exact_pairs")
        )
    )
    return est.crossJoin(F.broadcast(exact)).select(
        F.col("est_pairs").cast("string").alias("est_pairs"),
        F.col("exact_pairs").cast("string").alias("exact_pairs"),
        (F.col("est_pairs") - F.col("exact_pairs"))
        .cast(d38)
        .cast("string")
        .alias("overcount"),
    )


def cms_join_size_oracle_sql(
    a_table: str,
    a_key_sql: str,
    b_table: str,
    b_key_sql: str,
    *,
    d: int = CMS_D,
    w: int = CMS_W,
) -> str:
    """DuckDB mirror of :func:`cms_join_size` (HUGEINT; identical
    bucket hashes). est/exact/overcount ship as VARCHAR — they exceed
    BIGINT at data-scale counts."""
    h = sql_md5_long("(CAST(i AS VARCHAR) || ':' || tok)")
    return f"""
        WITH ta AS (
          SELECT CAST({a_key_sql} AS VARCHAR) AS tok FROM {a_table}
          WHERE {a_key_sql} IS NOT NULL
        ), tb AS (
          SELECT CAST({b_key_sql} AS VARCHAR) AS tok FROM {b_table}
          WHERE {b_key_sql} IS NOT NULL
        ), ca AS (
          SELECT i AS row, {h} % {w} AS bucket,
                 CAST(count(*) AS BIGINT) AS c
          FROM ta CROSS JOIN range({d}) t(i) GROUP BY 1, 2
        ), cb AS (
          SELECT i AS row, {h} % {w} AS bucket,
                 CAST(count(*) AS BIGINT) AS c
          FROM tb CROSS JOIN range({d}) t(i) GROUP BY 1, 2
        ), prod AS (
          SELECT ca.row,
                 sum(CAST(ca.c AS HUGEINT) * cb.c) AS ip
          FROM ca JOIN cb ON ca.row = cb.row AND ca.bucket = cb.bucket
          GROUP BY ca.row
        ), est AS (
          SELECT CASE WHEN count(*) < {d} THEN CAST(0 AS HUGEINT)
                 ELSE min(ip) END AS est_pairs
          FROM prod
        ),
        ka AS (
          SELECT tok AS k, CAST(count(*) AS BIGINT) AS na
          FROM ta GROUP BY 1
        ), kb AS (
          SELECT tok AS k, CAST(count(*) AS BIGINT) AS nb
          FROM tb GROUP BY 1
        ), ex AS (
          SELECT coalesce(sum(CAST(na AS HUGEINT) * nb),
                          CAST(0 AS HUGEINT)) AS exact_pairs
          FROM ka JOIN kb USING (k)
        )
        SELECT CAST(est_pairs AS VARCHAR) AS est_pairs,
               CAST(exact_pairs AS VARCHAR) AS exact_pairs,
               CAST(est_pairs - exact_pairs AS VARCHAR) AS overcount
        FROM est CROSS JOIN ex
    """


# ------------------------------------------------------------ theta/KMV

THETA_K = 128
THETA_SPACE = 1 << 60  # md5_long is 60 bits: hashes are uniform in [0, 2^60)
_THETA_SALTS = 16


def theta_retained_rows(
    df: DataFrame,
    *,
    by: str = "source",
    content_col: str = "text",
    k: int = THETA_K,
    n: int = 3,
) -> DataFrame:
    """(grp, h): the theta/KMV sketch's mergeable STATE — the k
    smallest DISTINCT n-gram shingle hashes per group (merge =
    distinct union + re-truncate-to-k). The batch parity target for
    streaming/sketch.theta_retained_stream; theta and the retained
    set that theta_sketch_intersections derives follow from these
    rows directly. Same two-phase k-smallest selection as the
    intersection operator (per-(group, salt) rank, then per-group
    rank over the ≤ k·S survivors — no single task sorts a group's
    whole distinct-hash set)."""
    from pyspark.sql import Window

    hashes = (
        df.select(
            F.col(by).alias("grp"),
            F.explode(
                __import__(
                    "centimators_spark.text.portable", fromlist=["x"]
                ).token_ngrams(tokens(F.col(content_col)), n)
            ).alias("gram"),
        )
        .select("grp", md5_long(F.col("gram")).alias("h"))
        .distinct()
    )
    salted = hashes.withColumn(
        "salt", F.pmod("h", F.lit(_THETA_SALTS))
    )
    w1 = Window.partitionBy("grp", "salt").orderBy("h")
    w2 = Window.partitionBy("grp").orderBy("h")
    return (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= k)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("grp", "h")
    )


def _source_gram_items(
    df: DataFrame, content_col: str, by: str, n: int
) -> DataFrame:
    """The distinct (g, gram) item stream the set-algebra sketches
    audit: token n-gram shingles per ``by`` group. Pinned with ONE
    eager localCheckpoint because every sketch reads it several times
    (hashes/registers, per-group totals, the exact-truth witness) —
    the lazy form re-ran tokenize+explode+distinct from the scan per
    consumer (r13 optimization)."""
    from centimators_spark.text.portable import token_ngrams

    return (
        df.select(
            F.col(by).alias("g"),
            F.explode(token_ngrams(tokens(F.col(content_col)), n)).alias(
                "gram"
            ),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def _source_pair_counts(
    grams: DataFrame, out_col: str = "n_common"
) -> DataFrame:
    """Unordered per-source-pair co-occurrence counts
    |items(a) ∩ items(b)| over (g, gram) postings WITHOUT a corpus
    self-join (r13 optimization): the source universe is tiny, so ONE
    groupBy collects each gram's sorted source set and the a<b pairs
    explode map-side (C(s,2) per gram) into a KB-sized pair count —
    one postings shuffle instead of the join's two plus the pair-count
    shuffle. Exactly the join's semantics: sort_array ascending ≡ the
    `src_a < src_b` predicate, collect_set skips NULL sources exactly
    as the old join's NULL comparison dropped them, and the NULL-gram
    filter mirrors the old `join ... on gram` key semantics."""
    src_sets = (
        grams.where(F.col("gram").isNotNull())
        .groupBy("gram")
        .agg(F.sort_array(F.collect_set("g")).alias("__ss"))
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("__ss"),
            lambda x, i: F.transform(
                F.slice(F.col("__ss"), i + F.lit(2), F.size(F.col("__ss"))),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    return (
        src_sets.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("long").alias(out_col))
    )


def theta_sketch_intersections(
    df: DataFrame,
    *,
    content_col: str = "text",
    by: str = "source",
    k: int = THETA_K,
    n: int = 3,
) -> DataFrame:
    """Theta/KMV sketch set-intersection audit (Dasgupta et al. 2016,
    the DataSketches theta family) — "how many distinct items appear
    in BOTH partitions", the question a 100 TB dedup audit asks per
    source pair. Items are the distinct n-gram shingles per ``by``
    group; the sketch is the k smallest portable-md5 hash values.

    Per group: theta = the k-th smallest distinct hash (or 2^60 when
    the group has fewer than k), retained set = hashes < theta. Per
    group pair: theta = min(theta_a, theta_b), n_common = retained
    hashes present in BOTH sides below theta, and the estimator
    est_common = floor(n_common · 2^60 / theta) — EXACT integer
    arithmetic end to end (decimal(38,0) carrier), so the whole
    sketch, not a tolerance band, is hash-proven against the oracle
    (the cms_heavy_hitters discipline). true_common (exact distinct
    intersection) rides along so the contract also witnesses the
    estimator's accuracy.

    Scale: the k-smallest selection is TWO-PHASE — per (group, salt)
    rank then per group rank over the ≤ k·S survivors — so no single
    task sorts a whole group's distinct hashes (groups are few; a
    one-phase per-group window is the skew hazard). The pair stage
    joins SKETCHES (k rows per group — KBs), never corpora; the only
    corpus-sized shuffles are the distinct and the exact-truth gram
    join (drop true_common in production and the sketch join is the
    ONLY pair cost — the point of theta sketches)."""
    from pyspark.sql import Window

    grams = _source_gram_items(df, content_col, by, n)
    hashes = grams.select(
        "g", md5_long(F.col("gram")).alias("h")
    ).distinct()
    salted = hashes.withColumn("salt", F.pmod("h", F.lit(_THETA_SALTS)))
    w1 = Window.partitionBy("g", "salt").orderBy("h")
    w2 = Window.partitionBy("g").orderBy("h")
    survivors = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= k)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("g", "h", "rn")
        .localCheckpoint(eager=True)
    )
    thetas = survivors.groupBy("g").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k, F.col("h"))),
            F.lit(THETA_SPACE).cast("long"),
        ).alias("theta")
    )
    retained = survivors.join(F.broadcast(thetas), "g").where(
        F.col("h") < F.col("theta")
    )
    pairs = (
        thetas.select(
            F.col("g").alias("src_a"), F.col("theta").alias("ta")
        )
        .crossJoin(
            F.broadcast(
                thetas.select(
                    F.col("g").alias("src_b"), F.col("theta").alias("tb")
                )
            )
        )
        .where(F.col("src_a") < F.col("src_b"))
        .select(
            "src_a", "src_b", F.least("ta", "tb").alias("theta")
        )
    )
    common = (
        retained.select(F.col("g").alias("src_a"), "h")
        .join(retained.select(F.col("g").alias("src_b"), "h"), "h")
        .where(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(pairs), ["src_a", "src_b"])
        .where(F.col("h") < F.col("theta"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    # truth witness from per-gram source sets, no corpus self-join
    truth = _source_pair_counts(grams, "true_common")
    num = (
        F.coalesce(F.col("n_common"), F.lit(0)).cast("decimal(38,0)")
        * F.lit(THETA_SPACE).cast("decimal(38,0)")
    )
    th = F.col("theta").cast("decimal(38,0)")
    est = ((num - F.pmod(num, th)) / th).cast("decimal(38,0)")
    return (
        pairs.join(common, ["src_a", "src_b"], "left")
        .join(truth, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "theta",
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("long")
            .alias("n_common"),
            est.cast("long").alias("est_common"),
            F.coalesce(F.col("true_common"), F.lit(0))
            .cast("long")
            .alias("true_common"),
        )
    )


def theta_sketch_oracle_sql(
    table: str = "documents",
    *,
    content_sql: str = "text",
    by_sql: str = "source",
    k: int = THETA_K,
    n: int = 3,
) -> str:
    """DuckDB mirror: identical md5 hashes, identical k-th-smallest
    theta, identical HUGEINT floor-division estimator."""
    from centimators_spark.text.portable import (
        sql_token_ngrams,
        sql_tokens,
    )

    tk = sql_tokens(content_sql)
    return f"""
        WITH grams AS (
          SELECT DISTINCT {by_sql} AS g, unnest({sql_token_ngrams('tk', n)}) AS gram
          FROM (SELECT {by_sql}, {tk} AS tk FROM {table})
        ), hashes AS (
          SELECT DISTINCT g, {sql_md5_long('gram')} AS h FROM grams
        ), ranked AS (
          SELECT g, h, row_number() OVER (
            PARTITION BY g ORDER BY h) AS rn
          FROM hashes
        ), survivors AS (
          SELECT g, h, rn FROM ranked WHERE rn <= {k}
        ), thetas AS (
          SELECT g, coalesce(
            max(CASE WHEN rn = {k} THEN h END),
            CAST({THETA_SPACE} AS BIGINT)) AS theta
          FROM survivors GROUP BY g
        ), retained AS (
          SELECT s.g, s.h FROM survivors s
          JOIN thetas t ON s.g = t.g WHERE s.h < t.theta
        ), pairs AS (
          SELECT a.g AS src_a, b.g AS src_b,
                 least(a.theta, b.theta) AS theta
          FROM thetas a JOIN thetas b ON a.g < b.g
        ), common AS (
          SELECT a.g AS src_a, b.g AS src_b,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM retained a
          JOIN retained b ON a.h = b.h AND a.g < b.g
          JOIN pairs p ON p.src_a = a.g AND p.src_b = b.g
          WHERE a.h < p.theta
          GROUP BY a.g, b.g
        ), truth AS (
          SELECT a.g AS src_a, b.g AS src_b,
                 CAST(count(*) AS BIGINT) AS true_common
          FROM grams a
          JOIN grams b ON a.gram = b.gram AND a.g < b.g
          GROUP BY a.g, b.g
        )
        SELECT p.src_a, p.src_b, p.theta,
               CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
               CAST((CAST(coalesce(c.n_common, 0) AS HUGEINT)
                     * {THETA_SPACE}) // p.theta AS BIGINT) AS est_common,
               CAST(coalesce(t.true_common, 0) AS BIGINT) AS true_common
        FROM pairs p
        LEFT JOIN common c ON c.src_a = p.src_a AND c.src_b = p.src_b
        LEFT JOIN truth t ON t.src_a = p.src_a AND t.src_b = p.src_b
    """


def theta_sketch_a_not_b(
    df: DataFrame,
    *,
    content_col: str = "text",
    by: str = "source",
    k: int = THETA_K,
    n: int = 3,
) -> DataFrame:
    """Theta/KMV A-NOT-B set-difference estimate (the DataSketches
    ``a_not_b`` operation) — per ORDERED source pair, how many distinct
    n-gram shingles appear in A but NOT in B: the question a dedup
    audit asks after :func:`theta_sketch_intersections` ("what is
    UNIQUE to this source / what would removing it lose").

    Same discipline as the intersection: items are distinct n-gram
    shingles hashed by portable md5; per group the sketch is the k
    smallest distinct hashes with theta = the k-th (or 2^60 short
    groups). Per ordered pair (a, b): theta = min(theta_a, theta_b),
    n_diff = |{h in retained_a : h < theta, h not in retained_b}|
    (sound because retained_b contains ALL of B's distinct hashes
    below theta_b >= theta), est_diff = floor(n_diff * 2^60 / theta) —
    exact integer arithmetic end to end, so the sketch is hash-proven
    against the oracle, with true_diff (= |A| - |A intersect B| exact)
    riding along as the accuracy witness.

    Scale: the two-phase k-smallest selection is shared with the
    intersection sketch; the pair stage joins SKETCHES (<= k rows per
    group, KBs total) — the anti side is broadcast. Drop true_diff in
    production and no pair-stage shuffle ever touches the corpus."""
    from pyspark.sql import Window

    grams = _source_gram_items(df, content_col, by, n)
    hashes = grams.select(
        "g", md5_long(F.col("gram")).alias("h")
    ).distinct()
    salted = hashes.withColumn("salt", F.pmod("h", F.lit(_THETA_SALTS)))
    w1 = Window.partitionBy("g", "salt").orderBy("h")
    w2 = Window.partitionBy("g").orderBy("h")
    survivors = (
        salted.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= k)
        .withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .select("g", "h", "rn")
        .localCheckpoint(eager=True)
    )
    thetas = survivors.groupBy("g").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k, F.col("h"))),
            F.lit(THETA_SPACE).cast("long"),
        ).alias("theta")
    )
    retained = survivors.join(F.broadcast(thetas), "g").where(
        F.col("h") < F.col("theta")
    )
    pairs = (
        thetas.select(
            F.col("g").alias("src_a"), F.col("theta").alias("ta")
        )
        .crossJoin(
            F.broadcast(
                thetas.select(
                    F.col("g").alias("src_b"), F.col("theta").alias("tb")
                )
            )
        )
        .where(F.col("src_a") != F.col("src_b"))
        .select("src_a", "src_b", F.least("ta", "tb").alias("theta"))
    )
    diff = (
        retained.select(F.col("g").alias("src_a"), "h")
        .join(F.broadcast(pairs), "src_a")
        .where(F.col("h") < F.col("theta"))
        .join(
            F.broadcast(
                retained.select(F.col("g").alias("src_b"), "h")
            ),
            ["src_b", "h"],
            "left_anti",
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_diff"))
    )
    totals = grams.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_tot")
    )
    # truth witness ONCE unordered (a<b — half the pair fan-out) from
    # per-gram source sets (no corpus self-join); both orientations by
    # a rename union
    common_uo = _source_pair_counts(grams, "n_common")
    common = common_uo.unionByName(
        common_uo.select(
            F.col("src_b").alias("src_a"),
            F.col("src_a").alias("src_b"),
            "n_common",
        )
    )
    num = (
        F.coalesce(F.col("n_diff"), F.lit(0)).cast("decimal(38,0)")
        * F.lit(THETA_SPACE).cast("decimal(38,0)")
    )
    th = F.col("theta").cast("decimal(38,0)")
    est = ((num - F.pmod(num, th)) / th).cast("decimal(38,0)")
    return (
        pairs.join(diff, ["src_a", "src_b"], "left")
        .join(
            F.broadcast(totals.withColumnRenamed("g", "src_a")),
            "src_a",
        )
        .join(common, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "theta",
            F.coalesce(F.col("n_diff"), F.lit(0))
            .cast("long")
            .alias("n_diff"),
            est.cast("long").alias("est_diff"),
            (
                F.col("n_tot") - F.coalesce(F.col("n_common"), F.lit(0))
            ).cast("long").alias("true_diff"),
        )
    )


def theta_a_not_b_oracle_sql(
    table: str = "documents",
    *,
    content_sql: str = "text",
    by_sql: str = "source",
    k: int = THETA_K,
    n: int = 3,
) -> str:
    """DuckDB mirror of :func:`theta_sketch_a_not_b`: identical md5
    hashes, identical theta, NOT EXISTS membership against the full
    retained set, identical HUGEINT floor-division estimator."""
    from centimators_spark.text.portable import (
        sql_token_ngrams,
        sql_tokens,
    )

    tk = sql_tokens(content_sql)
    return f"""
        WITH grams AS (
          SELECT DISTINCT {by_sql} AS g, unnest({sql_token_ngrams('tk', n)}) AS gram
          FROM (SELECT {by_sql}, {tk} AS tk FROM {table})
        ), hashes AS (
          SELECT DISTINCT g, {sql_md5_long('gram')} AS h FROM grams
        ), ranked AS (
          SELECT g, h, row_number() OVER (
            PARTITION BY g ORDER BY h) AS rn
          FROM hashes
        ), survivors AS (
          SELECT g, h, rn FROM ranked WHERE rn <= {k}
        ), thetas AS (
          SELECT g, coalesce(
            max(CASE WHEN rn = {k} THEN h END),
            CAST({THETA_SPACE} AS BIGINT)) AS theta
          FROM survivors GROUP BY g
        ), retained AS (
          SELECT s.g, s.h FROM survivors s
          JOIN thetas t ON s.g = t.g WHERE s.h < t.theta
        ), pairs AS (
          SELECT a.g AS src_a, b.g AS src_b,
                 least(a.theta, b.theta) AS theta
          FROM thetas a JOIN thetas b ON a.g <> b.g
        ), diff AS (
          SELECT r.g AS src_a, p.src_b,
                 CAST(count(*) AS BIGINT) AS n_diff
          FROM retained r
          JOIN pairs p ON p.src_a = r.g
          WHERE r.h < p.theta
            AND NOT EXISTS (SELECT 1 FROM retained r2
                            WHERE r2.g = p.src_b AND r2.h = r.h)
          GROUP BY r.g, p.src_b
        ), totals AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n_tot
          FROM grams GROUP BY g
        ), common AS (
          SELECT a.g AS src_a, b.g AS src_b,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM grams a
          JOIN grams b ON a.gram = b.gram AND a.g <> b.g
          GROUP BY a.g, b.g
        )
        SELECT p.src_a, p.src_b, p.theta,
               CAST(coalesce(d.n_diff, 0) AS BIGINT) AS n_diff,
               CAST((CAST(coalesce(d.n_diff, 0) AS HUGEINT)
                     * {THETA_SPACE}) // p.theta AS BIGINT) AS est_diff,
               CAST(t.n_tot - coalesce(c.n_common, 0) AS BIGINT)
                 AS true_diff
        FROM pairs p
        LEFT JOIN diff d ON d.src_a = p.src_a AND d.src_b = p.src_b
        JOIN totals t ON t.g = p.src_a
        LEFT JOIN common c ON c.src_a = p.src_a AND c.src_b = p.src_b
    """


# ------------------------------------------------------------ portable HLL

HLL_P = 6
HLL_M = 1 << HLL_P  # 64 registers
HLL_WBITS = 60 - HLL_P  # 54-bit rank payload
HLL_ALPHA_MICRO = 709340  # floor(1e6 * 0.7213 / (1 + 1.079/64))
# linear-counting table: LC[V] = floor(m * ln(m / V)) for V empty
# registers (fixed-point literals shared by both engines — the
# AS241/DCT/Benford discipline: no transcendental at query time)


def _hll_lc_table() -> list[int]:
    import math

    return [
        int(math.floor(HLL_M * math.log(HLL_M / v)))
        for v in range(1, HLL_M + 1)
    ]


def _hll_rank_expr():
    """Leading-zero rank of the 54-bit payload column ``__w`` via the
    shared threshold CASE chain (never float log2)."""
    rank = F.lit(HLL_WBITS + 1)
    for r in range(HLL_WBITS, 0, -1):
        rank = F.when(
            F.col("__w") >= F.lit(1 << (HLL_WBITS - r)), F.lit(r)
        ).otherwise(rank)
    return rank


def _hll_pow_term():
    """2^(60 - M) for register column ``__m`` via a literal power
    table (M in 1..55) — exact longs, no float pow."""
    pow_arr = F.array(
        *[F.lit(1 << (60 - mm)) for mm in range(1, HLL_WBITS + 2)]
    )
    return F.element_at(pow_arr, F.col("__m").cast("int"))


def _hll_registers(hashes: DataFrame, key_cols: list) -> DataFrame:
    """(key..., __j, __m): max-rank registers from a distinct-hash
    frame with column ``h`` (integer shift, never float division —
    h has 60 bits and a double mantissa would round the payload).
    NULL hashes (a NULL item has no md5) are dropped here — otherwise
    j = pmod(NULL) = NULL and the rank chain falls through to its
    max, emitting a phantom register outside the 0..m-1 universe with
    rank 55 (round-11 review find; the oracle filters identically)."""
    return (
        hashes.where(F.col("h").isNotNull())
        .withColumn("__j", F.pmod("h", F.lit(HLL_M)))
        .withColumn("__w", F.shiftrightunsigned("h", HLL_P))
        .withColumn("__rank", _hll_rank_expr())
        .groupBy(*key_cols, "__j")
        .agg(F.max("__rank").alias("__m"))
    )


BQ_K = 64
BQ_QUANTILES = ((1, 4), (1, 2), (3, 4))
BQ_NAMES = ("q25", "q50", "q75")


def _bq_base(
    df: DataFrame, group_col: str, id_col: str, value_col: str
) -> DataFrame:
    """(grp, __h, __v): portable hash + centi-value projection shared
    by the sketch builder, the sample-rows accessor, and the streaming
    maintenance operator — one definition so they can never
    desynchronize. NULL values and NULL ids excluded (the MWU
    discipline; a NULL id has no hash)."""
    h = md5_long(
        F.concat(F.lit("bq:"), F.col(id_col).cast("string"))
    )
    cents = F.round(F.col(value_col) * 100).cast("long")
    return df.select(
        F.col(group_col).alias("grp"),
        h.alias("__h"),
        cents.alias("__v"),
    ).where(F.col("__v").isNotNull() & F.col("__h").isNotNull())


def bottomk_sample_rows(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    *,
    k: int = BQ_K,
) -> DataFrame:
    """The raw bottom-k sample — (grp, h, v), the k rows per group
    with the lexicographically smallest (md5 hash, value) pair. This
    IS the sketch's mergeable state (merge = union + re-truncate-to-k)
    and the parity target for the streaming maintenance operator
    (streaming/sketch.bottomk_sample_stream)."""
    base = _bq_base(df, group_col, id_col, value_col)
    w_h = Window.partitionBy("grp").orderBy("__h", "__v")
    return (
        base.withColumn("__rh", F.row_number().over(w_h))
        .where(F.col("__rh") <= k)
        .select("grp", F.col("__h").alias("h"), F.col("__v").alias("v"))
    )


def bottomk_quantile_sketch(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    *,
    k: int = BQ_K,
    quantiles: tuple = BQ_QUANTILES,
    names: tuple = BQ_NAMES,
) -> DataFrame:
    """Bottom-k quantile SAMPLE sketch — the mergeable quantile
    primitive beside HLL (distinct), count-min (frequency), and theta
    (set algebra): per group, the k rows with the smallest portable
    md5(id) form a uniform sample independent of partitioning, so two
    partial sketches merge by union + re-truncate-to-k — the 100 TB
    path for per-group quantiles with KB state (the KMV idea applied
    to row sampling; cf. Bar-Yossef et al. 2002).

    Deterministic and hash-provable (the cms/theta discipline): the
    hash IS the sample selector, values ride centi-unit integers, and
    both sample and witness quantiles are exact type-1 order
    statistics decided by integer cross-multiplication
    (rank·den ≥ num·n — the weighted_quantiles rule). The EXACT
    full-group quantiles ride along as the accuracy witness.

    Scale: one sort window family per group (the hash ranking and the
    value ranking share the group exchange), then the sample stage
    runs on k rows per group. NULL values AND NULL ids are excluded
    on both engines (the MWU discipline; a NULL id has no hash, and
    Spark's ascending sort puts NULLs FIRST while DuckDB's default is
    NULLS LAST — NULL-keyed rows would fill the Spark sample but not
    the oracle's). Output: (grp, n_rows, k_eff, *sample_names,
    *exact_names)."""
    base = _bq_base(df, group_col, id_col, value_col)
    w_h = Window.partitionBy("grp").orderBy("__h", "__v")
    w_v = Window.partitionBy("grp").orderBy("__v", "__h")
    w_n = Window.partitionBy("grp")
    ranked = (
        base.withColumn("__rh", F.row_number().over(w_h))
        .withColumn("__rv", F.row_number().over(w_v))
        .withColumn("__n", F.count(F.lit(1)).over(w_n))
    )

    def type1(rank_col, n_col, num, den):
        return F.min(
            F.when(
                F.col(rank_col) * F.lit(den)
                >= F.lit(num) * F.col(n_col),
                F.col("__v"),
            )
        )

    exact = ranked.groupBy("grp").agg(
        F.max("__n").cast("long").alias("n_rows"),
        *[
            type1("__rv", "__n", num, den).alias(f"{nm}_exact")
            for (num, den), nm in zip(quantiles, names)
        ],
    )
    w_s = Window.partitionBy("grp").orderBy("__v", "__h")
    w_sn = Window.partitionBy("grp")
    samp = (
        ranked.where(F.col("__rh") <= k)
        .select("grp", "__v", "__h")
        .withColumn("__rs", F.row_number().over(w_s))
        .withColumn("__ks", F.count(F.lit(1)).over(w_sn))
    )
    sagg = samp.groupBy("grp").agg(
        F.max("__ks").cast("long").alias("k_eff"),
        *[
            type1("__rs", "__ks", num, den).alias(f"{nm}_sample")
            for (num, den), nm in zip(quantiles, names)
        ],
    )
    cols = (
        ["grp", "n_rows", "k_eff"]
        + [f"{nm}_sample" for nm in names]
        + [f"{nm}_exact" for nm in names]
    )
    return exact.join(sagg, "grp").select(*cols)


def bottomk_quantile_oracle_sql(
    table: str,
    group_sql: str,
    id_sql: str,
    value_sql: str,
    *,
    k: int = BQ_K,
    quantiles: tuple = BQ_QUANTILES,
    names: tuple = BQ_NAMES,
) -> str:
    """DuckDB mirror of :func:`bottomk_quantile_sketch` — identical
    hash selector, rankings, and integer cross-multiplication."""
    h = sql_md5_long(f"('bq:' || CAST({id_sql} AS VARCHAR))")
    ex = ", ".join(
        f"min(CASE WHEN rv * {den} >= {num} * n THEN v END)"
        f" AS {nm}_exact"
        for (num, den), nm in zip(quantiles, names)
    )
    sa = ", ".join(
        f"min(CASE WHEN rs * {den} >= {num} * ks THEN v END)"
        f" AS {nm}_sample"
        for (num, den), nm in zip(quantiles, names)
    )
    out = ", ".join(
        [f"{nm}_sample" for nm in names]
        + [f"{nm}_exact" for nm in names]
    )
    return f"""
        WITH base AS (
          SELECT {group_sql} AS grp, {h} AS h,
                 CAST(round({value_sql} * 100) AS BIGINT) AS v
          FROM {table}
          WHERE {value_sql} IS NOT NULL AND {id_sql} IS NOT NULL
        ), ranked AS (
          SELECT grp, h, v,
                 row_number() OVER (PARTITION BY grp
                                    ORDER BY h, v) AS rh,
                 row_number() OVER (PARTITION BY grp
                                    ORDER BY v, h) AS rv,
                 count(*) OVER (PARTITION BY grp) AS n
          FROM base
        ), exact AS (
          SELECT grp, CAST(max(n) AS BIGINT) AS n_rows, {ex}
          FROM ranked GROUP BY grp
        ), samp AS (
          SELECT grp, v,
                 row_number() OVER (PARTITION BY grp
                                    ORDER BY v, h) AS rs,
                 count(*) OVER (PARTITION BY grp) AS ks
          FROM ranked WHERE rh <= {k}
        ), sagg AS (
          SELECT grp, CAST(max(ks) AS BIGINT) AS k_eff, {sa}
          FROM samp GROUP BY grp
        )
        SELECT e.grp, e.n_rows, s.k_eff, {out}
        FROM exact e JOIN sagg s ON e.grp = s.grp
    """


# --------------------------------------------------- DD percentile sketch
#
# The fifth family's DEDICATED percentile sketch (beside the bottom-k
# SAMPLE, which estimates quantiles from a uniform row sample): a
# DDSketch-style logarithmic-bucket histogram (Masson, Rim & Lee,
# "DDSketch: a fast and fully-mergeable quantile sketch with
# relative-error guarantees", VLDB 2019). Each positive centi-value v
# lands in bucket b = floor(ln v / ln gamma); reading back the paper's
# estimator 2*gamma^(b+1)/(gamma+1) guarantees RELATIVE error <= alpha
# for every quantile (both bucket-edge errors equal exactly
# (gamma-1)/(gamma+1) = alpha), with gamma = (1+alpha)/(1-alpha).
#
# Mergeability is trivial and EXACT: the sketch is integer bucket
# counts, so merge = cell-wise addition — commutative, associative,
# duplicate-sensitive (a true histogram), which is why the streaming
# half (streaming/sketch.dd_buckets_stream) reproduces the batch build
# bit for bit regardless of how micro-batches split the stream.
#
# State size is bounded by the VALUE RANGE, not the stream: #buckets
# <= log_gamma(v_max/v_min) ~= ln(1e7)/0.02 ~= 800 for centi-values up
# to 1e5 currency units at alpha=0.01 — a few KB per group forever.
#
# The bucket index uses F.log — a JVM-side double. Both halves (batch
# build and streaming maintenance) share _dd_base, so they cannot
# desynchronize; there is deliberately NO DuckDB oracle for this
# family (ln differs by ULPs across engines at bucket edges — the
# psi_sketch lesson), its contracts are the incremental==batch and
# accuracy pins in tests/test_streaming.py / test_round13_ops.py.

DD_ALPHA = 0.01
DD_GAMMA = (1 + DD_ALPHA) / (1 - DD_ALPHA)


def _dd_base(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """(grp, __b): log-bucket index per row, shared by the batch build
    and the streaming maintenance operator — one definition so they
    can never desynchronize. Values ride centi-unit integers first
    (the package's exactness carrier), then bucket JVM-side. NULL and
    non-positive values are excluded (DDSketch's domain is v > 0; a
    signed variant is the mirrored sketch of -v plus a zero count)."""
    import math

    cents = F.round(F.col(value_col) * 100).cast("long")
    b = F.floor(
        F.log(F.col("__c").cast("double")) / F.lit(math.log(DD_GAMMA))
    ).cast("long")
    return (
        df.select(F.col(group_col).alias("grp"), cents.alias("__c"))
        .where(F.col("__c") > 0)
        .select("grp", b.alias("__b"))
    )


def dd_bucket_rows(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """The batch-built sketch — (grp, b, c) bucket-count rows. This IS
    the mergeable state (merge = cell-wise count addition) and the
    parity target for streaming/sketch.dd_buckets_stream. One
    map-side-combined count; output is group-cardinality × ≤~800
    rows, never data-sized."""
    return (
        _dd_base(df, group_col, value_col)
        .groupBy("grp", F.col("__b").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def dd_quantiles(
    cells: DataFrame,
    *,
    quantiles: tuple = BQ_QUANTILES,
    names: tuple = BQ_NAMES,
) -> DataFrame:
    """Quantile read-out over (grp, b, c) sketch cells from EITHER
    half (batch dd_bucket_rows or the final generation of the
    streaming state): type-1 rank selection by exact integer
    cross-multiplication over the bucket cumsum (cum·den ≥ num·n — the
    weighted_quantiles rule), then the DDSketch estimator
    x̂ = 2·gamma^(b+1)/(gamma+1) back in currency units, rounded 6dp.
    NOT the arithmetic midpoint: the midpoint's worst-case relative
    error is (gamma−1)/2 = alpha/(1−alpha) > alpha (it overshoots at
    the bucket's low edge), while the paper's estimator equalizes
    both edge errors at exactly (gamma−1)/(gamma+1) = alpha — the
    bound the dd_sketch_contract gate pins. The window spans sketch
    CELLS (≤~800 per group), never data.
    Output: (grp, n_rows, {name}_bucket, {name}_est)."""
    import math

    w_cum = (
        Window.partitionBy("grp")
        .orderBy(F.col("b").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_n = Window.partitionBy("grp")
    cum = cells.withColumn("__cum", F.sum("c").over(w_cum)).withColumn(
        "__n", F.sum("c").over(w_n)
    )
    lg = math.log(DD_GAMMA)

    def pick(num: int, den: int):
        return F.min(
            F.when(
                F.col("__cum") * F.lit(den) >= F.lit(num) * F.col("__n"),
                F.col("b"),
            )
        )

    agg = cum.groupBy("grp").agg(
        F.max("__n").cast("long").alias("n_rows"),
        *[
            pick(num, den).alias(f"{nm}_bucket")
            for (num, den), nm in zip(quantiles, names)
        ],
    )
    est_cols = []
    for nm in names:
        bcol = F.col(f"{nm}_bucket").cast("double")
        est = (
            F.lit(2.0)
            * F.exp((bcol + 1) * F.lit(lg))
            / F.lit(DD_GAMMA + 1.0)
        )
        est_cols.append(F.round(est / 100.0, 6).alias(f"{nm}_est"))
    return agg.select(
        "grp",
        "n_rows",
        *[F.col(f"{nm}_bucket") for nm in names],
        *est_cols,
    )


def hll_register_cells(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """(grp, j, m): the mergeable HLL register state — the 100 TB
    per-partition distinct primitive in its raw, KB-sized form.

    Register-wise MAX is the natural merge (hll_union_pairs uses the
    same rule across sketches), and max is duplicate-idempotent, so
    NO distinct stage is needed: the identical declarative plan runs
    on batch AND streaming frames (the cms_build discipline), with
    Structured Streaming state bounded by m registers per group
    rather than the stream size. The estimator half
    (:func:`hll_portable`) consumes exactly these cells."""
    h = md5_long(F.col(item_col).cast("string"))
    hashes = df.select(F.col(group_col).alias("grp"), h.alias("h"))
    return _hll_registers(hashes, ["grp"]).select(
        "grp",
        F.col("__j").cast("long").alias("j"),
        F.col("__m").cast("long").alias("m"),
    )


def _hll_estimate_exprs(v_empty):
    """(raw, est) columns from S_used (decimal) + v_empty (long) —
    the shared fixed-point estimator and LC correction."""
    from decimal import Decimal

    d38 = "decimal(38,0)"
    s_total = (
        F.col("S_used")
        + v_empty.cast(d38) * F.lit(Decimal(1 << 60)).cast(d38)
    ).cast(d38)
    num = (
        F.lit(HLL_ALPHA_MICRO).cast(d38)
        * F.lit(HLL_M * HLL_M).cast(d38)
        * F.lit(Decimal(1 << 60)).cast(d38)
    ).cast(d38)
    den = (F.lit(1_000_000).cast(d38) * s_total).cast(d38)
    raw = ((num - F.pmod(num, den)) / den).cast("long")
    lc_arr = F.array(*[F.lit(v) for v in _hll_lc_table()])
    est = F.when(
        (raw <= int(2.5 * HLL_M)) & (v_empty > 0),
        F.element_at(lc_arr, v_empty.cast("int")).cast("long"),
    ).otherwise(raw)
    return raw, est


def _hll_sql_parts() -> tuple:
    """(lc VALUES list, rank threshold CASE body) shared by the
    oracle builders."""
    lc = _hll_lc_table()
    lc_vals = ", ".join(f"({v + 1}, {lc[v]})" for v in range(HLL_M))
    thresholds = " ".join(
        f"WHEN w >= {1 << (HLL_WBITS - r)} THEN {r}"
        for r in range(1, HLL_WBITS + 1)
    )
    return lc_vals, thresholds


def hll_portable(
    df: DataFrame,
    group_col: str,
    item_col: str,
) -> DataFrame:
    """Fully portable HyperLogLog (Flajolet et al. 2007) — the
    hash-PROVEN upgrade of the tolerance-banded
    approx_count_distinct contract: every register, the raw
    estimator, and the small-range linear-counting correction are
    deterministic integers both engines compute identically, so the
    whole sketch hash-matches the oracle (the cms/theta discipline).

    Construction: item hash h = portable 60-bit md5; register
    j = h mod 64; payload w = h >> 6 (54 bits); rank = leading-zero
    count of w in 54-bit width + 1 (computed by a shared 54-threshold
    integer CASE chain, never float log2); register value = max rank.
    Estimator: with S = sum over registers of 2^(60 - M_j) (empty
    registers contribute 2^60), raw = floor(alpha_micro * m^2 * 2^60
    / (1e6 * S)); if raw <= 2.5*m and V > 0 empty registers, the
    estimate is linear counting floor(m * ln(m/V)) from the shared
    fixed-point table. n_exact rides along as the accuracy witness.

    Scale: one map-side-combined 64-cell MAX aggregate per group —
    the sketch (not the data) is the state, which is why this is the
    100 TB per-group distinct. No distinct pre-pass (r13
    optimization): the register max is multiplicity-invariant, so the
    dedup shuffle the old form paid before aggregating bought
    nothing; only (grp, register, max-rank) partials cross the wire.
    Output per group: n_exact, v_empty, est_raw, est."""
    h = md5_long(F.col(item_col).cast("string"))
    hashes = df.select(
        F.col(group_col).alias("grp"), h.alias("h")
    )
    regs = _hll_registers(hashes, ["grp"])
    d38 = "decimal(38,0)"
    term = _hll_pow_term()
    per_group = regs.groupBy("grp").agg(
        # sum in decimal: 64 registers x up to 2^59 exceeds BIGINT
        F.sum(term.cast(d38)).cast(d38).alias("S_used"),
        F.count(F.lit(1)).cast("long").alias("n_used"),
    )
    exact = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.countDistinct(item_col).cast("long").alias("n_exact")
    )
    v_empty = (F.lit(HLL_M) - F.col("n_used")).cast("long")
    raw, est = _hll_estimate_exprs(v_empty)
    return (
        per_group.join(exact, "grp")
        .select(
            "grp",
            "n_exact",
            v_empty.alias("v_empty"),
            raw.alias("est_raw"),
            est.cast("long").alias("est"),
        )
    )


def hll_portable_oracle_sql(
    table: str,
    group_sql: str,
    item_sql: str,
) -> str:
    """DuckDB mirror of :func:`hll_portable` (HUGEINT; identical
    threshold CASE chain, alpha, and LC table)."""
    lc_vals, thresholds = _hll_sql_parts()
    return f"""
        WITH lc(v, est) AS (VALUES {lc_vals}),
        hashes AS (
          SELECT DISTINCT {group_sql} AS grp,
                 {sql_md5_long(f"CAST({item_sql} AS VARCHAR)")} AS h
          FROM {table}
          WHERE {item_sql} IS NOT NULL
        ), ranked AS (
          SELECT grp, h % {HLL_M} AS j,
                 CASE {thresholds} ELSE {HLL_WBITS + 1} END AS rank
          FROM (SELECT grp, h, h // {HLL_M} AS w FROM hashes)
        ), regs AS (
          SELECT grp, j, max(rank) AS m FROM ranked GROUP BY grp, j
        ), per_group AS (
          SELECT grp,
                 sum(CAST(1 AS HUGEINT) << (60 - m)) AS s_used,
                 CAST(count(*) AS BIGINT) AS n_used
          FROM regs GROUP BY grp
        ), exact AS (
          SELECT {group_sql} AS grp,
                 CAST(count(DISTINCT {item_sql}) AS BIGINT) AS n_exact
          FROM {table} GROUP BY 1
        ), scored AS (
          SELECT p.grp, e.n_exact,
                 CAST({HLL_M} - p.n_used AS BIGINT) AS v_empty,
                 CAST(
                   (CAST({HLL_ALPHA_MICRO} AS HUGEINT)
                    * {HLL_M * HLL_M}
                    * (CAST(1 AS HUGEINT) << 60))
                   // (1000000 * (p.s_used
                       + ({HLL_M} - p.n_used)
                         * (CAST(1 AS HUGEINT) << 60)))
                 AS BIGINT) AS est_raw
          FROM per_group p JOIN exact e ON p.grp = e.grp
        )
        SELECT s.grp, s.n_exact, s.v_empty, s.est_raw,
               CAST(CASE WHEN s.est_raw <= {int(2.5 * HLL_M)}
                          AND s.v_empty > 0
                    THEN (SELECT est FROM lc WHERE lc.v = s.v_empty)
                    ELSE s.est_raw END AS BIGINT) AS est
        FROM scored s
    """


def hll_union_pairs(
    df: DataFrame,
    *,
    content_col: str = "text",
    by: str = "source",
    n: int = 3,
) -> DataFrame:
    """HLL union per group pair — the MERGE operation that is the
    whole point of HLL (register-wise max): estimate the distinct
    n-gram union |A ∪ B| for every source pair from the two groups'
    64-register sketches alone, completing the sketch set-algebra
    beside theta intersection (`theta_sketch_intersections`) and
    difference (`theta_sketch_a_not_b`). Same portable discipline as
    :func:`hll_portable`: every merged register, the raw estimator,
    and the linear-counting correction are shared-literal integers —
    hash-proven, with true_union riding along as the witness.

    Scale: the corpus is touched ONCE — the distinct (group, gram)
    set is pinned with one eager localCheckpoint and every consumer
    (registers, exact-truth union, per-group totals) reads the pinned
    rows instead of re-running tokenize+explode+distinct from the
    scan (r13 optimization: the lazy form re-executed the corpus
    derivation three times — 8 FileScans in the plan; now 1). The
    pair stage merges 64-row register tables per group — KBs
    regardless of corpus size. Drop true_union in production and pair
    cost is register-table-sized."""
    grams = _source_gram_items(df, content_col, by, n)
    # no .distinct() on the hash projection: _hll_registers takes a
    # per-register MAX, which is multiplicity-invariant — the dedup
    # shuffle bought nothing (r13 optimization; md5-collision dedup
    # cannot change a max either)
    hashes = grams.select("g", md5_long(F.col("gram")).alias("h"))
    regs = _hll_registers(hashes, ["g"]).localCheckpoint(eager=True)
    # pair-wise register merge over the FULL 64-register universe per
    # pair (a one-sided left join would drop registers present only in
    # the other sketch): merged rank = max of the two, absent = 0
    a = regs.select(
        F.col("g").alias("src_a"), "__j", F.col("__m").alias("ma")
    )
    b = regs.select(
        F.col("g").alias("src_b"), "__j", F.col("__m").alias("mb")
    )
    pairs_univ = (
        regs.select(F.col("g").alias("src_a"))
        .distinct()
        .crossJoin(
            F.broadcast(
                regs.select(F.col("g").alias("src_b")).distinct()
            )
        )
        .where(F.col("src_a") < F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.explode(
                F.array(*[F.lit(j) for j in range(HLL_M)])
            ).alias("__j"),
        )
    )
    merged = (
        pairs_univ.join(F.broadcast(a), ["src_a", "__j"], "left")
        .join(F.broadcast(b), ["src_b", "__j"], "left")
        .select(
            "src_a",
            "src_b",
            "__j",
            F.greatest(
                F.coalesce("ma", F.lit(0)), F.coalesce("mb", F.lit(0))
            ).alias("__m"),
        )
    )
    d38 = "decimal(38,0)"
    term = _hll_pow_term()
    per_pair = merged.where(F.col("__m") > 0).groupBy(
        "src_a", "src_b"
    ).agg(
        F.sum(term.cast(d38)).cast(d38).alias("S_used"),
        F.count(F.lit(1)).cast("long").alias("n_used"),
    )
    # truth witness from per-gram source sets, no corpus self-join
    truth = _source_pair_counts(grams, "n_common")
    totals = grams.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_tot")
    )
    v_empty = (F.lit(HLL_M) - F.col("n_used")).cast("long")
    raw, est = _hll_estimate_exprs(v_empty)
    return (
        per_pair.join(
            F.broadcast(
                totals.select(
                    F.col("g").alias("src_a"),
                    F.col("n_tot").alias("na"),
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                totals.select(
                    F.col("g").alias("src_b"),
                    F.col("n_tot").alias("nb"),
                )
            ),
            "src_b",
        )
        .join(truth, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            v_empty.alias("v_empty"),
            est.cast("long").alias("est_union"),
            (
                F.col("na")
                + F.col("nb")
                - F.coalesce("n_common", F.lit(0))
            ).cast("long").alias("true_union"),
        )
    )


def hll_union_oracle_sql(
    table: str = "documents",
    *,
    content_sql: str = "text",
    by_sql: str = "source",
    n: int = 3,
) -> str:
    """DuckDB mirror of :func:`hll_union_pairs`."""
    from centimators_spark.text.portable import (
        sql_token_ngrams,
        sql_tokens,
    )

    lc_vals, thresholds = _hll_sql_parts()
    tk = sql_tokens(content_sql)
    return f"""
        WITH lc(v, lcest) AS (VALUES {lc_vals}),
        grams AS (
          SELECT DISTINCT {by_sql} AS g, unnest({sql_token_ngrams('tk', n)}) AS gram
          FROM (SELECT {by_sql}, {tk} AS tk FROM {table})
        ), hashes AS (
          SELECT DISTINCT g, {sql_md5_long('gram')} AS h FROM grams
        ), ranked AS (
          SELECT g, h % {HLL_M} AS j,
                 CASE {thresholds} ELSE {HLL_WBITS + 1} END AS rank
          FROM (SELECT g, h, h // {HLL_M} AS w FROM hashes)
        ), regs AS (
          SELECT g, j, max(rank) AS m FROM ranked GROUP BY g, j
        ), pairs_univ AS (
          SELECT a.g AS src_a, b.g AS src_b
          FROM (SELECT DISTINCT g FROM regs) a
          JOIN (SELECT DISTINCT g FROM regs) b ON a.g < b.g
        ), merged AS (
          SELECT p.src_a, p.src_b, u.j,
                 greatest(coalesce(ra.m, 0), coalesce(rb.m, 0)) AS m
          FROM pairs_univ p
          CROSS JOIN (SELECT unnest(range(0, {HLL_M})) AS j) u
          LEFT JOIN regs ra ON ra.g = p.src_a AND ra.j = u.j
          LEFT JOIN regs rb ON rb.g = p.src_b AND rb.j = u.j
        ), per_pair AS (
          SELECT src_a, src_b,
                 sum(CAST(1 AS HUGEINT) << (60 - m)) AS s_used,
                 CAST(count(*) AS BIGINT) AS n_used
          FROM merged WHERE m > 0 GROUP BY src_a, src_b
        ), truth AS (
          SELECT a.g AS src_a, b.g AS src_b,
                 CAST(count(*) AS BIGINT) AS n_common
          FROM grams a JOIN grams b ON a.gram = b.gram AND a.g < b.g
          GROUP BY a.g, b.g
        ), totals AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n_tot
          FROM grams GROUP BY g
        ), scored AS (
          SELECT p.src_a, p.src_b,
                 CAST({HLL_M} - p.n_used AS BIGINT) AS v_empty,
                 CAST(
                   (CAST({HLL_ALPHA_MICRO} AS HUGEINT)
                    * {HLL_M * HLL_M}
                    * (CAST(1 AS HUGEINT) << 60))
                   // (1000000 * (p.s_used
                       + ({HLL_M} - p.n_used)
                         * (CAST(1 AS HUGEINT) << 60)))
                 AS BIGINT) AS est_raw
          FROM per_pair p
        )
        SELECT s.src_a, s.src_b, s.v_empty,
               CAST(CASE WHEN s.est_raw <= {int(2.5 * HLL_M)}
                          AND s.v_empty > 0
                    THEN (SELECT lcest FROM lc WHERE lc.v = s.v_empty)
                    ELSE s.est_raw END AS BIGINT) AS est_union,
               CAST(ta.n_tot + tb.n_tot - coalesce(t.n_common, 0)
                    AS BIGINT) AS true_union
        FROM scored s
        JOIN totals ta ON ta.g = s.src_a
        JOIN totals tb ON tb.g = s.src_b
        LEFT JOIN truth t ON t.src_a = s.src_a AND t.src_b = s.src_b
    """
