"""Similarity search over embedding columns (array<float>).

- ``cosine``: pure-expression cosine similarity (zip_with + aggregate,
  sequential left-to-right sums → bit-identical to the DuckDB oracle's
  list_reduce; no UDF, no shuffle).
- ``brute_force_topk``: exact top-k neighbors for a (small) query set —
  broadcast the queries, score every row, per-query window top-k.
  This is the correctness baseline: one scan, one shuffle (by query for
  the top-k window).
- ``rp_lsh_topk``: random-hyperplane LSH bucketed search — the 100 TB
  path. Vectors hash to sign-pattern buckets; only bucket-mates (across
  a few probe permutations) are scored. Recall < 1 by construction;
  verified against the brute-force baseline in tests.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# rows per block of embedding_cosine_pairs' block-pair grid
_PAIR_BLOCK_ROWS = 2048


def _dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Σ a[i]·b[i]. With ``dim`` known, a flat left-associated add
    chain — plain arithmetic inside whole-stage codegen, and exactly
    the oracle's seedless ``list_reduce`` association. Without it, the
    zip_with+aggregate HOF fold: same bits (a leading ``0.0 +`` can
    only flip the sign of an exact zero, which compares and divides
    identically), but CodegenFallback — interpreted per ROW, ~10x
    slower in per-pair hot paths. Pass ``dim`` wherever the width is
    statically known."""
    if dim is not None:
        out = a.getItem(0) * b.getItem(0)
        for i in range(1, dim):
            out = out + a.getItem(i) * b.getItem(i)
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None:
        out = a.getItem(0) * a.getItem(0)
        for i in range(1, dim):
            out = out + a.getItem(i) * a.getItem(i)
        return F.sqrt(out)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine similarity of two double arrays. Zero-norm vectors yield
    NULL (try_divide) instead of an ANSI DIVIDE_BY_ZERO error — NULLs
    sort last under the desc top-k windows, so degenerate vectors are
    naturally excluded; bit-identical to plain division otherwise.
    ``dim`` as in :func:`_dot` — pass it on per-pair hot paths."""
    return F.try_divide(_dot(a, b, dim), _norm(a, dim) * _norm(b, dim))


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cos, rank). Excludes
    self-matches when ids coincide. Ties broken by vec_id ascending.
    ``dim`` (when statically known) keeps the per-pair cosine in
    whole-stage codegen — see :func:`_dot`."""
    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("qv")
    )
    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vv"))
    scored = v.crossJoin(F.broadcast(q)).where(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        query_id_col,
        id_col,
        cosine(F.col("qv"), F.col("vv"), dim).alias("cos"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _seq_norms(m: np.ndarray) -> np.ndarray:
    """Row norms accumulated dimension-by-dimension — vectorized across
    rows yet bit-identical to a scalar left-to-right sum (and therefore
    to the DuckDB oracle's list_reduce)."""
    acc = np.zeros(m.shape[0])
    for d in range(m.shape[1]):
        acc = acc + m[:, d] * m[:, d]
    return np.sqrt(acc)


def _seq_dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(ra×d) · (rb×d)ᵀ accumulated dimension-by-dimension (see
    _seq_norms for why not a single matmul: BLAS reassociates sums)."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        acc = acc + a[:, d : d + 1] * b[:, d]
    return acc


def embedding_cosine_pairs(
    vectors: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (i < j) with cosine ≥ threshold — EXACT.

    Block-pair partitioned scan: rows hash deterministically into
    B ≈ n/_PAIR_BLOCK_ROWS blocks; every unordered block pair (p ≤ q)
    becomes one applyInPandas group whose numpy kernel scores the
    p-rows against the q-rows, accumulating dimension-by-dimension
    (bit-identical to the scalar left-to-right oracle). Fully
    distributed: no driver materialization, no broadcast of the vector
    table; shuffle volume is B·n rows and per-task memory is
    O(_PAIR_BLOCK_ROWS·d). Compute is inherently O(n²) — that is what
    "exact all pairs" costs; at corpus scale use rp_lsh_topk buckets or
    MinHash-style candidate generation instead and exact-verify."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    narrow = vectors.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
    # one cheap scalar job to size the grid (count only, no data moves)
    B = max(1, -(-narrow.count() // _PAIR_BLOCK_ROWS))

    withb = narrow.withColumn("b", F.pmod(F.xxhash64(F.col("i")), F.lit(B)))
    # replicate each row into every block-pair task it participates in:
    # row in block b joins tasks (min(b,x), max(b,x)) for x = 0..B-1
    pair_keys = F.array(
        *[
            F.struct(
                F.least(F.col("b"), F.lit(x)).alias("p"),
                F.greatest(F.col("b"), F.lit(x)).alias("q"),
            )
            for x in range(B)
        ]
    )
    exploded = withb.select(
        "i", "v", "b", F.explode(pair_keys).alias("pq")
    ).select("i", "v", "b", F.col("pq.p").alias("p"), F.col("pq.q").alias("q"))

    id_type = narrow.schema["i"].dataType
    schema = StructType(
        [
            StructField("i", id_type),
            StructField("j", id_type),
            StructField("cos", DoubleType()),
        ]
    )

    def score_block_pair(key, pdf):
        p, q = key
        left = pdf[pdf["b"] == p]
        right = pdf[pdf["b"] == q] if p != q else left
        if left.empty or right.empty:
            return pd.DataFrame({"i": [], "j": [], "cos": []}).astype(
                {"cos": "float64"}
            )
        lm = np.array([np.asarray(v, dtype=np.float64) for v in left["v"]])
        rm = np.array([np.asarray(v, dtype=np.float64) for v in right["v"]])
        lm = lm / _seq_norms(lm)[:, None]
        rm = rm / _seq_norms(rm)[:, None]
        lids = left["i"].to_numpy()
        rids = right["i"].to_numpy()
        acc = _seq_dots(lm, rm)
        # orient by id: emit each unordered pair once as (smaller, larger).
        # Same-block: the matrix holds both orientations, keep lid < rid.
        # Cross-block: each unordered pair appears once with arbitrary id
        # order, so the lid > rid hits must be emitted flipped.
        hit = acc >= threshold
        ii, jj = np.nonzero(hit & (lids[:, None] < rids[None, :]))
        out_i, out_j, out_c = lids[ii], rids[jj], acc[ii, jj]
        if p != q:
            ii2, jj2 = np.nonzero(hit & (lids[:, None] > rids[None, :]))
            out_i = np.concatenate([out_i, rids[jj2]])
            out_j = np.concatenate([out_j, lids[ii2]])
            out_c = np.concatenate([out_c, acc[ii2, jj2]])
        return pd.DataFrame({"i": out_i, "j": out_j, "cos": out_c})

    return exploded.groupBy("p", "q").applyInPandas(score_block_pair, schema)


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN — the cluster-then-probe scale path,
    complementing rp_lsh_topk's hash buckets:

    1. distributed KMeans (pyspark.ml) learns ``n_lists`` cell
       centroids over the vector table;
    2. every vector is assigned to its nearest cell — the inverted
       lists (at 100 TB: write the table bucketed by ``cell`` so probes
       prune at scan time);
    3. each query probes only its ``n_probe`` nearest cells (driver
       numpy over the k×d centroid matrix — tiny), and exact cosine +
       a per-query top-k window run over the probed cells only.

    Recall < 1 by construction (a true neighbor may live in an
    unprobed cell); n_probe == n_lists degenerates to exact search.
    Compute drops from O(n_q·n) to O(n_q·n·n_probe/n_lists) — the
    standard IVF trade.

    Spherical IVF: KMeans runs on UNIT-normalized vectors (cosine
    neighbors share a direction, not a magnitude — Euclidean cells over
    raw vectors would split cosine-identical vectors by norm), and
    queries rank probe cells by cosine to the centroid directions.
    Scoring uses the original vectors, so cos values match the
    brute-force baseline bit-for-bit."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    v = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vv"))
    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("qv")
    )
    out_schema = StructType(
        [
            q.schema[query_id_col],
            v.schema[id_col],
            StructField("cos", DoubleType()),
            StructField("rank", IntegerType()),
        ]
    )
    qpd = q.toPandas()  # queries are small by contract (broadcast side)
    if len(qpd) == 0:  # before the (expensive) KMeans fit
        return q.sparkSession.createDataFrame([], out_schema)

    # zero-norm-safe normalization (a padding/empty-doc zero vector must
    # not NULL-poison the KMeans features; clustering needs no bit
    # parity). Stage the norm as a real column FIRST: referenced inside
    # the transform lambda it would re-evaluate the O(d) aggregate per
    # element — O(d²) per row across the whole vector table.
    with_vec = (
        v.withColumn("__nrm", F.greatest(_norm(F.col("vv")), F.lit(1e-12)))
        .withColumn(
            "__vec",
            array_to_vector(F.transform(F.col("vv"), lambda x: x / F.col("__nrm"))),
        )
        .drop("__nrm")
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__vec", predictionCol="cell")
    model = km.fit(with_vec)
    listed = model.transform(with_vec).select(id_col, "vv", "cell")

    centroids = np.vstack([np.asarray(c) for c in model.clusterCenters()])
    cnorm = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )

    qm = np.vstack([np.asarray(x, dtype=np.float64) for x in qpd["qv"]])
    qn = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    probe_cells = np.argsort(-(qn @ cnorm.T), axis=1)[:, :n_probe]
    # qv rides along from the driver copy — no second execution of the
    # queries plan just to re-attach vectors
    probe_df = q.sparkSession.createDataFrame(
        [
            (qid, int(c), [float(x) for x in qv])
            for qid, qv, cells in zip(qpd[query_id_col], qpd["qv"], probe_cells)
            for c in cells
        ],
        StructType(
            [
                q.schema[query_id_col],
                StructField("cell", IntegerType()),
                StructField("qv", q.schema["qv"].dataType),
            ]
        ),
    )

    scored = (
        listed.join(F.broadcast(probe_df), "cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col, id_col, cosine(F.col("qv"), F.col("vv")).alias("cos")
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def rp_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    n_planes: int = 12,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane sign buckets, n_tables
    independent tables; candidates = bucket collisions in any table.
    ``dim`` defaults to the measured embedding width (one tiny probe
    job); pass it explicitly to skip the probe. A wrong value would
    otherwise surface as an opaque matmul shape error inside executors."""
    if dim is None:
        first = vectors.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is None:
            raise ValueError("rp_lsh_topk: vectors DataFrame is empty")
        dim = int(first["d"])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))

    def _with_buckets(df: DataFrame, key: str, vec_alias: str) -> DataFrame:
        """Sign-pattern buckets via numpy over Arrow batches (the
        hyperplane literals as expressions dominate plan compile time)."""
        import pandas as pd
        from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

        narrow = df.select(F.col(key), _as_double(F.col(vec_col)).alias(vec_alias))
        schema = StructType(
            list(narrow.schema)
            + [StructField(f"bucket_{t}", LongType()) for t in range(n_tables)]
        )
        pl = planes  # capture

        def compute(batches):
            for pdf in batches:
                mat = np.array([np.asarray(v) for v in pdf[vec_alias]])
                out = pdf.copy()
                for t in range(n_tables):
                    proj = mat @ pl[t].T  # (rows, n_planes)
                    bits = ((proj > 0) << np.arange(n_planes)).sum(axis=1)
                    out[f"bucket_{t}"] = bits.astype(np.int64)
                yield out

        return narrow.mapInPandas(compute, schema)

    vb = _with_buckets(vectors, id_col, "vv")
    qb = _with_buckets(queries, query_id_col, "qv")

    # the bucket join + distinct carry IDS ONLY — full vectors would
    # otherwise ride through the dedup shuffle once per bucket collision;
    # they are re-attached afterwards with one id-keyed join per side
    v_long = vb.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("bkt"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(id_col, "tb.t", "tb.bkt")
    q_long = qb.select(
        query_id_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"bucket_{t}").alias("bkt"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select(query_id_col, "tb.t", "tb.bkt")

    cand_ids = (
        v_long.join(F.broadcast(q_long), ["t", "bkt"])
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col)
        .distinct()
    )
    v_vecs = vectors.select(F.col(id_col), _as_double(F.col(vec_col)).alias("vv"))
    q_vecs = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        cand_ids.join(v_vecs, id_col)
        .join(F.broadcast(q_vecs), query_id_col)
        .select(query_id_col, id_col, cosine(F.col("qv"), F.col("vv")).alias("cos"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cos").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
