"""Graph analytics beyond connected components (dedup/cluster.py):
integer-exact PageRank over an edge DataFrame.

Spark shape (the classic Pregel-as-joins loop): per iteration, ONE
join of the rank table with the edge list on src + ONE grouped sum on
dst + ONE left join back onto the node list. Ranks and contributions
are BIGINT micro-units with integer division, so every iteration is
exact and partition-order independent — which is what makes a
bit-exact cross-engine oracle possible for an ITERATIVE algorithm: the
DuckDB mirror (:func:`pagerank_int_oracle_sql`) unrolls the same fixed
iteration count as chained CTEs evaluating identical integer
arithmetic.

Semantics: the damped update in units of ``scale``:

    r₀(v)    = scale // N
    rₜ₊₁(v) = (scale·(100−d)) // (100·N)
              + (d · Σ_{u→v} (rₜ(u) // outdeg(u))) // 100

with d = ``damping_pct``. Integer flooring loses < 1 unit per term —
at the default scale (1e9) that is ~1e-9 relative, far below any
ranking-relevant difference, and EXACTLY mirrored by the oracle.
Dangling nodes (outdeg 0) simply emit no contribution — their rank
mass decays to the base term, the "remove dangling mass" variant.

At 100 TB: the rank table is n_nodes rows (tiny next to edges); the
per-iteration shuffle is the edge join keyed on src — pre-partition or
bucket the edge list by src once and every iteration reuses that
layout. The edge list, the node list and each iteration's rank table
are cut with an eager ``localCheckpoint``, so every iteration reads
fixed blocks instead of replaying the upstream plan, and no block
outlives the returned frame's lineage in Spark's CacheManager.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_int(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    scale: int = 10**9,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank in exact BIGINT micro-units. Returns (node, rank_int)
    after ``iters`` damped iterations; Σ rank_int ≈ scale (minus
    integer-floor and dangling leakage). Every iteration re-reads the
    edge and node lists, so both are cut once with an eager
    localCheckpoint (without a cut each re-read replays the full
    upstream plan), and so is each iteration's rank table."""
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0,100], got {damping_pct}")
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_int", F.lit(0).cast("long"))
    deg = e.groupBy(F.col("__src").alias("node")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    base = (scale * (100 - damping_pct)) // (100 * n)
    # the driver KNOWS n: when the rank/degree tables are broadcast-
    # sized, every per-iteration join becomes map-side against the
    # edge scan — the only shuffle left is the contribution sum. At
    # billion-node scale the joins fall back to shuffles keyed on the
    # edge bucketing.
    bcast = n <= 5_000_000
    wrap = F.broadcast if bcast else (lambda df: df)
    r = nodes.withColumn("rank_int", F.lit(scale // n).cast("long"))
    for _ in range(iters):
        contrib = (
            e.join(wrap(r), F.col("__src") == F.col("node"))
            .join(wrap(deg), "node")
            .select(
                F.col("__dst").alias("node"),
                F.expr("rank_int DIV __deg").alias("__c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        r = nodes.join(wrap(sums), "node", "left").select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"({damping_pct} * coalesce(__s, 0L)) DIV 100"
                )
            ).alias("rank_int"),
        ).localCheckpoint(eager=True)
    return r


def pagerank_int_oracle_sql(
    edges_sql: str,
    *,
    src_sql: str = "src",
    dst_sql: str = "dst",
    iters: int = 3,
    scale: int = 10**9,
    damping_pct: int = 85,
) -> str:
    """DuckDB mirror of :func:`pagerank_int`: the fixed iteration count
    unrolls into chained CTEs r0..r{iters} evaluating the identical
    integer arithmetic (// == Spark's DIV on the all-positive ranks)."""
    parts = [
        f"""e AS (
          SELECT {src_sql} AS src, {dst_sql} AS dst FROM {edges_sql}
        ), nodes AS (
          SELECT src AS node FROM e UNION SELECT dst FROM e
        ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS dg
                FROM e GROUP BY src),
        r0 AS (
          SELECT node, CAST(CAST({scale} AS BIGINT) // n AS BIGINT) AS rank_int
          FROM nodes CROSS JOIN nn
        )"""
    ]
    for t in range(iters):
        parts.append(f"""s{t + 1} AS (
          SELECT e.dst AS node,
                 sum(r.rank_int // d.dg) AS s
          FROM r{t} r JOIN deg d USING (node) JOIN e ON e.src = r.node
          GROUP BY e.dst
        ), r{t + 1} AS (
          SELECT nodes.node,
                 CAST((CAST({scale} AS BIGINT) * {100 - damping_pct})
                     // (100 * nn.n)
                   + ({damping_pct} * coalesce(s{t + 1}.s, 0)) // 100
                   AS BIGINT) AS rank_int
          FROM nodes CROSS JOIN nn
          LEFT JOIN s{t + 1} ON nodes.node = s{t + 1}.node
        )""")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node, rank_int FROM r{iters}"
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact triangle count of an undirected simple graph, as the
    classic two-join node-iterator with DEGREE ORIENTATION — the
    standard distributed formulation (Suri & Vassilvitskii's MR-style
    algorithm re-expressed as DataFrame joins):

    1. canonicalize: undirected edge set, self-loops dropped,
       each edge once;
    2. orient every edge from the lower-(degree, id) endpoint to the
       higher one — each triangle then has EXACTLY ONE wedge at its
       minimum-degree vertex, and the wedge fan-out per vertex is
       bounded by ~√m instead of the max raw degree (the skew killer:
       a celebrity node of degree 10⁶ generates 10¹² wedges unoriented,
       but almost none as a wedge CENTER after orientation);
    3. wedges = oriented ⋈ oriented on the center; close each wedge
       with a semi-join against the oriented edge set.

    Two shuffle joins + one count — no collect, no iteration. Returns
    one row (n_nodes, n_edges, n_triangles) as BIGINTs. The DuckDB
    oracle counts i<j<k closures directly — orientation changes the
    join sizes, never the count, so both engines agree exactly.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        # the canonical edge set feeds FIVE consumers (degree union ×2,
        # wedge sides ×2, closing set, edge count); cut the lineage
        # once — the same checkpointed-edge-list discipline as
        # pagerank_int. At cluster scale, write the canonical edges as a
        # bucketed table instead.
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): lower endpoint becomes the wedge center.
    # Plain (non-broadcast) joins: the degree table is |V| rows — small
    # next to |E| but NOT driver-small on a web-scale graph; AQE
    # broadcast-converts it when it fits.
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
        # three consumers (both wedge sides + the closing set): cut once
        .localCheckpoint(eager=True)
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .where(F.col("x.w") < F.col("y.w"))
        .select(F.col("x.w").alias("p"), F.col("y.w").alias("q"))
    )
    closing = oriented.select(
        F.least("u", "w").alias("p1"), F.greatest("u", "w").alias("q1")
    )
    tri = wedges.join(
        closing,
        (F.least("p", "q") == F.col("p1"))
        & (F.greatest("p", "q") == F.col("q1")),
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return counts.crossJoin(tri).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    )


def triangle_count_oracle_sql(edges_sql: str, src: str = "src", dst: str = "dst") -> str:
    """DuckDB twin: direct i<j<k closure count over the canonical
    undirected edge set (orientation-free — same count)."""
    return f"""
        WITH und AS (
          SELECT DISTINCT least({src}, {dst}) AS a,
                          greatest({src}, {dst}) AS b
          FROM {edges_sql} WHERE {src} <> {dst}
        ), nodes AS (
          SELECT a AS v FROM und UNION SELECT b FROM und
        ), tri AS (
          SELECT count(*) AS n_triangles
          FROM und e1
          JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
          JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
        )
        SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
               CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
               CAST(n_triangles AS BIGINT) AS n_triangles
        FROM tri
    """


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by ITERATIVE PEELING — ``rounds`` rounds of
    "drop every node with degree < k, induce the subgraph on the
    survivors" over the canonical undirected edge set. A fixed round
    count makes the operator a deterministic function of the input
    (the pagerank_int convention for iterative algorithms), so the
    DuckDB twin (:func:`kcore_oracle_sql`) unrolls the identical
    rounds as chained CTEs; when peeling converges within the budget —
    asserted in the unit tests and true for any graph whose peel
    cascade is shorter than ``rounds`` — the result IS the exact
    k-core. Production fixpoint variant: loop until a one-row count
    job reports no change (the dedup/cluster.py discipline).

    Distributed shape: per round, ONE degree aggregation (map-side
    partial; two projections unioned) + TWO semi-joins back onto the
    edge set (AQE broadcast-converts the surviving-node side when it
    fits). The edge set SHRINKS monotonically; each round's result is
    pinned with an eager localCheckpoint so no round re-executes its
    predecessors (anti-exponential-plan, as dedup/cluster.py). Rounds
    past convergence are SKIPPED (r13): a round that drops no edge is
    a fixpoint, so the early exit returns exactly the ``rounds``-round
    result — the output stays the same deterministic function of
    (input, rounds).

    Returns (v, core_deg): every node of the ``rounds``-peeled
    subgraph with its degree inside it, both BIGINT.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    active = und
    # adaptive early exit (r13 optimization): each round only ever
    # DROPS edges, so an unchanged row count means the edge SET is
    # unchanged — and an unchanged set is a fixpoint of the peel (same
    # degrees → same keep set → same edges, by induction for every
    # remaining round). Skipping them is therefore value-identical to
    # running the full budget; the count is one cheap job over the
    # round's already-pinned checkpoint blocks.
    prev_n = und.count()
    for _ in range(rounds):
        deg = (
            active.select(F.col("a").alias("v"))
            .unionAll(active.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        keep = deg.where(F.col("d") >= k).select("v")
        active = (
            active.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
        n = active.count()
        if n == prev_n:
            break
        prev_n = n
    return (
        active.select(F.col("a").alias("v"))
        .unionAll(active.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("core_deg"))
        .select(F.col("v").cast("long").alias("v"), "core_deg")
    )


def kcore_oracle_sql(
    edges_sql: str,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """DuckDB twin of :func:`kcore` — the same ``rounds`` peel rounds
    unrolled as chained CTEs."""
    # every CTE is MATERIALIZED: each round references its predecessor
    # several times, and DuckDB's default CTE INLINING would otherwise
    # expand the unrolled plan ~5^rounds-fold (observed as
    # "Too many open files" from hundreds of thousands of inlined
    # parquet scans) — materialization is also exactly what the Spark
    # side's per-round localCheckpoint does
    ctes = [
        f"""e0 AS MATERIALIZED (
          SELECT DISTINCT least({src}, {dst}) AS a,
                          greatest({src}, {dst}) AS b
          FROM {edges_sql} WHERE {src} <> {dst}
        )"""
    ]
    for i in range(rounds):
        ctes.append(f"""d{i} AS MATERIALIZED (
          SELECT v, count(*) AS d FROM (
            SELECT a AS v FROM e{i} UNION ALL SELECT b FROM e{i}
          ) GROUP BY v
        )""")
        ctes.append(
            f"""k{i} AS MATERIALIZED (SELECT v FROM d{i} WHERE d >= {k})"""
        )
        ctes.append(f"""e{i + 1} AS MATERIALIZED (
          SELECT e.a, e.b FROM e{i} e
          JOIN k{i} x ON e.a = x.v
          JOIN k{i} y ON e.b = y.v
        )""")
    final = f"e{rounds}"
    return f"""
        WITH {', '.join(ctes)}
        SELECT CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS core_deg
        FROM (
          SELECT a AS v FROM {final} UNION ALL SELECT b FROM {final}
        ) GROUP BY v
    """


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007), determinized: labels start as the node's own id;
    each round every node adopts the most frequent label among its
    NEIGHBORS, ties broken by the smallest label (the min-struct
    argmax, no RNG, no visit order — the classic LPA nondeterminism is
    removed so the DuckDB twin can unroll the identical rounds).
    Fixed ``rounds`` makes the operator a deterministic function of
    the input (the pagerank_int/kcore convention).

    Distributed shape per round: one symmetric neighbor join of the
    (shrunk, checkpointed) label table against the canonical edge set,
    one (node, label) count aggregation (map-side partial), one
    min-struct argmax per node — label tables are node-sized, the join
    is edge-sized, nothing is ever quadratic. Returns
    (v, community, community_size), both BIGINT."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nbr = und.select(
        F.col("a").alias("v"), F.col("b").alias("u")
    ).unionAll(und.select(F.col("b").alias("v"), F.col("a").alias("u")))
    labels = (
        nbr.select("v")
        .distinct()
        .select(F.col("v"), F.col("v").alias("lab"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        counts = (
            nbr.join(
                labels.select(F.col("v").alias("u"), "lab"), "u"
            )
            .groupBy("v", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counts.groupBy("v")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("lab"))
                ).alias("m")
            )
            .select("v", F.col("m.lab").alias("lab"))
            .localCheckpoint(eager=True)
        )
    sizes = labels.groupBy("lab").agg(
        F.count(F.lit(1)).cast("long").alias("community_size")
    )
    return labels.join(sizes, "lab").select(
        F.col("v").cast("long").alias("v"),
        F.col("lab").cast("long").alias("community"),
        "community_size",
    )


def label_propagation_oracle_sql(
    edges_sql: str,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> str:
    """DuckDB twin of :func:`label_propagation` — identical unrolled
    rounds (MATERIALIZED CTEs, the kcore discipline)."""
    ctes = [
        f"""e0 AS MATERIALIZED (
          SELECT DISTINCT least({src}, {dst}) AS a,
                          greatest({src}, {dst}) AS b
          FROM {edges_sql} WHERE {src} <> {dst}
        )""",
        """nbr AS MATERIALIZED (
          SELECT a AS v, b AS u FROM e0
          UNION ALL SELECT b, a FROM e0
        )""",
        """l0 AS MATERIALIZED (
          SELECT DISTINCT v, v AS lab FROM nbr
        )""",
    ]
    for i in range(rounds):
        ctes.append(f"""c{i} AS MATERIALIZED (
          SELECT nbr.v, l.lab, count(*) AS c
          FROM nbr JOIN l{i} l ON nbr.u = l.v
          GROUP BY nbr.v, l.lab
        )""")
        ctes.append(f"""l{i + 1} AS MATERIALIZED (
          SELECT v, lab FROM (
            SELECT v, lab,
                   row_number() OVER (PARTITION BY v
                     ORDER BY c DESC, lab ASC) AS rn
            FROM c{i}
          ) WHERE rn = 1
        )""")
    final = f"l{rounds}"
    return f"""
        WITH {', '.join(ctes)},
        sizes AS (
          SELECT lab, CAST(count(*) AS BIGINT) AS community_size
          FROM {final} GROUP BY lab
        )
        SELECT CAST(v AS BIGINT) AS v, CAST(f.lab AS BIGINT) AS community,
               community_size
        FROM {final} f JOIN sizes s ON f.lab = s.lab
    """
