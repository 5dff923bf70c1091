"""Connected components over near-duplicate pairs + keep-one dedup.

Min-label propagation as an iterative DataFrame fixpoint (the standard
large-graph approach — alternating small joins, each a hash shuffle on
node id, AQE-coalesced; converges in O(component diameter) rounds,
which for dedup clusters is tiny). Deterministic output: every node
labeled with the MINIMUM doc_id reachable in its component — exactly
what a recursive-CTE oracle computes.
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
    max_iter: int = 20,
    a: str = "d1",
    b: str = "d2",
) -> DataFrame:
    """(node, cluster) for every node in `pairs`; cluster = min node id
    of its component.

    Adaptive strategy, same spirit as Spark's broadcast threshold: the
    near-dup EDGE set after LSH banding is orders of magnitude smaller
    than the corpus, so when it fits `_DRIVER_EDGE_CAP` rows the exact
    union-find runs on the driver in one pass (no iterative jobs).
    Larger edge sets take the distributed min-label-propagation fixpoint
    (O(component diameter) rounds of hash-partitioned joins).

    The edge list and the fixpoint's per-round labels are cut with an
    eager localCheckpoint: the loop re-reads the edge list every round,
    and each round references the previous labels twice, so an unpinned
    loop doubles the logical plan per round."""
    edges = _edge_list(pairs, a, b)
    if edges.count() <= _DRIVER_EDGE_CAP:
        return _driver_union_find(edges)
    return _min_label_fixpoint(edges, max_iter)


def _edge_list(pairs: DataFrame, a: str = "d1", b: str = "d2") -> DataFrame:
    """Symmetric, distinct (src, dst) edges, pinned once: the fixpoint
    loop re-reads them every round and `pairs` is usually an expensive
    lazy plan (LSH + verify)."""
    return (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .union(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _min_label_fixpoint(edges: DataFrame, max_iter: int) -> DataFrame:
    """Distributed min-label propagation over a symmetric (src, dst)
    edge list: every round each node takes the minimum label among
    itself and its neighbors, until no label changes."""
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "cluster", F.col("node")
    )
    converged = False
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("cluster").alias("nbr_cluster"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("cluster"), F.coalesce(F.col("nbr_cluster"), F.col("cluster"))
                ).alias("cluster"),
            )
        )
        prev_labels = labels
        # `updated` references `labels` twice, so an unpinned fixpoint
        # doubles the logical plan every round (exponential Catalyst
        # blow-up). Pin BEFORE the change count (r13 optimization): the
        # count and the next round are two consumers, and counting the
        # unpinned frame re-ran the whole round subtree a second time.
        labels = updated.localCheckpoint(eager=True)
        changed = (
            labels.alias("u")
            .join(prev_labels.alias("l"), "node")
            .where(F.col("u.cluster") != F.col("l.cluster"))
            .limit(1)
            .count()
        )
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds — a component's diameter exceeds the iteration budget and "
            "the returned cluster labels are NOT a fixpoint; raise max_iter",
            RuntimeWarning,
        )
    return labels


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact path-compressed union-find over a driver-collected edge
    list; emits the same (node, cluster=min member id) frame as the
    distributed fixpoint."""
    pdf = edges.toPandas()
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for s, d in zip(pdf["src"], pdf["dst"]):
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    cluster_min: dict = {}
    roots = {n: find(n) for n in parent}
    for n, r in roots.items():
        if r not in cluster_min or n < cluster_min[r]:
            cluster_min[r] = n
    import pandas as pd

    out = pd.DataFrame(
        {"node": list(roots), "cluster": [cluster_min[r] for r in roots.values()]}
    )
    id_type = edges.schema["src"].dataType
    from pyspark.sql.types import StructField, StructType

    return edges.sparkSession.createDataFrame(
        out, StructType([StructField("node", id_type), StructField("cluster", id_type)])
    )


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
    DIAMETER, where :func:`connected_components`' min-label fixpoint
    pays O(diameter) rounds (a 10⁶-node path costs it 10⁶ rounds; this
    algorithm ~20). Same contract: (node, cluster = min member id),
    deterministic (min-based, no randomness).

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
