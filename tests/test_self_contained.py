"""Self-containment guard: a query builds every input it reads inside
its own plan. The only process-level registry
(plans.datapipe_queries._ANN_INDEX_CACHE) holds train-once ANN
models/indexes and fixture tables; a query that starts caching or
reading a DataFrame there makes its cost depend on which queries ran
before it in the session, and turns this test red."""

from __future__ import annotations

import __spark_entry__ as entrymod
from centimators_spark.plans import datapipe_queries as dq

SF = "/root/testdata/sf0.001"

# queries that used to read cross-query DataFrame artifacts: the
# MinHash pair table, the sketch ingest + truth witness, the shared
# shingle frame / gram index, and the neutralized feature frame
FORMER_CONSUMERS = (
    "kcore_dupgraph",
    "theta_intersections",
    "blocking_quality",
    "panel_features",
)


def test_queries_build_without_the_registry(spark, monkeypatch):
    registry: dict = {}
    # swap in an empty registry so entries built by earlier tests in
    # this session cannot hide a lookup
    monkeypatch.setattr(dq, "_ANN_INDEX_CACHE", registry)
    q = entrymod.queries()
    for name in FORMER_CONSUMERS:
        q[name](spark, SF)
        assert registry == {}, (
            f"{name} cached or read registry entries {sorted(registry)}"
        )
