"""Library code cuts a lineage one way, with an eager localCheckpoint.
Checkpoint blocks belong to the DataFrame that made them; a persist
registers its plan in Spark's CacheManager, which matches plans by
canonical form, so the next build of the same query would read the
previous build's blocks and its timing would hide that work."""

from __future__ import annotations

import pathlib

import pytest

import __spark_entry__ as entrymod
from centimators_spark.dedup.cluster import connected_components_star
from centimators_spark.io import DEFAULT_SF_DIR

# the smallest scale factor, next to the default one
SF = str(pathlib.Path(DEFAULT_SF_DIR).with_name("sf0.001"))


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _hand_pairs(spark):
    return spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 long, d2 long"
    )


BUILDS = {
    "pagerank": lambda spark: entrymod.q_pagerank(spark, SF),
    "panel_features": lambda spark: entrymod.q_panel_features(spark, SF),
    "neutralize_ols_era": lambda spark: entrymod.q_neutralize_ols_era(
        spark, SF
    ),
    "connected_components": lambda spark: connected_components_star(
        _hand_pairs(spark)
    ),
}


@pytest.mark.parametrize("name", sorted(BUILDS))
def test_build_leaves_cache_manager_empty(spark, name):
    spark.catalog.clearCache()
    rows = BUILDS[name](spark).collect()
    assert rows
    assert _cache_is_empty(spark), f"{name} left a persisted plan behind"


def test_pagerank_rebuild_reads_no_cache(spark):
    spark.catalog.clearCache()
    first = entrymod.q_pagerank(spark, SF)
    first_rows = sorted(map(tuple, first.collect()))
    second = entrymod.q_pagerank(spark, SF)
    assert sorted(map(tuple, second.collect())) == first_rows
    plan = second._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    assert "InMemoryRelation" not in plan

