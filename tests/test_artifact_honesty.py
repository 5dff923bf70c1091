"""Artifact-free guard for the queries that pay their whole pipeline
inside their own timed plan.

The session registry (plans.datapipe_queries._shared_df_artifact)
only holds fixture tables and train-once ANN indexes. These queries
must not read any registry DataFrame: a query that starts reading one
would hide part of its cost in whichever query built the entry first.
The wider self-containment check lives in tests/test_self_contained.py.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from centimators_spark.plans import datapipe_queries as dq

SF = "/root/testdata/sf0.001"

ARTIFACT_FREE = (
    "ann_cosine_topk",
    "dedup_minhash_lsh",
    "hll_union",
    "neutralize_ols_era",
)


@pytest.mark.parametrize("payer", ARTIFACT_FREE)
def test_payer_builds_artifact_free(spark, payer, monkeypatch):
    """Constructing the query's DataFrame must not touch the session
    artifact registry: its timed plan carries the full pipeline."""
    recorded: list[tuple] = []
    real = dq._shared_df_artifact

    def spy(s, key_tail, build):
        recorded.append(key_tail)
        return real(s, key_tail, build)

    monkeypatch.setattr(dq, "_shared_df_artifact", spy)
    entrymod.queries()[payer](spark, SF)
    assert recorded == [], f"{payer} reads session artifacts {recorded}"
