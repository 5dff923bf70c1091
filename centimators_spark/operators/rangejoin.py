"""Interval (range) join — match each point row to every interval row
with ``lo <= point < hi`` (optionally plus an equi key).

Spark compiles a bare non-equi join to BroadcastNestedLoopJoin (fine
only when one side is tiny) or, worse, a cartesian product. The
scale-safe formulation is **interval bucketing**: quantize the number
line into fixed-width buckets, explode each interval across the buckets
it covers, and equi-join on the bucket id before re-checking the exact
range predicate. The non-equi join becomes a plain hash join:

  points:     bucket = floor(point / w)                (1 row per point)
  intervals:  explode(sequence(floor(lo/w), floor(hi/w)))  (≈len/w rows)
  join on bucket [+ keys], filter lo <= point < hi

Cost: shuffle O(|points| + |intervals|·avg_len/w) instead of
O(|points| × |intervals|). Pick ``bucket_width`` near the typical
interval length so each interval explodes to O(1) buckets. When the
interval side is small enough to broadcast, the bucket join is still
preferable to BNLJ: the per-row probe is a hash lookup, not a scan of
every interval.

No reference counterpart (the reference has no joins at all) — this
extends SURVEY.md §2.2's join taxonomy (equi/broadcast, full-outer,
semi/anti, as-of) with the interval family every event/feature pipeline
needs (point-in-window enrichment, band labeling, validity-period
joins).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    keys: Sequence[str] = (),
    how: str = "inner",
    broadcast_intervals: bool = False,
    validate_bounds: bool = True,
) -> DataFrame:
    """All (point, interval) matches with ``lo <= point < hi`` (and
    equal ``keys``, when given), via the bucketed equi-join plan.

    how='inner' keeps matched pairs (a point matching k overlapping
    intervals yields k rows); how='left' keeps unmatched points with
    null interval columns. Overlapping intervals are fully supported —
    bucketing only generates candidates, the exact predicate decides.

    broadcast_intervals=True hints a broadcast of the exploded interval
    side — set it for dimension-sized interval tables so the point side
    never shuffles. False (default) adds no hint: AQE still broadcasts
    the side when its runtime size falls under the broadcast threshold.

    validate_bounds=True (default) runs ONE tiny eager job over the
    interval side at plan-construction time to reject NULL bounds (a
    lazy per-row guard cannot work — Catalyst's derived IsNotNull
    prunes such rows before any guard evaluates, silently dropping the
    interval). Pass False to skip the probe when the interval side's
    lineage is expensive AND known null-free. STREAMING interval sides
    cannot be probed: they always skip validation, so NULL-bound
    intervals on a stream are silently unmatchable — coalesce open
    bounds upstream (scd2_join's ``open_end``).
    """
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be > 0, got {bucket_width}")
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner|left, got {how!r}")
    keys = list(keys)
    w = float(bucket_width)

    def bucket(c: Column) -> Column:
        return F.floor(c.cast("double") / F.lit(w)).cast("long")

    p = points.withColumn("__b", bucket(F.col(point_col)))
    # A NULL bound would make the interval silently unmatchable (the
    # classic SCD2 open-ended current version: Catalyst derives
    # IsNotNull from the range predicate and prunes the row before any
    # per-row guard could fire — a raise_error() in the bucket
    # expression never sees it). Validate EAGERLY instead: intervals
    # are dimension-sized by assumption, so the probe is one tiny job.
    # Open-ended intervals: coalesce the bound to a finite horizon
    # first (see scd2_join's open_end param).
    if validate_bounds and not intervals.isStreaming:
        bad = intervals.where(
            F.col(lo_col).isNull() | F.col(hi_col).isNull()
        ).limit(1)
        if bad.count() > 0:
            raise ValueError(
                f"interval_join: NULL {lo_col}/{hi_col} bound — "
                "open-ended intervals must be coalesced to a finite "
                "horizon first (scd2_join(open_end=...))"
            )
    # guard against a far-future sentinel exploding into millions of
    # buckets per interval (this one DOES fire: non-null rows survive
    # the optimizer)
    lo_b, hi_b = bucket(F.col(lo_col)), bucket(F.col(hi_col))
    span_cap = 1_000_000
    hi_b = F.when(
        hi_b - lo_b > span_cap,
        F.raise_error(
            F.lit(
                f"interval_join: interval spans > {span_cap} buckets — "
                "a sentinel end date with a small bucket_width? Raise "
                "bucket_width or cap the interval"
            )
        ).cast("long"),
    ).otherwise(hi_b)
    iv = intervals.withColumn("__b", F.explode(F.sequence(lo_b, hi_b)))
    if broadcast_intervals:
        iv = F.broadcast(iv)
    cond = [p["__b"] == iv["__b"]]
    cond += [p[k] == iv[k] for k in keys]
    cond.append(p[point_col] >= iv[lo_col])
    cond.append(p[point_col] < iv[hi_col])
    iv_payload = [c for c in intervals.columns if c not in keys]
    # a point owns exactly ONE bucket, so each true (point, interval)
    # pair matches on exactly one exploded row — no duplicates in
    # either join mode, and 'left' keeps unmatched points as one
    # null-extended row
    return p.join(iv, cond, how).select(
        *[p[c] for c in points.columns],
        *[iv[c] for c in iv_payload],
    )


def scd2_join(
    facts: DataFrame,
    dim_history: DataFrame,
    *,
    key: str,
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    bucket_width: float,
    how: str = "left",
    open_end=None,
) -> DataFrame:
    """Slowly-changing-dimension (type 2) join: attach to each fact row
    the dimension version whose ``[valid_from, valid_to)`` interval
    contains the fact's timestamp, matching on ``key`` — the warehouse
    validity-interval join, expressed as the bucketed interval join
    (hash join on (key, time-bucket), never a nested loop). Pick
    ``bucket_width`` near the typical version lifetime. Facts with no
    valid version keep nulls under how='left'.

    ``open_end``: value substituted for NULL ``valid_to`` (the standard
    open-ended current-version marker) — pass a finite horizon just past
    the data's max timestamp (NOT a 9999-12-31 sentinel, which would
    explode into millions of buckets; interval_join raises on both NULL
    bounds and sentinel-sized spans)."""
    if open_end is not None:
        dim_history = dim_history.withColumn(
            valid_to, F.coalesce(F.col(valid_to), F.lit(open_end))
        )
    return interval_join(
        facts,
        dim_history,
        point_col=ts_col,
        lo_col=valid_from,
        hi_col=valid_to,
        bucket_width=bucket_width,
        keys=[key],
        how=how,
    )


def band_label(
    points: DataFrame,
    bands: DataFrame,
    *,
    point_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    label_col: str = "band",
    bucket_width: float,
) -> DataFrame:
    """Convenience: label each point with every band whose
    ``[lo, hi)`` contains it (broadcast bucketed join — the band table
    is dimension-sized by construction)."""
    return interval_join(
        points,
        bands.select(lo_col, hi_col, label_col),
        point_col=point_col,
        lo_col=lo_col,
        hi_col=hi_col,
        bucket_width=bucket_width,
        broadcast_intervals=True,
    )
