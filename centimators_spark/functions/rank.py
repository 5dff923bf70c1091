"""Per-group normalized average rank of Arrow columns: the kernel behind
``RankTransformer``.

For each feature ``f`` and each group of equal group keys:

    {f}_rank = ((min_rank + max_rank) / 2.0) / count_non_null(f)

with ``min_rank``/``max_rank`` the 1-based ranks of ``f`` among the
group's non-null values when ties take the smallest/largest position.
This is the integer-plus-half arithmetic of the window formula
``avg_rank(f) / count(f)`` (``operators/ranking.py``), so the output is
bit-identical to it. A null input stays null and takes no rank.

Ordering and equality follow Spark's: NaN is larger than every number
and ties with every NaN, −0.0 ties with 0.0, strings order by their
UTF-8 bytes. A null group key forms a group of its own. Nulls are
dropped before ranking because Arrow's sort ties a null with NaN.

Pure pyarrow + numpy, so a Python worker that runs the kernel imports
neither ``pyspark.ml`` nor the transformer surface.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _key_codes(col: pa.Array) -> np.ndarray:
    """Dense codes of one key column: equal keys share a code, a null
    key takes code 0."""
    codes = np.zeros(len(col), dtype=np.uint64)
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    codes[valid] = pc.rank(col.drop_null(), tiebreaker="dense").to_numpy()
    return codes


def group_order(table: pa.Table, group_cols: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """→ (a stable row order that makes each group contiguous, the
    group bounds in that order: group ``i`` is rows
    ``order[bounds[i]:bounds[i + 1]]``). No group columns → one group."""
    n = table.num_rows
    if not group_cols:
        return np.arange(n), np.array([0, n])
    codes = [_key_codes(table.column(c).combine_chunks()) for c in group_cols]
    order = np.lexsort(codes[::-1])
    change = np.zeros(n, dtype=bool)
    change[:1] = True
    for c in codes:
        s = c[order]
        change[1:] |= s[1:] != s[:-1]
    return order, np.append(np.flatnonzero(change), n)


def normalized_avg_rank(col: pa.Array, order: np.ndarray, bounds: np.ndarray) -> pa.Array:
    """``((min_rank + max_rank) / 2.0) / count_non_null`` of ``col`` in
    each group of ``group_order``; a null value → null."""
    out = np.zeros(len(col), dtype=np.float64)
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    ordered = col.take(pa.array(order))
    kept = valid[order]
    for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        values = ordered.slice(s, e - s).drop_null()
        count = len(values)
        if not count:
            continue
        lo = pc.rank(values, tiebreaker="min").to_numpy()
        hi = pc.rank(values, tiebreaker="max").to_numpy()
        out[order[s:e][kept[s:e]]] = ((lo + hi) / 2.0) / count
    return pa.array(out, mask=~valid)


def rank_batches(
    batches: Iterator[pa.RecordBatch],
    group_cols: Sequence[str],
    features: Sequence[str],
    keep: Sequence[str],
) -> Iterator[pa.RecordBatch]:
    """``mapInArrow`` kernel: the ``keep`` columns of all of the
    partition's rows, unchanged and in their incoming order, followed by
    ``{f}_rank`` for each feature. The partition must hold every row of
    each of its groups. An empty partition yields nothing."""
    parts = [b for b in batches if b.num_rows]
    if not parts:
        return
    table = pa.Table.from_batches(parts).combine_chunks()
    order, bounds = group_order(table, group_cols)
    arrays = [table.column(c).chunk(0) for c in keep]
    arrays += [
        normalized_avg_rank(table.column(f).chunk(0), order, bounds) for f in features
    ]
    names = list(keep) + [f"{f}_rank" for f in features]
    yield pa.RecordBatch.from_arrays(arrays, names=names)
