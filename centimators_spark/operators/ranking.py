"""Cross-sectional (per-group) normalized ranking.

Reference semantics (/root/reference/src/centimators/feature_transformers/
ranking.py:37-92): for each feature f, within each group (date):

    rank_f   = rank of f with ties = AVERAGE method (polars default)
    count_f  = number of non-null f in the group
    output   = rank_f / count_f        (named "{f}_rank")

Nulls receive a null rank and do not consume ranks.

Spark plan: ``repartition(*group_cols)`` (no partition count: AQE sizes
the partitions) and ONE ``mapInArrow`` call per post-shuffle partition,
which ranks every feature of every group in the partition with
``pyarrow.compute.rank`` (``functions/rank.py``). One exchange and no
sort in Spark, against one sort per ranked column for a window per
feature. The kernel's ``((min_rank + max_rank) / 2.0) / count`` is the
arithmetic of ``avg_rank`` below, so the output is bit-identical to
``avg_rank(f) / count(f)`` over a window on the group.

Scale: one shuffle on the group columns; hashing keeps every group
whole inside one partition. One Python call holds one post-shuffle
partition in memory: AQE merges small partitions up to its advisory
size (``spark.sql.adaptive.advisoryPartitionSizeInBytes``) and never
splits one, so a partition is larger only when a single hash
partition's groups are. Passthrough columns travel as Arrow arrays and
are never converted to pandas, so they must be of Arrow-convertible
types; ranked features must be of an orderable Arrow type (numeric,
decimal, string, binary, boolean, date or timestamp).
"""

from __future__ import annotations

from functools import partial
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from centimators_spark.base import PanelTransformer
from centimators_spark.functions.rank import rank_batches


def avg_rank(feature: str | Column, group_cols: Sequence[str]) -> Column:
    """Average-method rank of `feature` within `group_cols` (ties share
    the mean of the positions they occupy); null feature → null rank.

    Formulated as (min_rank + cum_peer_count) / 2, where cum_peer_count
    (the default RANGE frame of an ordered window) counts all rows with
    value ≤ current INCLUDING peers — i.e. the max rank of the tie
    group. Both windows share ONE (partition, order) spec, so Catalyst
    plans a single exchange + single sort (the tie-count formulation
    needs a second hash partitioning on (group, value)). Arithmetic is
    exact integer halves → bit-identical to rank + (ties−1)/2.

    For ranking a Column inside a larger plan (``ml/ensemble.py``,
    ``ml/losses.py``); ``RankTransformer`` runs the same arithmetic in
    its Arrow kernel."""
    f = F.col(feature) if isinstance(feature, str) else feature
    order_win = Window.partitionBy(*group_cols).orderBy(f.asc_nulls_last())
    min_rank = F.rank().over(order_win)
    max_rank = F.count(F.lit(1)).over(
        order_win.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.when(f.isNotNull(), (min_rank + max_rank) / F.lit(2.0))


class RankTransformer(PanelTransformer):
    """Normalized per-group average rank, ``{f}_rank = avg_rank(f)/count(f)``,
    computed by one Arrow call per post-shuffle partition."""

    def __init__(
        self,
        feature_names: Sequence[str] | None = None,
        *,
        group_col: str | Sequence[str] | None = "date",
        output_mode: str = "append",
        keep_cols: Sequence[str] | None = None,
    ):
        super().__init__(feature_names, output_mode=output_mode, keep_cols=keep_cols)
        if group_col is None:
            # reference fallback: no date_series → one global group
            # (base.py:26-38). A global rank is a total order — it cannot
            # be partitioned. Warn like the reference does scale-wise.
            import warnings

            warnings.warn(
                "group_col=None ranks over the ENTIRE dataset in a single "
                "partition — fine for inference-sized frames, not for bulk "
                "tables; provide a group column to parallelize."
            )
            self.group_cols: list[str] = []
        else:
            self.group_cols = [group_col] if isinstance(group_col, str) else list(group_col)

    def _metadata_cols(self) -> list[str]:
        return list(self.group_cols)

    def _transform(self, df: DataFrame) -> DataFrame:
        feats = self._resolve_features(df)
        self.feature_names_ = feats
        if self.output_mode == "append":
            keep = list(df.columns)
        else:
            keep = list(self.keep_cols)
            df = df.select(*dict.fromkeys(keep + self.group_cols + feats))
        fields = df.schema
        schema = StructType(
            [fields[c] for c in keep]
            + [StructField(f"{f}_rank", DoubleType()) for f in feats]
        )
        kernel = partial(
            rank_batches, group_cols=self.group_cols, features=feats, keep=keep
        )
        spread = df.repartition(*self.group_cols) if self.group_cols else df.repartition(1)
        return spread.mapInArrow(kernel, schema)

    def get_feature_names_out(self) -> list[str]:
        feats = self.feature_names or getattr(self, "feature_names_", None)
        if feats is None:
            raise ValueError("feature_names unknown before transform")
        return [f"{f}_rank" for f in feats]
