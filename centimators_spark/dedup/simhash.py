"""SimHash document fingerprints + near-dup pairs by Hamming distance.

60-bit SimHash over the document's distinct token hashes (full 60-bit
md5-derived values). Pairs are found by the standard block-permutation
trick: split the fingerprint into (k+1) blocks — two docs within
Hamming distance k must agree on at least one block (pigeonhole), so a
self-join per block finds all candidates; exact popcount verifies.

Everything is JVM bit arithmetic (shiftrightunsigned / bit_count) —
portable to the DuckDB oracle and codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from centimators_spark.text.portable import SIMHASH_BITS


def simhash_fingerprints(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, n_tokens, simhash) per document with ≥1 token.

    Vectorized Arrow/numpy path (identical values to the
    portable-expression form the DuckDB oracle mirrors: md5-derived
    60-bit hashes, majority vote per bit)."""
    import re
    from typing import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from centimators_spark.text.hashing_udf import _flatten, _hash_unique

    ws = re.compile(" +")
    narrow = df.select(F.col(id_col).alias("doc_id"), F.col(content_col).alias("__t"))
    schema = StructType(
        [
            narrow.schema["doc_id"],
            StructField("n_tokens", LongType()),
            StructField("simhash", LongType()),
        ]
    )
    weights = (np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)).astype(
        np.int64
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            # tokenization stays per-row Python (string work); the hash +
            # majority vote are vectorized: md5 over batch-unique tokens,
            # per-row bit counts via add.reduceat
            tok_lists, ids = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["__t"]):
                if text is None:  # null text → no tokens → no row,
                    continue      # matching the expression twin's filter
                toks = list(dict.fromkeys(t for t in ws.split(text.lower()) if t))
                if toks:
                    tok_lists.append(toks)
                    ids.append(doc_id)
            if not tok_lists:
                continue
            flat, lengths, offsets = _flatten(tok_lists)
            codes, uniq = pd.factorize(flat)
            hs = _hash_unique(uniq, cache)[codes]
            ones = np.empty((len(tok_lists), SIMHASH_BITS), dtype=np.int64)
            for j in range(SIMHASH_BITS):
                ones[:, j] = np.add.reduceat((hs >> j) & 1, offsets)
            sims = ((2 * ones > lengths[:, None]) * weights).sum(axis=1)
            yield pd.DataFrame(
                {"doc_id": ids, "n_tokens": lengths, "simhash": sims}
            )

    return narrow.mapInPandas(compute, schema)


def simhash_pairs(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs (d1, d2, hamming ≤ max_hamming) via block-permutation LSH."""
    fp = simhash_fingerprints(df, content_col, id_col).select("doc_id", "simhash")
    n_blocks = max_hamming + 1
    width = (SIMHASH_BITS + n_blocks - 1) // n_blocks
    blocks = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_id"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_val"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select("doc_id", "simhash", "blk.block_id", "blk.block_val")
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), ["block_id", "block_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
    return cand.select("d1", "d2", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
