"""Vectorized (Arrow/numpy) implementations of the portable hash
primitives for the hot paths.

The expression versions in text/portable.py are the semantic reference
(and what the DuckDB oracle mirrors), but per-element md5 through
interpreted HOF lambdas is ~50x slower than hashing the exploded gram
column once and doing the permutation arithmetic in numpy. Both paths
produce IDENTICAL values: int(md5_hex[:15], 16) == conv(substring(
md5(x),1,15),16,10), and the int64 permutation arithmetic cannot
overflow (a, h < 2^31 → a·h < 2^62).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import re

from centimators_spark.text.portable import (
    MERSENNE31,
    NUM_PERM,
    PERM_A,
    PERM_B,
)

_A = np.array(PERM_A, dtype=np.int64)[:, None]
_B = np.array(PERM_B, dtype=np.int64)[:, None]

_WS = re.compile(" +")


def _md5_60(g: str) -> int:
    return int(hashlib.md5(g.encode("utf-8")).hexdigest()[:15], 16)


def _flatten(lists: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """list of string-lists → (flat object array, lengths, row offsets)."""
    lengths = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
    flat = np.empty(int(lengths.sum()), dtype=object)
    pos = 0
    for x in lists:
        flat[pos : pos + len(x)] = x
        pos += len(x)
    offsets = np.zeros(len(lists), dtype=np.int64)
    np.cumsum(lengths[:-1], out=offsets[1:])
    return flat, lengths, offsets


def _hash_unique(uniques: np.ndarray, cache: dict) -> np.ndarray:
    """md5_60 per UNIQUE string (memoized across batches). The only
    remaining Python loop in the hash path runs over batch-distinct
    values, not per row × per token."""
    out = np.empty(len(uniques), dtype=np.int64)
    for i, s in enumerate(uniques):
        v = cache.get(s)
        if v is None:
            v = _md5_60(s)
            cache[s] = v
        out[i] = v
    return out


def _py_grams(text: str, n: int) -> list[str]:
    """Python mirror of portable.tokens + token_ngrams (ASCII-equivalent
    lower/split semantics; produces the same distinct gram SET). Null
    text → no grams, matching the expression side where
    tokens(NULL) is NULL and the doc contributes no shingles."""
    if text is None:
        return []
    toks = [t for t in _WS.split(text.lower()) if t]
    if len(toks) < n:
        return []
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


def gram_frame(df: DataFrame, content_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, grams) for docs with ≥ 1 distinct token n-gram.

    Tokenization runs in an Arrow-batched Python UDF: the expression
    equivalent re-evaluates the token array at every element_at site
    (and again in pushed-down filters), which is quadratic per doc;
    here each doc is shingled exactly once."""
    schema = StructType(
        [
            StructField("doc_id", df.schema[id_col].dataType),
            StructField("grams", ArrayType(StringType())),
        ]
    )
    narrow = df.select(F.col(id_col).alias("doc_id"), F.col(content_col).alias("__text"))
    # NO spread gate here (scanstats.spread_if_underpartitioned, which
    # the multimodal decode/DCT chains use), by measurement (r13): this
    # pass is too light for the extra exchange to pay at bench scale —
    # the md5 work is memoized over batch-distinct grams, and the full
    # suite showed every pure gram consumer +0.3-1.8 s with a gated
    # repartition (duplicated_spans 2.4→4.2, dedup_minhash_lsh
    # 2.1→3.3) while the cold single-task cost it targeted was mostly
    # one-time worker spin-up. At 100 TB the scan is already
    # well-partitioned and the question is moot.

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            grams = [_py_grams(t, n) for t in pdf["__text"]]
            out = pd.DataFrame({"doc_id": pdf["doc_id"], "grams": grams})
            yield out[[len(g) > 0 for g in grams]]

    return narrow.mapInPandas(compute, schema)


def minhash_signatures_udf(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    grams: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, grams, sig: array<long>[NUM_PERM]) via Arrow-batched numpy.

    ``grams``: optionally a prebuilt :func:`gram_frame` (doc_id, grams)
    — pass it when the same plan also builds a gram index from the
    shingles, so tokenize+shingle executes once (the values are
    identical because gram_frame is deterministic)."""
    if grams is None:
        grams = gram_frame(df, content_col, id_col, n)
    out_schema = StructType(
        [
            grams.schema["doc_id"],
            StructField("grams", ArrayType(StringType())),
            StructField("sig", ArrayType(LongType())),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            gram_lists = list(pdf["grams"])
            if not gram_lists:
                continue
            # hash unique grams once, gather, then per-row mins via
            # reduceat — no per-row Python (gram_frame guarantees
            # non-empty gram lists, so every reduceat segment is valid)
            flat, _, offsets = _flatten(gram_lists)
            codes, uniq = pd.factorize(flat)
            hs = (_hash_unique(uniq, cache) % MERSENNE31)[codes]
            sig = np.empty((len(gram_lists), NUM_PERM), dtype=np.int64)
            for k in range(NUM_PERM):  # a·h < 2^62: no int64 overflow
                perm = (_A[k, 0] * hs + _B[k, 0]) % MERSENNE31
                sig[:, k] = np.minimum.reduceat(perm, offsets)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "grams": pdf["grams"], "sig": list(sig)}
            )

    return grams.mapInPandas(compute, out_schema)


def gram_hash_extrema_udf(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, n_grams, fp_min1, fp_min2): two smallest 60-bit gram
    hashes — vectorized winnowing fingerprint."""
    grams = gram_frame(df, content_col, id_col, n)
    out_schema = StructType(
        [
            grams.schema["doc_id"],
            StructField("n_grams", LongType()),
            StructField("fp_min1", LongType()),
            StructField("fp_min2", LongType()),
        ]
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, int] = {}
        for pdf in batches:
            gram_lists = list(pdf["grams"])
            if not gram_lists:
                continue
            flat, lengths, offsets = _flatten(gram_lists)
            codes, uniq = pd.factorize(flat)
            hs = _hash_unique(uniq, cache)[codes]
            # sort by (row, hash): each row's two smallest hashes are the
            # first two entries of its segment
            row_idx = np.repeat(np.arange(len(gram_lists)), lengths)
            sh = hs[np.lexsort((hs, row_idx))]
            min1 = sh[offsets]
            has2 = lengths > 1
            second = sh[np.minimum(offsets + 1, len(sh) - 1)]
            m2 = pd.array(
                [int(v) if h else None for v, h in zip(second, has2)],
                dtype="Int64",
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_grams": lengths,
                    "fp_min1": min1,
                    "fp_min2": m2,
                }
            )

    return grams.mapInPandas(compute, out_schema)
