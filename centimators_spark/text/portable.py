"""Portable (cross-engine deterministic) text/hash primitives.

Spark Column builders and DuckDB SQL snippet builders, constructed
from the SAME constants so that the engine and the correctness oracle
compute bit-identical values. MinHash and SimHash have only their SQL
side here; their Spark side is the numpy kernels in text/hashing_udf.py
and dedup/simhash.py, which read the same constants:

- tokenization: lowercase, split on runs of spaces, drop empties
- token n-grams: space-joined consecutive tokens, de-duplicated
- 60-bit stable hash: first 15 hex chars of md5 → BIGINT (no engine's
  native hash() is portable; md5 is)
- MinHash permutations: h_i = (a_i * h + b_i) mod (2^31 − 1) with fixed
  seeded coefficients (products stay < 2^62: no 64-bit overflow, which
  DuckDB would reject and the JVM would silently wrap)
- SimHash: 60-bit sign-aggregated fingerprint over token hashes

Scale note: everything is built-in JVM expressions (md5, transform,
array_min …) — no Python UDFs, fully codegen'd, shuffle-free per row.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE31 = 2_147_483_647  # 2^31 − 1
NUM_PERM = 64
LSH_BANDS = 32
LSH_ROWS = 2  # NUM_PERM = LSH_BANDS * LSH_ROWS
SIMHASH_BITS = 60

_rng = random.Random(42)
PERM_A = [_rng.randrange(1, MERSENNE31) for _ in range(NUM_PERM)]
PERM_B = [_rng.randrange(0, MERSENNE31) for _ in range(NUM_PERM)]


# ------------------------------------------------------------- Spark side

def tokens(col: Column) -> Column:
    """Lowercased whitespace tokens, empties dropped."""
    return F.filter(F.split(F.lower(col), " +"), lambda t: t != "")


def nonempty_lines(col: Column) -> Column:
    """'\\n'-split lines, empties dropped."""
    return F.filter(F.split(col, "\n"), lambda x: x != "")


def token_ngrams_all(tok: Column, n: int) -> Column:
    """ALL space-joined n-grams of consecutive tokens (with
    multiplicity); [] if < n tokens.

    Pushdown-robust formulation: zip n shifted slices and concat each
    zipped struct — the lambda references ONLY its own element, never
    the outer token array. When Catalyst pushes a predicate below a
    staging projection and re-inlines this expression, the token array
    is rebuilt a constant number of times (once per slice), not once
    per element access (the element_at form measured 60× slower under
    a pushed-down filter)."""
    sz = F.size(tok)
    win = F.greatest(sz - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(tok, j + 1, win) for j in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return F.when(sz >= n, grams).otherwise(F.array().cast("array<string>"))


def token_ngrams(tok: Column, n: int = 3) -> Column:
    """Distinct space-joined n-grams of consecutive tokens; [] if < n
    tokens (see token_ngrams_all for the pushdown-robust formulation).

    PORTABILITY: only the gram SET is cross-engine stable — Spark's
    array_distinct keeps first-occurrence order while DuckDB's
    list_distinct is hash-ordered. Consumers must treat the array as a
    set (explode/aggregate/intersect), never rely on element order
    (fuzz-pinned in tests/test_properties.py)."""
    return F.when(
        F.size(tok) >= n, F.array_distinct(token_ngrams_all(tok, n))
    ).otherwise(F.array().cast("array<string>"))


def md5_long(col: Column) -> Column:
    """Stable 60-bit hash: first 15 hex chars of md5 as BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# ------------------------------------------------------------ DuckDB side

def sql_tokens(col: str) -> str:
    return f"list_filter(string_split_regex(lower({col}), ' +'), t -> t <> '')"


def sql_token_ngrams(tok: str, n: int = 3) -> str:
    joined = " || ' ' || ".join(f"{tok}[i+{j}]" for j in range(n)).replace("[i+0]", "[i]")
    return (
        f"CASE WHEN len({tok}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({tok}) - {n - 2}), i -> {joined})) "
        f"ELSE [] END"
    )


def sql_md5_long(col: str) -> str:
    return f"CAST(('0x' || substring(md5({col}), 1, 15)) AS BIGINT)"


def sql_gram_hashes(grams: str) -> str:
    return f"list_transform({grams}, g -> {sql_md5_long('g')} % {MERSENNE31})"


def sql_minhash_signature(hashes: str) -> list[str]:
    return [
        f"coalesce(list_min(list_transform({hashes}, "
        f"h -> (CAST({a} AS BIGINT) * h + {b}) % {MERSENNE31})), {MERSENNE31})"
        for a, b in zip(PERM_A, PERM_B)
    ]


def sql_simhash(hashes: str) -> str:
    terms = []
    for j in range(SIMHASH_BITS):
        ones = f"list_reduce(list_transform({hashes}, h -> (h >> {j}) & 1), (x, y) -> x + y)"
        terms.append(f"(CASE WHEN 2 * ({ones}) > len({hashes}) THEN CAST({2**j} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"
