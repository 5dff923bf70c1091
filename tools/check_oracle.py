"""Local mimic of the driver's t2 correctness gate.

Runs each __spark_entry__.queries() entry at a given SF and compares to
oracle_sql() via DuckDB: row count, column names, and value equality on
sorted rows (exact for non-floats; floats compared bitwise AND with
tolerance, both reported — bitwise mismatches warn about hash risk).

Usage: python tools/check_oracle.py [--staged] [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from centimators_spark.io import TABLES  # noqa: E402
from centimators_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), na_position="first", kind="mergesort")
    return df.reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> bool:
    ok = True
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        print(f"  [{name}] COLUMN MISMATCH spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}")
        return False
    if len(spark_pdf) != len(oracle_pdf):
        print(f"  [{name}] ROWCOUNT MISMATCH spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
        return False
    s, o = _canon(spark_pdf), _canon(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        # the driver's canonical value hash sees dtype KIND: int64 2 vs
        # float64 2.0 hash differently even when every value matches
        # after coercion (how session_ids shipped red in r2 — DuckDB
        # HUGEINT window sums land in pandas as float64). Width within a
        # kind does NOT matter (8 int32-vs-int64 queries were driver-
        # green in r2), but everything else — int vs float vs unsigned
        # vs object (Decimal/str) — fails BEFORE the float coercion
        # below hides it; width-only differences just warn.
        numeric = {"i", "u", "f"}
        either_numeric = sv.dtype.kind in numeric or ov.dtype.kind in numeric
        if either_numeric and sv.dtype.kind != ov.dtype.kind:
            print(
                f"  [{name}] col {c}: DTYPE KIND MISMATCH spark={sv.dtype} "
                f"oracle={ov.dtype} — driver hash WILL differ even if values "
                f"match; CAST the oracle (or Spark) side"
            )
            ok = False
        elif sv.dtype != ov.dtype and either_numeric:
            print(
                f"  [{name}] col {c}: dtype width differs spark={sv.dtype} "
                f"oracle={ov.dtype} (driver hash tolerates this; info only)"
            )
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            sv = sv.astype("float64").to_numpy()
            ov = ov.astype("float64").to_numpy()
            both_nan = np.isnan(sv) & np.isnan(ov)
            exact = (sv == ov) | both_nan
            close = np.isclose(sv, ov, rtol=1e-9, atol=1e-12, equal_nan=True)
            if not close.all():
                bad = np.where(~close)[0][:5]
                print(f"  [{name}] col {c}: {(~close).sum()} values differ beyond tol; e.g. {sv[bad]} vs {ov[bad]}")
                ok = False
            elif not exact.all():
                print(f"  [{name}] col {c}: tol-match but {(~exact).sum()}/{len(sv)} not bit-exact (hash risk)")
        else:
            sv = sv.astype(str).to_numpy()
            ov = ov.astype(str).to_numpy()
            if not (sv == ov).all():
                bad = np.where(sv != ov)[0][:5]
                print(f"  [{name}] col {c}: {(sv != ov).sum()} values differ; e.g. {sv[bad]} vs {ov[bad]}")
                ok = False
    return ok


def main():
    args = [a for a in sys.argv[1:] if a != "--staged"]
    staged = "--staged" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark("check-oracle", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    if staged:
        queries = entrymod.staged_queries()
        oracles = entrymod.staged_oracle_sql()
    else:
        queries = entrymod.queries()
        oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"  [{name}] SPARK ERROR: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"[{name}] rows={len(sdf)} (no oracle — rows-only) {time.time()-t0:.1f}s")
            n_pass += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"  [{name}] ORACLE ERROR: {e}")
            n_fail += 1
            continue
        if compare(name, sdf, odf):
            print(f"[{name}] OK rows={len(sdf)} {time.time()-t0:.1f}s")
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
