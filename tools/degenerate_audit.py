"""Degenerate-data crash audit: copy sf0.001 with empty/whitespace/null
documents and null-field events appended, then run EVERY contract query
(declared + staged) against it, requiring crash-freedom — results may
legitimately differ from the pristine oracle, but a corrupt row must
never fail a job (ANSI division, None.lower(), empty-list folds are
the historical offenders; see 'Degenerate-input hardening' commit).

Usage: python tools/degenerate_audit.py    # prints per-query OK/FAIL
Exit code 1 on any failure. Last full run (round 7, 169 declared + 8
staged): 177/177 OK, 0 failures.
"""

from __future__ import annotations

import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

BASE = "/root/testdata/sf0.001"
TGT = os.path.join(REPO, ".degenerate_sf")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def build_degenerate_dir() -> str:
    shutil.rmtree(TGT, ignore_errors=True)
    os.makedirs(TGT)
    con = duckdb.connect()
    for t in TABLES:
        src = f"{BASE}/{t}.parquet"
        if t == "documents":
            con.execute(f"""
                COPY (
                  SELECT * FROM read_parquet('{src}')
                  UNION ALL BY NAME
                  SELECT * FROM (VALUES
                    (100001, '', 'en', 'web', 0),
                    (100002, '   ', 'en', 'web', 3),
                    (100003, NULL, NULL, NULL, NULL),
                    (100004, '!!!', 'xx', 'web', 3)
                  ) v(doc_id, text, lang, source, n_chars)
                ) TO '{TGT}/{t}.parquet' (FORMAT PARQUET)
            """)
        elif t == "events":
            con.execute(f"""
                COPY (
                  SELECT * FROM read_parquet('{src}')
                  UNION ALL BY NAME
                  SELECT * FROM (VALUES
                    (9000001, TIMESTAMP '2024-01-01 00:00:00', 999999,
                     NULL, NULL, NULL),
                    (9000002, NULL, 999999, 'view', 0.0, '{{}}')
                  ) v(event_id, ts, user_id, event_type, value, props)
                ) TO '{TGT}/{t}.parquet' (FORMAT PARQUET)
            """)
        else:
            shutil.copy(src, f"{TGT}/{t}.parquet")
    return TGT


def main() -> int:
    from centimators_spark.session import get_spark

    import __spark_entry__ as m

    tgt = build_degenerate_dir()
    spark = get_spark("degen-audit", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    fails = []
    registry = {**m.queries(), **m.staged_queries()}
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    if names:  # positional subset, like scale_experiment.py
        registry = {n: registry[n] for n in names}
    for name, fn in registry.items():
        try:
            n = fn(spark, tgt).count()
            print(f"OK   {name} rows={n}", flush=True)
        except Exception as e:  # noqa: BLE001 - audit reports, never raises
            fails.append(name)
            print(f"FAIL {name}: {type(e).__name__} "
                  f"{str(e).splitlines()[0][:160]}", flush=True)
    shutil.rmtree(TGT, ignore_errors=True)
    print(f"\n{len(fails)} failures" + (f": {fails}" if fails else ""))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
