"""Driver-gate mimic for the STAGED (next-round) contract queries —
same compare the driver runs, so promotion into queries() is zero-risk."""

import duckdb

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = (
    "lineitem", "orders", "customer", "documents", "events", "part",
    "supplier", "nation", "region", "embeddings",
)


def test_staged_queries_match_oracles(spark):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    from check_oracle import compare  # the REAL gate: dtype-kind strict

    queries = entrymod.staged_queries()
    oracles = entrymod.staged_oracle_sql()
    assert set(queries) == set(oracles)
    for name, fn in queries.items():
        sdf = fn(spark, SF).toPandas()
        odf = con.execute(oracles[name]).fetchdf()
        # compare() flags int-vs-float dtype-kind mismatches the driver
        # hash would fail on — a value-coercing assert here previously
        # hid exactly that bug in the MI oracle
        assert compare(name, sdf, odf), name
