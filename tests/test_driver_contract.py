"""Driver-contract robustness: queries must be correct regardless of the
session configuration the driver hands us."""

import duckdb
import numpy as np

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_queries_tz_independent(spark):
    """Timestamp queries pin UTC internally — a driver session with a
    different default timezone must produce identical results."""
    original = spark.conf.get("spark.sql.session.timeZone")
    con = duckdb.connect()
    for t in ("events", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        for t in ("orders", "customer"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT *"
                f" FROM read_parquet('{SF}/{t}.parquet')"
            )
        allq = {**entrymod.queries(), **entrymod.staged_queries()}
        allo = {**entrymod.oracle_sql(), **entrymod.staged_oracle_sql()}
        for q in (
            "events_windowed_counts",
            "spearman_by_month",
            "scd2_intervals",
            "session_window",
            # staged round-8: raw-timestamp output + timestamp-literal
            # predicates (the driver session may not be UTC)
            "large_volume_customers",
        ):
            sdf = allq[q](spark, SF).toPandas()
            odf = con.execute(allo[q]).fetchdf()
            cols = sorted(sdf.columns)
            s = sdf[cols].sort_values(cols).reset_index(drop=True)
            o = odf[cols].sort_values(cols).reset_index(drop=True)
            assert len(s) == len(o), q
            for c in cols:
                if s[c].dtype.kind in "fi":
                    np.testing.assert_allclose(
                        s[c].astype(float), o[c].astype(float),
                        rtol=1e-9, equal_nan=True, err_msg=f"{q}.{c}",
                    )
                else:
                    assert (s[c].astype(str) == o[c].astype(str)).all(), (q, c)
    finally:
        spark.conf.set("spark.sql.session.timeZone", original)


def test_contract_shape():
    q, o = entrymod.queries(), entrymod.oracle_sql()
    assert len(q) >= 29
    assert set(o) <= set(q)
    # every query key is a plain identifier (driver uses them as names)
    assert all(k.replace("_", "").isalnum() for k in q)
    # only the rows-only kernels go without an oracle
    assert set(q) - set(o) == {
        "feature_neutralizer",
        "feature_penalizer",
        "dim_reducer_pca",
        "ann_rp_lsh",
    }
    staged = entrymod.staged_queries()
    assert set(staged) == set(entrymod.staged_oracle_sql())
    assert not set(staged) & set(q)


def test_unverified_queries_inside_driver_window():
    """The driver's correctness pass checks the first 50 queries()
    entries. The 11 queries no driver run has verified sit at the head,
    and the oldest-verified greens fill the rest of the window; only
    previously verified queries may overflow.
    test_correctness_window_covers_unverified_queries enforces the
    same invariant dynamically from the CORRECTNESS_r*.json history;
    this static set pins the intent of the current order."""
    names = list(entrymod.queries())
    window = set(names[:50])
    must_check = {
        # never driver-verified
        "dsir_budget_select",
        "join_skew_audit",
        "theil_sen_trend",
        "mann_kendall",
        "cdc_apply",
        "event_paths",
        "fdr_audit",
        "purged_kfold",
        "join_size_estimate",
        "timed_funnel",
        # the NULL-order-key gate contract, never driver-verified
        "event_paths_nullts",
        # drift re-verification of the oldest-verified greens, written
        # into queries() after the head; spot members of the r8-, r9-
        # and r10-era pools
        "feature_corr_matrix",
        "xicor_by_month",
        "top_supplier",
        "weighted_quantiles",
        "cms_heavy_hitters",
        "filtered_supplier_counts",
    }
    assert must_check <= window, must_check - window
    # the head must be exactly the 11 never-driver-verified queries
    assert set(names[:11]) == must_check - {
        "feature_corr_matrix",
        "xicor_by_month",
        "top_supplier",
        "weighted_quantiles",
        "cms_heavy_hitters",
        "filtered_supplier_counts",
    }


def test_compare_flags_int_float_dtype_mismatch():
    """tools/check_oracle.compare must fail an int-vs-float column even
    when values coerce equal — the exact bug class that shipped
    session_ids red in r2 (DuckDB HUGEINT → pandas float64 vs Spark
    int64 hashing differently at the driver)."""
    import pandas as pd
    from check_oracle import compare

    spark_pdf = pd.DataFrame({"k": [1, 2], "v": pd.Series([2, 3], dtype="int64")})
    oracle_pdf = pd.DataFrame({"k": [1, 2], "v": pd.Series([2.0, 3.0], dtype="float64")})
    assert not compare("dtype_probe", spark_pdf, oracle_pdf)
    # identical dtypes with equal values still pass
    assert compare("dtype_probe_ok", spark_pdf, spark_pdf.copy())
    # object-Decimal vs float (the r1 events_json_extract class) also fails
    from decimal import Decimal

    dec_pdf = pd.DataFrame({"k": [1, 2], "v": [Decimal("2"), Decimal("3")]})
    assert not compare("dtype_probe_decimal", dec_pdf, oracle_pdf)
    # width-only difference within a kind is driver-tolerated (8 such
    # queries were hash-green in r2) — must NOT fail
    narrow = pd.DataFrame({"k": [1, 2], "v": pd.Series([2, 3], dtype="int32")})
    assert compare("dtype_probe_width", narrow, spark_pdf)


def test_panel_features_materialize_param(spark):
    """The flagship's contract form cuts its OLS residuals with one
    eager localCheckpoint: it matches the DuckDB oracle, leaves no
    persisted plan in Spark's CacheManager, and takes no cut option."""
    import pytest

    from check_oracle import compare

    spark.catalog.clearCache()
    got = entrymod.q_panel_features(spark, SF).toPandas()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{SF}/lineitem.parquet')"
    )
    want = con.execute(entrymod.oracle_sql()["panel_features"]).fetchdf()
    assert compare("panel_features", got, want)
    with pytest.raises(TypeError):
        entrymod.q_panel_features(spark, SF, materialize="persist")


def test_correctness_window_covers_unverified_queries():
    """Every query never hash-verified by a previous round's driver run
    must sit inside the driver's 50-entry correctness window; the
    overflow tail must be entirely previously-green queries. Guards the
    queries() ordering against regressions when new queries land."""
    import json
    import pathlib

    import __spark_entry__ as m

    q = list(m.queries())
    verified = {}
    root = pathlib.Path(__file__).resolve().parents[1]
    for p in sorted(root.glob("CORRECTNESS_r*.json")):
        for k, row in json.loads(p.read_text()).items():
            if row.get("hash_match") or row.get("err") == "no_oracle":
                verified[k] = True
    overflow = q[50:]
    never = [k for k in overflow if k not in verified]
    assert never == [], f"unverified queries past the window: {never}"
