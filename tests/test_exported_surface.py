"""One small test for each exported name that no other test calls."""

from __future__ import annotations

import math
import pathlib

import numpy as np
import pytest

from centimators_spark.io import DEFAULT_SF_DIR

# the smallest scale factor, next to the default one
SF = str(pathlib.Path(DEFAULT_SF_DIR).with_name("sf0.001"))


def test_band_label(spark):
    from centimators_spark.operators import band_label

    points = spark.createDataFrame(
        [(1, 0.5), (2, 1.5), (3, 2.0), (4, 9.0)], "pid long, x double"
    )
    bands = spark.createDataFrame(
        [(0.0, 1.0, "low"), (1.0, 2.0, "mid"), (1.5, 3.0, "wide")],
        "lo double, hi double, band string",
    )
    got = {
        (r.pid, r.band)
        for r in band_label(points, bands, point_col="x", bucket_width=1.0)
        .collect()
    }
    # [lo, hi): x=2.0 is past "mid", inside "wide"; x=9.0 is in no band
    assert got == {(1, "low"), (2, "mid"), (2, "wide"), (3, "wide")}


def test_register_views(spark):
    from centimators_spark import register_views
    from centimators_spark.io import TABLES, load_table

    register_views(spark, SF)
    try:
        for name in ("nation", "documents"):
            n_sql = spark.sql(f"SELECT count(*) AS n FROM {name}").first().n
            assert n_sql == load_table(spark, SF, name).count() > 0
    finally:
        for name in TABLES:
            spark.catalog.dropTempView(name)


def test_read_documents_stream(spark, tmp_path):
    from centimators_spark.streaming import read_documents_stream

    stream = read_documents_stream(spark, SF)
    batch = spark.read.parquet(f"{SF}/documents.parquet")
    assert stream.isStreaming
    assert stream.schema == batch.schema
    query = (
        stream.writeStream.format("memory")
        .queryName("documents_stream_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        query.awaitTermination(120)
        n = spark.sql("SELECT count(*) AS n FROM documents_stream_probe").first().n
    finally:
        query.stop()
    assert n == batch.count() > 0


def _row_values(spark, expr_fn):
    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (1.0, None, 3.0), (None, None, None),
         (-1.0, 1.0, 0.0), (0.0, 0.0, 0.0), (5.0, 5.0, 5.0)],
        "a double, b double, c double",
    )
    return [r.v for r in df.select(expr_fn(["a", "b", "c"]).alias("v")).collect()]


def test_range_horizontal(spark):
    from centimators_spark.functions import range_horizontal

    # nulls are skipped; an all-null row is null
    assert _row_values(spark, range_horizontal) == [2.0, 2.0, None, 2.0, 0.0, 0.0]
    one = spark.createDataFrame([(4.0,), (None,)], "a double")
    assert [r.v for r in one.select(range_horizontal(["a"]).alias("v")).collect()] == [
        0.0,
        None,
    ]


def test_coefficient_of_variation_horizontal(spark):
    from centimators_spark.functions import coefficient_of_variation_horizontal

    got = _row_values(spark, coefficient_of_variation_horizontal)
    # std (ddof=1, static n) / mean: 1/2 for (1, 2, 3)
    assert got[0] == pytest.approx(0.5, abs=1e-15)
    # (1, null, 3): mean 2 over the non-null values, squared deviations
    # 1 + 1 over the static n - 1 = 2, so std 1
    assert got[1] == pytest.approx(0.5, abs=1e-15)
    assert math.isnan(got[2])      # all null
    assert got[3] == math.inf      # s / 0
    assert math.isnan(got[4])      # 0 / 0
    assert got[5] == 0.0


def test_make_keras_losses(monkeypatch):
    """Both classes build on keras.losses.Loss and, with numpy standing
    in for keras.ops, compute the numpy mirror of the soft Spearman
    loss and the weighted sum with MSE."""
    import tests.keras_stub as ks

    if not ks.install():
        pytest.skip("real keras installed")
    import keras

    from centimators_spark.ml import make_keras_losses
    from centimators_spark.ml.losses import soft_spearman_loss_np

    for name, fn in dict(
        expand_dims=np.expand_dims,
        sigmoid=lambda x: 1.0 / (1.0 + np.exp(-x)),
        eye=np.eye,
        shape=np.shape,
        sum=np.sum,
        reshape=np.reshape,
        mean=np.mean,
        std=np.std,
    ).items():
        monkeypatch.setattr(keras.ops, name, fn, raising=False)

    spearman_cls, combined_cls = make_keras_losses()
    assert issubclass(spearman_cls, keras.losses.Loss)
    assert issubclass(combined_cls, keras.losses.Loss)

    rng = np.random.default_rng(3)
    y = rng.standard_normal(12)
    p = y + 0.5 * rng.standard_normal(12)
    want = soft_spearman_loss_np(y, p, regularization_strength=0.1)
    assert spearman_cls(regularization_strength=0.1)(y, p) == pytest.approx(
        want, rel=1e-12
    )
    combined = combined_cls(mse_weight=0.5, spearman_weight=2.0)
    # the default strength 1e-3 saturates the sigmoids to exactly 0 or
    # 1 on both sides (the stand-in's exp overflows to inf on the way)
    with np.errstate(over="ignore"):
        got = combined(y, p)
        want = 0.5 * np.mean((y - p) ** 2) + 2.0 * soft_spearman_loss_np(y, p)
    assert got == pytest.approx(want, rel=1e-12)


def _loaded_after_import(module: str, watched: tuple[str, ...]) -> list[str]:
    """The ``watched`` modules a fresh interpreter holds after
    ``import module``."""
    import ast
    import subprocess
    import sys

    root = pathlib.Path(__file__).resolve().parents[1]
    probe = (
        "import sys\n"
        f"import {module}\n"
        f"print(sorted(m for m in {watched!r} if m in sys.modules))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=root, capture_output=True, text=True, check=True,
    ).stdout
    return ast.literal_eval(out)


def test_kernel_module_import_stays_narrow():
    """Importing a per-era kernel module, as a Python worker does when it
    unpickles the kernel, loads neither ``pyspark.ml`` nor the package's
    ML surface: the package ``__init__``s are lazy."""
    watched = ("pyspark.ml", "centimators_spark.ml", "centimators_spark.base")
    assert _loaded_after_import("centimators_spark.operators.penalization", watched) == []


def test_rank_kernel_import_stays_narrow():
    """The rank kernel's module, which a Python worker imports to run
    ``RankTransformer``'s Arrow call, loads neither ``pyspark.ml`` nor the
    transformer surface."""
    watched = (
        "pyspark.ml", "centimators_spark.ml", "centimators_spark.base",
        "centimators_spark.operators",
    )
    assert _loaded_after_import("centimators_spark.functions.rank", watched) == []


def test_ml_module_import_stays_narrow():
    """Importing one ``ml`` module loads neither the Keras estimators,
    ``pyspark.ml`` nor ``dspymator``: ``ml/__init__`` is lazy."""
    watched = (
        "pyspark.ml", "centimators_spark.ml.estimators",
        "centimators_spark.ml.dspymator",
    )
    assert _loaded_after_import("centimators_spark.ml.metrics", watched) == []


# the submodules each package exposes as attributes right after import
SUBMODULES = {
    "centimators_spark": (
        "analytics", "base", "config", "dedup", "functions", "graphs", "io",
        "ml", "operators", "profile", "reconcile", "scanstats", "session",
        "similarity", "text", "validate",
    ),
    "centimators_spark.operators": (
        "anomaly", "asof", "bloomjoin", "dimreduction", "drift", "embedding",
        "encoding", "mwu", "neutralization", "penalization", "rangejoin",
        "ranking", "skew", "stats", "time_series",
    ),
    "centimators_spark.ml": (
        "architectures", "bootstrap", "calibration", "conformal", "dspymator",
        "ensemble", "estimators", "feature_selection", "keras_cortex",
        "losses", "metrics",
    ),
}


def test_lazy_surface_resolves():
    """Every name ``dir()`` lists resolves, ``__all__`` is inside it, and
    each submodule the package exposes resolves to that submodule, as do
    the names in the submodule's own ``__all__``."""
    import importlib

    import centimators_spark as cs
    from centimators_spark import ml, operators

    for pkg in (cs, operators, ml):
        listed = dir(pkg)
        assert set(pkg.__all__) <= set(listed)
        for name in listed:
            getattr(pkg, name)
        for name in SUBMODULES[pkg.__name__]:
            assert name in listed
            want = importlib.import_module(f"{pkg.__name__}.{name}")
            assert getattr(pkg, name) is want
            for sub in getattr(want, "__all__", ()):
                getattr(want, sub)
        with pytest.raises(AttributeError):
            getattr(pkg, "no_such_name")
    assert cs.FeaturePenalizer is operators.FeaturePenalizer
    assert cs.operators is operators
