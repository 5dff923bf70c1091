"""Property tests ported from the reference
(/root/reference/tests/test_neutralization.py, FIXTURES.md F3) plus
penalizer exposure-cap checks (test_penalizer_comparison.py:250-338).
"""

import math
import warnings

import numpy as np
import pandas as pd
import pytest

from centimators_spark.functions.normal import gaussianize, norm_ppf
from centimators_spark.operators.neutralization import FeatureNeutralizer
from centimators_spark.operators.penalization import FeaturePenalizer, exposures


def _make_test_data(n=100, k=5, n_eras=5, seed=42):
    rng = np.random.RandomState(seed)
    feats = rng.randn(n, k)
    preds = feats @ rng.randn(k) + 0.1 * rng.randn(n)
    pdf = pd.DataFrame(feats, columns=[f"feature{i}" for i in range(k)])
    pdf["prediction"] = preds
    pdf["era"] = [f"era{i // (n // n_eras)}" for i in range(n)]
    pdf["rid"] = np.arange(n)
    return pdf


@pytest.fixture(scope="module")
def era_df(spark):
    return spark.createDataFrame(_make_test_data())


FEATS = [f"feature{i}" for i in range(5)]


def test_norm_ppf_known_values():
    # golden quantiles (standard normal)
    assert abs(norm_ppf(np.array([0.975]))[0] - 1.959963984540054) < 1e-12
    assert abs(norm_ppf(np.array([0.5]))[0]) < 1e-15
    assert abs(norm_ppf(np.array([0.0013498980316300933]))[0] + 3.0) < 1e-9
    assert norm_ppf(np.array([0.0]))[0] == -np.inf
    assert math.isnan(norm_ppf(np.array([1.5]))[0])


def test_gaussianize_ordinal_ties():
    out = gaussianize(np.array([1.0, 1.0, 2.0]))
    # ordinal: ties broken by position -> ranks 1,2,3
    expected = norm_ppf((np.array([1.0, 2.0, 3.0]) - 0.5) / 3)
    np.testing.assert_allclose(out, expected)


def test_neutralizer_shape_names_and_range(spark, era_df):
    t = FeatureNeutralizer(
        proportion=0.5, pred_name="prediction", feature_names=FEATS,
        era_col="era", order_col="rid", keep_cols=["rid"],
    )
    out = t.transform(era_df).toPandas()
    assert len(out) == 100
    assert "prediction_neutralized_0.5" in out.columns
    v = out["prediction_neutralized_0.5"]
    assert v.min() >= 0.0 and v.max() <= 1.0
    assert abs(v.min()) < 1e-9 and abs(v.max() - 1.0) < 1e-9


def test_neutralizer_reduces_exposure(spark, era_df):
    t = FeatureNeutralizer(
        proportion=1.0, pred_name="prediction", feature_names=FEATS,
        era_col="era", order_col="rid", keep_cols=["rid"],
    )
    out = t.transform(era_df).toPandas().sort_values("rid").reset_index(drop=True)
    pdf = _make_test_data()
    for era in pdf.era.unique():
        mask = (pdf.era == era).to_numpy()
        X = pdf.loc[mask, FEATS].to_numpy()
        before = np.abs(exposures(X, gaussianize(pdf.loc[mask, "prediction"].to_numpy())[:, None])).max()
        after = np.abs(
            exposures(X, out.loc[mask, "prediction_neutralized_1.0"].to_numpy()[:, None])
        ).max()
        assert after < before


def test_neutralizer_multi_proportion_and_suffix(spark, era_df):
    t = FeatureNeutralizer(
        proportion=[0.25, 0.75], pred_name="prediction", feature_names=FEATS,
        suffix="v2", era_col="era", order_col="rid",
    )
    out = t.transform(era_df)
    assert "prediction_neutralized_0.25_v2" in out.columns
    assert "prediction_neutralized_0.75_v2" in out.columns
    assert t.get_feature_names_out() == [
        "prediction_neutralized_0.25_v2",
        "prediction_neutralized_0.75_v2",
    ]


def test_neutralizer_validates():
    with pytest.raises(ValueError):
        FeatureNeutralizer(proportion=1.5)
    with pytest.raises(ValueError):
        FeatureNeutralizer(pred_name=["a", "a"])


def test_neutralizer_matches_local_reference_math(spark, era_df):
    """Differential test: Spark output == straight numpy recomputation of
    the reference algorithm on driver (same data, same order)."""
    t = FeatureNeutralizer(
        proportion=0.5, pred_name="prediction", feature_names=FEATS,
        era_col="era", order_col="rid", keep_cols=["rid"],
    )
    got = (
        t.transform(era_df).toPandas().sort_values("rid")["prediction_neutralized_0.5"].to_numpy()
    )
    pdf = _make_test_data()
    neut = np.zeros(len(pdf))
    for era in pdf.era.unique():
        m = (pdf.era == era).to_numpy()
        X = pdf.loc[m, FEATS].to_numpy()
        g = gaussianize(pdf.loc[m, "prediction"].to_numpy())
        coeffs, *_ = np.linalg.lstsq(X, g, rcond=None)
        v = g - 0.5 * (X @ coeffs)
        neut[m] = v / np.std(v)
    expected = (neut - neut.min()) / (neut.max() - neut.min())
    np.testing.assert_allclose(got, expected, rtol=1e-9, atol=1e-12)


def test_penalizer_caps_exposure(spark):
    # reference penalizer fixture (test_penalizer_comparison.py:225-242):
    # randn features, only 3 of 10 weighted, 2 eras of 100
    np.random.seed(42)
    n, k = 200, 10
    features = np.random.randn(n, k)
    weights = np.array([0.5, -0.4, 0.3, 0, 0, 0, 0, 0, 0, 0.0])
    preds = features @ weights + np.random.randn(n) * 0.1
    feats = [f"feature{i}" for i in range(k)]
    pdf = pd.DataFrame(features, columns=feats)
    pdf["prediction"] = preds
    pdf["era"] = ["era1"] * 100 + ["era2"] * 100
    pdf["rid"] = np.arange(n)
    df = spark.createDataFrame(pdf)
    max_exp = 0.1
    t = FeaturePenalizer(
        max_exposure=max_exp, pred_name="prediction", feature_names=feats,
        era_col="era", order_col="rid", keep_cols=["rid"],
    )
    out = t.transform(df).toPandas().sort_values("rid").reset_index(drop=True)
    col = f"prediction_penalized_{max_exp}"
    assert out[col].between(0, 1).all()
    for era in pdf.era.unique():
        m = (pdf.era == era).to_numpy()
        X = (pdf.loc[m, feats].to_numpy() - 0.5).astype(np.float32)
        y = out.loc[m, col].to_numpy()[:, None]
        exp_after = np.abs(exposures(X, y)).max()
        # reference cross-framework tolerance: cap + 0.01
        assert exp_after <= max_exp + 0.01, exp_after


def test_penalizer_factored_matches_direct():
    """The O(k²)-per-iter factored kernel tracks the direct kernel within
    the reference's own cross-framework bar (corr > 0.95, cap + 0.01)."""
    from centimators_spark.operators.penalization import (
        reduce_exposure,
        reduce_exposure_factored,
    )

    np.random.seed(42)
    n, k = 200, 10
    features = np.random.randn(n, k)
    weights = np.array([0.5, -0.4, 0.3, 0, 0, 0, 0, 0, 0, 0.0])
    preds = gaussianize(features @ weights + np.random.randn(n) * 0.1)
    out_d = reduce_exposure(preds, features, 0.1)
    out_f = reduce_exposure_factored(preds, features, 0.1)
    assert np.corrcoef(out_d, out_f)[0, 1] > 0.999
    fe = (features - 0.5).astype(np.float32)
    assert np.abs(exposures(fe, out_f[:, None].astype(np.float32))).max() <= 0.11


def test_neutralizer_single_era_fallback(spark, era_df):
    t = FeatureNeutralizer(
        proportion=0.5, pred_name="prediction", feature_names=FEATS,
        era_col=None, order_col="rid", keep_cols=["rid"],
    )
    with pytest.warns(UserWarning, match="single era"):
        out = t.transform(era_df).toPandas()
    assert len(out) == 100
    assert out["prediction_neutralized_0.5"].between(0, 1).all()


def test_era_ols_neutralize_matches_numpy(spark):
    """Differential: the pure-expression distributed path reproduces a
    per-era numpy OLS neutralization (to rounding tolerance)."""
    from centimators_spark.operators.neutralization import era_ols_neutralize

    rng = np.random.RandomState(7)
    n = 300
    pdf = pd.DataFrame({
        "rid": np.arange(n),
        "era": np.repeat(["a", "b", "c"], n // 3),
        "f0": rng.randint(1, 50, n).astype(float),
        "f1": rng.randint(0, 10, n).astype(float),
        "f2": rng.randint(0, 8, n).astype(float),
        "y": rng.randint(100, 10_000, n).astype(float),
    })
    df = spark.createDataFrame(pdf)
    out = (
        era_ols_neutralize(
            df, "y", ["f0", "f1", "f2"], era_col="era",
            proportion=0.5, keep_cols=["rid"],
        )
        .orderBy("rid")
        .toPandas()
    )
    assert out["neutralized"].between(0, 1).all()

    # numpy reference
    neut = np.empty(n)
    for era in ("a", "b", "c"):
        m = (pdf.era == era).to_numpy()
        X = pdf.loc[m, ["f0", "f1", "f2"]].to_numpy()
        y = pdf.loc[m, "y"].to_numpy()
        beta = np.linalg.lstsq(X, y, rcond=None)[0]
        r = np.round(y - 0.5 * (X @ beta), 6)
        neut[m] = np.round(r / r.std(), 6)
    mn, mx = neut.min(), neut.max()
    expected = np.round((neut - mn) / (mx - mn), 6)
    np.testing.assert_allclose(
        out.sort_values("rid")["neutralized"].to_numpy(), expected, atol=2e-6
    )


def test_era_ols_neutralize_feature_cap():
    from centimators_spark.operators.neutralization import era_ols_neutralize

    with pytest.raises(ValueError, match="5 features"):
        era_ols_neutralize(None, "y", list("abcdef"), era_col="era")


def test_norm_ppf_sql_matches_numpy(spark):
    """The shared-SQL-text AS241 matches the numpy kernel to float
    noise across the full (0,1) domain incl. both tail branches."""
    from pyspark.sql import functions as F

    from centimators_spark.functions.normal import norm_ppf, norm_ppf_sql

    us = np.concatenate([
        np.array([1e-12, 1e-9, 1e-6, 1e-3, 0.075, 0.0751]),  # far+near tails
        np.linspace(0.08, 0.92, 41),                          # central
        1.0 - np.array([1e-12, 1e-9, 1e-6, 1e-3, 0.075]),
    ])
    df = spark.createDataFrame([(float(u),) for u in us], "u double")
    got = (
        df.withColumn("z", F.expr(norm_ppf_sql("u")))
        .orderBy("u")
        .toPandas()
    )
    expected = norm_ppf(np.sort(us))
    np.testing.assert_allclose(got["z"], expected, rtol=1e-12, atol=1e-12)


def test_gaussianize_expr_matches_kernel(spark):
    """Window+expression gaussianize == the applyInPandas numpy kernel
    (same ordinal tie order), to the 6dp rounding."""
    from centimators_spark.operators.neutralization import (
        gaussianize_expr,
        gaussianize_stage,
    )

    rng = np.random.RandomState(3)
    vals = np.round(rng.uniform(0, 100, 200), 1)  # duplicates → ties
    pdf = pd.DataFrame({
        "rid": np.arange(200),
        "era": np.repeat(["a", "b"], 100),
        "x": vals,
    })
    df = spark.createDataFrame(pdf)
    expr_out = (
        gaussianize_expr(df, "x", era_col="era", order_col="rid")
        .orderBy("rid")
        .toPandas()["x_gauss"]
        .to_numpy()
    )
    u = (
        gaussianize_stage(df, "x", era_col="era", order_col="rid",
                          keep_cols=["rid"])
        .orderBy("rid")
        .toPandas()["x_gauss_u"]
        .to_numpy()
    )
    from centimators_spark.functions.normal import norm_ppf

    np.testing.assert_allclose(expr_out, np.round(norm_ppf(u), 6), atol=1e-9)


def test_full_expr_neutralizer_matches_kernel(spark):
    """The pure-expression gaussianize+OLS neutralizer tracks the
    applyInPandas FeatureNeutralizer kernel (which uses unrounded Φ⁻¹
    and numpy lstsq) to rounding tolerance on integer features."""
    from pyspark.sql import functions as F

    from centimators_spark.operators.neutralization import (
        era_ols_neutralize,
        gaussianize_expr,
    )

    rng = np.random.RandomState(11)
    n = 400
    pdf = pd.DataFrame({
        "rid": np.arange(n),
        "era": np.repeat(["a", "b"], n // 2),
        "f0": rng.randint(1, 50, n).astype(float),
        "f1": rng.randint(0, 10, n).astype(float),
        "pred": rng.uniform(0, 1000, n).round(2),
    })
    df = spark.createDataFrame(pdf)

    g = gaussianize_expr(df, "pred", era_col="era", order_col="rid")
    g = g.withColumn("y6", F.round(F.col("pred_gauss") * 1e6))
    expr_out = (
        era_ols_neutralize(
            g, "y6", ["f0", "f1"], era_col="era", proportion=0.5,
            keep_cols=["rid"],
        )
        .orderBy("rid")
        .toPandas()["neutralized"]
        .to_numpy()
    )

    kernel = FeatureNeutralizer(
        proportion=0.5, pred_name="pred", feature_names=["f0", "f1"],
        era_col="era", order_col="rid", keep_cols=["rid"],
    )
    kernel_out = (
        kernel.transform(df)
        .orderBy("rid")
        .toPandas()["pred_neutralized_0.5"]
        .to_numpy()
    )
    assert np.corrcoef(expr_out, kernel_out)[0, 1] > 0.999999
    np.testing.assert_allclose(expr_out, kernel_out, atol=2e-4)


def _per_era_factored(prediction, features, max_exp, lr=1e-3, max_iters=100_000, tol=1e-7):
    """One era's factored Adamax loop, written out per era as the
    specification the batched optimizer must reproduce."""
    from centimators_spark.operators.penalization import _normalize_cols

    feats = np.asarray(features, dtype=np.float64) - 0.5
    pred = np.asarray(prediction, dtype=np.float64)[:, None]
    n, k = feats.shape
    xhat = _normalize_cols(feats)
    ones = np.ones((n, 1))
    A, fp, f1 = feats.T @ feats, feats.T @ pred, feats.T @ ones
    xf, xp = xhat.T @ feats, xhat.T @ pred
    pp, p1 = (pred.T @ pred).item(), (ones.T @ pred).item()
    target = np.clip(xp / np.linalg.norm(pred - pred.mean()), -max_exp, max_exp)
    t_pos, t_neg = np.maximum(target, 0.0), np.maximum(-target, 0.0)
    w, m, u = np.zeros((k, 1)), np.zeros((k, 1)), np.zeros((k, 1))
    for t in range(1, max_iters + 1):
        mu = (p1 - (f1.T @ w).item()) / n
        c2 = pp - 2.0 * (fp.T @ w).item() + (w.T @ A @ w).item() - n * mu * mu
        if c2 <= 0:
            break
        norm = np.sqrt(c2)
        e = (xp - xf @ w) / norm
        pos = np.maximum(np.maximum(e, 0.0) - t_pos, 0.0)
        neg = np.maximum(np.maximum(-e, 0.0) - t_neg, 0.0)
        if float(np.sum(pos + neg)) < tol:
            break
        s = (pos > 0) * (e > 0) * 1.0 - (neg > 0) * (-e > 0) * 1.0
        fyhat = (fp - A @ w - mu * f1) / norm
        grads = -(xf.T @ s - fyhat * (e.T @ s).item()) / norm
        m = 0.9 * m + 0.1 * grads
        u = np.maximum(0.999 * u, np.abs(grads))
        w = w - lr * (m / (1 - 0.9**t)) / (u + 1e-7)
    return (pred - feats @ w)[:, 0], t


def _unequal_eras(seed=5, sizes=(60, 150, 97, 230, 41), k=6):
    """Eras of unequal size; the era at index 3 gets a prediction with
    the features regressed out, so its exposures start within 0.1."""
    rng = np.random.RandomState(seed)
    weights = np.array([0.5, -0.4, 0.3, 0.0, 0.0, 0.0])
    X, P = [], []
    for i, n in enumerate(sizes):
        x = rng.randn(n, k)
        noise = rng.randn(n)
        if i == 3:
            xc = x - x.mean(axis=0)
            p = noise - xc @ np.linalg.lstsq(xc, noise, rcond=None)[0]
        else:
            p = x @ weights + 0.1 * noise
        X.append(x)
        P.append(gaussianize(p))
    return X, P


def test_batched_adamax_matches_per_era_loop():
    """All eras in one optimizer call == each era's own loop (≤1e-12),
    an era already within the cap stops at t=1 untouched, a single era
    is a batch of one, and an era's result does not depend on which
    eras share its batch."""
    from centimators_spark.operators.penalization import reduce_exposure_factored

    X, P = _unequal_eras()
    starts = np.cumsum([0] + [len(p) for p in P[:-1]])
    got = reduce_exposure_factored(np.concatenate(P), np.vstack(X), 0.1, starts=starts)
    iters = []
    for i, part in enumerate(np.split(got, starts[1:])):
        ref, t = _per_era_factored(P[i], X[i], 0.1)
        iters.append(t)
        np.testing.assert_allclose(part, ref, rtol=0, atol=1e-12)
        alone = reduce_exposure_factored(P[i], X[i], 0.1)
        np.testing.assert_allclose(part, alone, rtol=0, atol=1e-12)
    fe = (X[3] - 0.5).astype(np.float32)
    assert np.abs(exposures(fe, P[3][:, None].astype(np.float32))).max() < 0.1
    assert iters[3] == 1
    np.testing.assert_array_equal(np.split(got, starts[1:])[3], P[3])
    assert min(iters[:3] + iters[4:]) > 1


@pytest.mark.parametrize("era_col", ["era", None])
def test_penalizer_transform_matches_per_era_loop(spark, era_col):
    """The Spark transform (era-hashed partitions, or the single-era
    fallback) == per-era gaussianize → per-era loop → per-era std →
    global min-max."""
    X, P = _unequal_eras()
    feats = [f"feature{i}" for i in range(X[0].shape[1])]
    pdf = pd.DataFrame(np.vstack(X), columns=feats)
    pdf["prediction"] = np.concatenate(P)
    pdf["era"] = np.repeat(np.arange(len(P)), [len(p) for p in P])
    pdf["rid"] = np.arange(len(pdf))
    t = FeaturePenalizer(
        0.1, "prediction", feats, era_col=era_col, order_col="rid", keep_cols=["rid"],
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        got = t.transform(spark.createDataFrame(pdf)).toPandas().sort_values("rid")
    eras = [np.ones(len(pdf), bool)] if era_col is None else [
        (pdf.era == e).to_numpy() for e in range(len(P))
    ]
    pen = np.empty(len(pdf))
    for m in eras:
        g = gaussianize(pdf.loc[m, "prediction"].to_numpy())
        v, _ = _per_era_factored(g, pdf.loc[m, feats].to_numpy(), 0.1)
        pen[m] = v / np.std(v)
    expected = (pen - pen.min()) / (pen.max() - pen.min())
    np.testing.assert_allclose(
        got["prediction_penalized_0.1"].to_numpy(), expected, rtol=0, atol=1e-12
    )


def _kernel_transformers():
    from centimators_spark.operators import neutralization, penalization

    kw = dict(feature_names=FEATS, era_col="era", order_col="rid", keep_cols=["rid"])
    return [
        (neutralization, FeatureNeutralizer(0.5, "prediction", **kw), "prediction_neutralized_0.5"),
        (penalization, FeaturePenalizer(0.1, "prediction", **kw), "prediction_penalized_0.1"),
    ]


@pytest.mark.parametrize("which", [0, 1], ids=["neutralizer", "penalizer"])
@pytest.mark.parametrize("downstream", ["direct", "select"])
def test_era_kernel_runs_once_per_era(spark, era_df, monkeypatch, which, downstream):
    """An accumulator counts the kernel's per-era gaussianize calls on
    the executors: one per era per transform, also under a downstream
    projection — the global min-max's two phases share one exchange
    of the kernel output instead of running the kernel twice."""
    module, t, out_col = _kernel_transformers()[which]
    acc = spark.sparkContext.accumulator(0)
    real = module.gaussianize

    def counted(values):
        acc.add(1)
        return real(values)

    monkeypatch.setattr(module, "gaussianize", counted)
    out = t.transform(era_df)
    if downstream == "select":
        out = out.select("rid", f"`{out_col}`")
    assert out.count() == 100
    assert acc.value == era_df.select("era").distinct().count() == 5


@pytest.mark.parametrize("which", [0, 1], ids=["neutralizer", "penalizer"])
def test_era_kernel_plan_reuses_exchange(spark, era_df, which):
    """The executed plan holds the Python kernel once, as one
    per-partition map (not a grouped map), and reads its output a
    second time through a ReusedExchange — no cache, no checkpoint."""
    _, t, _ = _kernel_transformers()[which]
    out = t.transform(era_df)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in plan
    assert plan.count("MapInPandas") == 1
    assert "FlatMapGroupsInPandas" not in plan
    assert "InMemoryRelation" not in plan and "Scan ExistingRDD" not in plan


def test_penalizer_runs_one_adamax_loop_per_partition(spark, era_df, monkeypatch):
    """Every era of a kernel partition goes through one Adamax loop: an
    accumulator counts the ``reduce_exposure_factored`` calls on the
    executors, one per non-empty partition of the era-hashed input —
    a single partition for these five small eras under AQE, although
    their era hashes fall into several shuffle partitions."""
    from pyspark.sql import functions as F

    from centimators_spark.operators import penalization

    n_parts = (
        era_df.repartition("era")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_hash = era_df.select(
        F.pmod(F.hash("era"), F.lit(shuffle)).alias("h")
    ).distinct().count()
    assert n_parts == 1 < n_hash
    acc = spark.sparkContext.accumulator(0)
    real = penalization.reduce_exposure_factored

    def counted(*args, **kwargs):
        acc.add(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(penalization, "reduce_exposure_factored", counted)
    _, t, _ = _kernel_transformers()[1]
    assert t.transform(era_df).count() == 100
    assert acc.value == n_parts


def _layouts(a: np.ndarray) -> list[np.ndarray]:
    """The same values 8 bytes off a 16-byte boundary, and F-ordered."""
    buf = np.empty(a.size + 1)
    start = 1 if buf.ctypes.data % 16 == 0 else 0
    off = buf[start : start + a.size].reshape(a.shape)
    off[...] = a
    assert off.ctypes.data % 16 == 8
    return [off, np.asfortranarray(a)]


def _random_eras(n_eras: int, k: int = 10, seed: int = 5):
    rng = np.random.default_rng(seed)
    sizes = rng.integers(40, 120, n_eras)
    X = rng.random((sizes.sum(), k))
    P = rng.random(sizes.sum())
    starts = np.cumsum(np.r_[0, sizes[:-1]])
    return X, P, starts


def test_neutralize_era_bit_identical_across_layouts():
    """The per-era neutralizer steps (lstsq → X @ c → / std on the
    gaussianized prediction) give the same bits whatever the memory
    layout of the inputs: without fresh C-ordered copies, every one of
    these eras changed its last bits at an 8-byte offset and in F
    order."""
    from centimators_spark.operators.neutralization import neutralize_era

    X, P, starts = _random_eras(64)
    P = np.concatenate([gaussianize(p) for p in np.split(P, starts[1:])])
    for x, p in zip(np.split(X, starts[1:]), np.split(P, starts[1:])):
        want = neutralize_era(x.copy(), [p.copy()], [0.5, 1.0])
        for xl, pl in zip(_layouts(x), _layouts(p)):
            got = neutralize_era(xl, [pl], [0.5, 1.0])
            for g, w in zip(got, want):
                np.testing.assert_array_equal(g, w)


def test_reduce_exposure_factored_bit_identical_across_layouts():
    """The batched penalizer gives the same bits at an 8-byte offset and
    in F order (64 eras, uniform features, cap 0.1)."""
    from centimators_spark.operators.penalization import reduce_exposure_factored

    X, P, starts = _random_eras(64)
    P = np.concatenate([gaussianize(p) for p in np.split(P, starts[1:])])
    want = reduce_exposure_factored(P.copy(), X.copy(), 0.1, starts=starts)
    for xl, pl in zip(_layouts(X), _layouts(P)):
        got = reduce_exposure_factored(pl, xl, 0.1, starts=starts)
        np.testing.assert_array_equal(got, want)
