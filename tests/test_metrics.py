"""Metrics vs numpy oracle (the reference tests vs sklearn.metrics,
tests/metrics/test_metrics.py — numpy computes the same formulas)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_ml_spark.functions import metrics as M


@pytest.fixture(scope="module")
def preds(spark):
    rng = np.random.RandomState(0)
    n = 500
    y = rng.randint(0, 2, n).astype(float)
    p = rng.rand(n)
    pred = (p > 0.5).astype(float)
    yreg = rng.randn(n) * 3 + 1
    preg = yreg + rng.randn(n)
    w = rng.rand(n) + 0.1
    import pandas as pd

    pdf = pd.DataFrame({
        "label": y, "prediction": pred, "probability": p,
        "ylabel": yreg, "ypred": preg, "w": w,
    })
    return spark.createDataFrame(pdf).repartition(4).cache(), pdf


def test_accuracy(preds):
    df, pdf = preds
    got = M.accuracy_score(df)
    np.testing.assert_allclose(got, (pdf.label == pdf.prediction).mean())


def test_accuracy_weighted(preds):
    df, pdf = preds
    got = M.accuracy_score(df, weight_col="w")
    want = (pdf.w * (pdf.label == pdf.prediction)).sum() / pdf.w.sum()
    np.testing.assert_allclose(got, want)


def test_mse_rmse(preds):
    df, pdf = preds
    err = (pdf.ypred - pdf.ylabel) ** 2
    np.testing.assert_allclose(
        M.mean_squared_error(df, "ylabel", "ypred"), err.mean())
    np.testing.assert_allclose(
        M.mean_squared_error(df, "ylabel", "ypred", squared=False), np.sqrt(err.mean()))


def test_mae_mape_msle(preds):
    df, pdf = preds
    np.testing.assert_allclose(
        M.mean_absolute_error(df, "ylabel", "ypred"),
        np.abs(pdf.ypred - pdf.ylabel).mean())
    np.testing.assert_allclose(
        M.mean_absolute_percentage_error(df, "ylabel", "ypred"),
        (np.abs(pdf.ypred - pdf.ylabel) / np.maximum(np.abs(pdf.ylabel), 1e-15)).mean())


def test_r2(preds):
    df, pdf = preds
    ss_res = ((pdf.ylabel - pdf.ypred) ** 2).sum()
    ss_tot = ((pdf.ylabel - pdf.ylabel.mean()) ** 2).sum()
    np.testing.assert_allclose(M.r2_score(df, "ylabel", "ypred"), 1 - ss_res / ss_tot)


def test_log_loss(preds):
    df, pdf = preds
    p = np.clip(pdf.probability, 1e-15, 1 - 1e-15)
    want = -(pdf.label * np.log(p) + (1 - pdf.label) * np.log(1 - p)).mean()
    np.testing.assert_allclose(M.log_loss(df), want)


def test_scorer_registry(preds):
    df, _ = preds
    acc = M.get_scorer("accuracy")
    assert acc(df) == M.accuracy_score(df)
    assert not getattr(acc, "needs_proba", False)
    # neg_log_loss is the probability-routed scorer (reference
    # metrics/scorer.py neg_log_loss = make_scorer(..., needs_proba=True))
    assert M.get_scorer("neg_log_loss").needs_proba
    with pytest.raises(ValueError):
        M.get_scorer("nope")
    neg = M.get_scorer("neg_mean_squared_error")(df, "ylabel", "ypred")
    assert neg < 0


# --- property-based: SQL aggregate == numpy on arbitrary data ----------

from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays


@st.composite
def _reg_arrays(draw):
    n = draw(st.integers(min_value=2, max_value=60))
    finite = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False, width=64)
    y = draw(arrays(np.float64, n, elements=finite))
    p = draw(arrays(np.float64, n, elements=finite))
    return y, p


@settings(max_examples=12, deadline=None)
@given(_reg_arrays())
def test_property_regression_metrics_match_numpy(spark, yp):
    y, p = yp
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"label": y, "prediction": p})).repartition(3)
    got_mse = M.mean_squared_error(df)
    got_mae = M.mean_absolute_error(df)
    assert got_mse == pytest.approx(((p - y) ** 2).mean(), rel=1e-9, abs=1e-9)
    assert got_mae == pytest.approx(np.abs(p - y).mean(), rel=1e-9, abs=1e-9)


@settings(max_examples=8, deadline=None)
@given(st.integers(min_value=2, max_value=80), st.integers(min_value=0, max_value=2**31 - 1))
def test_property_accuracy_matches_numpy(spark, n, seed):
    rng = np.random.RandomState(seed)
    y = rng.randint(0, 3, n).astype(float)
    p = rng.randint(0, 3, n).astype(float)
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"label": y, "prediction": p})).repartition(2)
    assert M.accuracy_score(df) == pytest.approx((y == p).mean())


def test_roc_auc_score(spark):
    """Exact AUC vs a numpy pair-counting oracle, including tied
    scores and tie-averaged ranks."""
    import numpy as np

    from dask_ml_spark.functions.metrics import roc_auc_score

    rng = np.random.RandomState(11)
    y = (rng.rand(500) < 0.4).astype(float)
    s = rng.randint(0, 40, size=500) / 10.0 + y * 0.8  # coarse grid → many ties
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(y, s)], ["label", "score"])
    got = roc_auc_score(df, "label", "score")
    pos, neg = s[y == 1], s[y == 0]
    cmp = (pos[:, None] > neg[None, :]).sum() + 0.5 * (pos[:, None] == neg[None, :]).sum()
    want = cmp / (len(pos) * len(neg))
    np.testing.assert_allclose(got, want, rtol=1e-12)
    # binned scale path: close to exact, error O(1/bins)
    approx = roc_auc_score(df, "label", "score", bins=5000)
    np.testing.assert_allclose(approx, want, atol=5e-3)


def test_precision_recall_f1(spark):
    import numpy as np

    from dask_ml_spark.functions.metrics import f1_score, precision_recall_f1

    y = np.array([1, 1, 1, 0, 0, 0, 0, 1], dtype=float)
    p = np.array([1, 0, 1, 1, 0, 0, 1, 1], dtype=float)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(y, p)], ["label", "prediction"])
    m = precision_recall_f1(df)
    tp, fp, fn = 3, 2, 1
    assert m["precision"] == tp / (tp + fp)
    assert m["recall"] == tp / (tp + fn)
    np.testing.assert_allclose(m["f1"], 2 * m["precision"] * m["recall"]
                               / (m["precision"] + m["recall"]))
    assert f1_score(df) == m["f1"]
    # degenerate: no positive predictions → sklearn-style zeros
    z = spark.createDataFrame([(1.0, 0.0), (0.0, 0.0)], ["label", "prediction"])
    mz = precision_recall_f1(z)
    assert mz["precision"] == 0.0 and mz["f1"] == 0.0


def test_roc_auc_null_scores_dropped(spark):
    import numpy as np

    from dask_ml_spark.functions.metrics import roc_auc_score

    rows = [(1.0, 0.9), (1.0, 0.8), (0.0, 0.2), (0.0, 0.4),
            (1.0, None), (0.0, float("nan"))]
    df = spark.createDataFrame(rows, ["label", "score"])
    np.testing.assert_allclose(roc_auc_score(df), 1.0)
    np.testing.assert_allclose(roc_auc_score(df, bins=100), 1.0)


def test_precision_recall_f1_macro_micro(spark):
    """Macro/micro multiclass averaging vs hand-computed per-class
    stats on a 3-class confusion."""
    import numpy as np

    from dask_ml_spark.functions.metrics import precision_recall_f1

    y = np.array([0, 0, 0, 1, 1, 2, 2, 2, 2], dtype=float)
    p = np.array([0, 1, 0, 1, 2, 2, 2, 0, 1], dtype=float)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(y, p)], ["label", "prediction"])
    # per class: tp0=2 fp0=1 fn0=1; tp1=1 fp1=2 fn1=1; tp2=2 fp2=1 fn2=2
    precs = [2 / 3, 1 / 3, 2 / 3]
    recs = [2 / 3, 1 / 2, 1 / 2]
    f1s = [2 * a * b / (a + b) for a, b in zip(precs, recs)]
    macro = precision_recall_f1(df, average="macro")
    np.testing.assert_allclose(macro["precision"], np.mean(precs))
    np.testing.assert_allclose(macro["recall"], np.mean(recs))
    np.testing.assert_allclose(macro["f1"], np.mean(f1s))
    micro = precision_recall_f1(df, average="micro")
    # micro precision == recall == accuracy for single-label multiclass
    np.testing.assert_allclose(micro["precision"], 5 / 9)
    np.testing.assert_allclose(micro["recall"], 5 / 9)


def test_calibration_curve(spark):
    import numpy as np

    from dask_ml_spark.functions.metrics import calibration_curve

    rng = np.random.RandomState(2)
    probs = rng.rand(1000)
    labels = (rng.rand(1000) < probs).astype(float)  # perfectly calibrated
    df = spark.createDataFrame(
        [(float(l), float(p)) for l, p in zip(labels, probs)], ["label", "probability"])
    out = calibration_curve(df, n_bins=5).toPandas().sort_values("bin")
    assert len(out) == 5
    # calibrated generator: observed rate tracks mean prediction per bin
    np.testing.assert_allclose(out["fraction_positive"], out["mean_predicted"], atol=0.12)
    assert out["n"].sum() == 1000


def test_roc_auc_binned_error_bound_continuous(spark):
    """|exact − binned| on a continuous-score fixture is bounded by
    the within-bin pair mass — empirically well under 1/bins·C for
    smooth distributions; pin the documented DEFAULT_AUC_BINS level
    and the scorer registry's use of it."""
    import numpy as np
    import pandas as pd

    from dask_ml_spark.functions.metrics import (DEFAULT_AUC_BINS,
                                                 roc_auc_score)

    rng = np.random.RandomState(7)
    n = 20_000
    label = rng.binomial(1, 0.4, n).astype("float64")
    # overlapping Gaussians -> AUC ~ 0.76, scores continuous
    score = rng.randn(n) + label
    df = spark.createDataFrame(pd.DataFrame({"label": label, "score": score}))
    exact = roc_auc_score(df, "label", "score")
    binned = roc_auc_score(df, "label", "score", bins=DEFAULT_AUC_BINS)
    assert abs(exact - binned) < 2e-3
    coarse = roc_auc_score(df, "label", "score", bins=64)
    assert abs(exact - coarse) < 3e-2


def test_roc_auc_scorer_registry_uses_binned_path(spark):
    """The registered 'roc_auc' scorer must agree with the explicit
    binned call (same bins) — and with exact AUC to binning error."""
    import numpy as np
    import pandas as pd

    from dask_ml_spark.functions.metrics import (DEFAULT_AUC_BINS,
                                                 _roc_auc_from_proba,
                                                 roc_auc_score)

    rng = np.random.RandomState(21)
    n = 5000
    label = rng.binomial(1, 0.5, n).astype("float64")
    proba = 1 / (1 + np.exp(-(rng.randn(n) + 2 * label - 1)))
    df = spark.createDataFrame(
        pd.DataFrame({"label": label, "probability": proba}))
    got = _roc_auc_from_proba(df)
    want = roc_auc_score(df, "label", "probability", bins=DEFAULT_AUC_BINS)
    np.testing.assert_allclose(got, want, rtol=0, atol=0)
    exact = roc_auc_score(df, "label", "probability")
    assert abs(got - exact) < 2e-3


def test_roc_auc_exact_scorer_variant(preds):
    """'roc_auc' (registry default) is the binned 100 TB path;
    'roc_auc_exact' restores the exact rank-sum AUC (ADVICE r5 — the
    binned default can flip near-tie CV rankings silently, so the
    opt-out must exist by name)."""
    df, pdf = preds
    exact = M.get_scorer("roc_auc_exact")(df)
    binned = M.get_scorer("roc_auc")(df)
    want = M.roc_auc_score(df, "label", "probability", bins=None)
    assert exact == want
    assert abs(binned - exact) < 1e-2  # binning error bounded, not zero
    assert M.get_scorer("roc_auc_exact").needs_proba


def test_cohens_kappa_matches_replay(spark):
    """κ pinned against the standard contingency formula on data with
    an injected 70% agreement rate; plus the perfect-agreement and
    constant-columns edges."""
    import numpy as np

    from dask_ml_spark.functions.metrics import cohens_kappa

    rng = np.random.RandomState(9)
    a = rng.choice(["x", "y", "z"], 500, p=[0.5, 0.3, 0.2])
    b = np.where(rng.rand(500) < 0.7, a,
                 rng.choice(["x", "y", "z"], 500))
    df = spark.createDataFrame(list(zip(a.tolist(), b.tolist())),
                               "a string, b string")
    got = cohens_kappa(df, "a", "b").collect()[0]
    n = 500
    po = float((a == b).mean())
    pe = sum((a == c).sum() * (b == c).sum() for c in "xyz") / n / n
    assert got["n"] == n and got["k_classes"] == 3
    assert abs(got["po"] - po) < 1e-12
    assert abs(got["pe"] - pe) < 1e-12
    assert abs(got["kappa"] - (po - pe) / (1 - pe)) < 1e-12
    assert 0.3 < got["kappa"] < 1.0  # real agreement, not chance
    # perfect agreement: kappa = 1
    same = spark.createDataFrame(
        [("x", "x")] * 3 + [("y", "y")] * 2, "a string, b string")
    assert abs(cohens_kappa(same, "a", "b").collect()[0]["kappa"]
               - 1.0) < 1e-12
    # both constant and equal: pe = 1, undefined
    const = spark.createDataFrame([("x", "x")] * 5,
                                  "a string, b string")
    with pytest.raises(ValueError, match="undefined"):
        cohens_kappa(const, "a", "b")


def test_mcnemar_and_cochrans_q(spark):
    """McNemar hand example (b=15, c=5 → χ² = 81/20, exact dof-1
    normal tail); Cochran's Q vs the textbook formula; the k=2
    Cochran reduces to the UNcorrected McNemar χ²."""
    import math

    import numpy as np

    from dask_ml_spark.functions.metrics import cochrans_q, mcnemar_test
    from dask_ml_spark.functions.stats import normal_sf, chi2_sf

    rows = ([(True, False)] * 15 + [(False, True)] * 5
            + [(True, True)] * 30 + [(False, False)] * 50)
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    got = mcnemar_test(df, "a", "b").collect()[0]
    assert (got["b_discordant"], got["c_discordant"]) == (15, 5)
    assert abs(got["chi2"] - 81 / 20) < 1e-12
    assert abs(got["p_value"]
               - min(1.0, 2.0 * normal_sf(math.sqrt(81 / 20)))) \
        < 1e-12
    # no disagreements: chi2 = 0, p = 1 (not an error)
    agree = spark.createDataFrame([(True, True), (False, False)],
                                  "a boolean, b boolean")
    g2 = mcnemar_test(agree, "a", "b").collect()[0]
    assert g2["chi2"] == 0.0 and g2["p_value"] == 1.0
    # cochran vs the textbook formula
    rng = np.random.RandomState(9)
    X = (rng.rand(200, 3) < [0.5, 0.6, 0.7]).astype(int)
    df3 = spark.createDataFrame(
        [tuple(bool(v) for v in r) for r in X],
        "c0 boolean, c1 boolean, c2 boolean")
    q3 = cochrans_q(df3, ["c0", "c1", "c2"]).collect()[0]
    k, T, R = 3, X.sum(0), X.sum(1)
    q_ref = k * (k - 1) * ((T - R.sum() / k) ** 2).sum() \
        / (k * R.sum() - (R ** 2).sum())
    assert abs(q3["q_stat"] - q_ref) < 1e-9
    assert abs(q3["p_value"] - chi2_sf(q_ref, 2)) < 1e-12
    # k = 2 Cochran == UNcorrected McNemar chi-square (b-c)^2/(b+c)
    df2 = spark.createDataFrame(rows, "a boolean, b boolean")
    q2 = cochrans_q(df2, ["a", "b"]).collect()[0]
    assert abs(q2["q_stat"] - (15 - 5) ** 2 / 20) < 1e-12
    const = spark.createDataFrame([(True, True)] * 4,
                                  "a boolean, b boolean")
    with pytest.raises(ValueError, match="constant"):
        cochrans_q(const, ["a", "b"])


def test_mcc_and_ece(spark):
    """MCC against the closed form (and the constant-predictor → 0
    convention); ECE/MCE against a numpy bin replay on a deliberately
    miscalibrated score."""
    import math

    import numpy as np

    from dask_ml_spark.functions.metrics import (
        expected_calibration_error, matthews_corrcoef)

    rng = np.random.RandomState(9)
    y = (rng.rand(400) < 0.3).astype(float)
    p = np.where(rng.rand(400) < 0.8, y, 1 - y)
    df = spark.createDataFrame(
        list(zip(y.tolist(), p.tolist())),
        "label double, prediction double")
    got = matthews_corrcoef(df)
    tp = int(((y == 1) & (p == 1)).sum())
    fp = int(((y == 0) & (p == 1)).sum())
    fn = int(((y == 1) & (p == 0)).sum())
    tn = int(((y == 0) & (p == 0)).sum())
    want = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    assert abs(got - want) < 1e-12 and got > 0.4
    # constant predictor: a zero marginal -> 0.0 by convention
    const = spark.createDataFrame(
        [(1.0, 1.0), (0.0, 1.0)], "label double, prediction double")
    assert matthews_corrcoef(const) == 0.0
    # ECE replay
    probs = rng.rand(1000)
    labels = (rng.rand(1000) < probs ** 1.3).astype(int)
    dfe = spark.createDataFrame(
        list(zip(labels.tolist(), probs.tolist())),
        "label long, probability double")
    g = expected_calibration_error(dfe, n_bins=10).collect()[0]
    bins = np.minimum(9, (probs * 10).astype(int))
    ece = mce = 0.0
    for bb in sorted(set(bins)):
        m = bins == bb
        gap = abs(labels[m].mean() - probs[m].mean())
        ece += m.sum() / 1000 * gap
        mce = max(mce, gap)
    assert abs(g["ece"] - ece) < 1e-9
    assert abs(g["mce"] - mce) < 1e-9
    assert g["ece"] > 0.02  # the miscalibration is detected


def test_brier_decomposition_identity_and_bruteforce(spark):
    """The Murphy identity BS = REL − RES + UNC + WBV − 2·WBC must
    hold EXACTLY (1e-12) on raw probabilities; every component
    matches a numpy replay; a perfectly calibrated score has
    reliability ~ 0 while an anti-calibrated one does not."""
    import numpy as np

    from dask_ml_spark.functions.metrics import brier_decomposition

    rng = np.random.RandomState(13)
    p = rng.uniform(0.0, 1.0, 1200)
    y = (rng.uniform(size=1200) < p).astype(int)   # calibrated draw
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, p)],
        ["label", "probability"])
    r = brier_decomposition(df, n_bins=10).collect()[0]

    bs = float(np.mean((p - y) ** 2))
    bins = np.minimum(9, np.floor(p * 10).astype(int))
    n = len(p)
    ybar = y.mean()
    rel = res = wbv = wbc = 0.0
    for k in range(10):
        m = bins == k
        if not m.any():
            continue
        nb = m.sum()
        pb, yb = p[m].mean(), y[m].mean()
        rel += nb * (pb - yb) ** 2
        res += nb * (yb - ybar) ** 2
        wbv += ((p[m] - pb) ** 2).sum()
        wbc += ((p[m] - pb) * (y[m] - yb)).sum()
    assert r["n"] == n
    assert abs(r["brier"] - bs) < 1e-9
    assert abs(r["reliability"] - rel / n) < 1e-9
    assert abs(r["resolution"] - res / n) < 1e-9
    assert abs(r["uncertainty"] - ybar * (1 - ybar)) < 1e-12
    assert abs(r["within_var"] - wbv / n) < 1e-9
    assert abs(r["within_cov"] - wbc / n) < 1e-9
    ident = (r["reliability"] - r["resolution"] + r["uncertainty"]
             + r["within_var"] - 2.0 * r["within_cov"])
    assert abs(r["brier"] - ident) < 1e-12
    assert r["reliability"] < 0.01       # calibrated → tiny gap

    df_anti = spark.createDataFrame(
        [(int(a), float(1.0 - b)) for a, b in zip(y, p)],
        ["label", "probability"])
    r2 = brier_decomposition(df_anti, n_bins=10).collect()[0]
    assert r2["reliability"] > 0.2       # anti-calibrated → huge gap
    ident2 = (r2["reliability"] - r2["resolution"] + r2["uncertainty"]
              + r2["within_var"] - 2.0 * r2["within_cov"])
    assert abs(r2["brier"] - ident2) < 1e-12

    with pytest.raises(ValueError, match="n_bins"):
        brier_decomposition(df, n_bins=0)


def test_smape_and_mase(spark):
    """smape replay incl. the 0/0 convention and the [0,2] bound;
    mase replays the Hyndman scale ratio with exact lag pairing, is
    ~1 when the forecast IS the lag-m naive scored against the lag-m
    scale, and raises on constant series / bad m."""
    import numpy as np

    from dask_ml_spark.functions.metrics import mase, symmetric_mape

    rng = np.random.RandomState(89)
    y = rng.uniform(10, 20, 60)
    p = y + rng.normal(0, 2.0, 60)
    rows = [(int(i), float(a), float(b))
            for i, (a, b) in enumerate(zip(y, p))]
    df = spark.createDataFrame(rows, ["t", "y", "p"])
    want = float(np.mean(2 * np.abs(p - y) / (np.abs(y) + np.abs(p))))
    got = symmetric_mape(df, "y", "p")
    assert abs(got - want) < 1e-12
    assert 0.0 <= got <= 2.0
    z = spark.createDataFrame([(0.0, 0.0), (0.0, 2.0)], ["y", "p"])
    assert abs(symmetric_mape(z, "y", "p") - 1.0) < 1e-12  # (0 + 2)/2

    m = mase(df, "y", "p", "t", m=1)
    num = float(np.mean(np.abs(p - y)))
    den = float(np.mean(np.abs(np.diff(y))))
    assert abs(m - num / den) < 1e-12

    # forecast == lag-1 naive, scored where the lag exists: num is
    # |y_t - y_{t-1}| over t>=1 and den the same set -> MASE == 1
    naive_rows = [(int(i), float(y[i]), float(y[i - 1]))
                  for i in range(1, len(y))]
    dfn = spark.createDataFrame(naive_rows, ["t", "y", "p"])
    assert abs(mase(dfn, "y", "p", "t", m=1) - 1.0) < 0.1

    const = spark.createDataFrame(
        [(i, 5.0, 5.0) for i in range(10)], ["t", "y", "p"])
    with pytest.raises(ValueError, match="constant"):
        mase(const, "y", "p", "t")
    with pytest.raises(ValueError, match="m must"):
        mase(df, "y", "p", "t", m=0)
