"""Hypothesis tests + survival curve (functions/stats.py) against
independent brute-force references — the oracle-blindness rule: every
oracled query gets a hand-computed check that shares NO code with the
implementation."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_ml_spark import utils
from dask_ml_spark.functions.stats import kaplan_meier, ks_2sample, mann_whitney_u


def _brute_ks(a, b):
    """Independent D: evaluate both ECDFs at every pooled point."""
    a, b = np.sort(np.asarray(a, float)), np.sort(np.asarray(b, float))
    pooled = np.unique(np.concatenate([a, b]))
    f1 = np.searchsorted(a, pooled, side="right") / len(a)
    f2 = np.searchsorted(b, pooled, side="right") / len(b)
    return float(np.max(np.abs(f1 - f2)))


def _brute_u(a, b):
    """Independent U1: O(n^2) pair count (wins + half-ties)."""
    a, b = np.asarray(a, float), np.asarray(b, float)
    gt = (a[:, None] > b[None, :]).sum()
    eq = (a[:, None] == b[None, :]).sum()
    return float(gt) + 0.5 * float(eq)


def _mk(spark, a, b):
    rows = [(float(v), "a") for v in a] + [(float(v), "b") for v in b]
    return spark.createDataFrame(rows, ["x", "g"])


def test_ks_2sample_matches_bruteforce(spark):
    rng = np.random.RandomState(5)
    a = rng.normal(0.0, 1.0, 300)
    b = rng.normal(0.4, 1.2, 200)
    # heavy ties too: quantize half of b
    b[:100] = np.round(b[:100], 1)
    row = ks_2sample(_mk(spark, a, b), "x", "g").collect()[0]
    assert (row["n1"], row["n2"]) == (300, 200)
    d_ref = _brute_ks(a, b)
    assert abs(row["d_stat"] - d_ref) < 1e-12
    # independent p: the same asymptotic series, written fresh
    lam = d_ref * math.sqrt(300 * 200 / 500)
    q = 2.0 * sum((-1) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
                  for k in range(1, 26))
    assert abs(row["p_value"] - min(1.0, max(0.0, q))) < 1e-12
    # identical distributions -> D small, p near 1
    row2 = ks_2sample(_mk(spark, a, a), "x", "g").collect()[0]
    assert row2["d_stat"] == 0.0 and row2["p_value"] == 1.0
    # binned scale path: conservative (D_binned <= D_exact) and within
    # the largest within-bin mass of exact; matches an independent
    # histogram-ECDF replay exactly
    rowb = ks_2sample(_mk(spark, a, b), "x", "g", bins=64).collect()[0]
    assert rowb["d_stat"] <= d_ref + 1e-12
    assert rowb["d_stat"] > d_ref - 0.1    # 64 bins on smooth data
    lo = min(a.min(), b.min())
    hi = max(a.max(), b.max())
    ba = np.minimum(63, np.floor((a - lo) / (hi - lo) * 64)).astype(int)
    bb = np.minimum(63, np.floor((b - lo) / (hi - lo) * 64)).astype(int)
    f1 = np.cumsum(np.bincount(ba, minlength=64)) / len(a)
    f2 = np.cumsum(np.bincount(bb, minlength=64)) / len(b)
    assert abs(rowb["d_stat"] - np.max(np.abs(f1 - f2))) < 1e-12


def test_mann_whitney_matches_bruteforce(spark):
    rng = np.random.RandomState(9)
    a = np.round(rng.normal(0.0, 1.0, 120), 1)   # rounded -> real ties
    b = np.round(rng.normal(0.5, 1.0, 80), 1)
    row = mann_whitney_u(_mk(spark, a, b), "x", "g").collect()[0]
    u_ref = _brute_u(a, b)
    assert row["u_stat"] == u_ref
    # independent z/p: rank-sum normal approximation recomputed from
    # scratch (tie term from the pooled value counts)
    n1, n2 = 120, 80
    n = n1 + n2
    _, counts = np.unique(np.concatenate([a, b]), return_counts=True)
    tie = float((counts.astype(float) ** 3 - counts).sum())
    mu = n1 * n2 / 2.0
    sd = math.sqrt(n1 * n2 / 12.0 * ((n + 1.0) - tie / (n * (n - 1.0))))
    z_ref = math.copysign(max(0.0, abs(u_ref - mu) - 0.5), u_ref - mu) / sd
    p_ref = 2.0 * (1.0 - 0.5 * (1.0 + math.erf(abs(z_ref) / math.sqrt(2.0))))
    assert abs(row["z"] - z_ref) < 1e-12
    assert abs(row["p_value"] - min(1.0, p_ref)) < 1e-6  # A&S 26.2.17 tail
    # rank-biserial effect size r = 2U/(n1 n2) - 1 (r12)
    assert abs(row["rank_biserial"]
               - (2.0 * u_ref / (n1 * n2) - 1.0)) < 1e-12
    assert -1.0 <= row["rank_biserial"] <= 1.0
    # all-tied data: sigma = 0 -> z = 0, p = 1 (not NaN), r = 0
    row2 = mann_whitney_u(_mk(spark, [1, 1, 1], [1, 1]), "x", "g").collect()[0]
    assert row2["z"] == 0.0 and row2["p_value"] == 1.0
    assert row2["rank_biserial"] == 0.0


def test_wilcoxon_signed_rank_matches_replay(spark, monkeypatch):
    """Both execution paths (bounded driver / distributed prefix)
    pinned against an independent pandas average-rank replay with
    real ties AND zero differences (discarded, the classic
    convention)."""
    from dask_ml_spark.functions.stats import (normal_sf,
                                               wilcoxon_signed_rank)

    rng = np.random.RandomState(3)
    a = rng.randint(0, 15, 200).astype(float)
    b = (a + rng.randint(-3, 4, 200)).astype(float)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)],
        "a double, b double")
    import pandas as pd
    d = a - b
    d = d[d != 0]
    r = pd.Series(np.abs(d)).rank(method="average")
    w_ref = float(r[d > 0].sum())
    n = len(d)
    tcounts = pd.Series(np.abs(d)).value_counts()
    ties = float((tcounts ** 3 - tcounts).sum())
    mu = n * (n + 1) / 4.0
    var = n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - ties / 48.0
    z_ref = math.copysign(max(0.0, abs(w_ref - mu) - 0.5),
                          w_ref - mu) / math.sqrt(var)
    p_ref = min(1.0, 2.0 * normal_sf(abs(z_ref)))
    for mdr in (65536, 0):
        with monkeypatch.context() as m:
            m.setattr(utils, "MAX_DRIVER_ROWS", mdr)
            row = wilcoxon_signed_rank(df, "a", "b").collect()[0]
        assert row["n"] == n, mdr
        assert abs(row["w_plus"] - w_ref) < 1e-9, mdr
        assert abs(row["z"] - z_ref) < 1e-12, mdr
        assert abs(row["p_value"] - p_ref) < 1e-12, mdr
    # all differences zero -> no signal rows -> loud error
    same = spark.createDataFrame([(1.0, 1.0), (2.0, 2.0)],
                                 "a double, b double")
    with pytest.raises(Exception, match="no nonzero"):
        wilcoxon_signed_rank(same, "a", "b").collect()
    # all-tied |d| with balanced signs: z = 0, p = 1
    bal = spark.createDataFrame([(1.0, 0.0), (0.0, 1.0)],
                                "a double, b double")
    row = wilcoxon_signed_rank(bal, "a", "b").collect()[0]
    assert row["n"] == 2 and abs(row["z"]) < 1e-12
    assert row["p_value"] > 0.9
    # same-signed infinities give d = NaN — excluded, not rank-corrupt
    # (review-caught)
    inf = float("inf")
    mixed = spark.createDataFrame(
        [(inf, inf), (3.0, 1.0), (5.0, 2.0)], "a double, b double")
    row = wilcoxon_signed_rank(mixed, "a", "b").collect()[0]
    assert row["n"] == 2


def test_mann_whitney_group_inference_guard(spark):
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "b"), (3.0, "c")], ["x", "g"])
    with pytest.raises(ValueError, match="exactly 2 non-null groups"):
        mann_whitney_u(df, "x", "g")
    # explicit groups select two of three
    row = mann_whitney_u(df, "x", "g", groups=("a", "c")).collect()[0]
    assert (row["n1"], row["n2"]) == (1, 1) and row["u_stat"] == 0.0


def test_chi2_independence_hand_example(spark):
    from dask_ml_spark.functions.stats import chi2_independence, chi2_sf

    # 2x2 with the closed-form statistic chi2 = n(ad-bc)^2 /
    # ((a+b)(c+d)(a+c)(b+d)): a=10, b=20, c=30, d=40
    rows = ([("x", "u")] * 10 + [("x", "v")] * 20
            + [("y", "u")] * 30 + [("y", "v")] * 40)
    df = spark.createDataFrame(rows, ["a", "b"])
    got = chi2_independence(df, "a", "b").collect()[0]
    n, a, b, c, d = 100, 10, 20, 30, 40
    ref = n * (a * d - b * c) ** 2 / ((a + b) * (c + d) * (a + c) * (b + d))
    assert abs(got["chi2"] - ref) < 1e-12
    assert got["dof"] == 1
    # odd dof -> Wilson-Hilferty; sanity: in (0,1) and decreasing in x
    assert 0.0 < got["p_value"] < 1.0
    assert chi2_sf(5.0, 1) < chi2_sf(1.0, 1)
    # even-dof tail is exact: Q(x; 2) = e^{-x/2}, Q(x; 4) = e^{-x/2}(1+x/2)
    assert abs(chi2_sf(3.0, 2) - math.exp(-1.5)) < 1e-15
    assert abs(chi2_sf(3.0, 4) - math.exp(-1.5) * 2.5) < 1e-15
    # independence -> chi2 ~ 0, p = 1
    rows2 = [("x", "u")] * 10 + [("x", "v")] * 10 + \
            [("y", "u")] * 20 + [("y", "v")] * 20
    got2 = chi2_independence(
        spark.createDataFrame(rows2, ["a", "b"]), "a", "b").collect()[0]
    assert got2["chi2"] == 0.0 and got2["p_value"] == 1.0
    with pytest.raises(ValueError, match="max_cells"):
        wide = spark.range(100).selectExpr("cast(id as string) a",
                                           "cast(id % 7 as string) b")
        chi2_independence(wide, "a", "b", max_cells=50)
    with pytest.raises(ValueError, match="categories"):
        one = spark.createDataFrame([("x", "u"), ("x", "v")], ["a", "b"])
        chi2_independence(one, "a", "b")


def test_chi2_zero_cell_and_group_guards(spark):
    """Structurally EMPTY cells contribute (0−e)²/e = e to Pearson's
    statistic (review-caught: both engines skipped them). Hand value:
    (x,u)=10, (y,u)=5, (y,v)=5 → e(x,v)=2.5 missing → chi2 = 20/3."""
    from dask_ml_spark.functions.stats import chi2_independence

    rows = [("x", "u")] * 10 + [("y", "u")] * 5 + [("y", "v")] * 5
    got = chi2_independence(
        spark.createDataFrame(rows, ["a", "b"]), "a", "b").collect()[0]
    assert abs(got["chi2"] - 20.0 / 3.0) < 1e-12

    # KS/MWU: a group name matching no rows must raise, not flow a
    # NULL p-value into downstream gates — and the guard must survive
    # COLUMN PRUNING (review-caught: a guard on d_stat alone never
    # fires for .select('p_value') consumers)
    df = _mk(spark, [1.0, 2.0], [3.0, 4.0])
    for fn in (ks_2sample, mann_whitney_u):
        with pytest.raises(Exception, match="matched no rows"):
            fn(df, "x", "g", groups=("a", "TYPO")).collect()
        with pytest.raises(Exception, match="matched no rows"):
            fn(df, "x", "g", groups=("a", "TYPO")) \
                .select("p_value").collect()
    # Welch: every failure mode loud on every column
    from dask_ml_spark.functions.stats import welch_ttest

    with pytest.raises(Exception, match="matched no rows|>= 2 rows"):
        welch_ttest(df, "x", "g", groups=("a", "TYPO")) \
            .select("p_value").collect()
    with pytest.raises(Exception, match="zero variance"):
        welch_ttest(_mk(spark, [2.0, 2.0, 2.0], [5.0, 5.0]),
                    "x", "g").select("t_stat").collect()
    # chi2/MI: the FULL r x c product is bounded, not just observed
    # cells (a sparse diagonal table would otherwise hang the driver)
    from dask_ml_spark.functions.stats import chi2_independence

    diag = spark.range(40).selectExpr("cast(id as string) a",
                                      "cast(id as string) b")
    with pytest.raises(ValueError, match="row-by-column product"):
        chi2_independence(diag, "a", "b", max_cells=100)
    # NULL group values are not a group: inference ignores them
    dfn = spark.createDataFrame(
        [(1.0, "a"), (2.0, None), (3.0, "b"), (4.0, "a")], ["x", "g"])
    row = mann_whitney_u(dfn, "x", "g").collect()[0]
    assert (row["n1"], row["n2"]) == (2, 1)

    # Kaplan-Meier: NULL event flags drop with their subject — the
    # per-duration counts stay reconciled (n_events + n_censored
    # accounts for every counted subject)
    from dask_ml_spark.functions.stats import kaplan_meier

    km = kaplan_meier(spark.createDataFrame(
        [(1.0, 1), (1.0, None), (2.0, 0)], ["t", "e"]),
        "t", "e").collect()
    out = {r["duration"]: r for r in km}
    assert out[1.0]["n_risk"] == 2  # the NULL-event subject is gone
    assert out[1.0]["n_events"] + out[1.0]["n_censored"] == 1


def test_welch_ttest_matches_numpy(spark):
    from dask_ml_spark.functions.stats import welch_ttest

    rng = np.random.RandomState(11)
    a = rng.normal(0.0, 1.0, 150)
    b = rng.normal(0.3, 2.0, 90)
    row = welch_ttest(_mk(spark, a, b), "x", "g").collect()[0]
    # independent reference: numpy moments + the textbook formulas
    m1, m2 = a.mean(), b.mean()
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    se2 = v1 / 150 + v2 / 90
    t_ref = (m1 - m2) / math.sqrt(se2)
    dof_ref = se2 ** 2 / ((v1 / 150) ** 2 / 149 + (v2 / 90) ** 2 / 89)
    p_ref = 2.0 * (1.0 - 0.5 * (1.0 + math.erf(abs(t_ref) / math.sqrt(2))))
    assert (row["n1"], row["n2"]) == (150, 90)
    assert abs(row["mean_diff"] - (m1 - m2)) < 1e-10
    assert abs(row["t_stat"] - t_ref) < 1e-10
    assert abs(row["dof"] - dof_ref) < 1e-6
    assert abs(row["p_value"] - p_ref) < 1e-6   # A&S tail vs erf
    # < 2 rows in a group -> loud failure, not NaN variance
    with pytest.raises(Exception, match="welch_ttest"):
        welch_ttest(_mk(spark, [1.0], [2.0, 3.0]), "x", "g").collect()


def test_mutual_information_identities(spark):
    from dask_ml_spark.functions.stats import mutual_information

    # independent columns -> MI exactly 0
    rows = [(a, b) for a in "xy" for b in "uv" for _ in range(10)]
    got = mutual_information(
        spark.createDataFrame(rows, ["a", "b"]), "a", "b").collect()[0]
    assert abs(got["mi"]) < 1e-12 and abs(got["mi_normalized"]) < 1e-12
    # perfect dependence -> MI = H(A) = ln 2, normalized = 1
    rows2 = [("x", "u")] * 10 + [("y", "v")] * 10
    got2 = mutual_information(
        spark.createDataFrame(rows2, ["a", "b"]), "a", "b").collect()[0]
    assert abs(got2["mi"] - math.log(2)) < 1e-12
    assert abs(got2["mi_normalized"] - 1.0) < 1e-12
    # hand-computed asymmetric table: p(x,u)=.5, p(y,u)=.25, p(y,v)=.25
    rows3 = [("x", "u")] * 10 + [("y", "u")] * 5 + [("y", "v")] * 5
    got3 = mutual_information(
        spark.createDataFrame(rows3, ["a", "b"]), "a", "b").collect()[0]
    mi_ref = (0.5 * math.log(0.5 / (0.5 * 0.75))
              + 0.25 * math.log(0.25 / (0.5 * 0.75))
              + 0.25 * math.log(0.25 / (0.5 * 0.25)))
    assert abs(got3["mi"] - mi_ref) < 1e-12


def test_corr_matrix_matches_numpy(spark):
    from dask_ml_spark.functions.stats import corr_matrix

    rng = np.random.RandomState(4)
    X = rng.randn(300, 3)
    X[:, 1] = 0.7 * X[:, 0] + 0.3 * X[:, 1]   # real correlation
    df = spark.createDataFrame([tuple(map(float, r)) for r in X],
                               ["c0", "c1", "c2"])
    got = {(r["col_a"], r["col_b"]): r["corr"]
           for r in corr_matrix(df, ["c0", "c1", "c2"]).collect()}
    ref = np.corrcoef(X.T)
    names = ["c0", "c1", "c2"]
    for i in range(3):
        for j in range(i + 1, 3):
            assert abs(got[(names[i], names[j])] - ref[i, j]) < 1e-9
    assert len(got) == 3
    # single aggregate pass: the plan has ONE Aggregate pair, no join
    out = corr_matrix(df, ["c0", "c1", "c2"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan


def test_kaplan_meier_textbook(spark):
    # classic worked example: times 1,2,3,4,5; death at 1,3,4;
    # censored at 2; death+censored at 5 handled as separate subjects
    rows = [(1.0, 1), (2.0, 0), (3.0, 1), (4.0, 1), (5.0, 1), (5.0, 0)]
    df = spark.createDataFrame(rows, ["t", "e"])
    out = {r["duration"]: r for r in kaplan_meier(df, "t", "e").collect()}
    assert out[1.0]["n_risk"] == 6 and out[1.0]["n_events"] == 1
    assert abs(out[1.0]["survival"] - 5 / 6) < 1e-12
    assert out[2.0]["n_risk"] == 5 and out[2.0]["n_censored"] == 1
    assert abs(out[2.0]["survival"] - 5 / 6) < 1e-12   # censoring: no drop
    assert out[3.0]["n_risk"] == 4
    assert abs(out[3.0]["survival"] - 5 / 6 * 3 / 4) < 1e-12
    assert abs(out[4.0]["survival"] - 5 / 6 * 3 / 4 * 2 / 3) < 1e-12
    # at t=5: 2 at risk, 1 dies, 1 censored -> S = previous * 1/2
    assert out[5.0]["n_risk"] == 2 and out[5.0]["n_events"] == 1
    assert abs(out[5.0]["survival"] - 5 / 6 * 3 / 4 * 2 / 3 * 1 / 2) < 1e-12


def test_kaplan_meier_zero_survival_carry(spark):
    # everyone at risk dies at t=2 -> survival exactly 0.0 there and
    # (if later rows existed) thereafter; no exp(-inf) artifacts
    rows = [(1.0, 1), (2.0, 1), (2.0, 1)]
    df = spark.createDataFrame(rows, ["t", "e"])
    out = {r["duration"]: r for r in kaplan_meier(df, "t", "e").collect()}
    assert abs(out[1.0]["survival"] - 2 / 3) < 1e-12
    assert out[2.0]["survival"] == 0.0


def test_kaplan_meier_matches_bruteforce(spark):
    rng = np.random.RandomState(3)
    t = rng.randint(1, 15, 400).astype(float)
    e = (rng.rand(400) < 0.7).astype(int)
    df = spark.createDataFrame([(float(a), int(b)) for a, b in zip(t, e)],
                               ["t", "e"])
    got = {r["duration"]: r["survival"]
           for r in kaplan_meier(df, "t", "e").collect()}
    # independent loop replay
    s = 1.0
    at_risk = len(t)
    for tt in sorted(np.unique(t)):
        d = int(((t == tt) & (e == 1)).sum())
        s *= 1.0 - d / at_risk
        assert abs(got[float(tt)] - s) < 1e-12, tt
        at_risk -= int((t == tt).sum())


def test_welch_ttest_by_matches_single(spark):
    """Each stratum's row must equal welch_ttest run on that stratum
    alone; an undersized stratum reports valid=false + NULL p instead
    of killing the sweep."""
    from dask_ml_spark.functions.stats import welch_ttest, welch_ttest_by

    rng = np.random.RandomState(11)
    rows = []
    for s, (mu_a, mu_b, n) in enumerate([(0.0, 0.6, 40), (1.0, 1.0, 60)]):
        rows += [(f"s{s}", "a", float(x)) for x in rng.normal(mu_a, 1, n)]
        rows += [(f"s{s}", "b", float(x)) for x in rng.normal(mu_b, 1, n)]
    rows += [("thin", "a", 1.0), ("thin", "b", 2.0)]  # 1 row per side
    df = spark.createDataFrame(rows, ["stratum", "g", "x"])
    by = {r["stratum"]: r for r in
          welch_ttest_by(df, "x", "g", ("a", "b"), "stratum").collect()}
    for s in ("s0", "s1"):
        single = welch_ttest(df.where(F.col("stratum") == s), "x", "g",
                             groups=("a", "b")).collect()[0]
        got = by[s]
        assert got["valid"]
        assert got["n1"] == single["n1"] and got["n2"] == single["n2"]
        for c in ("mean_diff", "t_stat", "dof", "p_value"):
            assert abs(got[c] - single[c]) < 1e-12, (s, c)
    assert by["thin"]["valid"] is False
    assert by["thin"]["p_value"] is None


def test_benjamini_hochberg_pinned(spark):
    from dask_ml_spark.functions.stats import benjamini_hochberg

    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.04), ("c", 0.03), ("d", 0.005),
         ("e", None)], ["id", "p_value"])
    out = {r["id"]: r for r in benjamini_hochberg(df, alpha=0.05).collect()}
    # hand replay (m=4): sorted [.005,.01,.03,.04] -> q [.02,.02,.04,.04]
    assert abs(out["d"]["q_value"] - 0.02) < 1e-12
    assert abs(out["a"]["q_value"] - 0.02) < 1e-12
    assert abs(out["c"]["q_value"] - 0.04) < 1e-12
    assert abs(out["b"]["q_value"] - 0.04) < 1e-12
    assert all(out[k]["reject"] for k in "abcd")
    # NULL p is not part of the family: NULL q/reject, m stayed 4
    assert out["e"]["q_value"] is None and out["e"]["reject"] is None
    # ties share one q (suffix-min through the tied block)
    df2 = spark.createDataFrame(
        [(i, p) for i, p in enumerate([0.02, 0.02, 0.5])], ["id", "p_value"])
    out2 = [r["q_value"] for r in
            benjamini_hochberg(df2).orderBy("id").collect()]
    assert abs(out2[0] - out2[1]) < 1e-15
    assert abs(out2[0] - 0.03) < 1e-12  # 0.02 * 3 / 2


def test_bootstrap_ci_quality_and_determinism(spark):
    """CI width must track the analytic normal-theory interval (this
    would catch cross-replicate weight correlation — the lattice
    failure mode the per-replicate multiplier exists to prevent), and
    results must be identical across partitionings."""
    from dask_ml_spark.functions.stats import bootstrap_ci

    rng = np.random.RandomState(5)
    x = rng.normal(10.0, 2.0, 4000)
    df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(x)], ["k", "v"])
    out = bootstrap_ci(df, "v", "k", n_boot=200, alpha=0.05).collect()[0]
    mean, sd = float(np.mean(x)), float(np.std(x, ddof=1))
    se = sd / np.sqrt(len(x))
    assert abs(out["mean"] - mean) < 1e-9
    assert out["ci_lo"] < mean < out["ci_hi"]
    width = out["ci_hi"] - out["ci_lo"]
    analytic = 2 * 1.959964 * se
    assert 0.7 * analytic < width < 1.4 * analytic, (width, analytic)
    # partition-independence: the DRAWS are keyed, not partition-seeded
    # (replicate-sum float association still follows partition order —
    # the usual ~1e-15 slack, absorbed by the catalog's 1e-6 rounding)
    again = bootstrap_ci(df.repartition(13), "v", "k",
                         n_boot=200, alpha=0.05).collect()[0]
    assert abs(again["ci_lo"] - out["ci_lo"]) < 1e-9
    assert abs(again["ci_hi"] - out["ci_hi"]) < 1e-9


def test_bootstrap_ci_grid_bit_stable(spark):
    """grid=4 fixed-point accumulation: BIT-identical (== not <tol)
    results across partitionings — the property raw double sums can't
    give — and the grid path must agree with the raw path to fixed-
    point resolution. Values live on the 1e-4 grid (price-like)."""
    from dask_ml_spark.functions.stats import bootstrap_ci

    rng = np.random.RandomState(11)
    x = np.round(rng.uniform(900.0, 105000.0, 3000), 4)
    df = spark.createDataFrame(
        [(int(i), float(v)) for i, v in enumerate(x)], ["k", "v"])
    a = bootstrap_ci(df, "v", "k", n_boot=50, alpha=0.1,
                     grid=4).collect()[0]
    b = bootstrap_ci(df.repartition(17), "v", "k", n_boot=50,
                     alpha=0.1, grid=4).collect()[0]
    assert (a["mean"], a["ci_lo"], a["ci_hi"]) == \
        (b["mean"], b["ci_lo"], b["ci_hi"])
    raw = bootstrap_ci(df, "v", "k", n_boot=50, alpha=0.1).collect()[0]
    for c in ("mean", "ci_lo", "ci_hi"):
        assert abs(a[c] - raw[c]) < 1e-3, (c, a[c], raw[c])


def test_bootstrap_ci_empty_replicate_raises(spark):
    """An empty replicate (possible only at tiny n) must raise loudly
    rather than silently re-rank over fewer replicates (the oracle
    selects fixed ranks)."""
    import pytest as _pt

    from dask_ml_spark.functions.stats import bootstrap_ci

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"])
    with _pt.raises(ValueError, match="replicates drew zero"):
        bootstrap_ci(df, "v", "k", n_boot=400, alpha=0.1)


def test_bootstrap_ci_by_groups(spark):
    """Per-group sweep: each group's CI matches the single-population
    bootstrap_ci run on that group alone (identical draws — the hash
    chain ignores the grouping), thin groups report valid=false
    instead of dying, and grid=4 results are bit-stable across
    partitionings."""
    from dask_ml_spark.functions.stats import bootstrap_ci, bootstrap_ci_by

    rng = np.random.RandomState(17)
    rows = []
    kid = 0
    for g, mu, cnt in (("a", 10.0, 1500), ("b", 20.0, 1200)):
        for v in rng.normal(mu, 2.0, cnt):
            rows.append((kid, g, round(float(v), 4)))
            kid += 1
    rows.append((kid, "tiny", 5.0))  # 1-row group: replicates go empty
    df = spark.createDataFrame(rows, ["k", "g", "v"])
    out = {r["g"]: r for r in
           bootstrap_ci_by(df, "v", "k", by="g", n_boot=50, alpha=0.1,
                           grid=4).collect()}
    assert set(out) == {"a", "b", "tiny"}
    assert out["tiny"]["valid"] is False and out["tiny"]["mean"] is None
    for g in ("a", "b"):
        solo = bootstrap_ci(df.where(F.col("g") == g), "v", "k",
                            n_boot=50, alpha=0.1, grid=4).collect()[0]
        assert out[g]["valid"] is True
        assert out[g]["n"] == solo["n"]
        assert out[g]["mean"] == solo["mean"]
        assert out[g]["ci_lo"] == solo["ci_lo"]
        assert out[g]["ci_hi"] == solo["ci_hi"]
    again = {r["g"]: r for r in
             bootstrap_ci_by(df.repartition(19), "v", "k", by="g",
                             n_boot=50, alpha=0.1, grid=4).collect()}
    for g in ("a", "b"):
        assert (again[g]["ci_lo"], again[g]["ci_hi"]) == \
            (out[g]["ci_lo"], out[g]["ci_hi"])


def test_prop_ztest_hand_formula(spark):
    from dask_ml_spark.functions.stats import prop_ztest

    rows = ([("a", 1)] * 30 + [("a", 0)] * 70
            + [("b", 1)] * 45 + [("b", 0)] * 55)
    df = spark.createDataFrame(rows, ["g", "s"])
    out = prop_ztest(df, F.col("s") == 1, "g", ("a", "b")).collect()[0]
    p1, p2 = 0.30, 0.45
    pp = (30 + 45) / 200.0
    z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / 100.0 + 1 / 100.0))
    assert out["n1"] == 100 and out["n2"] == 100
    assert abs(out["p1"] - p1) < 1e-12 and abs(out["p2"] - p2) < 1e-12
    assert abs(out["z"] - z) < 1e-12
    assert 0.02 < out["p_value"] < 0.04  # 2*Phi(-2.236) ~ 0.0254
    # degenerate: all successes in both groups -> z=0, p=1
    allones = spark.createDataFrame([("a", 1), ("a", 1), ("b", 1)], ["g", "s"])
    d = prop_ztest(allones, F.col("s") == 1, "g", ("a", "b")).collect()[0]
    assert d["z"] == 0.0 and d["p_value"] == 1.0


def test_anova_oneway_matches_f_classif(spark):
    from dask_ml_spark.functions.stats import anova_oneway
    from dask_ml_spark.operators.feature_selection import f_classif

    rng = np.random.RandomState(2)
    rows = []
    for g, mu in (("x", 0.0), ("y", 0.5), ("z", 1.5)):
        rows += [(g, float(v)) for v in rng.normal(mu, 1.0, 50)]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = anova_oneway(df, "v", "g").collect()[0]
    want = f_classif(df.withColumnRenamed("g", "label"), ["v"],
                     label_col="label")["v"]
    assert out["k"] == 3 and out["n"] == 150
    assert out["df_between"] == 2 and out["df_within"] == 147
    assert abs(out["f_stat"] - want) < 1e-9 * max(1.0, abs(want))
    # eta^2 = SSB/SST, tied to F by eta2/(1-eta2) = F * dfb/dfw
    f, dfb, dfw = out["f_stat"], out["df_between"], out["df_within"]
    want_eta = (f * dfb / dfw) / (1.0 + f * dfb / dfw)
    assert abs(out["eta_squared"] - want_eta) < 1e-12
    assert 0.05 < out["eta_squared"] < 0.6
    # chi2_k limit of k*F: sanity vs an independent even-dof tail
    from dask_ml_spark.functions.stats import chi2_sf
    assert abs(out["p_value"] - chi2_sf(2 * out["f_stat"], 2)) < 1e-15
    with pytest.raises(Exception, match="2 groups"):
        anova_oneway(df.where(F.col("g") == "x"), "v", "g")


def test_brown_forsythe_matches_numpy(spark):
    from dask_ml_spark.functions.stats import brown_forsythe

    rng = np.random.RandomState(17)
    data = {"a": rng.normal(0, 1.0, 80), "b": rng.normal(5, 1.1, 90),
            "c": rng.normal(-2, 3.0, 70)}
    rows = [(g, float(v)) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = brown_forsythe(df, "v", "g", approximate=False).collect()[0]
    # independent replay: z = |x - median_g|, classic one-way F on z
    zs = {g: np.abs(vs - np.median(vs)) for g, vs in data.items()}
    n = sum(len(z) for z in zs.values())
    grand = sum(z.sum() for z in zs.values()) / n
    ssb = sum(len(z) * (z.mean() - grand) ** 2 for z in zs.values())
    ssw = sum(((z - z.mean()) ** 2).sum() for z in zs.values())
    want = (ssb / 2) / (ssw / (n - 3))
    assert out["k"] == 3 and out["n"] == n
    assert abs(out["f_stat"] - want) < 1e-9 * max(1.0, want)
    assert out["p_value"] < 0.05  # group c has 3x the spread
    # equal spreads: W small, p large
    eq = [(g, float(v)) for g in "ab" for v in rng.normal(0, 1.0, 100)]
    out2 = brown_forsythe(spark.createDataFrame(eq, ["g", "v"]),
                          "v", "g", approximate=False).collect()[0]
    assert out2["p_value"] > 0.05


def test_autocorrelation_matches_numpy(spark):
    from dask_ml_spark.functions.stats import autocorrelation

    rng = np.random.RandomState(29)
    n = 400
    # AR(1)-ish series with strong lag-1 correlation
    x = np.zeros(n)
    for i in range(1, n):
        x[i] = 0.8 * x[i - 1] + rng.normal(0, 1.0)
    df = spark.createDataFrame(
        [(float(i), float(v)) for i, v in enumerate(x)], ["t", "v"])
    out = {r["lag"]: r for r in
           autocorrelation(df, "v", "t", lags=5, step=1.0).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    for lag in range(1, 6):
        a, b = x[:-lag], x[lag:]
        want = float(np.corrcoef(a, b)[0, 1])
        assert out[lag]["n_pairs"] == n - lag
        assert abs(out[lag]["acf"] - want) < 1e-9, lag
    assert out[1]["acf"] > 0.7 and out[1]["acf"] > out[5]["acf"]
    # white-noise 95% band: ±1.959964/sqrt(n_pairs) per lag; the AR(1)
    # lag-1 correlation must escape it
    for lag in range(1, 6):
        want_band = 1.959963984540054 / math.sqrt(n - lag)
        assert abs(out[lag]["band_hi"] - want_band) < 1e-12
        assert abs(out[lag]["band_lo"] + want_band) < 1e-12
    assert out[1]["acf"] > out[1]["band_hi"]
    # conf=False keeps the pre-band schema
    lean = autocorrelation(df, "v", "t", lags=2, step=1.0, conf=False)
    assert lean.columns == ["lag", "n_pairs", "acf"]
    # step-bucketing averages within buckets before correlating
    out2 = autocorrelation(df, "v", "t", lags=2, step=4.0).collect()
    bx = x.reshape(-1, 4).mean(axis=1)
    want2 = float(np.corrcoef(bx[:-1], bx[1:])[0, 1])
    got2 = {r["lag"]: r["acf"] for r in out2}
    assert abs(got2[1] - want2) < 1e-9


def test_spearman_binned_tracks_exact(spark):
    """The O(1/K) bias bound of the binned scale path: on smooth
    continuous data |rho_binned - rho_exact| <= 2.5/K, tightening as
    K grows; and the binned result is BIT-deterministic across
    partitionings (integer driver arithmetic, no float sums)."""
    from dask_ml_spark.functions.stats import (spearman_rho,
                                               spearman_rho_binned)

    rng = np.random.RandomState(47)
    n = 6000
    x = rng.normal(0.0, 1.0, n)
    y = 0.6 * x + rng.normal(0.0, 1.0, n)  # monotone-ish dependence
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], ["a", "b"])
    exact = spearman_rho(df, "a", "b").collect()[0]
    prev_err = None
    for K in (64, 256):
        got = spearman_rho_binned(df, "a", "b", bins=K).collect()[0]
        assert got["n"] == exact["n"] == n
        err = abs(got["rho"] - exact["rho"])
        assert err <= 2.5 / K, (K, err, got["rho"], exact["rho"])
        if prev_err is not None:
            assert err <= prev_err + 1e-12
        prev_err = err
    a = spearman_rho_binned(df, "a", "b", bins=128).collect()[0]
    b = spearman_rho_binned(df.repartition(13), "a", "b",
                            bins=128).collect()[0]
    assert (a["rho"], a["p_value"]) == (b["rho"], b["p_value"])
    # heavy ties: integer-ish columns collapse into single buckets and
    # the tie-averaged bucket ranks must reproduce the exact statistic
    xi = rng.randint(0, 12, 800)
    yi = xi + rng.randint(0, 4, 800)
    dfi = spark.createDataFrame(
        [(float(p), float(q)) for p, q in zip(xi, yi)], ["a", "b"])
    e = spearman_rho(dfi, "a", "b").collect()[0]
    g = spearman_rho_binned(dfi, "a", "b", bins=1024).collect()[0]
    # with bins >> distinct values every distinct value owns a bucket:
    # binned == exact to float resolution
    assert abs(g["rho"] - e["rho"]) < 1e-12


def test_spearman_binned_guards(spark):
    import pytest as _pt

    from dask_ml_spark.functions.stats import spearman_rho_binned

    df = spark.createDataFrame([(1.0, 1.0), (2.0, 2.0)], ["a", "b"])
    with _pt.raises(ValueError, match="bins"):
        spearman_rho_binned(df, "a", "b", bins=1)
    const = spark.createDataFrame([(1.0, 5.0), (2.0, 5.0)], ["a", "b"])
    with _pt.raises(ValueError, match="constant"):
        spearman_rho_binned(const, "a", "b")


def test_pairwise_welch_posthoc(spark):
    """All C(k,2) Welch pairs from one aggregate pass: each pair must
    match the standalone welch_ttest, BH q-values must follow the
    step-up rule, invalid (singleton) groups report valid=false and
    don't inflate the family m."""
    from dask_ml_spark.functions.stats import pairwise_welch, welch_ttest

    rng = np.random.RandomState(7)
    rows = []
    for g, mu, cnt in (("a", 0.0, 60), ("b", 0.1, 55), ("c", 2.0, 50)):
        rows += [(g, float(v)) for v in rng.normal(mu, 1.0, cnt)]
    rows.append(("d", 9.9))  # singleton: variance undefined
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {(r["group_a"], r["group_b"]): r
           for r in pairwise_welch(df, "v", "g").collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c"),
                        ("a", "d"), ("b", "d"), ("c", "d")}
    for pair in (("a", "d"), ("b", "d"), ("c", "d")):
        assert out[pair]["valid"] is False
        assert out[pair]["p_value"] is None
        assert out[pair]["q_value"] is None
    # each valid pair matches the standalone two-sample Welch
    for g1, g2 in (("a", "b"), ("a", "c"), ("b", "c")):
        want = welch_ttest(df.where(F.col("g") != "d"), "v", "g",
                           (g1, g2)).collect()[0]
        got = out[(g1, g2)]
        assert abs(got["t_stat"] - want["t_stat"]) < 1e-9
        assert abs(got["p_value"] - want["p_value"]) < 1e-12
        assert abs(got["dof"] - want["dof"]) < 1e-6
    # BH over m=3 valid pairs: q = min suffix of p*m/rank; the two
    # separated pairs reject, the a-b null pair must not
    ps = sorted((out[k]["p_value"], k) for k in
                (("a", "b"), ("a", "c"), ("b", "c")))
    qs = {}
    suffix = float("inf")
    for rank in range(3, 0, -1):
        p, k = ps[rank - 1]
        suffix = min(suffix, p * 3.0 / rank)
        qs[k] = min(1.0, suffix)
    for k, q in qs.items():
        assert abs(out[k]["q_value"] - q) < 1e-15, k
    assert out[("a", "c")]["reject"] and out[("b", "c")]["reject"]
    assert not out[("a", "b")]["reject"]


def test_f_sf_exact_tail():
    """The driver-side incomplete-beta F tail, pinned against closed
    forms and published F-table critical values (no scipy anywhere):
    d1=2: sf = (1 + 2x/d2)^(-d2/2); d2=2: sf = 1 - (d1·x/(2+d1·x))^
    (d1/2); plus large-d2 agreement with the chi2 limit."""
    from dask_ml_spark.functions.stats import (betainc_reg, chi2_sf,
                                               f_sf)

    # closed forms at even shape parameters
    for x in (0.5, 1.0, 2.7, 10.0):
        for d2 in (3, 10, 41):
            want = (1.0 + 2.0 * x / d2) ** (-d2 / 2.0)
            assert abs(f_sf(x, 2.0, float(d2)) - want) < 1e-12, (x, d2)
        for d1 in (4, 7, 12):
            want = 1.0 - (d1 * x / (2.0 + d1 * x)) ** (d1 / 2.0)
            assert abs(f_sf(x, float(d1), 2.0) - want) < 1e-12, (x, d1)
    # published 5% / 1% upper critical values (Abramowitz & Stegun
    # table 26.9): F(.05; 3,10)=3.7083, F(.05; 5,20)=2.7109,
    # F(.01; 3,10)=6.5523, F(.05; 1,30)=4.1709
    for x, d1, d2, p in ((3.7083, 3, 10, 0.05), (2.7109, 5, 20, 0.05),
                         (6.5523, 3, 10, 0.01), (4.1709, 1, 30, 0.05)):
        assert abs(f_sf(x, float(d1), float(d2)) - p) < 5e-4, (d1, d2)
    # chi2 limit: d2 -> inf, P(F_{k,d2} > x) -> P(chi2_k > k x)
    for k in (2, 4, 6):
        assert abs(f_sf(1.3, float(k), 2_000_000.0)
                   - chi2_sf(k * 1.3, k)) < 1e-4
    # betainc symmetry + bounds
    assert abs(betainc_reg(2.5, 3.5, 0.3)
               + betainc_reg(3.5, 2.5, 0.7) - 1.0) < 1e-14
    assert betainc_reg(1.0, 1.0, 0.25) == 0.25  # I_x(1,1) = x
    assert f_sf(0.0, 3.0, 10.0) == 1.0


def _brute_kendall(a, b):
    """O(n²) independent replay: pair counts, τ-b, tie-corrected z."""
    import collections
    import math

    n = len(a)
    conc = disc = 0
    for i in range(n):
        s = (a[i] - a[i + 1:]) * (b[i] - b[i + 1:])
        conc += int((s > 0).sum())
        disc += int((s < 0).sum())
    ta = collections.Counter(a.tolist())
    tb = collections.Counter(b.tolist())
    n0 = n * (n - 1) // 2
    n1 = sum(t * (t - 1) // 2 for t in ta.values())
    n2 = sum(t * (t - 1) // 2 for t in tb.values())
    tau = (conc - disc) / math.sqrt(float(n0 - n1) * float(n0 - n2))
    v0 = n * (n - 1) * (2 * n + 5)
    vt = sum(t * (t - 1) * (2 * t + 5) for t in ta.values())
    vu = sum(t * (t - 1) * (2 * t + 5) for t in tb.values())
    st1 = sum(t * (t - 1) for t in ta.values())
    su1 = sum(t * (t - 1) for t in tb.values())
    st2 = sum(t * (t - 1) * (t - 2) for t in ta.values())
    su2 = sum(t * (t - 1) * (t - 2) for t in tb.values())
    var = ((v0 - vt - vu) / 18.0
           + st1 * su1 / (2.0 * n * (n - 1.0))
           + st2 * su2 / (9.0 * n * (n - 1.0) * (n - 2.0)))
    return tau, (conc - disc) / math.sqrt(var)


def test_kendall_tau_binned_matches_bruteforce(spark):
    """Integer-valued data where every distinct value owns a bucket:
    binned τ-b IS exact τ-b — pinned against an O(n²) pair count with
    the tie-corrected variance."""
    from dask_ml_spark.functions.stats import (normal_sf,
                                               kendall_tau_binned)

    rng = np.random.RandomState(5)
    a = rng.randint(0, 30, 300).astype(float)
    b = (a + rng.randint(0, 12, 300)).astype(float)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)],
        "a double, b double")
    got = kendall_tau_binned(df, "a", "b", bins=64).collect()[0]
    tau, z = _brute_kendall(a, b)
    assert got["n"] == 300
    assert abs(got["tau"] - tau) < 1e-12
    assert abs(got["p_value"]
               - min(1.0, 2.0 * normal_sf(abs(z)))) < 1e-12
    # the association is strongly positive — sanity on sign/level
    assert got["tau"] > 0.5 and got["p_value"] < 1e-12


def test_kendall_tau_binned_continuous_parity(spark):
    """On continuous data binning costs O(1/K): within-bucket pairs
    become ties, moving τ by at most the within-bucket pair mass."""
    from dask_ml_spark.functions.stats import kendall_tau_binned

    rng = np.random.RandomState(11)
    x = rng.normal(0, 1, 400)
    y = 0.6 * x + 0.8 * rng.normal(0, 1, 400)
    df = spark.createDataFrame(
        [(float(u), float(v)) for u, v in zip(x, y)],
        "a double, b double")
    exact, _ = _brute_kendall(x, y)
    for bins, bound in ((256, 3.0 / 256), (64, 3.0 / 64)):
        got = kendall_tau_binned(df, "a", "b", bins=bins).collect()[0]
        assert abs(got["tau"] - exact) < bound, bins
    # determinism across partitionings (the binned-cell contract)
    one = kendall_tau_binned(df.coalesce(1), "a", "b",
                             bins=128).collect()[0]
    many = kendall_tau_binned(df.repartition(13), "a", "b",
                              bins=128).collect()[0]
    assert one["tau"] == many["tau"] and one["p_value"] == \
        many["p_value"]


def test_kendall_tau_binned_validation(spark):
    from dask_ml_spark.functions.stats import kendall_tau_binned

    df = spark.createDataFrame([(1.0, 2.0), (2.0, 3.0)],
                               "a double, b double")
    with pytest.raises(ValueError, match="bins"):
        kendall_tau_binned(df, "a", "b", bins=1)
    with pytest.raises(ValueError, match="bins"):
        kendall_tau_binned(df, "a", "b", bins=2048)
    const = spark.createDataFrame([(1.0, 2.0), (1.0, 3.0)],
                                  "a double, b double")
    with pytest.raises(ValueError, match="constant"):
        kendall_tau_binned(const, "a", "b")


def test_jonckheere_matches_kendall_bruteforce(spark):
    """JT is Kendall's S between the group ordinal and the value
    (textbook equivalence) — pinned against the O(n²) brute-force
    pair count on integer values where binning is the identity; the
    reversed order must exactly negate z."""
    from dask_ml_spark.functions.stats import (normal_sf,
                                               jonckheere_terpstra)

    rng = np.random.RandomState(41)
    rows, ords, vals = [], [], []
    for i, (g, mu) in enumerate([("lo", 0), ("mid", 1), ("hi", 2)]):
        v = rng.randint(0, 12, 120) + mu
        vals += v.tolist()
        ords += [i] * 120
        rows += [(g, float(x)) for x in v]
    df = spark.createDataFrame(rows, "g string, v double")
    got = jonckheere_terpstra(df, "v", "g",
                              order=["lo", "mid", "hi"],
                              bins=64).collect()[0]
    tau_ref, z_ref = _brute_kendall(np.array(ords, dtype=float),
                                    np.array(vals, dtype=float))
    assert got["n"] == 360 and got["k"] == 3
    assert abs(got["tau"] - tau_ref) < 1e-12
    assert abs(got["z"] - z_ref) < 1e-12
    assert abs(got["p_value"]
               - min(1.0, 2.0 * normal_sf(abs(z_ref)))) < 1e-12
    assert got["z"] > 4  # the injected monotone trend is detected
    rev = jonckheere_terpstra(df, "v", "g",
                              order=["hi", "mid", "lo"],
                              bins=64).collect()[0]
    assert abs(rev["z"] + got["z"]) < 1e-12
    with pytest.raises(ValueError, match="duplicate"):
        jonckheere_terpstra(df, "v", "g", order=["lo", "lo", "hi"])
    with pytest.raises(ValueError, match=">= 2 ordered"):
        jonckheere_terpstra(df, "v", "g", order=["lo"])
    # a typo'd order label must raise, not silently test fewer groups
    # (review-caught)
    with pytest.raises(ValueError, match="matched no rows"):
        jonckheere_terpstra(df, "v", "g", order=["lo", "mid", "Hi"])


def _brute_hoeffding(a, b):
    """O(n²) independent replay of Hoeffding's D with the Hollander &
    Wolfe mid-rank / quarter-tie bivariate-rank convention (the Hmisc
    hoeffd definition), assembled in exact integers."""
    n = len(a)
    n1 = n2 = n3 = 0
    for i in range(n):
        r2 = int(2 * (1 + (a < a[i]).sum()) + ((a == a[i]).sum() - 1))
        s2 = int(2 * (1 + (b < b[i]).sum()) + ((b == b[i]).sum() - 1))
        q4 = int(4 + 4 * ((a < a[i]) & (b < b[i])).sum()
                 + 2 * (((a == a[i]) & (b < b[i])).sum()
                        + ((a < a[i]) & (b == b[i])).sum())
                 + (((a == a[i]) & (b == b[i])).sum() - 1))
        n1 += (q4 - 4) * (q4 - 8)
        n2 += (r2 - 2) * (r2 - 4) * (s2 - 2) * (s2 - 4)
        n3 += (r2 - 4) * (s2 - 4) * (q4 - 4)
    num = 30 * ((n - 2) * (n - 3) * n1 + n2 - 2 * (n - 2) * n3)
    den = 16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)
    return float(num) / float(den)


def test_hoeffding_d_matches_bruteforce(spark):
    """Integer-valued data where every distinct value owns a bucket:
    binned D IS exact D — pinned against the O(n²) direct mid-rank /
    quarter-tie replay, p against the documented BKR tail formula."""
    from dask_ml_spark.functions.stats import (_HOEFFD_C0, _HOEFFD_LAM1,
                                               _HOEFFD_MU,
                                               normal_sf,
                                               hoeffding_d)

    rng = np.random.RandomState(5)
    a = rng.randint(0, 30, 300).astype(float)
    b = (a + rng.randint(0, 12, 300)).astype(float)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)],
        "a double, b double")
    got = hoeffding_d(df, "a", "b", bins=64).collect()[0]
    d_ref = _brute_hoeffding(a, b)
    assert got["n"] == 300
    assert abs(got["d"] - d_ref) < 1e-12
    x = 300 * d_ref / 30.0
    p_ref = min(1.0, _HOEFFD_C0 * 2.0 * normal_sf(
        math.sqrt((x + _HOEFFD_MU) / _HOEFFD_LAM1)))
    assert abs(got["p_value"] - p_ref) < 1e-12
    assert got["d"] > 0.3 and got["p_value"] < 1e-10
    # independent columns: D ≈ 0, p not significant
    c = rng.randint(0, 30, 300).astype(float)
    df2 = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, c)],
        "a double, b double")
    got2 = hoeffding_d(df2, "a", "b", bins=64).collect()[0]
    assert abs(got2["d"]) < 0.01
    assert got2["p_value"] > 0.2


def test_hoeffding_d_detects_nonmonotone(spark):
    """The reason this operator exists: a V-shaped coupling has
    Kendall τ ≈ 0 (invisible to every monotone test in the family)
    but D far from 0 with p ≈ 0."""
    from dask_ml_spark.functions.stats import (hoeffding_d,
                                               kendall_tau_binned)

    x = np.linspace(-1.0, 1.0, 400)
    y = np.abs(x)
    df = spark.createDataFrame(
        [(float(u), float(v)) for u, v in zip(x, y)],
        "a double, b double")
    tau = kendall_tau_binned(df, "a", "b", bins=256).collect()[0]
    assert abs(tau["tau"]) < 0.05 and tau["p_value"] > 0.1
    hd = hoeffding_d(df, "a", "b", bins=256).collect()[0]
    assert hd["d"] > 0.15 and hd["p_value"] < 1e-10


def test_hoeffding_d_continuous_parity(spark):
    """On continuous data binning costs O(1/K) (within-bucket pairs
    become ties); determinism across partitionings."""
    from dask_ml_spark.functions.stats import hoeffding_d

    rng = np.random.RandomState(11)
    x = rng.normal(0, 1, 400)
    y = 0.6 * x + 0.8 * rng.normal(0, 1, 400)
    df = spark.createDataFrame(
        [(float(u), float(v)) for u, v in zip(x, y)],
        "a double, b double")
    exact = _brute_hoeffding(x, y)
    for bins, bound in ((256, 3.0 / 256), (64, 3.0 / 64)):
        got = hoeffding_d(df, "a", "b", bins=bins).collect()[0]
        assert abs(got["d"] - exact) < bound, bins
    one = hoeffding_d(df.coalesce(1), "a", "b", bins=128).collect()[0]
    many = hoeffding_d(df.repartition(13), "a", "b",
                       bins=128).collect()[0]
    assert one["d"] == many["d"] and one["p_value"] == many["p_value"]


def test_hoeffding_d_validation(spark):
    from dask_ml_spark.functions.stats import hoeffding_d

    df = spark.createDataFrame(
        [(float(i), float(i)) for i in range(10)],
        "a double, b double")
    with pytest.raises(ValueError, match="bins"):
        hoeffding_d(df, "a", "b", bins=1)
    with pytest.raises(ValueError, match="bins"):
        hoeffding_d(df, "a", "b", bins=2048)
    tiny = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 3.0), (3.0, 1.0), (4.0, 4.0)],
        "a double, b double")
    with pytest.raises(ValueError, match=">= 5"):
        hoeffding_d(tiny, "a", "b")
    const = spark.createDataFrame(
        [(1.0, float(i)) for i in range(6)], "a double, b double")
    with pytest.raises(ValueError, match="constant"):
        hoeffding_d(const, "a", "b")


def test_hoeffding_bkr_tail_constants():
    """The p-value's three literals are re-derived here from scratch:
    λ₁ = 1/π⁴, μ = Σλ = 1/36, c₀ = Π(1 − λ/λ₁)^{-1/2}; the tail
    formula is then Monte-Carlo-pinned against the truncated limit
    law L = Σ λ_jk(Z²_jk − 1) within ±30% relative in the p ∈
    [1e-3, 0.1] band (it is asymptotically exact deeper)."""
    from dask_ml_spark.functions.stats import (_HOEFFD_C0, _HOEFFD_LAM1,
                                               _HOEFFD_MU,
                                               normal_sf)

    assert abs(_HOEFFD_LAM1 - 1.0 / math.pi ** 4) < 1e-18
    assert _HOEFFD_MU == 1.0 / 36.0
    j = np.arange(1, 401)
    lam = 1.0 / (math.pi ** 4 * np.outer(j * j, j * j))
    ratios = np.sort((lam / lam[0, 0]).ravel())[::-1][1:]
    c0 = float(np.exp(-0.5 * np.log1p(-ratios).sum()))
    assert abs(c0 - _HOEFFD_C0) < 1e-6
    # Monte Carlo of the truncated limit law (16×16 terms carry all
    # but ~1e-6 of the variance)
    k16 = np.arange(1, 17)
    lam16 = (1.0 / (math.pi ** 4
                    * np.outer(k16 * k16, k16 * k16))).ravel()
    rng = np.random.RandomState(7)
    sims = np.zeros(200000)
    for s in range(0, 200000, 25000):
        z2 = rng.chisquare(1, size=(25000, lam16.size))
        sims[s:s + 25000] = ((z2 - 1) * lam16).sum(axis=1)
    for x in (0.05, 0.1):
        emp = float((sims > x).mean())
        app = min(1.0, _HOEFFD_C0 * 2.0 * normal_sf(
            math.sqrt((x + _HOEFFD_MU) / _HOEFFD_LAM1)))
        assert abs(app - emp) / emp < 0.30, (x, emp, app)


def test_kruskal_wallis_matches_rank_replay(spark):
    """Pinned against an independent pandas average-rank replay with
    real tie structure, including the tie-correction divisor and the
    even-dof chi2 closed form."""
    import pandas as pd

    from dask_ml_spark.functions.stats import chi2_sf, kruskal_wallis

    rng = np.random.RandomState(17)
    vals = rng.randint(0, 40, 500).astype(float)
    grp = rng.choice(["x", "y", "z"], 500)
    vals[grp == "y"] += 3
    df = spark.createDataFrame(
        [(float(v), str(g)) for v, g in zip(vals, grp)],
        "v double, g string")
    got = kruskal_wallis(df, "v", "g").collect()[0]
    s = pd.Series(vals)
    ranks = s.rank(method="average")
    n = len(s)
    h = 12.0 / (n * (n + 1)) * sum(
        ranks[grp == g].sum() ** 2 / (grp == g).sum()
        for g in ("x", "y", "z")) - 3 * (n + 1)
    ties = s.value_counts()
    corr = 1.0 - float((ties ** 3 - ties).sum()) / float(n ** 3 - n)
    assert (got["k"], got["n"], got["dof"]) == (3, n, 2)
    assert abs(got["h_stat"] - h / corr) < 1e-9
    assert abs(got["tie_correction"] - corr) < 1e-12
    assert abs(got["p_value"] - chi2_sf(h / corr, 2)) < 1e-12
    # the +3 shift on group y must be detected
    assert got["p_value"] < 0.01


def test_kruskal_wallis_validation(spark):
    from dask_ml_spark.functions.stats import kruskal_wallis

    one = spark.createDataFrame([(1.0, "a"), (2.0, "a")],
                                "v double, g string")
    with pytest.raises(ValueError, match=">= 2 groups"):
        kruskal_wallis(one, "v", "g")
    const = spark.createDataFrame([(1.0, "a"), (1.0, "b"), (1.0, "a")],
                                  "v double, g string")
    with pytest.raises(ValueError, match="identical"):
        kruskal_wallis(const, "v", "g")
    big = spark.createDataFrame(
        [(float(i), "g" + str(i % 3)) for i in range(40)],
        "v double, g string")
    with pytest.raises(ValueError, match="max_cells"):
        kruskal_wallis(big, "v", "g", max_cells=10)


def test_friedman_matches_replay(spark):
    """Blocked rank test pinned against a pandas within-row rank
    replay (the scipy friedmanchisquare formula: ΣR_j², tie
    correction from per-block value counts), with rounding-induced
    ties and an incomplete block that must be dropped."""
    from dask_ml_spark.functions.stats import chi2_sf, friedman_test

    rng = np.random.RandomState(23)
    b, k = 60, 4
    effects = [0.0, 0.5, 0.2, 0.9]
    data = np.zeros((b, k))
    rows = []
    for i in range(b):
        base = rng.normal(0, 1)
        for j in range(k):
            data[i, j] = round(base + effects[j]
                               + rng.normal(0, 0.7), 1)
            rows.append((f"blk{i}", f"t{j}", float(data[i, j])))
    import pandas as pd
    ranks = pd.DataFrame(data).rank(axis=1, method="average").to_numpy()
    ssbn = float((ranks.sum(axis=0) ** 2).sum())
    chisq = 12.0 / (b * k * (k + 1)) * ssbn - 3 * b * (k + 1)
    ties = 0
    for i in range(b):
        _, counts = np.unique(data[i], return_counts=True)
        ties += int((counts.astype(np.int64) ** 3 - counts).sum())
    c = 1.0 - ties / float(b * k * (k * k - 1))
    df = spark.createDataFrame(rows, "b string, t string, v double")
    got = friedman_test(df, "v", "b", "t").collect()[0]
    assert (got["k"], got["b"], got["dof"]) == (k, b, k - 1)
    assert abs(got["q_stat"] - chisq / c) < 1e-9
    assert abs(got["tie_correction"] - c) < 1e-12
    assert abs(got["p_value"] - chi2_sf(chisq / c, k - 1)) < 1e-12
    assert got["p_value"] < 1e-4  # the injected effects are detected
    # an incomplete block is dropped, leaving the statistic unchanged
    df2 = spark.createDataFrame(rows + [("blkX", "t0", 1.0)],
                                "b string, t string, v double")
    got2 = friedman_test(df2, "v", "b", "t").collect()[0]
    assert got2["b"] == b and abs(got2["q_stat"] - got["q_stat"]) \
        < 1e-12
    # all-tied blocks: Q undefined, loud error
    const = spark.createDataFrame(
        [(f"b{i}", f"t{j}", 1.0) for i in range(3) for j in range(3)],
        "b string, t string, v double")
    with pytest.raises(ValueError, match="tied"):
        friedman_test(const, "v", "b", "t")


def test_t_sf_exact_tail():
    """The driver-side incomplete-beta Student-t tail, pinned against
    closed forms and published t-table critical values (no scipy):
    ν=1 is the Cauchy sf = 1/2 − atan(x)/π; ν=2 has
    sf = 1/2 − x/(2√(2+x²)); plus the normal limit as ν → ∞."""
    import math

    from dask_ml_spark.functions.stats import normal_sf, t_sf

    for x in (-3.0, -0.7, 0.0, 0.5, 1.0, 2.7, 10.0):
        want1 = 0.5 - math.atan(x) / math.pi
        assert abs(t_sf(x, 1.0) - want1) < 1e-14, x
        want2 = 0.5 - x / (2.0 * math.sqrt(2.0 + x * x))
        assert abs(t_sf(x, 2.0) - want2) < 1e-14, x
    # published upper critical values (Abramowitz & Stegun table
    # 26.10): t(.025; 10)=2.2281, t(.05; 5)=2.0150, t(.005; 20)=2.8453,
    # t(.025; 1)=12.706
    for x, dof, p in ((2.2281, 10, 0.025), (2.0150, 5, 0.05),
                      (2.8453, 20, 0.005), (12.706, 1, 0.025)):
        assert abs(t_sf(x, float(dof)) - p) < 5e-5, (x, dof)
    # normal limit: dof -> inf
    for x in (0.3, 1.0, 1.959964, 3.1):
        assert abs(t_sf(x, 2_000_000.0) - normal_sf(x)) < 1e-6, x
    # symmetry + bounds
    assert abs(t_sf(-1.3, 7.0) + t_sf(1.3, 7.0) - 1.0) < 1e-14
    assert t_sf(0.0, 5.0) == 0.5
    with pytest.raises(ValueError):
        t_sf(1.0, 0.0)


def test_welch_exact_tail(spark):
    """tail='exact' on welch_ttest/pairwise_welch swaps only the
    driver-side p scalar: statistics and dofs unchanged, exact p =
    2·t_sf(|t|, dof), and on thin strata the exact p is LARGER than
    the normal limit (t has fatter tails)."""
    from dask_ml_spark.functions.stats import (pairwise_welch, t_sf,
                                               welch_ttest, welch_ttest_by)

    rng = np.random.RandomState(29)
    rows = [(g, float(rng.normal(mu, sd)))
            for g, mu, sd, cnt in (("a", 0.0, 1.0, 9), ("b", 1.1, 1.4, 7),
                                   ("c", 0.4, 0.8, 8))
            for _ in range(cnt)]
    df = spark.createDataFrame(rows, ["g", "v"])
    nrm = welch_ttest(df, "v", "g", groups=("a", "b")).collect()[0]
    ex = welch_ttest(df, "v", "g", groups=("a", "b"),
                     tail="exact").collect()[0]
    assert abs(ex["t_stat"] - nrm["t_stat"]) < 1e-12
    assert abs(ex["dof"] - nrm["dof"]) < 1e-12
    assert (ex["n1"], ex["n2"]) == (nrm["n1"], nrm["n2"])
    assert abs(ex["p_value"]
               - min(1.0, 2.0 * t_sf(abs(ex["t_stat"]), ex["dof"]))) \
        < 1e-15
    assert ex["p_value"] > nrm["p_value"]  # fatter tails at dof ~ 12
    # the Welch family shares one formula: pairwise_welch's (a, b) pair
    # and a single-stratum welch_ttest_by give welch_ttest's statistics
    # (separate aggregates, so the float merge order may differ)
    pw = [r for r in pairwise_welch(df, "v", "g").collect()
          if (r["group_a"], r["group_b"]) == ("a", "b")]
    by = welch_ttest_by(df.withColumn("s", F.lit(1)), "v", "g",
                        ("a", "b"), "s").collect()
    assert len(pw) == len(by) == 1
    for c in ("mean_diff", "t_stat", "dof"):
        assert abs(pw[0][c] - nrm[c]) < 1e-12, (c, pw[0][c], nrm[c])
        assert abs(by[0][c] - nrm[c]) < 1e-12, (c, by[0][c], nrm[c])
    with pytest.raises(ValueError, match="tail"):
        welch_ttest(df, "v", "g", tail="bogus")
    # empty groups: the exact tail raises the same clean error as the
    # normal-tail guard, not a TypeError (review-caught)
    with pytest.raises(ValueError, match="matched no rows"):
        welch_ttest(df, "v", "g", groups=("nope", "alsono"),
                    tail="exact")
    # pairwise: same pins per pair, BH family recomputed over exact p
    nrm_p = {(r["group_a"], r["group_b"]): r
             for r in pairwise_welch(df, "v", "g").collect()}
    ex_p = {(r["group_a"], r["group_b"]): r
            for r in pairwise_welch(df, "v", "g",
                                    tail="exact").collect()}
    assert set(ex_p) == set(nrm_p) == {("a", "b"), ("a", "c"),
                                       ("b", "c")}
    for k, r in ex_p.items():
        assert abs(r["t_stat"] - nrm_p[k]["t_stat"]) < 1e-12
        assert abs(r["p_value"]
                   - min(1.0, 2.0 * t_sf(abs(r["t_stat"]),
                                         r["dof"]))) < 1e-15
        assert r["p_value"] > nrm_p[k]["p_value"]
    # BH step-up replay over the exact family
    ps = sorted(r["p_value"] for r in ex_p.values())
    for r in ex_p.values():
        want = min(1.0, min(ps[j] * 3 / (j + 1) for j in range(3)
                            if ps[j] >= r["p_value"]))
        assert abs(r["q_value"] - want) < 1e-15


def test_anova_exact_tail(spark):
    """tail='exact' swaps only the driver-side p scalar: the F stat
    and dofs are unchanged, the exact p matches a hand incomplete-beta
    evaluation, and at corpus n the two tails agree."""
    from dask_ml_spark.functions.stats import anova_oneway, f_sf

    rng = np.random.RandomState(13)
    rows = [(g, float(rng.normal(mu, 1.0)))
            for g, mu, cnt in (("a", 0.0, 8), ("b", 0.6, 9),
                               ("c", 1.1, 7))
            for _ in range(cnt)]
    df = spark.createDataFrame(rows, ["g", "v"])
    chi = anova_oneway(df, "v", "g").collect()[0]
    ex = anova_oneway(df, "v", "g", tail="exact").collect()[0]
    assert ex["f_stat"] == chi["f_stat"]
    assert (ex["df_between"], ex["df_within"]) == \
        (chi["df_between"], chi["df_within"])
    want = f_sf(ex["f_stat"], float(ex["df_between"]),
                float(ex["df_within"]))
    assert abs(ex["p_value"] - want) < 1e-15
    # at 24 within-dof the chi2 limit overstates significance; the
    # exact tail must be LARGER (F has fatter tails than chi2_k / k)
    assert ex["p_value"] > chi["p_value"]
    # brown_forsythe passes the tail through
    from dask_ml_spark.functions.stats import brown_forsythe
    bf = brown_forsythe(df, "v", "g", approximate=False,
                        tail="exact").collect()[0]
    assert abs(bf["p_value"]
               - f_sf(bf["f_stat"], float(bf["df_between"]),
                      float(bf["df_within"]))) < 1e-15


def test_isotonic_fit_binned_matches_pav(spark):
    """With bins >> distinct x every distinct value owns a bucket, so
    the binned minimax fit must equal classic weighted PAV over the
    per-x means; the fit is monotone by construction; decreasing=False
    flips; grid=4 is bit-deterministic across partitionings."""
    from dask_ml_spark.functions.stats import isotonic_fit_binned

    rng = np.random.RandomState(71)
    xs = rng.randint(0, 10, 600)
    ys = np.round(0.5 * xs + rng.normal(0, 1.5, 600), 4)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(xs, ys)], ["x", "y"])
    out = isotonic_fit_binned(df, "x", "y", bins=1024).collect()
    assert len(out) == 10
    fits = [r["y_fit"] for r in out]
    assert all(b - a >= -1e-12 for a, b in zip(fits, fits[1:]))

    # classic weighted PAV over the per-x (mean, count) pairs
    means, weights = [], []
    for v in range(10):
        sel = ys[xs == v]
        means.append(float(np.mean(sel)))
        weights.append(float(len(sel)))
    blocks = [[m * w, w, 1] for m, w in zip(means, weights)]
    i = 0
    pooled = [list(b) for b in blocks]
    changed = True
    while changed:
        changed = False
        i = 0
        while i < len(pooled) - 1:
            if pooled[i][0] / pooled[i][1] > pooled[i + 1][0] / pooled[i + 1][1]:
                pooled[i][0] += pooled[i + 1][0]
                pooled[i][1] += pooled[i + 1][1]
                pooled[i][2] += pooled[i + 1][2]
                del pooled[i + 1]
                changed = True
            else:
                i += 1
    pav = []
    for swy, sw, c in pooled:
        pav += [swy / sw] * c
    for got, want in zip(fits, pav):
        assert abs(got - want) < 1e-9, (got, want)
    # per-bucket raw means are untouched by the fit
    for r, m in zip(out, means):
        assert abs(r["y_mean"] - m) < 1e-9
    # decreasing fit on the mirrored data is the mirror of the fit
    dec = isotonic_fit_binned(
        df.select("x", (-F.col("y")).alias("y")), "x", "y",
        bins=1024, increasing=False).collect()
    dfits = [r["y_fit"] for r in dec]
    assert all(a - b >= -1e-12 for a, b in zip(dfits, dfits[1:]))
    for got, want in zip(dfits, pav):
        assert abs(got + want) < 1e-9
    # grid path: bit-identical across partitionings
    a = isotonic_fit_binned(df, "x", "y", bins=64, grid=4).collect()
    b = isotonic_fit_binned(df.repartition(7), "x", "y", bins=64,
                            grid=4).collect()
    assert [(r["bucket"], r["y_fit"]) for r in a] == \
        [(r["bucket"], r["y_fit"]) for r in b]


def test_trend_test_mann_kendall(spark):
    """Mann-Kendall on the bucket-mean series: a clean upward drift is
    flagged with a positive S and a Sen slope near truth; pure noise
    is not flagged; the statistics match an independent numpy replay
    of MK over the same bucket means."""
    from dask_ml_spark.functions.stats import trend_test

    rng = np.random.RandomState(41)
    t = np.arange(4000, dtype=float)
    x = 0.002 * t + rng.normal(0, 1.0, 4000)  # slope 0.002/unit
    df = spark.createDataFrame(
        [(float(a), float(v)) for a, v in zip(t, x)], ["ts", "v"])
    out = trend_test(df, "v", "ts", bins=40).collect()[0]
    assert out["n"] == 4000 and out["n_buckets"] == 40
    assert out["s_stat"] > 0 and out["p_value"] < 1e-6
    assert abs(out["sen_slope"] - 0.002) < 0.0008
    # numpy replay over the identical bucket means
    lo, hi = t.min(), t.max()
    width = hi - lo
    b = np.minimum(39, np.floor((t - lo) / width * 40)).astype(int)
    means = np.array([x[b == k].mean() for k in range(40)])
    s = sum(np.sign(means[j] - means[i])
            for i in range(40) for j in range(i + 1, 40))
    var = 40 * 39 * 85 / 18.0
    z = (s - 1) / math.sqrt(var) if s > 0 else (s + 1) / math.sqrt(var)
    assert out["s_stat"] == int(s)
    assert abs(out["z"] - z) < 1e-9
    # no trend -> not flagged
    noise = spark.createDataFrame(
        [(float(a), float(v))
         for a, v in zip(t, rng.normal(0, 1.0, 4000))], ["ts", "v"])
    quiet = trend_test(noise, "v", "ts", bins=40).collect()[0]
    assert quiet["p_value"] > 0.05
    # grid=4 path: bit-deterministic across partitionings
    a = trend_test(df, "v", "ts", bins=40, grid=4).collect()[0]
    b2 = trend_test(df.repartition(11), "v", "ts", bins=40,
                    grid=4).collect()[0]
    assert (a["s_stat"], a["z"], a["sen_slope"]) == \
        (b2["s_stat"], b2["z"], b2["sen_slope"])


def test_changepoint_mean_finds_step(spark):
    from dask_ml_spark.functions.stats import changepoint_mean

    rng = np.random.RandomState(23)
    t = np.arange(2000, dtype=float)
    x = np.where(t < 1300, 5.0, 8.0) + rng.normal(0, 1.0, 2000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(t, x)], ["ts", "v"])
    out = changepoint_mean(df, "v", "ts", bins=50).collect()[0]
    # true step at t=1300; bucket width 2000/50 = 40 -> within one bucket
    assert abs(out["split_value"] - 1300) <= 40 + 1e-9
    assert out["p_value"] < 1e-6
    assert out["mean_before"] < out["mean_after"]
    assert abs(out["mean_before"] - 5.0) < 0.2
    assert abs(out["mean_after"] - 8.0) < 0.2
    # independent replay of the max-|t| scan from numpy bucket moments
    b = np.minimum(49, ((t - t.min()) / ((t.max() - t.min()) or 1.0)
                        * 50).astype(int))
    best = 0.0
    for s in range(49):
        sel = b <= s
        n1, n2 = sel.sum(), (~sel).sum()
        if n1 < 2 or n2 < 2:
            continue
        m1, m2 = x[sel].mean(), x[~sel].mean()
        sp2 = (((x[sel] - m1) ** 2).sum()
               + ((x[~sel] - m2) ** 2).sum()) / (len(x) - 2)
        tt = (m1 - m2) / np.sqrt(sp2 * (1 / n1 + 1 / n2))
        best = max(best, abs(tt))
    assert abs(abs(out["t_stat"]) - best) < 1e-6 * best
    # null case: no shift -> |t| modest, Bonferroni p not tiny
    y = rng.normal(0, 1.0, 2000)
    df2 = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(t, y)], ["ts", "v"])
    out2 = changepoint_mean(df2, "v", "ts", bins=50).collect()[0]
    assert out2["p_value"] > 0.001


def test_spearman_rho_matches_pandas(spark):
    from dask_ml_spark.functions.stats import spearman_rho
    import pandas as pd

    rng = np.random.RandomState(9)
    a = rng.randint(0, 20, 300).astype(float)  # heavy ties
    b = a * 2 + rng.normal(0, 5, 300)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)], ["a", "b"])
    out = spearman_rho(df, "a", "b").collect()[0]
    ra = pd.Series(a).rank(method="average")
    rb = pd.Series(b).rank(method="average")
    want = float(np.corrcoef(ra, rb)[0, 1])
    assert out["n"] == 300
    assert abs(out["rho"] - want) < 1e-9
    assert out["p_value"] < 1e-6  # strongly dependent
    # independence: |rho| small, p large
    c = rng.normal(0, 1, 300)
    df2 = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, c)], ["a", "b"])
    out2 = spearman_rho(df2, "a", "b").collect()[0]
    assert abs(out2["rho"]) < 0.15 and out2["p_value"] > 0.01


def test_kaplan_meier_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The bounded driver path (default) and the prefix-machine
    fallback (MAX_DRIVER_ROWS exceeded) must produce identical curves
    — same ascending-t arithmetic on both sides."""
    rng = np.random.RandomState(7)
    t = rng.randint(1, 40, 500).astype(float)
    e = (rng.rand(500) < 0.6).astype(int)
    df = spark.createDataFrame([(float(a), int(b)) for a, b in zip(t, e)],
                               ["t", "e"])
    fast = {r["duration"]: r for r in kaplan_meier(df, "t", "e").collect()}
    with monkeypatch.context() as m:
        m.setattr(utils, "MAX_DRIVER_ROWS", 5)
        slow = {r["duration"]: r
                for r in kaplan_meier(df, "t", "e").collect()}
    assert set(fast) == set(slow)
    for k in fast:
        for c in ("n_risk", "n_events", "n_censored"):
            assert fast[k][c] == slow[k][c], (k, c)
        assert abs(fast[k]["survival"] - slow[k]["survival"]) < 1e-12


def test_ks_mwu_driver_and_distributed_paths_agree(spark, monkeypatch):
    """The bounded driver path (default) and the prefix-machine
    fallback must produce identical statistics — counts are integer
    doubles, so D/U/ties are exact on both sides. roc_auc_score's U
    is the same accumulation over (score, label) counts."""
    from dask_ml_spark.functions.metrics import roc_auc_score

    rng = np.random.RandomState(13)
    df = _mk(spark, rng.randint(0, 25, 200).astype(float),
             rng.randint(0, 25, 180).astype(float) + 0.5 * 0)
    for fn in (ks_2sample, mann_whitney_u):
        fast = fn(df, "x", "g").collect()[0]
        with monkeypatch.context() as m:
            m.setattr(utils, "MAX_DRIVER_ROWS", 3)
            slow = fn(df, "x", "g").collect()[0]
        for c in fast.asDict():
            a, b = fast[c], slow[c]
            assert (a == b or abs(a - b) < 1e-12), (fn.__name__, c, a, b)
    scored = df.select((F.col("g") == "a").cast("double").alias("label"),
                       F.col("x").alias("score"))
    fast = roc_auc_score(scored)
    with monkeypatch.context() as m:
        m.setattr(utils, "MAX_DRIVER_ROWS", 0)
        slow = roc_auc_score(scored)
    assert abs(fast - slow) < 1e-12, (fast, slow)


def test_spearman_driver_and_distributed_paths_agree(spark, monkeypatch):
    from dask_ml_spark.functions.stats import spearman_rho

    rng = np.random.RandomState(21)
    a = rng.randint(0, 30, 250).astype(float)
    b = a + rng.normal(0, 3, 250)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)], ["a", "b"])
    fast = spearman_rho(df, "a", "b").collect()[0]
    with monkeypatch.context() as m:
        m.setattr(utils, "MAX_DRIVER_ROWS", 4)
        slow = spearman_rho(df, "a", "b").collect()[0]
    assert fast["n"] == slow["n"]
    assert abs(fast["rho"] - slow["rho"]) < 1e-12
    assert abs(fast["p_value"] - slow["p_value"]) < 1e-12


def test_stats_plans_have_no_global_window(spark, monkeypatch):
    """The scale contract: no keyless Window (single-task sort) — the
    cumulative pieces run through the two-phase prefix sum
    (MAX_DRIVER_ROWS=0 pins the distributed path)."""
    rng = np.random.RandomState(1)
    df = _mk(spark, rng.rand(50), rng.rand(60))
    monkeypatch.setattr(utils, "MAX_DRIVER_ROWS", 0)
    for out in (ks_2sample(df, "x", "g"), mann_whitney_u(df, "x", "g")):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan


def test_benford_screen(spark):
    """A multiplicative (log-uniform) sample conforms to Benford
    (small MAD, per-digit replay pinned); a range-uniform sample is
    flagged with a huge chi2. Digit extraction is on the exact
    fixed-point grid — pinned against a string-based replay."""
    import collections

    from dask_ml_spark.functions.stats import benford_test, chi2_sf

    rng = np.random.RandomState(7)
    conforming = np.exp(rng.uniform(0.0, 3.0 * np.log(10.0), 4000))
    df = spark.createDataFrame([(float(v),) for v in conforming],
                               "v double")
    got = benford_test(df, "v", grid=2).collect()[0]
    # replay: digit of round(|v|*100) via its decimal rendering
    counts = collections.Counter()
    for v in conforming:
        c = int(np.floor(abs(v) * 100.0 + 0.5))
        if c >= 1:
            counts[int(str(c)[0])] += 1
    n = sum(counts.values())
    chi2 = mad = 0.0
    for d in range(1, 10):
        p = math.log10(1.0 + 1.0 / d)
        o = counts.get(d, 0)
        chi2 += (o - n * p) ** 2 / (n * p)
        mad += abs(o / float(n) - p)
    mad /= 9.0
    assert got["n"] == n
    assert abs(got["chi2"] - chi2) < 1e-9
    assert abs(got["mad"] - mad) < 1e-12
    assert abs(got["p_value"] - chi2_sf(chi2, 8)) < 1e-12
    assert got["mad"] < 0.015          # log-uniform conforms
    assert got["p_value"] > 1e-6       # not flagged
    # range-uniform data violates Benford loudly
    uni = spark.createDataFrame(
        [(float(v),) for v in rng.uniform(100.0, 999.0, 4000)],
        "v double")
    bad = benford_test(uni, "v").collect()[0]
    assert bad["mad"] > 0.015 and bad["p_value"] < 1e-12
    with pytest.raises(ValueError, match="grid"):
        benford_test(spark.createDataFrame([(0.0001,)], "v double"),
                     "v", grid=2)


def test_seasonal_decompose_recovers_components(spark):
    """On trend(0.5/day) + weekly pattern + noise: the centered MA
    recovers the slope, the position means recover the centered
    pattern, x = trend + seasonal + resid holds exactly, edges and a
    punched gap report NULL trend."""
    from dask_ml_spark.functions.stats import seasonal_decompose

    rng = np.random.RandomState(4)
    pat = [3, 1, -2, -1, 0, 2, -3]
    rows = []
    for d in range(56):
        if d == 30:
            continue  # punch a one-day hole in the grid
        base = 10 + 0.5 * d + pat[d % 7]
        for k in range(20):
            rows.append((float(d * 86400 + k * 1000),
                         float(base + rng.normal(0, 0.3))))
    df = spark.createDataFrame(rows, "ts double, v double")
    out = {r["bucket"]: r
           for r in seasonal_decompose(df, "v", "ts", period=7,
                                       step=86400.0).collect()}
    assert len(out) == 56  # dense grid incl. the hole
    assert out[30]["n"] == 0 and out[30]["x"] is None
    # edges and every window touching the hole: NULL trend
    for b in (0, 1, 2, 53, 54, 55, 28, 29, 30, 31, 32, 33):
        assert out[b]["trend"] is None, b
    assert out[10]["trend"] is not None
    # slope of the interior trend ~ 0.5/day
    slope = (out[25]["trend"] - out[10]["trend"]) / 15
    assert abs(slope - 0.5) < 0.05
    # seasonal ~ the centered pattern, periodic across the grid
    cpat = [p - sum(pat) / 7 for p in pat]
    for pos in range(7):
        assert abs(out[pos + 7]["seasonal"] - cpat[pos]) < 0.35, pos
        assert out[pos + 7]["seasonal"] == out[pos + 14]["seasonal"]
    # identity where defined
    for r in out.values():
        if r["resid"] is not None:
            assert abs(r["x"] - r["trend"] - r["seasonal"]
                       - r["resid"]) < 1e-12
    with pytest.raises(ValueError, match="period"):
        seasonal_decompose(df, "v", "ts", period=1)
    short = spark.createDataFrame([(0.0, 1.0), (86400.0, 2.0)],
                                  "ts double, v double")
    with pytest.raises(ValueError, match="2 full periods"):
        seasonal_decompose(short, "v", "ts", period=7, step=86400.0)


def test_hodges_lehmann_shift(spark):
    """Binned HL shift vs the O(n1·n2) brute-force lower-median on
    integer data (each value owns a bucket); the clip mode keeps the
    estimate on the central mass when outliers dilate the range (the
    exact with-outlier lower median is 7.0 — the clipped engine lands
    within a bucket of it, while the unclipped grid collapses)."""
    from dask_ml_spark.functions.stats import hodges_lehmann_shift

    rng = np.random.RandomState(15)
    a = rng.randint(0, 40, 300).astype(float)
    b = (rng.randint(0, 40, 200) - 7).astype(float)
    rows = [("g1", float(x)) for x in a] + [("g2", float(y))
                                            for y in b]
    df = spark.createDataFrame(rows, "g string, v double")
    got = hodges_lehmann_shift(df, "v", "g", groups=("g1", "g2"),
                               bins=1024).collect()[0]
    diffs = (a[:, None] - b[None, :]).ravel()
    diffs.sort()
    t = diffs.size
    exact = diffs[(t + 1) // 2 - 1]
    span = max(a.max(), b.max()) - min(a.min(), b.min())
    assert (got["n1"], got["n2"]) == (300, 200)
    assert abs(got["shift"] - exact) <= span / 1024 * 2 + 1e-9
    # outliers: exact lower median moves to 7.0 (the outlier pairs
    # shift the ranks); the clipped engine tracks it within a bucket
    rows2 = rows + [("g2", 1e6)] * 3
    df2 = spark.createDataFrame(rows2, "g string, v double")
    got2 = hodges_lehmann_shift(df2, "v", "g", groups=("g1", "g2"),
                                bins=1024,
                                clip=(0.01, 0.99)).collect()[0]
    b2 = np.concatenate([b, [1e6] * 3])
    d2 = (a[:, None] - b2[None, :]).ravel()
    d2.sort()
    exact2 = d2[(d2.size + 1) // 2 - 1]
    assert abs(got2["shift"] - exact2) < 0.1
    with pytest.raises(ValueError, match="clip"):
        hodges_lehmann_shift(df, "v", "g", groups=("g1", "g2"),
                             clip=(0.9, 0.1))
    with pytest.raises(ValueError, match="matched no rows"):
        hodges_lehmann_shift(df, "v", "g", groups=("g1", "nope"))


def test_partial_correlation_matches_residual_replay(spark):
    """Partial r pinned against the definition (correlate the
    least-squares residuals after regressing out the controls): a
    pair related ONLY through two confounders has marginal r > 0.6
    but partial r ~ 0. Zero controls reduces to plain Pearson; exact
    vs normal tails agree at this dof; collinear controls raise."""
    from dask_ml_spark.functions.stats import partial_correlation

    rng = np.random.RandomState(12)
    n = 2000
    c1 = rng.normal(0, 1, n)
    c2 = rng.normal(0, 1, n)
    a = 2 * c1 - c2 + rng.normal(0, 1, n)
    b = 2 * c1 + 0.5 * c2 + rng.normal(0, 1, n)
    df = spark.createDataFrame(
        [(float(w), float(x), float(y), float(z))
         for w, x, y, z in zip(a, b, c1, c2)],
        "a double, b double, c1 double, c2 double")
    got = partial_correlation(df, "a", "b", ["c1", "c2"]).collect()[0]
    X = np.column_stack([np.ones(n), c1, c2])
    ra = a - X @ np.linalg.lstsq(X, a, rcond=None)[0]
    rb = b - X @ np.linalg.lstsq(X, b, rcond=None)[0]
    want = float(np.corrcoef(ra, rb)[0, 1])
    assert abs(got["r"] - want) < 1e-9
    assert got["dof"] == n - 4 and got["g_controls"] == 2
    marg = float(np.corrcoef(a, b)[0, 1])
    assert marg > 0.6 and abs(got["r"]) < 0.06  # confounding removed
    # zero controls == plain pearson
    got0 = partial_correlation(df, "a", "b", []).collect()[0]
    assert abs(got0["r"] - marg) < 1e-12
    # exact vs normal tails agree at dof ~ 2000
    gn = partial_correlation(df, "a", "b", ["c1", "c2"],
                             tail="normal").collect()[0]
    assert abs(gn["p_value"] - got["p_value"]) < 5e-4  # O(1/dof)
    # an exactly collinear control pair is singular
    df2 = df.withColumn("c3", F.col("c1") * 2.0)
    with pytest.raises(ValueError, match="singular|collinear"):
        partial_correlation(df2, "a", "b", ["c1", "c3"])


def test_exact_tail_policy_thin_stratum():
    """The module-docstring exact-tail policy, quantified: at dof 10
    the normal default reads p = 0.026 where the exact two-sided p is
    0.050 — overconfident by 2x, enough to steal BH rejections from
    the rest of the family — while at dof >= 200 normal and exact
    agree to 2e-3 in p (~3% relative at p ~ 0.05) and the gap only
    drops below the 1e-6 oracle hash grid at corpus dof ~1e6. These
    are the numbers the policy note promises."""
    from dask_ml_spark.functions.stats import normal_sf, t_sf

    # the dof-10 divergence at a decision-relevant t (p ~ 0.05)
    t10 = 2.228  # t_{0.975, 10}
    p_norm = 2.0 * normal_sf(t10)
    p_exact = 2.0 * t_sf(t10, 10.0)
    assert p_exact > p_norm
    assert 0.4 < (p_exact - p_norm) / p_exact < 0.55  # ~2x understated
    assert 0.049 < p_exact < 0.051                    # it IS the 5% point
    assert 0.025 < p_norm < 0.027                     # normal calls it 2.6%

    # the dof-200 agreement bound
    for t in (0.5, 1.0, 1.96, 2.6, 3.3):
        assert abs(2.0 * t_sf(t, 200.0) - 2.0 * normal_sf(t)) < 2e-3, t
    # only near corpus dof ~1e6 does the gap cross the 1e-6 hash grid
    for t in (0.5, 1.96, 3.3):
        assert abs(2.0 * t_sf(t, 1_000_000.0)
                   - 2.0 * normal_sf(t)) < 1e-6, t
        assert abs(2.0 * t_sf(t, 2000.0)
                   - 2.0 * normal_sf(t)) > 1e-6, t


def _log_rank_brute(rows):
    """Independent ascending-t replay of the Mantel–Cox O/E/V sums.
    rows: (duration, event 0/1, group 'a'|'b') — 'a' is group 1."""
    import math as _math

    times = sorted({t for t, _, _ in rows})
    o1 = e1 = v = 0.0
    for t in times:
        r1 = sum(1 for d, _, g in rows if d >= t and g == "a")
        r2 = sum(1 for d, _, g in rows if d >= t and g == "b")
        d1 = sum(1 for d, e, g in rows if d == t and e and g == "a")
        d2 = sum(1 for d, e, g in rows if d == t and e and g == "b")
        nt, dt = r1 + r2, d1 + d2
        if dt > 0 and nt > 0:
            o1 += d1
            e1 += dt * (r1 / nt)
            if nt >= 2:
                v += dt * (r1 / nt) * (r2 / nt) * (nt - dt) / (nt - 1.0)
    z = (o1 - e1) / _math.sqrt(v) if v > 0 else 0.0
    return o1, e1, v, z


def test_log_rank_matches_bruteforce(spark):
    """Random ties + censoring, driver path vs the quadratic replay,
    plus the χ²₁ tail identity p = 2·Φ̄(|z|)."""
    from dask_ml_spark.functions.stats import normal_sf, log_rank

    rng = np.random.RandomState(41)
    rows = [(float(rng.randint(0, 25)), int(rng.rand() < 0.7),
             "a" if rng.rand() < 0.45 else "b") for _ in range(400)]
    df = spark.createDataFrame(rows, ["dur", "ev", "g"])
    r = log_rank(df, "dur", "ev", "g").collect()[0]
    o1, e1, v, z = _log_rank_brute(rows)
    assert r["n1"] == sum(1 for _, _, g in rows if g == "a")
    assert r["n2"] == sum(1 for _, _, g in rows if g == "b")
    assert abs(r["observed1"] - o1) < 1e-9
    assert abs(r["expected1"] - e1) < 1e-9
    assert abs(r["z"] - z) < 1e-9
    assert abs(r["chi2"] - z * z) < 1e-9
    assert abs(r["p_value"]
               - min(1.0, 2.0 * normal_sf(abs(r["z"])))) < 1e-15


def test_log_rank_distributed_fallback_parity(spark, monkeypatch):
    """MAX_DRIVER_ROWS=0 forces the prefix-machine path; totals must
    match the driver path to float reproduction."""
    from dask_ml_spark.functions.stats import log_rank

    rng = np.random.RandomState(43)
    rows = [(float(rng.randint(0, 40)), int(rng.rand() < 0.6),
             "x" if rng.rand() < 0.5 else "y") for _ in range(500)]
    df = spark.createDataFrame(rows, ["dur", "ev", "g"])
    a = log_rank(df, "dur", "ev", "g").collect()[0]
    monkeypatch.setattr(utils, "MAX_DRIVER_ROWS", 0)
    b = log_rank(df, "dur", "ev", "g").collect()[0]
    assert (a["n1"], a["n2"]) == (b["n1"], b["n2"])
    for c in ("observed1", "expected1", "z", "chi2", "p_value"):
        assert abs(a[c] - b[c]) < 1e-12, c


def test_log_rank_properties(spark):
    """Identical groups → z == 0 exactly (symmetric risk sets);
    a strongly separated pair rejects; censoring-vs-event asymmetry
    moves the statistic; bad group column raises."""
    from dask_ml_spark.functions.stats import log_rank

    rows = [(float(t), 1, g) for t in range(1, 21)
            for g in ("a", "b")]
    df = spark.createDataFrame(rows, ["dur", "ev", "g"])
    r = log_rank(df, "dur", "ev", "g").collect()[0]
    assert abs(r["z"]) < 1e-12 and r["p_value"] > 0.999

    # group b survives uniformly longer — large |z|, tiny p
    rows2 = ([(float(t), 1, "a") for t in range(1, 31)]
             + [(float(t + 30), 1, "b") for t in range(1, 31)])
    df2 = spark.createDataFrame(rows2, ["dur", "ev", "g"])
    r2 = log_rank(df2, "dur", "ev", "g").collect()[0]
    assert r2["chi2"] > 30 and r2["p_value"] < 1e-6
    # all of group a's events happen first — O1 > E1? No: a dies
    # early so observed events at early times are all a's, and the
    # brute replay is the arbiter (direction pinned by it)
    o1, e1, _, z = _log_rank_brute([(d, e, g) for d, e, g in rows2])
    assert abs(r2["z"] - z) < 1e-9

    with pytest.raises(ValueError, match="exactly 2"):
        log_rank(df.where(F.col("g") == "a"), "dur", "ev", "g")
    with pytest.raises(ValueError, match="matched no rows"):
        log_rank(df, "dur", "ev", "g", groups=("nope", "nah"))
    # a NULL group row must not mask a real third group during
    # inference (review-caught: NULLs filter BEFORE the limit probe)
    df3 = spark.createDataFrame(
        [(1.0, 1, "a"), (2.0, 1, "b"), (3.0, 1, "c"), (4.0, 1, None)],
        ["dur", "ev", "g"])
    with pytest.raises(ValueError, match="exactly 2"):
        log_rank(df3, "dur", "ev", "g")


def test_cohens_d_bruteforce(spark):
    """numpy replay of pooled SD / d / Hedges J; identical groups
    give d == 0; the no-rows guard fires like welch's."""
    from dask_ml_spark.functions.stats import cohens_d

    rng = np.random.RandomState(23)
    a = rng.normal(0.0, 1.0, 40)
    b = rng.normal(0.6, 1.4, 25)
    rows = ([("a", float(x)) for x in a] + [("b", float(x)) for x in b])
    df = spark.createDataFrame(rows, ["g", "v"])
    r = cohens_d(df, "v", "g").collect()[0]
    n1, n2 = len(a), len(b)
    v1, v2 = a.var(ddof=1), b.var(ddof=1)
    sp = np.sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
    d = (a.mean() - b.mean()) / sp
    j = 1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert abs(r["pooled_sd"] - sp) < 1e-9
    assert abs(r["d"] - d) < 1e-9
    assert abs(r["hedges_g"] - d * j) < 1e-9

    both = ([("a", float(x)) for x in a] + [("b", float(x)) for x in a])
    r0 = cohens_d(spark.createDataFrame(both, ["g", "v"]),
                  "v", "g").collect()[0]
    assert abs(r0["d"]) < 1e-12
    with pytest.raises(Exception, match="matched no rows"):
        cohens_d(df, "v", "g", groups=("zz", "ww")).collect()


def test_nelson_aalen_bruteforce_and_km_link(spark, monkeypatch):
    """Quadratic replay of H, Var, CI on tied+censored data; the
    distributed prefix path matches the driver path; and the
    exp(−H) ≥ KM identity (Fleming–Harrington dominates the
    product-limit curve pointwise) ties the two survival estimators
    together."""
    import math

    from dask_ml_spark.functions.stats import kaplan_meier, nelson_aalen

    rng = np.random.RandomState(47)
    rows = [(float(rng.randint(0, 15)), int(rng.rand() < 0.65))
            for _ in range(300)]
    df = spark.createDataFrame(rows, ["dur", "ev"])
    got = {r["duration"]: r for r in
           nelson_aalen(df, "dur", "ev").collect()}
    times = sorted({t for t, _ in rows})
    h = var = 0.0
    for t in times:
        nr = sum(1 for d, _ in rows if d >= t)
        dd = sum(1 for d, e in rows if d == t and e)
        h += dd / nr
        var += dd / (nr * nr)
        r = got[t]
        assert r["n_risk"] == nr and r["n_events"] == dd
        assert abs(r["cum_hazard"] - h) < 1e-12
        assert abs(r["se"] - math.sqrt(var)) < 1e-12
        assert abs(r["ci_lo"] - max(0.0, h - 1.96 * r["se"])) < 1e-12
        assert abs(r["ci_hi"] - (h + 1.96 * r["se"])) < 1e-12

    with monkeypatch.context() as m:
        m.setattr(utils, "MAX_DRIVER_ROWS", 0)
        dist = {r["duration"]: r for r in
                nelson_aalen(df, "dur", "ev").collect()}
    assert set(dist) == set(got)
    for t, r in got.items():
        for c in ("n_risk", "n_events", "cum_hazard", "se"):
            assert abs(dist[t][c] - r[c]) < 1e-12, (t, c)

    km = {r["duration"]: r["survival"] for r in
          kaplan_meier(df, "dur", "ev").collect()}
    for t, r in got.items():
        assert math.exp(-r["cum_hazard"]) >= km[t] - 1e-12


def test_mood_median_bruteforce(spark):
    """numpy replay of the 2x2 chi2 on the pooled exact median
    (ties count 'not above'); symmetric data gives chi2 ~ 0; a
    shifted group rejects; robustness: corrupting 3 extreme values
    moves the statistic by at most their count's worth."""
    import math

    from dask_ml_spark.functions.stats import normal_sf, mood_median

    rng = np.random.RandomState(59)
    a = rng.normal(0.0, 1.0, 120)
    b = rng.normal(0.9, 1.0, 90)
    rows = ([("a", float(x)) for x in a] + [("b", float(x)) for x in b])
    df = spark.createDataFrame(rows, ["g", "v"])
    r = mood_median(df, "v", "g").collect()[0]
    allv = np.concatenate([a, b])
    m = float(np.percentile(allv, 50))   # exact linear interpolation
    a1 = int((a > m).sum())
    a2 = int((b > m).sum())
    n1, n2 = len(a), len(b)
    b1, b2 = n1 - a1, n2 - a2
    det = a1 * b2 - a2 * b1
    denom = (a1 + a2) * (b1 + b2) * n1 * n2
    chi2 = (n1 + n2) * det * det / denom
    assert abs(r["grand_median"] - m) < 1e-9
    assert (r["above1"], r["above2"]) == (a1, a2)
    assert abs(r["chi2"] - chi2) < 1e-9
    assert abs(r["p_value"]
               - min(1.0, 2.0 * normal_sf(math.sqrt(chi2)))) < 1e-12
    assert r["p_value"] < 0.01          # the shift is real

    sym = ([("a", float(x)) for x in a] + [("b", float(x)) for x in a])
    r0 = mood_median(spark.createDataFrame(sym, ["g", "v"]),
                     "v", "g").collect()[0]
    assert r0["chi2"] < 1e-9

    # corrupt 3 values of 'a' to +1e9: above-counts move by <= 3
    ac = a.copy()
    ac[:3] = 1e9
    rows_c = ([("a", float(x)) for x in ac]
              + [("b", float(x)) for x in b])
    rc = mood_median(spark.createDataFrame(rows_c, ["g", "v"]),
                     "v", "g").collect()[0]
    assert abs(rc["above1"] - r["above1"]) <= 3


def test_exponential_survival_fit_bruteforce(spark):
    """λ = D/T replay with censoring; the CI replay; rate recovery
    from a censored exponential draw; the zero-event guard."""
    import math

    from dask_ml_spark.functions.stats import exponential_survival_fit

    rows = [(2.0, 1), (4.0, 0), (1.0, 1), (7.0, 0), (3.0, 1)]
    df = spark.createDataFrame(rows, ["dur", "ev"])
    r = exponential_survival_fit(df, "dur", "ev").collect()[0]
    d, tt = 3.0, 17.0
    assert (r["n"], r["n_events"]) == (5, 3)
    assert abs(r["total_time"] - tt) < 1e-12
    assert abs(r["rate"] - d / tt) < 1e-12
    half = math.exp(1.96 / math.sqrt(d))
    assert abs(r["rate_lo"] - (d / tt) / half) < 1e-12
    assert abs(r["rate_hi"] - (d / tt) * half) < 1e-12
    assert abs(r["mean_lifetime"] - tt / d) < 1e-12

    rng = np.random.RandomState(61)
    lam = 0.25
    t = rng.exponential(1.0 / lam, 2000)
    cens = np.minimum(t, 6.0)                  # administrative censor
    ev = (t <= 6.0).astype(int)
    df2 = spark.createDataFrame(
        [(float(a), int(e)) for a, e in zip(cens, ev)], ["dur", "ev"])
    r2 = exponential_survival_fit(df2, "dur", "ev").collect()[0]
    assert r2["rate_lo"] < lam < r2["rate_hi"]
    assert abs(r2["rate"] - lam) < 0.03

    df0 = spark.createDataFrame([(5.0, 0), (3.0, 0)], ["dur", "ev"])
    with pytest.raises(Exception, match="needs >= 1 event"):
        exponential_survival_fit(df0, "dur", "ev").collect()


def test_jarque_bera_bruteforce(spark):
    """numpy replay of moments/S/K/JB; a normal draw passes, a
    lognormal fails hugely; the chi2_2 tail is the exact e^{-JB/2};
    guards for constant and tiny inputs."""
    import math

    from dask_ml_spark.functions.stats import jarque_bera

    rng = np.random.RandomState(67)
    x = rng.normal(5.0, 2.0, 3000)
    df = spark.createDataFrame([(float(v),) for v in x], ["v"])
    r = jarque_bera(df, "v").collect()[0]
    m = x.mean()
    m2 = ((x - m) ** 2).mean()
    skew = ((x - m) ** 3).mean() / m2 ** 1.5
    kurt = ((x - m) ** 4).mean() / m2 ** 2
    jb = len(x) / 6.0 * (skew ** 2 + (kurt - 3.0) ** 2 / 4.0)
    assert r["n"] == len(x)
    assert abs(r["skewness"] - skew) < 1e-7
    assert abs(r["kurtosis"] - kurt) < 1e-7
    assert abs(r["jb"] - jb) < 1e-5
    assert abs(r["p_value"] - min(1.0, math.exp(-r["jb"] / 2.0))) < 1e-15
    assert r["p_value"] > 0.01          # normal draw: not rejected

    y = rng.lognormal(0.0, 1.0, 3000)
    r2 = jarque_bera(spark.createDataFrame(
        [(float(v),) for v in y], ["v"]), "v").collect()[0]
    assert r2["skewness"] > 2.0 and r2["p_value"] < 1e-10

    with pytest.raises(ValueError, match="zero variance"):
        jarque_bera(spark.createDataFrame(
            [(1.0,)] * 10, ["v"]), "v")
    with pytest.raises(ValueError, match=">= 4"):
        jarque_bera(spark.createDataFrame([(1.0,), (2.0,)], ["v"]), "v")


def test_welch_anova_bruteforce(spark):
    """numpy replay of F*, Welch dof, and both tails; equal-variance
    balanced data ~ matches classical ANOVA's F; a heteroscedastic
    null case where classical ANOVA over-rejects stays calibrated."""
    from dask_ml_spark.functions.stats import (anova_oneway, chi2_sf,
                                               f_sf, welch_anova)

    rng = np.random.RandomState(71)
    groups = {"a": rng.normal(0.0, 1.0, 50),
              "b": rng.normal(0.5, 3.0, 25),
              "c": rng.normal(0.2, 0.5, 80)}
    rows = [(g, float(v)) for g, xs in groups.items() for v in xs]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = welch_anova(df, "v", "g").collect()[0]
    st = {g: (len(xs), xs.mean(), len(xs) / xs.var(ddof=1))
          for g, xs in groups.items()}
    k = 3
    wt = sum(w for _, _, w in st.values())
    xstar = sum(w * m for _, m, w in st.values()) / wt
    num = sum(w * (m - xstar) ** 2 for _, m, w in st.values()) / (k - 1)
    lam = sum((1 - w / wt) ** 2 / (n - 1) for n, _, w in st.values())
    fstar = num / (1 + 2 * (k - 2) / (k * k - 1) * lam)
    dof2 = (k * k - 1) / (3 * lam)
    assert r["k"] == 3 and r["n"] == 155
    assert abs(r["f_stat"] - fstar) < 1e-9
    assert abs(r["df_within_welch"] - dof2) < 1e-9
    assert abs(r["p_value"] - chi2_sf(2 * fstar, 2)) < 1e-12
    rex = welch_anova(df, "v", "g", tail="exact").collect()[0]
    assert abs(rex["p_value"] - f_sf(fstar, 2.0, dof2)) < 1e-15

    # balanced equal-variance: Welch F* ~ classical F
    bal = {g: rng.normal(mu, 1.0, 60)
           for g, mu in (("x", 0.0), ("y", 0.4), ("z", 0.8))}
    rows_b = [(g, float(v)) for g, xs in bal.items() for v in xs]
    dfb = spark.createDataFrame(rows_b, ["g", "v"])
    fw = welch_anova(dfb, "v", "g").collect()[0]["f_stat"]
    fc = anova_oneway(dfb, "v", "g").collect()[0]["f_stat"]
    assert abs(fw - fc) / fc < 0.1

    with pytest.raises(ValueError, match=">= 2 groups"):
        welch_anova(df.where(F.col("g") == "a"), "v", "g")


def test_normal_ppf_and_power_planners():
    """Round-trip consistency with the in-tree tail, the classic
    quantiles, and the textbook sample-size numbers (d=0.5 → 63/arm,
    d=0.2 → 393/arm at 80% power; 0.8/90% → 33); mde inverts
    power_two_sample within rounding."""
    from dask_ml_spark.functions.stats import (
        normal_sf, minimum_detectable_effect, normal_ppf,
        power_two_sample)

    for t in (0.1, 0.5, 1.0, 1.96, 2.6, 3.5, 5.0):
        p = 1.0 - normal_sf(t)
        tol = 1e-7 if t <= 3.5 else 1e-6   # deep tail: A&S-limited
        assert abs(normal_ppf(p) - t) < tol, t
        assert abs(normal_ppf(1.0 - p) + t) < tol, t
    assert abs(normal_ppf(0.975) - 1.959964) < 1e-4
    assert abs(normal_ppf(0.5)) < 1e-8

    assert power_two_sample(0.5) == 63
    assert power_two_sample(0.2) == 393
    assert power_two_sample(0.8, power=0.9) == 33
    for n in (30, 64, 500):
        d = minimum_detectable_effect(n)
        assert power_two_sample(d) <= n + 1
        assert power_two_sample(d * 1.05) <= n
    with pytest.raises(ValueError):
        normal_ppf(0.0)
    with pytest.raises(ValueError):
        power_two_sample(0.0)
    with pytest.raises(ValueError):
        minimum_detectable_effect(1)


def test_log_rank_gehan_weights(spark, monkeypatch):
    """weights='wilcoxon' replays the n_t-weighted O/E/V quadratically
    (both paths), reduces to the unweighted test on weight-free data
    only in the trivial sense, and catches an EARLY-only difference
    more strongly than the equal-weight test (the crossing-hazards
    role)."""
    import math

    from dask_ml_spark.functions.stats import log_rank

    rng = np.random.RandomState(79)
    rows = [(float(rng.randint(0, 20)), int(rng.rand() < 0.7),
             "a" if rng.rand() < 0.5 else "b") for _ in range(350)]
    df = spark.createDataFrame(rows, ["dur", "ev", "g"])
    r = log_rank(df, "dur", "ev", "g", weights="wilcoxon").collect()[0]
    times = sorted({t for t, _, _ in rows})
    o1 = e1 = v = 0.0
    for t in times:
        r1 = sum(1 for d, _, g in rows if d >= t and g == "a")
        r2 = sum(1 for d, _, g in rows if d >= t and g == "b")
        d1 = sum(1 for d, e, g in rows if d == t and e and g == "a")
        d2 = sum(1 for d, e, g in rows if d == t and e and g == "b")
        nt, dt = r1 + r2, d1 + d2
        if dt > 0 and nt > 0:
            w = float(nt)
            o1 += w * d1
            e1 += w * (dt * (r1 / nt))
            if nt >= 2:
                v += (w * w * dt * (r1 / nt) * (r2 / nt)
                      * (nt - dt) / (nt - 1.0))
    z = (o1 - e1) / math.sqrt(v)
    assert abs(r["observed1"] - o1) < 1e-9
    assert abs(r["expected1"] - e1) < 1e-9
    assert abs(r["z"] - z) < 1e-9
    with monkeypatch.context() as m:
        m.setattr(utils, "MAX_DRIVER_ROWS", 0)
        rd = log_rank(df, "dur", "ev", "g", weights="wilcoxon").collect()[0]
    for c in ("observed1", "expected1", "z", "chi2", "p_value"):
        assert abs(rd[c] - r[c]) < 1e-9, c

    # crossing hazards: group b converts FASTER early, then the
    # difference washes out — Gehan (early-weighted) must score it
    # more extremely than equal-weight log-rank
    rows2 = ([(float(t), 1, "a") for t in
              list(range(5, 15)) * 6 + list(range(15, 40))]
             + [(float(t), 1, "b") for t in
                list(range(1, 11)) * 6 + list(range(15, 40))])
    df2 = spark.createDataFrame(rows2, ["dur", "ev", "g"])
    zg = abs(log_rank(df2, "dur", "ev", "g",
                      weights="wilcoxon").collect()[0]["z"])
    zl = abs(log_rank(df2, "dur", "ev", "g").collect()[0]["z"])
    assert zg > zl

    with pytest.raises(ValueError, match="weights"):
        log_rank(df, "dur", "ev", "g", weights="tarone")


def test_ansari_bradley_bruteforce(spark):
    """Per-rank numpy replay of the folded scores (midrank ties) and
    the conditional moments; a dilated group is detected with the
    right SIGN (wider spread → lower scores → W below E for that
    group); equal-scale groups stay null; the cap and no-rows
    guards."""
    import math

    from dask_ml_spark.functions.stats import (normal_sf,
                                               ansari_bradley)

    rng = np.random.RandomState(83)
    a = np.round(rng.normal(0.0, 1.0, 150), 1)   # rounding makes ties
    b = np.round(rng.normal(0.0, 2.5, 120), 1)
    rows = ([("a", float(x)) for x in a] + [("b", float(x)) for x in b])
    df = spark.createDataFrame(rows, ["g", "v"])
    r = ansari_bradley(df, "v", "g").collect()[0]

    allv = np.concatenate([a, b])
    order = np.argsort(allv, kind="mergesort")
    n = len(allv)
    ranks = np.arange(1, n + 1, dtype=float)
    scores = np.minimum(ranks, n + 1 - ranks)
    # midrank scores over tied blocks
    sv = allv[order]
    sc = scores.copy()
    i = 0
    while i < n:
        j = i
        while j < n and sv[j] == sv[i]:
            j += 1
        sc[i:j] = sc[i:j].mean()
        i = j
    grp = np.array(["a"] * len(a) + ["b"] * len(b))[order]
    w = sc[grp == "a"].sum()
    s_tot, ss_tot = sc.sum(), (sc * sc).sum()
    n1, n2 = len(a), len(b)
    e = n1 * s_tot / n
    var = n1 * n2 * (n * ss_tot - s_tot ** 2) / (n * n * (n - 1.0))
    z = (w - e) / math.sqrt(var)
    assert (r["n1"], r["n2"]) == (n1, n2)
    assert abs(r["w_stat"] - w) < 1e-6
    assert abs(r["z"] - z) < 1e-9
    assert abs(r["p_value"]
               - min(1.0, 2.0 * normal_sf(abs(z)))) < 1e-12
    # group a is the NARROW group: its values sit near the pooled
    # center where folded scores are HIGH → W above its expectation
    assert r["z"] > 3.0 and r["p_value"] < 0.01

    same = ([("a", float(x)) for x in a]
            + [("b", float(x)) for x in np.round(
                rng.normal(0.0, 1.0, 150), 1)])
    r0 = ansari_bradley(spark.createDataFrame(same, ["g", "v"]),
                        "v", "g").collect()[0]
    assert r0["p_value"] > 0.05

    with pytest.raises(ValueError, match="distinct"):
        ansari_bradley(df, "v", "g", max_driver_rows=5)
    with pytest.raises(ValueError, match="matched no rows"):
        ansari_bradley(df, "v", "g", groups=("x", "y"))
