"""Estimator tests vs numpy oracles (reference pattern: parity vs
sklearn on collected data, SURVEY §5.1)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dask_ml_spark.operators.cluster import KMeans
from dask_ml_spark.operators.decomposition import PCA, IncrementalPCA, TruncatedSVD
from dask_ml_spark.operators.linear_model import (
    LinearRegression,
    LogisticRegression,
    PoissonRegression,
)
from dask_ml_spark.operators.naive_bayes import GaussianNB

FEATS = [f"f{j}" for j in range(5)]


def test_linear_regression_ols(xy_regression):
    m = LinearRegression(penalty="none").fit(xy_regression, FEATS)
    pdf = xy_regression.toPandas()
    X = np.column_stack([pdf[c] for c in FEATS])
    y = pdf["label"].to_numpy()
    Xi = np.column_stack([X, np.ones(len(X))])
    beta, *_ = np.linalg.lstsq(Xi, y, rcond=None)
    np.testing.assert_allclose(m.coef_, beta[:-1], rtol=1e-4, atol=1e-4)
    np.testing.assert_allclose(m.intercept_, beta[-1], rtol=1e-3, atol=1e-3)
    r2 = m.score(xy_regression)
    assert r2 > 0.99


def test_logistic_regression(xy_classification):
    feats = [f"f{j}" for j in range(20)]
    m = LogisticRegression(C=float("inf")).fit(xy_classification, feats)
    acc = m.score(xy_classification)
    assert acc > 0.5
    probs = m.predict_proba(xy_classification).select("probability").toPandas()
    assert probs["probability"].between(0, 1).all()


def test_poisson_regression(spark):
    from dask_ml_spark.datasets import make_counts

    df = make_counts(500, 5, random_state=0, spark=spark).cache()
    m = PoissonRegression().fit(df, FEATS)
    pred = m.predict(df).select("prediction").toPandas()
    assert (pred["prediction"] > 0).all()  # log link ⇒ positive rates


def test_glm_fit_releases_private_persist_on_error(spark, monkeypatch):
    """A GLM whose MLlib fit raises still unpersists its private
    ``__features`` persist: the CacheManager is empty afterwards."""
    from pyspark.ml.classification import LogisticRegression as MLlibLogReg
    from pyspark.ml.regression import GeneralizedLinearRegression
    from pyspark.ml.regression import LinearRegression as MLlibLR

    def boom(self, dataset):
        raise RuntimeError("fit failed")

    df = spark.range(8).select(*[(F.col("id") * (j + 1)).cast("double").alias(c)
                                 for j, c in enumerate(FEATS)],
                               (F.col("id") % 2).alias("label"))
    cm = spark._jsparkSession.sharedState().cacheManager()
    for est, mllib in ((LinearRegression(), MLlibLR),
                       (LogisticRegression(), MLlibLogReg),
                       (PoissonRegression(), GeneralizedLinearRegression)):
        monkeypatch.setattr(mllib, "_fit", boom)
        spark.catalog.clearCache()
        with pytest.raises(RuntimeError, match="fit failed"):
            est.fit(df, FEATS)
        assert cm.isEmpty()


def test_gaussian_nb(xy_classification):
    feats = [f"f{j}" for j in range(20)]
    nb = GaussianNB().fit(xy_classification, feats)
    pdf = xy_classification.toPandas()
    for ci, cls in enumerate(nb.classes_):
        sub = pdf[pdf.label == cls]
        np.testing.assert_allclose(nb.theta_[ci], sub[feats].mean().to_numpy(), rtol=1e-8)
        np.testing.assert_allclose(
            nb.var_[ci], sub[feats].var(ddof=0).to_numpy() + nb.epsilon_, rtol=1e-6
        )
    acc = nb.score(xy_classification)
    assert acc > 0.5
    probs = nb.predict_proba(xy_classification).select("probability").toPandas()
    sums = probs["probability"].apply(sum)
    np.testing.assert_allclose(sums, 1.0, rtol=1e-9)


def test_kmeans_mllib(blobs):
    km = KMeans(n_clusters=3, random_state=0).fit(blobs, ["x0", "x1"])
    assert km.cluster_centers_.shape == (3, 2)
    want = np.array([[-7.0, -7.0], [0.0, 0.0], [7.0, 7.0]])
    got = np.array(sorted(km.cluster_centers_.tolist()))
    np.testing.assert_allclose(got, want, atol=0.2)
    pred = km.predict(blobs).select("x0", "prediction").toPandas()
    assert pred["prediction"].nunique() == 3
    # transform: distance array of length k
    d = km.transform(blobs).select("distances").first()[0]
    assert len(d) == 3


def test_kmeans_dataframe_lloyd(blobs):
    km = KMeans(n_clusters=3, random_state=0, algorithm="lloyd_dataframe").fit(blobs, ["x0", "x1"])
    want = np.array([[-7.0, -7.0], [0.0, 0.0], [7.0, 7.0]])
    got = np.array(sorted(km.cluster_centers_.tolist()))
    np.testing.assert_allclose(got, want, atol=0.3)


def test_pca(xy_regression):
    pca = PCA(n_components=3).fit(xy_regression, FEATS)
    pdf = xy_regression.toPandas()
    X = pdf[FEATS].to_numpy()
    Xc = X - X.mean(axis=0)
    U, S, Vt = np.linalg.svd(Xc, full_matrices=False)
    np.testing.assert_allclose(
        np.abs(pca.components_), np.abs(Vt[:3]), rtol=1e-6, atol=1e-8
    )
    np.testing.assert_allclose(
        pca.explained_variance_, (S**2 / (len(X) - 1))[:3], rtol=1e-8
    )
    # transform parity (up to sign)
    t = pca.transform(xy_regression).select("pc0", "pc1", "pc2").toPandas().to_numpy()
    want = Xc @ Vt[:3].T
    for j in range(3):
        sj = np.sign(pca.components_[j] @ Vt[j])
        np.testing.assert_allclose(np.sort(t[:, j]), np.sort(sj * want[:, j]), rtol=1e-5, atol=1e-8)


def test_pca_inverse(xy_regression):
    pca = PCA().fit(xy_regression, FEATS)  # full rank
    rt = pca.inverse_transform(pca.transform(xy_regression)).select(*FEATS).toPandas()
    orig = xy_regression.select(*FEATS).toPandas()
    np.testing.assert_allclose(
        np.sort(rt.to_numpy(), axis=0), np.sort(orig.to_numpy(), axis=0), atol=1e-8
    )


def test_truncated_svd(xy_regression):
    svd = TruncatedSVD(n_components=2).fit(xy_regression, FEATS)
    pdf = xy_regression.toPandas()
    X = pdf[FEATS].to_numpy()
    _, S, Vt = np.linalg.svd(X, full_matrices=False)
    np.testing.assert_allclose(svd.singular_values_, S[:2], rtol=1e-8)
    np.testing.assert_allclose(np.abs(svd.components_), np.abs(Vt[:2]), rtol=1e-6, atol=1e-8)


def test_incremental_pca(xy_regression):
    ipca = IncrementalPCA(n_components=2)
    half1 = xy_regression.where(F.col("f0") > 0)
    half2 = xy_regression.where(F.col("f0") <= 0)
    ipca.partial_fit(half1, FEATS)
    ipca.partial_fit(half2, FEATS)
    full = PCA(n_components=2).fit(xy_regression, FEATS)
    # covariance accumulation is exact ⇒ same result as batch PCA
    np.testing.assert_allclose(ipca.components_, full.components_, rtol=1e-6, atol=1e-9)
    np.testing.assert_allclose(ipca.explained_variance_, full.explained_variance_, rtol=1e-8)


def test_randomized_svd_matches_exact(spark):
    """Halko sketch + distributed TSQR vs numpy on a wide-ish frame
    with fast spectral decay (the regime the sketch targets)."""
    import pandas as pd

    from dask_ml_spark.operators.decomposition import randomized_svd

    rng = np.random.RandomState(0)
    d, n, true_rank = 20, 2000, 5
    X = (rng.standard_normal((n, true_rank)) * (10.0 ** -np.arange(true_rank))
         ) @ rng.standard_normal((true_rank, d))
    cols = [f"c{j}" for j in range(d)]
    df = spark.createDataFrame(pd.DataFrame(X, columns=cols)).repartition(8)
    S, Vt = randomized_svd(df, cols, n_components=3, n_iter=3, random_state=0)
    _, S_np, Vt_np = np.linalg.svd(X, full_matrices=False)
    np.testing.assert_allclose(S, S_np[:3], rtol=1e-6)
    for j in range(3):
        assert abs(float(Vt[j] @ Vt_np[j])) > 1 - 1e-8  # same direction ± sign


def test_truncated_svd_randomized_algorithm(xy_regression):
    exact = TruncatedSVD(n_components=2).fit(xy_regression, FEATS)
    rand = TruncatedSVD(n_components=2, algorithm="randomized", n_iter=4,
                        random_state=0).fit(xy_regression, FEATS)
    np.testing.assert_allclose(rand.singular_values_, exact.singular_values_, rtol=1e-5)
    np.testing.assert_allclose(np.abs(rand.components_), np.abs(exact.components_),
                               rtol=1e-4, atol=1e-6)


def test_pca_randomized_solver(xy_regression):
    exact = PCA(n_components=2).fit(xy_regression, FEATS)
    rand = PCA(n_components=2, svd_solver="randomized", random_state=0).fit(
        xy_regression, FEATS)
    np.testing.assert_allclose(rand.singular_values_, exact.singular_values_, rtol=1e-5)
    np.testing.assert_allclose(np.abs(rand.components_), np.abs(exact.components_),
                               rtol=1e-4, atol=1e-6)
    np.testing.assert_allclose(rand.explained_variance_, exact.explained_variance_, rtol=1e-5)
    np.testing.assert_allclose(rand.noise_variance_, exact.noise_variance_, rtol=1e-3, atol=1e-8)


def test_knn_classifier_and_regressor_match_numpy(spark):
    """Brute-force kNN (euclidean + cosine) matches a local numpy
    replay exactly: same neighbors (tie-break on train id), majority
    vote with ties to the smallest label, mean for the regressor."""
    import numpy as np

    from dask_ml_spark.operators.neighbors import (KNeighborsClassifier,
                                                   KNeighborsRegressor)

    rng = np.random.RandomState(21)
    Xtr = rng.randn(80, 3)
    ytr = rng.randint(0, 3, 80).astype(float)
    Xte = rng.randn(12, 3)
    train = spark.createDataFrame(
        [(i, *map(float, Xtr[i]), float(ytr[i])) for i in range(80)],
        ["doc_id", "f0", "f1", "f2", "label"])
    test = spark.createDataFrame(
        [(100 + j, *map(float, Xte[j])) for j in range(12)],
        ["doc_id", "f0", "f1", "f2"])
    cols = ["f0", "f1", "f2"]

    def numpy_neighbors(metric, k=5):
        out = {}
        for j in range(12):
            if metric == "euclidean":
                d = ((Xtr - Xte[j]) ** 2).sum(axis=1)
                order = sorted(range(80), key=lambda i: (d[i], i))
            else:
                s = (Xtr @ Xte[j]) / (np.linalg.norm(Xtr, axis=1)
                                      * np.linalg.norm(Xte[j]))
                order = sorted(range(80), key=lambda i: (-s[i], i))
            out[100 + j] = order[:k]
        return out

    for metric in ("euclidean", "cosine"):
        knn = KNeighborsClassifier(n_neighbors=5, metric=metric).fit(
            train, cols, label_col="label")
        got_n = {}
        for r in knn.kneighbors(test, "doc_id").collect():
            got_n.setdefault(r["doc_id"], []).append((r["rank"], r["__tid"]))
        want_n = numpy_neighbors(metric)
        for qid, pairs in got_n.items():
            assert [t for _, t in sorted(pairs)] == want_n[qid], (metric, qid)
        pred = {r["doc_id"]: r["prediction"]
                for r in knn.predict(test, "doc_id").collect()}
        for qid, nbrs in want_n.items():
            votes = {}
            for i in nbrs:
                votes[ytr[i]] = votes.get(ytr[i], 0) + 1
            best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            assert pred[qid] == best, (metric, qid)

    reg = KNeighborsRegressor(n_neighbors=5).fit(train, cols,
                                                 label_col="label")
    pred = {r["doc_id"]: r["prediction"]
            for r in reg.predict(test, "doc_id").collect()}
    want_n = numpy_neighbors("euclidean")
    for qid, nbrs in want_n.items():
        assert abs(pred[qid] - float(np.mean([ytr[i] for i in nbrs]))) < 1e-9


def test_knn_classifier_index_backed(spark):
    """index= hands neighbor generation to an ANN index (here the
    brute-force-recall IVF with n_probe = n_lists, so the answer is
    exact): predictions equal the brute-force classifier's."""
    import numpy as np

    from dask_ml_spark.datapipe.similarity import IVFIndex
    from dask_ml_spark.operators.neighbors import KNeighborsClassifier

    rng = np.random.RandomState(3)
    X = rng.randn(120, 4)
    y = rng.randint(0, 2, 120).astype(float)
    train = spark.createDataFrame(
        [(i, [float(v) for v in X[i]], float(y[i])) for i in range(120)],
        "doc_id long, embedding array<double>, label double")
    test = spark.createDataFrame(
        [(1000 + j, [float(v) for v in rng.randn(4)]) for j in range(6)],
        "qid long, embedding array<double>")

    idx = IVFIndex(n_lists=4, n_probe=4, vec_col="embedding",
                   id_col="vec_id")
    idx.fit(train.select(F.col("doc_id").alias("vec_id"), "embedding"))
    knn_idx = KNeighborsClassifier(
        n_neighbors=5, vec_col="embedding", index=idx).fit(
        train, label_col="label")
    knn_brute = KNeighborsClassifier(
        n_neighbors=5, metric="cosine", vec_col="embedding").fit(
        train, label_col="label")
    got_idx = {r["qid"]: r["prediction"]
               for r in knn_idx.predict(test, "qid").collect()}
    got_brt = {r["qid"]: r["prediction"]
               for r in knn_brute.predict(test, "qid").collect()}
    assert got_idx == got_brt and len(got_idx) == 6


def test_dbscan_matches_bruteforce_replay(spark):
    """DBSCAN against an exact local replay of its deterministic
    contract: neighbor counts (self included), core set, components
    over core-core edges labeled by MIN CORE id, borders to the
    nearest core (ties -> smallest core id), noise -1."""
    import numpy as np

    from dask_ml_spark.operators.cluster import DBSCAN

    rng = np.random.RandomState(6)
    X = np.vstack([
        rng.randn(40, 2) * 0.3 + [0.0, 0.0],
        rng.randn(40, 2) * 0.3 + [5.0, 5.0],
        rng.uniform(-2.0, 7.0, (12, 2)),
    ])
    n = len(X)
    eps, min_pts = 0.7, 5
    df = spark.createDataFrame(
        [(i, float(X[i, 0]), float(X[i, 1])) for i in range(n)],
        ["doc_id", "x0", "x1"])
    got = {r["doc_id"]: r["cluster"]
           for r in DBSCAN(eps=eps, min_pts=min_pts)
           .fit_predict(df, ["x0", "x1"]).collect()}
    assert len(got) == n

    d2 = ((X[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    within = d2 <= eps * eps
    ncount = within.sum(axis=1)  # self included
    core = set(np.where(ncount >= min_pts)[0])
    # components over core-core edges, label = min core id
    label = {c: c for c in core}
    changed = True
    while changed:
        changed = False
        for a in core:
            for b in core:
                if within[a, b] and label[b] < label[a]:
                    label[a] = label[b]
                    changed = True
    want = {}
    for i in range(n):
        if i in core:
            want[i] = label[i]
        else:
            cands = sorted((d2[i, c], c) for c in core
                           if within[i, c] and c != i)
            want[i] = label[cands[0][1]] if cands else -1
    assert got == want
    # sanity: two real clusters plus some noise
    labs = set(want.values())
    assert len([v for v in labs if v >= 0]) == 2 and -1 in labs


def test_dbscan_guards_and_edge_cases(spark):
    import pytest as _pytest

    from dask_ml_spark.operators.cluster import DBSCAN

    df = spark.createDataFrame(
        [(i, *[float(i)] * 7) for i in range(5)],
        ["doc_id"] + [f"f{j}" for j in range(7)])
    with _pytest.raises(ValueError, match="3\\^d"):
        DBSCAN().fit_predict(df, [f"f{j}" for j in range(7)])
    # all-noise input (points too sparse for min_pts)
    sparse = spark.createDataFrame(
        [(i, float(10 * i), 0.0) for i in range(6)],
        ["doc_id", "x0", "x1"])
    out = {r["doc_id"]: r["cluster"]
           for r in DBSCAN(eps=0.5, min_pts=3)
           .fit_predict(sparse, ["x0", "x1"]).collect()}
    assert set(out.values()) == {-1}
    # min_pts=1: EVERY point is core (its neighborhood includes
    # itself) — isolated points become singleton clusters labeled by
    # their own id, matching sklearn min_samples=1, NOT noise
    out1 = {r["doc_id"]: r["cluster"]
            for r in DBSCAN(eps=0.5, min_pts=1)
            .fit_predict(sparse, ["x0", "x1"]).collect()}
    assert out1 == {i: i for i in range(6)}
    # min_pts=1 with one real pair: the pair shares the min id,
    # the isolated point keeps its own
    mixed = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 0.1, 0.0), (2, 50.0, 0.0)],
        ["doc_id", "x0", "x1"])
    outm = {r["doc_id"]: r["cluster"]
            for r in DBSCAN(eps=0.5, min_pts=1)
            .fit_predict(mixed, ["x0", "x1"]).collect()}
    assert outm == {0: 0, 1: 0, 2: 2}


def test_mahalanobis_outlier_matches_numpy(spark):
    """Fit (population mean/cov), score (quadratic form with Σ⁻¹),
    and threshold predict all match numpy exactly; a planted far
    point gets the top score; the scoring plan stays narrow JVM."""
    import numpy as np

    from dask_ml_spark.operators.outliers import MahalanobisOutlier

    rng = np.random.RandomState(12)
    X = rng.randn(300, 3) @ np.array([[1.0, 0.4, 0.0],
                                      [0.0, 1.0, 0.3],
                                      [0.0, 0.0, 1.0]])
    X[7] = [9.0, -9.0, 9.0]  # planted outlier
    df = spark.createDataFrame(
        [(i, *map(float, X[i])) for i in range(300)],
        ["doc_id", "a", "b", "c"])
    m = MahalanobisOutlier(threshold=16.27).fit(df, ["a", "b", "c"])

    mu = X.mean(axis=0)
    cov = np.cov(X.T, bias=True)
    np.testing.assert_allclose(m.location_, mu, rtol=1e-12)
    np.testing.assert_allclose(m.covariance_, cov, rtol=1e-9)

    P = np.linalg.inv(cov)
    want = np.einsum("ni,ij,nj->n", X - mu, P, X - mu)
    got = {r["doc_id"]: r["mahalanobis_sq"]
           for r in m.score_samples(df).collect()}
    for i in range(300):
        assert abs(got[i] - want[i]) < 1e-7 * max(1.0, want[i])
    assert max(got, key=got.get) == 7

    pred = {r["doc_id"]: r["is_outlier"] for r in m.predict(df).collect()}
    for i in range(300):
        assert pred[i] == bool(want[i] > 16.27)
    # scoring is a pure projection: no shuffle, no Python
    plan = m.score_samples(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan

    import pytest as _pytest
    with _pytest.raises(ValueError, match="threshold"):
        MahalanobisOutlier().fit(df, ["a", "b", "c"]).predict(df)


def test_mahalanobis_outlier_degenerate_covariance(spark):
    """Singular Σ must not raise: a constant column and an exactly
    collinear pair both fit via the pseudo-inverse, score every row
    finite, and still measure distance within the data's actual
    subspace (rank-deficient directions contribute zero)."""
    import numpy as np

    from dask_ml_spark.operators.outliers import MahalanobisOutlier

    rng = np.random.RandomState(3)
    a = rng.randn(100)
    # constant column c, collinear pair b = 2a
    df = spark.createDataFrame(
        [(i, float(a[i]), float(2.0 * a[i]), 5.0) for i in range(100)],
        ["doc_id", "a", "b", "c"])
    m = MahalanobisOutlier().fit(df, ["a", "b", "c"])
    got = {r["doc_id"]: r["mahalanobis_sq"]
           for r in m.score_samples(df).collect()}
    assert all(np.isfinite(v) for v in got.values())
    # pinv parity with numpy on the same covariance
    X = np.column_stack([a, 2.0 * a, np.full(100, 5.0)])
    mu = X.mean(axis=0)
    P = np.linalg.pinv(np.cov(X.T, bias=True), hermitian=True)
    want = np.einsum("ni,ij,nj->n", X - mu, P, X - mu)
    for i in range(100):
        assert abs(got[i] - want[i]) < 1e-7 * max(1.0, abs(want[i]))
    # well-conditioned d=3 still matches the exact inverse (the
    # closed-form adjugate path agrees with LAPACK to float tolerance)
    X2 = rng.randn(200, 3) + [1.0, -2.0, 0.5]
    df2 = spark.createDataFrame(
        [(i, *map(float, X2[i])) for i in range(200)],
        ["doc_id", "a", "b", "c"])
    m2 = MahalanobisOutlier().fit(df2, ["a", "b", "c"])
    np.testing.assert_allclose(
        m2.precision_, np.linalg.inv(np.cov(X2.T, bias=True)),
        rtol=1e-9)


def test_gaussian_mixture_matches_numpy_em(spark):
    """Diag-covariance EM replayed independently in numpy from the
    same pinned init: weights/means/variances match after 3 rounds,
    predict is the numpy argmax, score_samples is the numpy logsumexp
    (the hand-computed check the SQL oracle can't provide), and
    scoring stays a narrow JVM projection."""
    from dask_ml_spark.operators.mixture import GaussianMixture

    rng = np.random.RandomState(5)
    X = np.vstack([rng.normal([-3.0, 1.0], 1.0, (200, 2)),
                   rng.normal([2.0, -2.0], 0.7, (100, 2))])
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(X)],
        ["doc_id", "x", "y"])

    init_m = np.array([[-1.0, 0.0], [1.0, 0.0]])
    gm = GaussianMixture(n_components=2, max_iter=3, tol=0.0,
                         init_means=init_m,
                         init_weights=[0.5, 0.5],
                         init_variances=[[1.0, 1.0], [1.0, 1.0]])
    gm.fit(df, ["x", "y"])

    # independent numpy EM (same update equations, diag covariance)
    w = np.array([0.5, 0.5]); mu = init_m.astype(float).copy()
    var = np.ones((2, 2)); reg = 1e-6
    for _ in range(3):
        lp = np.stack([
            np.log(w[j]) - 0.5 * (
                np.log(2 * np.pi * var[j]) + (X - mu[j]) ** 2 / var[j]
            ).sum(axis=1)
            for j in range(2)], axis=1)
        m = lp.max(axis=1, keepdims=True)
        e = np.exp(lp - m)
        r = e / e.sum(axis=1, keepdims=True)
        nj = r.sum(axis=0)
        w = nj / len(X)
        for j in range(2):
            mu[j] = (r[:, j:j + 1] * X).sum(axis=0) / nj[j]
            var[j] = (r[:, j:j + 1] * X * X).sum(axis=0) / nj[j] \
                - mu[j] ** 2 + reg
    np.testing.assert_allclose(gm.weights_, w, rtol=1e-9)
    np.testing.assert_allclose(gm.means_, mu, rtol=1e-9)
    np.testing.assert_allclose(gm.covariances_, var, rtol=1e-9)

    lp = np.stack([
        np.log(w[j]) - 0.5 * (np.log(2 * np.pi * var[j])
                              + (X - mu[j]) ** 2 / var[j]).sum(axis=1)
        for j in range(2)], axis=1)
    want_pred = lp.argmax(axis=1)
    got_pred = {r["doc_id"]: r["prediction"]
                for r in gm.predict(df).collect()}
    assert all(got_pred[i] == want_pred[i] for i in range(len(X)))

    mx = lp.max(axis=1)
    want_ll = mx + np.log(np.exp(lp - mx[:, None]).sum(axis=1))
    got_ll = {r["doc_id"]: r["log_likelihood"]
              for r in gm.score_samples(df).collect()}
    for i in range(len(X)):
        assert abs(got_ll[i] - want_ll[i]) < 1e-9 * max(1.0, abs(want_ll[i]))

    proba = gm.predict_proba(df).select("probability").limit(5).collect()
    for r in proba:
        assert abs(sum(r["probability"]) - 1.0) < 1e-12

    # scoring is a pure projection: no shuffle, no Python
    plan = gm.predict(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_gaussian_mixture_deterministic_init_and_guards(spark, blobs):
    """Default init (md5-min distinct rows) is content-deterministic:
    the same fit from a repartitioned frame lands on identical params;
    separated blobs are recovered; bad shapes and covariance types
    raise."""
    from dask_ml_spark.operators.mixture import GaussianMixture

    cols = ["x0", "x1"]
    a = GaussianMixture(n_components=3, max_iter=20, tol=1e-6).fit(blobs, cols)
    b = GaussianMixture(n_components=3, max_iter=20, tol=1e-6).fit(
        blobs.repartition(7), cols)
    np.testing.assert_allclose(a.means_, b.means_, rtol=1e-12)
    np.testing.assert_allclose(a.weights_, b.weights_, rtol=1e-12)
    # three well-separated blobs recovered (weights near 1/3, means on
    # the planted centers)
    assert np.allclose(sorted(a.weights_), [1 / 3] * 3, atol=0.05)
    got = np.array(sorted(a.means_.tolist()))
    np.testing.assert_allclose(
        got, [[-7.0, -7.0], [0.0, 0.0], [7.0, 7.0]], atol=0.3)

    with pytest.raises(ValueError, match="diag"):
        GaussianMixture(covariance_type="full")
    with pytest.raises(ValueError, match="init_means shape"):
        GaussianMixture(n_components=2, init_means=[[0.0]]).fit(blobs, cols)
    with pytest.raises(ValueError, match="distinct rows"):
        GaussianMixture(n_components=5, max_iter=1).fit(
            blobs.limit(3), cols)


def test_random_projection_matches_numpy_and_preserves_distance(spark):
    """Transform equals the numpy matmul bit-for-bit-ish (same fold
    order), sparse entries take only the three Achlioptas values at
    the right density, JL distance distortion stays within the eps the
    k was sized for, and the transform plans as a narrow projection."""
    from dask_ml_spark.operators.random_projection import (
        GaussianRandomProjection,
        SparseRandomProjection,
        johnson_lindenstrauss_min_dim,
    )

    # sklearn's published bound value for (n=10000, eps=0.1)
    assert johnson_lindenstrauss_min_dim(10000, 0.1) == 7895
    with pytest.raises(ValueError, match="eps"):
        johnson_lindenstrauss_min_dim(100, 1.5)

    rng = np.random.RandomState(0)
    d, k, n = 40, 24, 120
    X = rng.randn(n, d)
    cols = [f"x{i}" for i in range(d)]
    df = spark.createDataFrame(
        [(i, *map(float, X[i])) for i in range(n)], ["rid", *cols])

    for est in (GaussianRandomProjection(k, random_state=7),
                SparseRandomProjection(k, random_state=7)):
        est.fit(df, cols)
        W = est.components_
        assert W.shape == (k, d)
        out = est.transform(df).orderBy("rid") \
            .select(*[f"rp{j}" for j in range(k)]).toPandas().to_numpy()
        np.testing.assert_allclose(out, X @ W.T, rtol=1e-12, atol=1e-12)
        # JL: median pairwise distance ratio near 1
        d_orig = np.sqrt(((X[:60, None, :] - X[None, :60, :]) ** 2)
                         .sum(-1))[np.triu_indices(60, 1)]
        P = X[:60] @ W.T
        d_proj = np.sqrt(((P[:, None, :] - P[None, :, :]) ** 2)
                         .sum(-1))[np.triu_indices(60, 1)]
        ratio = d_proj / d_orig
        assert 0.55 < np.median(ratio) < 1.45

    sp = SparseRandomProjection(k, random_state=7).fit(df, cols)
    scale = np.sqrt(np.sqrt(d)) / np.sqrt(k)
    vals = set(np.round(np.unique(sp.components_), 12))
    assert vals <= {np.round(v, 12) for v in (-scale, 0.0, scale)}
    nz = (sp.components_ != 0).mean()
    assert abs(nz - 1 / np.sqrt(d)) < 0.05
    with pytest.raises(ValueError, match="density"):
        SparseRandomProjection(4, density=2.0).fit(df, cols)

    plan = GaussianRandomProjection(4, random_state=1).fit(df, cols) \
        .transform(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_gaussian_mixture_underflow_starvation_and_init_aliasing(spark):
    """A component pinned ~1000 sigma from all data gets exactly-zero
    responsibilities (exp underflow): the fit must complete, keeping
    that component's previous parameters instead of dividing by zero —
    and fitting twice from the same caller-owned init arrays must give
    identical results (no in-place mutation of the caller's arrays)."""
    from dask_ml_spark.operators.mixture import GaussianMixture

    rng = np.random.RandomState(2)
    df = spark.createDataFrame(
        [(float(v),) for v in rng.normal(0.0, 1.0, 300)], ["x"])
    init_m = np.array([[0.5], [1000.0]])
    init_w = np.array([0.5, 0.5])
    init_v = np.array([[1.0], [1.0]])

    def run():
        return GaussianMixture(
            n_components=2, max_iter=3, tol=0.0,
            init_means=init_m, init_weights=init_w,
            init_variances=init_v).fit(df, ["x"])

    a = run()
    assert np.isfinite(a.means_).all() and np.isfinite(a.weights_).all()
    assert abs(a.means_[1][0] - 1000.0) < 1e-12   # starved: kept init
    assert abs(a.means_[0][0]) < 0.2              # live: moved to data
    # mixture stays proper: starved-round weights are renormalized
    assert abs(a.weights_.sum() - 1.0) < 1e-12
    # caller arrays untouched; second fit identical
    assert init_m[0][0] == 0.5 and init_w[0] == 0.5 and init_v[0][0] == 1.0
    b = run()
    np.testing.assert_array_equal(a.means_, b.means_)
    np.testing.assert_array_equal(a.weights_, b.weights_)


def test_collect_batches_key_overlapping_features(spark):
    """deterministic_by keys that are ALSO feature columns must not
    duplicate columns in the collected matrix (review-caught: X grew
    an extra column and the model trained at the wrong width)."""
    from dask_ml_spark.plans.incremental import _collect_batches

    df = spark.createDataFrame(
        [(i, float(i) / 10, float(i)) for i in range(100)],
        ["user_id", "f1", "label"])
    batches = _collect_batches(
        df, ["user_id", "f1"], "label",
        max_rows_per_batch=40, order_by=["user_id"])
    X, y = batches[0]
    assert X.shape[1] == 2
    assert list(X[:3, 0]) == [0.0, 1.0, 2.0]  # key-sorted
