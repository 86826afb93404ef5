"""Splitters + search (reference tests/model_selection pattern)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_ml_spark.operators.linear_model import LogisticRegression
from dask_ml_spark.plans.model_selection import (
    GridSearchCV,
    KFold,
    ParameterGrid,
    ParameterSampler,
    RandomizedSearchCV,
    ShuffleSplit,
    train_test_split,
)

FEATS20 = [f"f{j}" for j in range(20)]


def test_train_test_split(xy_classification):
    train, test = train_test_split(xy_classification, test_size=0.3, random_state=0)
    n, ntr, nte = xy_classification.count(), train.count(), test.count()
    assert ntr + nte == n  # disjoint + exhaustive for default sizes
    assert abs(nte / n - 0.3) < 0.15
    # deterministic under the same seed
    tr2, te2 = train_test_split(xy_classification, test_size=0.3, random_state=0)
    assert te2.count() == nte


def test_shuffle_split(xy_classification):
    splits = list(ShuffleSplit(n_splits=3, test_size=0.2, random_state=0).split(xy_classification))
    assert len(splits) == 3
    n = xy_classification.count()
    for tr, te in splits:
        assert tr.count() + te.count() == n


def test_kfold(xy_classification):
    kf = KFold(n_splits=4, shuffle=True, random_state=0)
    n = xy_classification.count()
    seen = 0
    for tr, te in kf.split(xy_classification):
        ntr, nte = tr.count(), te.count()
        assert ntr + nte == n
        seen += nte
    assert seen == n  # folds partition the data


def test_parameter_grid():
    g = ParameterGrid({"a": [1, 2], "b": ["x", "y", "z"]})
    assert len(g) == 6
    assert {tuple(sorted(p.items())) for p in g} == {
        (("a", a), ("b", b)) for a in (1, 2) for b in "xyz"
    }


def test_parameter_sampler():
    s = list(ParameterSampler({"a": [1, 2, 3]}, n_iter=5, random_state=0))
    assert len(s) == 5
    assert all(p["a"] in (1, 2, 3) for p in s)


def test_grid_search(xy_classification):
    gs = GridSearchCV(
        LogisticRegression(),
        {"C": [0.01, 1.0], "fit_intercept": [True, False]},
        cv=KFold(n_splits=3, shuffle=True, random_state=0),
        n_jobs=2,
    )
    gs.fit(xy_classification, FEATS20)
    assert len(gs.cv_results_["params"]) == 4
    assert gs.cv_results_["mean_test_score"].shape == (4,)
    assert gs.best_score_ == gs.cv_results_["mean_test_score"].max()
    assert gs.best_params_ in gs.cv_results_["params"]
    # refit model predicts
    acc = gs.score(xy_classification)
    assert 0.4 < acc <= 1.0
    assert sorted(gs.cv_results_["rank_test_score"])[0] == 1
    # post-fit passthrough surface (reference _search.py:1137-1171)
    proba = gs.predict_proba(xy_classification).select("probability").toPandas()
    assert proba["probability"].between(0.0, 1.0).all()
    dec = gs.decision_function(xy_classification).select("decision").toPandas()
    assert len(dec) == len(proba)


def test_randomized_search(xy_classification):
    rs = RandomizedSearchCV(
        LogisticRegression(),
        {"C": [0.01, 0.1, 1.0, 10.0]},
        n_iter=3,
        cv=KFold(n_splits=2, shuffle=True, random_state=1),
        random_state=0,
        n_jobs=2,
    )
    rs.fit(xy_classification, FEATS20)
    assert len(rs.cv_results_["params"]) == 3
    assert hasattr(rs, "best_estimator_")


def test_grid_search_pipeline_prefix_sharing(spark, monkeypatch):
    """Pipeline candidates differing only in final-stage params share
    one prefix fit per fold, and their final stages are fitted by ONE
    batched Newton pass (no per-candidate fit); every split score
    matches a hand loop — scaler fitted on the fold's train view, one
    newton fit, score_estimator on the transformed test view."""
    import numpy as np
    from pyspark.sql import functions as F

    from dask_ml_spark.functions.metrics import check_scoring, score_estimator
    from dask_ml_spark.operators import linear_model, solvers
    from dask_ml_spark.operators.compose import Pipeline
    from dask_ml_spark.operators.linear_model import LogisticRegression
    from dask_ml_spark.operators.preprocessing import StandardScaler
    from dask_ml_spark.plans.model_selection import GridSearchCV, KFold

    from dask_ml_spark.datasets import make_classification

    df = make_classification(400, 4, random_state=0, n_partitions=4, spark=spark)
    cols = [f"f{j}" for j in range(4)]
    batches, fits = [], []
    real_batch = linear_model.fit_newton_batch
    real_fit = LogisticRegression.fit

    def batch(ests, *a, **kw):
        batches.append(sorted(e.C for e in ests))
        return real_batch(ests, *a, **kw)

    def fit(self, *a, **kw):
        fits.append(self.C)
        return real_fit(self, *a, **kw)

    monkeypatch.setattr(linear_model, "fit_newton_batch", batch)
    monkeypatch.setattr(LogisticRegression, "fit", fit)
    pipe = Pipeline([("scale", StandardScaler()), ("clf", LogisticRegression(max_iter=20))])
    cv = KFold(n_splits=2, shuffle=True, random_state=5)
    gs = GridSearchCV(pipe, {"clf__C": [0.01, 100.0]}, cv=cv)
    gs.fit(df, cols, label_col="label")
    assert batches == [[0.01, 0.01, 100.0, 100.0]]  # one prefix group
    assert fits == [gs.best_params_["clf__C"]]  # the refit only
    assert set(gs.best_params_) == {"clf__C"}
    assert len(gs.cv_results_["mean_test_score"]) == 2
    scorer = check_scoring(pipe)
    for ci, C in enumerate((0.01, 100.0)):
        for fi, (train, test) in enumerate(cv.split(df)):
            scaler = StandardScaler().fit(train, cols)
            est = LogisticRegression(C=C, max_iter=20)
            beta = solvers.newton(scaler.transform(train), cols, "label",
                                  "logistic", **linear_model._solver_kwargs(est))
            linear_model._set_fitted(est, beta[:4], beta[4], cols, "label")
            want = score_estimator(scorer, est, scaler.transform(test), "label")
            assert abs(gs.cv_results_[f"split{fi}_test_score"][ci] - want) < 1e-9
    # refit best estimator works end-to-end with step__param routing
    pred = gs.predict(df)
    assert pred.where(F.col("prediction").isNotNull()).count() == 400


def test_pipeline_set_params_routing():
    from dask_ml_spark.operators.compose import Pipeline
    from dask_ml_spark.operators.linear_model import LogisticRegression
    from dask_ml_spark.operators.preprocessing import StandardScaler

    pipe = Pipeline([("scale", StandardScaler()), ("clf", LogisticRegression())])
    pipe.set_params(clf__C=7.5, scale__with_mean=False)
    assert pipe.named_steps["clf"].C == 7.5
    assert pipe.named_steps["scale"].with_mean is False
    clone = pipe.clone()
    assert clone.named_steps["clf"].C == 7.5
    assert clone is not pipe and clone.named_steps["clf"] is not pipe.named_steps["clf"]
    import pytest

    with pytest.raises(ValueError):
        pipe.set_params(nope__x=1)
    with pytest.raises(ValueError):
        pipe.set_params(C=1.0)


def test_hash_split_deterministic_and_disjoint(spark):
    from dask_ml_spark.plans.model_selection import hash_split

    df = spark.range(10_000).selectExpr("id", "id % 97 AS grp")
    train, test = hash_split(df, "id", test_size=0.3)
    n_train, n_test = train.count(), test.count()
    assert n_train + n_test == 10_000
    assert 0.65 < n_train / 10_000 < 0.75
    # deterministic: same content after an arbitrary repartition
    train2, _ = hash_split(df.repartition(7), "id", test_size=0.3)
    assert train2.count() == n_train
    ids = {r["id"] for r in train.select("id").collect()}
    ids2 = {r["id"] for r in train2.select("id").collect()}
    assert ids == ids2
    # disjoint
    test_ids = {r["id"] for r in test.select("id").collect()}
    assert not (ids & test_ids)


def test_hash_split_group_leakage_safe(spark):
    from dask_ml_spark.plans.model_selection import hash_split

    df = spark.range(5_000).selectExpr("id % 50 AS entity", "id AS payload")
    train, test = hash_split(df, "entity", test_size=0.4)
    train_e = {r["entity"] for r in train.select("entity").distinct().collect()}
    test_e = {r["entity"] for r in test.select("entity").distinct().collect()}
    assert not (train_e & test_e)  # an entity never straddles the split


def test_cv_results_structure_sklearn_parity(spark):
    """cv_results_ carries split scores and min-ranked ties, matching
    the reference's create_cv_results table (methods.py:354-446)."""
    import numpy as np

    from dask_ml_spark.operators.linear_model import LogisticRegression
    from dask_ml_spark.plans.model_selection import GridSearchCV
    from pyspark.sql import functions as F

    df = (spark.range(2000)
          .selectExpr("cast(id % 13 as double) f0", "cast(id % 7 as double) f1")
          .withColumn("label", (F.col("f0") > 6).cast("double")))
    gs = GridSearchCV(LogisticRegression(max_iter=5), {"C": [1.0, 1.0, 0.1]}, cv=3)
    gs.fit(df, columns=["f0", "f1"], label_col="label")
    r = gs.cv_results_
    for fi in range(3):
        assert f"split{fi}_test_score" in r and len(r[f"split{fi}_test_score"]) == 3
    np.testing.assert_allclose(
        np.mean([r[f"split{fi}_test_score"] for fi in range(3)], axis=0),
        r["mean_test_score"])
    # duplicate candidates (C=1.0 twice) share a fit AND a min rank
    assert r["mean_test_score"][0] == r["mean_test_score"][1]
    assert r["rank_test_score"][0] == r["rank_test_score"][1]
    assert sorted(r["rank_test_score"]) in ([1, 1, 1], [1, 1, 3])


def test_grid_search_neg_log_loss(xy_classification):
    """neg_log_loss routes scoring through predict_proba (reference
    metrics/scorer.py neg_log_loss entry uses needs_proba semantics)."""
    gs = GridSearchCV(
        LogisticRegression(max_iter=20),
        {"C": [0.1, 1.0]},
        scoring="neg_log_loss",
        cv=KFold(n_splits=2, shuffle=True, random_state=0),
        n_jobs=2,
    )
    gs.fit(xy_classification, FEATS20)
    # log loss is positive, so the scorer is negative; best is the max
    assert all(s < 0 for s in gs.cv_results_["mean_test_score"])
    assert gs.best_score_ == gs.cv_results_["mean_test_score"].max()
    # score() on the refit estimator also routes through predict_proba
    s = gs.score(xy_classification)
    assert -10.0 < s < 0.0


def test_parallel_post_fit_neg_log_loss_array_proba(xy_classification):
    """ParallelPostFit + local sklearn-protocol model: predict_proba
    yields an array<double> column; log_loss consumes p[label]
    (multiclass form)."""
    from dask_ml_spark.functions.metrics import log_loss
    from dask_ml_spark.operators.local_estimators import SGDClassifier
    from dask_ml_spark.operators.wrappers import ParallelPostFit

    ppf = ParallelPostFit(SGDClassifier(random_state=0), scoring="neg_log_loss")
    ppf.fit(xy_classification, FEATS20)
    s = ppf.score(xy_classification)
    assert -10.0 < s < 0.0
    # cross-check against the direct metric on the proba frame
    proba = ppf.predict_proba(xy_classification)
    direct = log_loss(proba, label_col="label", prob_col="probability")
    assert abs(-direct - s) < 1e-12


def test_normalize_estimator_token():
    """Candidate dedup keys cover type + full params + fitted state
    (reference _normalize.py:21-42), not just the grid param dict."""
    from dask_ml_spark.plans.model_selection import (
        _param_token,
        normalize_estimator,
    )

    a = LogisticRegression(C=1.0)
    b = LogisticRegression(C=0.1)
    c = LogisticRegression(C=1.0)
    assert normalize_estimator(a) != normalize_estimator(b)
    assert normalize_estimator(a) == normalize_estimator(c)
    # nested estimators inside a param dict are distinguished by content
    assert _param_token({"est": a}) != _param_token({"est": b})
    assert _param_token({"est": a}) == _param_token({"est": c})
    # fitted state changes the token (dask-ml issue #658 semantics)
    c.coef_ = np.array([1.0, 2.0])
    c.intercept_ = 0.5
    assert normalize_estimator(c) != normalize_estimator(a)
    # numpy arrays token by content, not identity
    d = LogisticRegression(C=1.0)
    d.coef_ = np.array([1.0, 2.0])
    d.intercept_ = 0.5
    assert normalize_estimator(d) == normalize_estimator(c)


def test_grid_search_roc_auc_scoring(xy_classification):
    """scoring='roc_auc' routes through predict_proba and ranks
    candidates by the distributed exact AUC."""
    gs = GridSearchCV(
        LogisticRegression(max_iter=20),
        {"C": [0.01, 1.0]},
        scoring="roc_auc",
        cv=KFold(n_splits=2, shuffle=True, random_state=1),
        n_jobs=2,
    )
    gs.fit(xy_classification, FEATS20)
    assert 0.5 <= gs.best_score_ <= 1.0


def test_hash_kfold_content_deterministic_and_leakage_safe(spark, lineitem):
    """HashKFold: fold id is a pure function of the key — identical
    across repartitionings — folds partition the data, and rows with
    equal keys share a fold."""
    from dask_ml_spark.plans.model_selection import HashKFold

    cv = HashKFold(n_splits=3, key_cols=["l_orderkey", "l_linenumber"])
    a = (cv.fold_column(lineitem).groupBy("__fold").count()
         .orderBy("__fold").collect())
    b = (cv.fold_column(lineitem.repartition(13)).groupBy("__fold").count()
         .orderBy("__fold").collect())
    assert [(r["__fold"], r["count"]) for r in a] == \
        [(r["__fold"], r["count"]) for r in b]
    assert sum(r["count"] for r in a) == lineitem.count()
    assert {r["__fold"] for r in a} == {0, 1, 2}
    # equal keys -> equal fold (check via max distinct folds per key)
    from pyspark.sql import functions as F
    dup = (cv.fold_column(lineitem)
           .groupBy("l_orderkey", "l_linenumber")
           .agg(F.countDistinct("__fold").alias("nf"))
           .agg(F.max("nf")).collect()[0][0])
    assert dup == 1
    import pytest as _pytest
    with _pytest.raises(ValueError, match="key_cols"):
        HashKFold(n_splits=3)


def test_grid_search_with_hash_kfold_prunes_but_keeps_keys(spark, lineitem):
    """The fold-cache column pruning must keep the cv key columns, and
    the search must run end-to-end with the exact newton-ridge."""
    from pyspark.sql import functions as F

    from dask_ml_spark.operators.linear_model import LinearRegression
    from dask_ml_spark.plans.model_selection import GridSearchCV, HashKFold

    li = lineitem.withColumn("label", F.col("l_extendedprice").cast("double"))
    gs = GridSearchCV(
        LinearRegression(penalty="l2", solver="newton"),
        {"C": [0.1, 10.0]},
        cv=HashKFold(n_splits=3, key_cols=["l_orderkey", "l_linenumber"]),
        refit=False, n_jobs=4)
    gs.fit(li, ["l_quantity", "l_discount"], label_col="label")
    scores = gs.cv_results_["mean_test_score"]
    assert len(scores) == 2
    assert all(-1.0 <= s <= 1.0 for s in scores)
    # weaker ridge (larger C) must fit at least as well in-sample terms;
    # here both are far from degenerate and distinct
    assert abs(scores[0] - scores[1]) > 1e-9


def test_grid_search_pipeline_pruning_equivalence(spark, lineitem):
    """Pipelines now declare their input needs, so the fold cache is
    pruned for them too: the search over the WIDE frame must produce
    bit-identical scores to the same search over a hand-narrowed
    frame, and a pipeline with a whole-frame stage (BlockTransformer
    reading a column outside `columns`) must still run — its None
    declaration disables pruning."""
    from pyspark.sql import functions as F

    from dask_ml_spark.operators.compose import Pipeline
    from dask_ml_spark.operators.linear_model import LinearRegression
    from dask_ml_spark.operators.preprocessing import StandardScaler
    from dask_ml_spark.operators.wrappers import BlockTransformer
    from dask_ml_spark.plans.model_selection import GridSearchCV, HashKFold

    li = lineitem.withColumn("label", F.col("l_extendedprice").cast("double"))

    def make_gs():
        return GridSearchCV(
            Pipeline([("scale", StandardScaler()),
                      ("ridge", LinearRegression(penalty="l2",
                                                 solver="newton"))]),
            {"ridge__C": [0.1, 10.0]},
            cv=HashKFold(n_splits=3, key_cols=["l_orderkey",
                                               "l_linenumber"]),
            refit=False, n_jobs=4)

    wide = make_gs()
    wide.fit(li, ["l_quantity", "l_discount"], label_col="label")
    narrow = make_gs()
    narrow.fit(li.select("l_quantity", "l_discount", "label",
                         "l_orderkey", "l_linenumber"),
               ["l_quantity", "l_discount"], label_col="label")
    assert list(wide.cv_results_["mean_test_score"]) == \
        list(narrow.cv_results_["mean_test_score"])

    # whole-frame stage: func centers f=l_quantity by l_tax (a column
    # OUTSIDE `columns`) — pruning would drop l_tax and break the fit
    def shift(pdf):
        pdf = pdf.copy()
        pdf["l_quantity"] = pdf["l_quantity"] + pdf["l_tax"]
        return pdf

    gs = GridSearchCV(
        Pipeline([("block", BlockTransformer(shift)),
                  ("ridge", LinearRegression(penalty="l2",
                                             solver="newton"))]),
        {"ridge__C": [1.0]},
        cv=HashKFold(n_splits=3, key_cols=["l_orderkey", "l_linenumber"]),
        refit=False, n_jobs=2)
    gs.fit(li, ["l_quantity", "l_discount"], label_col="label")
    assert len(gs.cv_results_["mean_test_score"]) == 1
    assert all(np.isfinite(s) for s in gs.cv_results_["mean_test_score"])


def test_group_kfold_no_leakage(spark, documents):
    from pyspark.sql import functions as F

    from dask_ml_spark.plans.model_selection import (GroupKFold,
                                                     group_shuffle_split)

    gk = GroupKFold(n_splits=4, group_col="source")
    for train, test in gk.split(documents):
        tr = {r["source"] for r in train.select("source").distinct().collect()}
        te = {r["source"] for r in test.select("source").distinct().collect()}
        assert not (tr & te)  # no group straddles the boundary

    train, test = group_shuffle_split(documents, "source", test_size=0.3)
    tr = {r["source"] for r in train.select("source").distinct().collect()}
    te = {r["source"] for r in test.select("source").distinct().collect()}
    assert not (tr & te)
    assert train.count() + test.count() == documents.count()
    # content-deterministic: repartitioning does not move any row
    t2, _ = group_shuffle_split(documents.repartition(7), "source",
                                test_size=0.3)
    assert sorted(r["doc_id"] for r in t2.select("doc_id").collect()) == \
        sorted(r["doc_id"] for r in train.select("doc_id").collect())


def test_time_series_split_no_leakage(spark):
    from dask_ml_spark.plans.model_selection import TimeSeriesSplit
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [(i, base + datetime.timedelta(hours=i)) for i in range(100)]
    df = spark.createDataFrame(rows, "i long, ts timestamp")
    tss = TimeSeriesSplit(n_splits=4, time_col="ts")
    seen_train, seen_test = [], []
    for train, test in tss.split(df):
        tr = [r["i"] for r in train.collect()]
        te = [r["i"] for r in test.collect()]
        assert te, "every fold must have a test block"
        if tr:
            # strict temporal order: ALL train rows precede ALL test rows
            assert max(tr) < min(te)
        seen_train.append(len(tr))
        seen_test.append(te)
    # expanding window: train grows monotonically
    assert seen_train == sorted(seen_train)
    # test blocks are disjoint and cover everything after the first cut
    flat = [i for te in seen_test for i in te]
    assert len(flat) == len(set(flat))
    assert set(flat) | set(range(min(flat))) == set(range(100))
    # fold i+1's train = fold i's train + fold i's test (expanding)
    assert seen_train[1] == seen_train[0] + len(seen_test[0])


def test_time_series_split_numeric_and_quantile(spark):
    from dask_ml_spark.plans.model_selection import TimeSeriesSplit
    import pytest as _pytest

    # heavily skewed numeric time: range cuts give lopsided folds,
    # quantile cuts balance them
    rows = [(i, int(i ** 3)) for i in range(200)]
    df = spark.createDataFrame(rows, "i long, t long")
    qt = TimeSeriesSplit(n_splits=3, time_col="t", boundary="quantile")
    sizes = [test.count() for _, test in qt.split(df)]
    assert all(30 <= s <= 70 for s in sizes), sizes
    for _, dtest in TimeSeriesSplit(n_splits=3, time_col="t").split(df):
        assert dtest.count() >= 0  # range mode still partitions cleanly
    with _pytest.raises(ValueError, match="boundary"):
        TimeSeriesSplit(boundary="nope")


def test_time_series_split_quantile_collision_raises(spark):
    from dask_ml_spark.plans.model_selection import TimeSeriesSplit
    import pytest as _pytest

    # 90% of rows share one timestamp: adjacent quantile cuts collide
    rows = [(i, 1000) for i in range(180)] + [(200 + i, 2000 + i)
                                              for i in range(20)]
    df = spark.createDataFrame(rows, "i long, t long")
    tss = TimeSeriesSplit(n_splits=4, time_col="t", boundary="quantile")
    with _pytest.raises(ValueError, match="collide"):
        list(tss.split(df))


def test_time_series_split_range_guard_on_constant_time(spark):
    """boundary='range' on a (near-)constant time column must raise
    like the quantile path, not yield empty degenerate folds."""
    import pytest

    from dask_ml_spark.plans.model_selection import TimeSeriesSplit

    df = spark.createDataFrame([(7, i) for i in range(20)], ["ts", "x"])
    with pytest.raises(ValueError, match="too narrow"):
        TimeSeriesSplit(n_splits=4, time_col="ts",
                        boundary="range").cuts(df)
    # range 0..2 cannot host 4 interior cuts either
    df2 = spark.createDataFrame(
        [(i % 3, i) for i in range(20)], ["ts", "x"])
    with pytest.raises(ValueError, match="too narrow"):
        TimeSeriesSplit(n_splits=4, time_col="ts",
                        boundary="range").cuts(df2)


def _fold_frame(spark, n=1500, seed=0):
    import pandas as pd

    rng = np.random.RandomState(seed)
    X = rng.randn(n, 3) * [1.0, 2.0, 0.5] + [0.0, 1.0, 2.0]
    logit = X @ [0.8, -0.3, 0.5] - 1.0
    pdf = pd.DataFrame(X, columns=["a", "b", "c"])
    pdf["label"] = (rng.rand(n) < 1 / (1 + np.exp(-logit))).astype(float)
    pdf["__fold"] = rng.randint(0, 2, n)
    return spark.createDataFrame(pdf).repartition(3).cache()


def test_batched_newton_matches_per_fit_solvers(spark):
    """Every (candidate, fold) model of one batched Newton pass equals
    its own solvers.newton fit on the fold's train rows to 1e-8, and
    agrees with MLlib's solver="auto" fit to 1e-3 (same objective, same
    optimum). One aggregate then scores them all to the values
    score_estimator gives per model."""
    from dask_ml_spark.functions.metrics import (get_scorer, score_estimator,
                                                 score_folds)
    from dask_ml_spark.operators import solvers
    from dask_ml_spark.operators.linear_model import (_solver_kwargs,
                                                      fit_newton_batch)

    df = _fold_frame(spark)
    cols = ["a", "b", "c"]
    grid = [(C, fi) for C in (0.1, 10.0) for fi in (0, 1)]
    ests = [LogisticRegression(C=C, tol=1e-10, max_iter=50) for C, _ in grid]
    fit_newton_batch(ests, df, cols, "label", fold_col="__fold",
                     train_mask=[[t != fi for _, fi in grid] for t in (0, 1)])
    for est, (C, fi) in zip(ests, grid):
        train = df.where(F.col("__fold") != fi)
        beta = solvers.newton(train, cols, "label", "logistic",
                              **_solver_kwargs(est))
        np.testing.assert_allclose(est.coef_, beta[:3], atol=1e-8)
        assert abs(est.intercept_ - beta[3]) < 1e-8
        ml = LogisticRegression(C=C, tol=1e-10, max_iter=200).fit(
            train, cols, "label")
        np.testing.assert_allclose(est.coef_, ml.coef_, atol=1e-3)
        assert abs(est.intercept_ - ml.intercept_) < 1e-3
    for name in ("accuracy", "neg_mean_squared_error"):
        scorer = get_scorer(name)
        got = score_folds(scorer, [(e, fi) for e, (_, fi) in zip(ests, grid)],
                          df, "__fold", "label")
        want = [score_estimator(scorer, e, df.where(F.col("__fold") == fi),
                                "label") for e, (_, fi) in zip(ests, grid)]
        np.testing.assert_allclose(got, want, rtol=1e-12)
    assert score_folds(get_scorer("roc_auc"), [(ests[0], 0)], df, "__fold",
                       "label") is None


def test_grid_search_batches_eligible_candidates_only(spark, monkeypatch):
    """A grid mixing solver=["lbfgs", "newton"] runs both paths: the
    newton candidates in one batched pass, the lbfgs one by its own
    MLlib fit; cv_results_ is filled for every candidate, and a
    duplicate candidate shares its fit."""
    from dask_ml_spark.operators import linear_model

    df = _fold_frame(spark, n=600, seed=1).drop("__fold")
    batches, pooled = [], []
    real_batch = linear_model.fit_newton_batch
    real_fit = LogisticRegression.fit

    def batch(ests, *a, **kw):
        batches.append([(e.solver, e.C) for e in ests])
        return real_batch(ests, *a, **kw)

    def fit(self, *a, **kw):
        pooled.append((self.solver, self.C))
        return real_fit(self, *a, **kw)

    monkeypatch.setattr(linear_model, "fit_newton_batch", batch)
    monkeypatch.setattr(LogisticRegression, "fit", fit)
    gs = GridSearchCV(
        LogisticRegression(max_iter=20),
        [{"solver": ["lbfgs", "newton"], "C": [1.0]},
         {"solver": ["newton"], "C": [1.0, 0.1]}],
        cv=KFold(n_splits=2, shuffle=True, random_state=0), refit=False)
    gs.fit(df, ["a", "b", "c"])
    assert len(batches) == 1
    assert sorted(batches[0]) == sorted([("newton", 1.0), ("newton", 0.1)] * 2)
    assert pooled == [("lbfgs", 1.0)] * 2
    scores = gs.cv_results_["mean_test_score"]
    assert len(scores) == 4 and np.isfinite(scores).all()
    assert scores[1] == scores[2]  # the duplicate newton C=1.0


def test_grid_search_shuffle_split_stacks_splits(spark):
    """A cv without a fold column (ShuffleSplit) is fitted over the
    stacked-splits frame: each batched (candidate, split) score equals
    a newton fit on that split's train rows scored on its test rows."""
    from dask_ml_spark.functions.metrics import get_scorer, score_estimator
    from dask_ml_spark.operators import solvers
    from dask_ml_spark.operators.linear_model import _set_fitted, _solver_kwargs

    df = _fold_frame(spark, n=600, seed=2).drop("__fold")
    cols = ["a", "b", "c"]
    cv = ShuffleSplit(n_splits=3, test_size=0.3, random_state=0)
    gs = GridSearchCV(LogisticRegression(max_iter=20), {"C": [0.1, 10.0]},
                      cv=cv, refit=False)
    gs.fit(df, cols)
    for ci, C in enumerate((0.1, 10.0)):
        for fi, (train, test) in enumerate(cv.split(df)):
            est = LogisticRegression(C=C, max_iter=20)
            beta = solvers.newton(train, cols, "label", "logistic",
                                  **_solver_kwargs(est))
            _set_fitted(est, beta[:3], beta[3], cols, "label")
            want = score_estimator(get_scorer("accuracy"), est, test, "label")
            assert abs(gs.cv_results_[f"split{fi}_test_score"][ci] - want) < 1e-9
