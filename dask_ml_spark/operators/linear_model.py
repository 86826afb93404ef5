"""Generalized linear models.

Reference: dask_ml/linear_model/glm.py:98-385 — delegates solvers to
dask_glm (admm/lbfgs/proximal_grad/newton/gradient_descent). Spark
already ships these solver families JVM-side (L-BFGS / OWL-QN / IRLS)
inside pyspark.ml — distributed gradient aggregation via treeAggregate,
which is exactly the dask solvers' communication pattern. So fitting
delegates to MLlib; the fitted coefficients come back to the driver as
small numpy state, and predict/predict_proba are pure column
expressions (X·β folded into the plan as literals — no UDF, no MLlib
model object needed at serve time).

Regularization mapping (reference glm.py:40-42,146): C ↔ regParam =
1/C (per-sample scaling matches MLlib's objective), penalty l1/l2 ↔
elasticNetParam 1.0/0.0.

Solver surface (reference glm.py:61-64,139-171): ``admm``,
``gradient_descent``, ``newton``, ``lbfgs``, ``proximal_grad``.
``auto``/``lbfgs`` delegate to MLlib (JVM treeAggregate); the other four
run our distributed implementations in ``operators/solvers.py`` — same
objective, same optimum, different communication pattern. Inside a CV
search (GridSearchCV & co) ``solver="auto"`` means something else for
the candidates ``newton_batch_family`` admits: they are fitted by the
batched Newton pass, one scan per iteration for every (candidate, fold)
model, while a single ``fit`` (and the search's refit) runs MLlib
L-BFGS. Both minimize the same strictly convex objective, so they reach
the same optimum.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.base import BaseEstimator, ClassifierMixin, RegressorMixin


def _assemble(df: DataFrame, cols, out="__features"):
    from pyspark.ml.feature import VectorAssembler

    from dask_ml_spark.utils import ensure_min_partitions

    va = VectorAssembler(inputCols=list(cols), outputCol=out)
    return va.transform(ensure_min_partitions(df))


def _reuse_assembled(df: DataFrame, cols, label_col, out="__features"):
    """Return ``df`` unchanged when it already carries a ``__features``
    vector assembled from exactly ``cols`` (checked via the ML-attr
    metadata VectorAssembler writes) and a double label — the CV-cache
    fast path: GridSearchCV/Hyperband assemble ONCE at the fold-cache
    grain, and every (candidate, fold) fit plus the refit skips its own
    assemble + persist + materialize. None → caller assembles itself."""
    if out not in df.columns or label_col not in df.columns:
        return None
    if df.schema[label_col].dataType.simpleString() != "double":
        return None
    try:
        attrs = df.schema[out].metadata["ml_attr"]["attrs"]
        flat = [a for group in attrs.values() for a in group]
        flat.sort(key=lambda a: a["idx"])
        assembled_names = [a["name"] for a in flat]
    except (KeyError, TypeError):
        return None
    return df if assembled_names == list(cols) else None


def _fit_assembled(estimator, df: DataFrame, cols, label_col):
    """Fit an MLlib ``estimator`` on ``__features``: reuse a
    caller-assembled CV-cache frame when present, else assemble +
    persist a private copy (the solver's treeAggregate rescans the
    input once per iteration) and unpersist it in ``finally``, so a
    fit that raises leaves no CacheManager entry behind."""
    pre = _reuse_assembled(df, cols, label_col)
    if pre is not None:
        return estimator.fit(pre)
    assembled = _assemble(
        df.select(*cols, F.col(label_col).cast("double").alias(label_col)),
        cols).persist()
    try:
        return estimator.fit(assembled)
    finally:
        assembled.unpersist()


def _solver_kwargs(est) -> dict:
    from dask_ml_spark.operators.solvers import glm_solver_kwargs

    return glm_solver_kwargs(
        getattr(est, "penalty", "l2"), est.C, est.fit_intercept,
        est.max_iter, est.tol, est.solver_kwargs)


def _set_fitted(est, coef, intercept, cols, label_col):
    est.coef_ = np.asarray(coef)
    est.intercept_ = float(intercept)
    if est._family == "logistic":
        est.classes_ = np.array([0.0, 1.0])
    est.feature_columns_ = cols
    est.label_col_ = label_col
    return est


def _fit_custom(est, df, cols, label_col):
    """Route non-lbfgs solver names to operators/solvers.py (reference
    glm.py:139-171 delegates the same names to dask_glm)."""
    from dask_ml_spark.operators.solvers import fit_glm

    coef, intercept = fit_glm(df, cols, label_col, est._family, est.solver,
                              _solver_kwargs(est))
    return _set_fitted(est, coef, intercept, cols, label_col)


def newton_batch_family(est) -> str | None:
    """The GLM family when ``est`` can join a CV search's batched Newton
    pass (fit_newton_batch), else None — the one place that decides.

    Eligible: a LogisticRegression, LinearRegression or
    PoissonRegression with ``solver`` "auto" or "newton" whose
    objective is strictly convex — an l2 penalty with finite C, or the
    unpenalized gaussian family (ordinary least squares). For "auto"
    the batched optimum must also be the one its own MLlib ``fit``
    reaches, which holds for logistic and for OLS but not for a
    penalized gaussian or poisson fit: MLlib scales the gaussian ridge
    penalty by the label's std, and GLR penalizes standardized
    coefficients. Everything else (those, explicit "lbfgs" or another
    solver, l1/elastic-net, unpenalized logistic/poisson, non-GLM
    estimators) is fitted on its own by its ``fit``."""
    if not isinstance(est, _GLM) or est.solver not in ("auto", "newton"):
        return None
    kw = _solver_kwargs(est)
    if kw["lamduh"] == 0.0:
        ok = est._family == "gaussian"
    else:
        ok = kw["regularizer"] == "l2" and (
            est.solver == "newton" or est._family == "logistic")
    return est._family if ok else None


def fit_newton_batch(ests, df: DataFrame, columns, label_col: str,
                     fold_col: str | None = None, train_mask=None) -> None:
    """Fit every estimator of ``ests`` (all admitted by
    newton_batch_family, one family) together: one
    ``solvers.newton_many`` call, so each Newton iteration is ONE scan
    of ``df`` for the whole batch. With ``fold_col``, ``ests[i]`` trains
    on the rows whose int tag ``t`` has ``train_mask[t, i]`` set. Sets each
    estimator's fitted state in place. ``df`` should be cached — every
    iteration rescans it."""
    from dask_ml_spark.operators.solvers import newton_many

    train = df.drop(fold_col) if fold_col is not None else df
    for est in ests:
        cols = est._validate_data(train, columns)
    proj = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols],
        F.col(label_col).cast("double").alias(label_col),
        *([fold_col] if fold_col is not None else []))
    betas = newton_many(proj, cols, label_col, ests[0]._family,
                        [_solver_kwargs(est) for est in ests],
                        fold_col, train_mask)
    d = len(cols)
    for est, beta in zip(ests, betas):
        _set_fitted(est, beta[:d], beta[d] if len(beta) > d else 0.0,
                    cols, label_col)


class _GLM(BaseEstimator):
    """What the three GLMs share: the family and the CV-cache hook."""

    _family: str

    def prepare_cv_cache(self, df, columns, label_col):
        """GLM CV-cache preparation for an MLlib-delegating estimator:
        spread the frame (ensure_min_partitions) and cast the label to
        double, then pre-assemble ``__features`` at the fold-cache grain
        (see _reuse_assembled) so the (candidate, fold) MLlib fits share
        one cached assembly instead of persisting k*n_candidates private
        ones. Candidates of the batched Newton pass read the raw
        columns, so an estimator newton_batch_family admits skips the
        assembly (the spread stays: the KFold fold column is computed
        over this partitioning). Custom solvers read raw columns, no
        prep."""
        from dask_ml_spark.utils import ensure_min_partitions

        if self.solver not in ("auto", "lbfgs") or columns is None:
            return df
        keep = [c for c in df.columns if c != label_col]
        df = df.select(*keep, F.col(label_col).cast("double").alias(label_col))
        if newton_batch_family(self) is not None:
            return ensure_min_partitions(df)
        return _assemble(df, list(columns))


def _linear_expr(cols, coef, intercept):
    """intercept + Σ col·w as ONE parsed SQL expression: the same
    left-associative chain of double casts and double literals a
    Column loop builds, for one py4j round trip instead of ~5 per
    term (it is built per scored model in a CV search)."""
    from dask_ml_spark.operators.pairwise import _qcol
    from dask_ml_spark.utils import sql_scalar_lit

    def lit(v):
        v = float(v)
        return (sql_scalar_lit(v) if np.isfinite(v)
                else f"CAST('{v!r}' AS DOUBLE)")

    terms = [lit(intercept)]
    for c, w in zip(cols, coef):
        if w != 0.0:  # L1-sparse models skip zero terms entirely
            terms.append(f"CAST({_qcol(c)} AS DOUBLE) * {lit(w)}")
    return F.expr(" + ".join(terms))


class LinearRegression(_GLM, RegressorMixin):
    """OLS / ridge / lasso (reference glm.py:225-268)."""

    _family = "gaussian"

    def __init__(self, penalty: str = "l2", C: float = 1.0, fit_intercept: bool = True,
                 max_iter: int = 100, tol: float = 1e-6, solver: str = "auto",
                 solver_kwargs: dict | None = None):
        self.penalty = penalty
        self.C = C
        self.fit_intercept = fit_intercept
        self.max_iter = max_iter
        self.tol = tol
        self.solver = solver
        self.solver_kwargs = solver_kwargs

    def fit(self, df: DataFrame, columns=None, label_col: str = "label") -> "LinearRegression":
        from pyspark.ml.regression import LinearRegression as MLlibLR

        cols = self._validate_data(df, columns)
        if self.solver not in ("auto", "lbfgs"):
            return _fit_custom(self, df, cols, label_col)
        reg = 0.0 if self.C in (None, float("inf")) else 1.0 / self.C
        if self.penalty is None or self.penalty == "none":
            reg, elastic = 0.0, 0.0
        else:
            elastic = 1.0 if self.penalty == "l1" else 0.0
        m = _fit_assembled(MLlibLR(
            featuresCol="__features", labelCol=label_col,
            regParam=reg, elasticNetParam=elastic,
            # the reference (dask_glm) penalizes raw-space coefficients;
            # MLlib's default standardization=True would change the
            # regularized optimum and break cross-solver agreement
            standardization=False,
            fitIntercept=self.fit_intercept, maxIter=self.max_iter, tol=self.tol,
        ), df, cols, label_col)
        return _set_fitted(self, m.coefficients.toArray(), m.intercept,
                           cols, label_col)

    def predict(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        return df.withColumn(output_col, _linear_expr(self.feature_columns_, self.coef_, self.intercept_))


class LogisticRegression(_GLM, ClassifierMixin):
    """Binary logistic regression (reference glm.py:270-330)."""

    _family = "logistic"

    def __init__(self, penalty: str = "l2", C: float = 1.0, fit_intercept: bool = True,
                 max_iter: int = 100, tol: float = 1e-6, threshold: float = 0.5,
                 solver: str = "auto", solver_kwargs: dict | None = None):
        self.penalty = penalty
        self.C = C
        self.fit_intercept = fit_intercept
        self.max_iter = max_iter
        self.tol = tol
        self.threshold = threshold
        self.solver = solver
        self.solver_kwargs = solver_kwargs

    def fit(self, df: DataFrame, columns=None, label_col: str = "label") -> "LogisticRegression":
        from pyspark.ml.classification import LogisticRegression as MLlibLogReg

        cols = self._validate_data(df, columns)
        if self.solver not in ("auto", "lbfgs"):
            return _fit_custom(self, df, cols, label_col)
        reg = 0.0 if self.C in (None, float("inf")) else 1.0 / self.C
        if self.penalty is None or self.penalty == "none":
            reg, elastic = 0.0, 0.0
        else:
            elastic = 1.0 if self.penalty == "l1" else 0.0
        m = _fit_assembled(MLlibLogReg(
            featuresCol="__features", labelCol=label_col,
            regParam=reg, elasticNetParam=elastic,
            # the reference (dask_glm) penalizes raw-space coefficients;
            # MLlib's default standardization=True would change the
            # regularized optimum and break cross-solver agreement
            standardization=False,
            fitIntercept=self.fit_intercept, maxIter=self.max_iter, tol=self.tol,
        ), df, cols, label_col)
        return _set_fitted(self, m.coefficients.toArray(), m.intercept,
                           cols, label_col)

    def decision_function(self, df: DataFrame, output_col: str = "decision") -> DataFrame:
        return df.withColumn(output_col, _linear_expr(self.feature_columns_, self.coef_, self.intercept_))

    def predict_proba(self, df: DataFrame, output_col: str = "probability") -> DataFrame:
        margin = _linear_expr(self.feature_columns_, self.coef_, self.intercept_)
        return df.withColumn(output_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)))

    def predict(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        margin = _linear_expr(self.feature_columns_, self.coef_, self.intercept_)
        sigma = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        return df.withColumn(output_col, (sigma > self.threshold).cast("double"))


class PoissonRegression(_GLM, RegressorMixin):
    """Poisson GLM with log link (reference glm.py:332-385) via MLlib
    GeneralizedLinearRegression (IRLS, distributed)."""

    _family = "poisson"

    def __init__(self, C: float = 1.0, fit_intercept: bool = True,
                 max_iter: int = 25, tol: float = 1e-6, solver: str = "auto",
                 solver_kwargs: dict | None = None):
        self.C = C
        self.fit_intercept = fit_intercept
        self.max_iter = max_iter
        self.tol = tol
        self.solver = solver
        self.solver_kwargs = solver_kwargs
        self.penalty = "l2"

    def fit(self, df: DataFrame, columns=None, label_col: str = "label") -> "PoissonRegression":
        from pyspark.ml.regression import GeneralizedLinearRegression

        cols = self._validate_data(df, columns)
        if self.solver not in ("auto", "lbfgs"):
            return _fit_custom(self, df, cols, label_col)
        reg = 0.0 if self.C in (None, float("inf")) else 1.0 / self.C
        m = _fit_assembled(GeneralizedLinearRegression(
            featuresCol="__features", labelCol=label_col,
            family="poisson", link="log",
            regParam=reg, fitIntercept=self.fit_intercept,
            maxIter=self.max_iter, tol=self.tol,
        ), df, cols, label_col)
        return _set_fitted(self, m.coefficients.toArray(), m.intercept,
                           cols, label_col)

    def predict(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        return df.withColumn(
            output_col, F.exp(_linear_expr(self.feature_columns_, self.coef_, self.intercept_))
        )
