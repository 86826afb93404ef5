"""Small numpy-only estimators implementing the sklearn protocol
(fit / partial_fit / predict / predict_proba / transform).

These serve two roles: (1) the pluggable-estimator surface of the
wrappers (ParallelPostFit / Incremental / Blockwise*) is exercised
without sklearn being installed, and (2) they are the driver-side
models the adaptive hyperparameter searches train on partition
batches (reference trains sklearn models the same way —
model_selection/_incremental.py). Defined in the package (not tests)
so executors can unpickle them by reference.
"""

from __future__ import annotations

import numpy as np


class CentroidClassifier:
    """Nearest-class-centroid classifier with exact merge-able
    partial_fit (sums + counts are associative)."""

    _estimator_type = "classifier"

    def __init__(self):
        self.sums_ = {}
        self.counts_ = {}

    def get_params(self, deep=True):
        return {}

    def fit(self, X, y):
        self.sums_, self.counts_ = {}, {}
        return self.partial_fit(X, y)

    def partial_fit(self, X, y, classes=None):
        X = np.asarray(X, dtype="float64")
        y = np.asarray(y)
        for c in np.unique(y):
            m = y == c
            key = c.item() if hasattr(c, "item") else c
            self.sums_[key] = self.sums_.get(key, 0) + X[m].sum(axis=0)
            self.counts_[key] = self.counts_.get(key, 0) + int(m.sum())
        self.classes_ = np.array(sorted(self.counts_))
        return self

    @property
    def centroids_(self):
        return np.stack([self.sums_[c] / self.counts_[c] for c in self.classes_])

    def _dist(self, X):
        X = np.asarray(X, dtype="float64")
        C = self.centroids_
        return ((X[:, None, :] - C[None]) ** 2).sum(axis=2)

    def predict(self, X):
        return self.classes_[self._dist(X).argmin(axis=1)].astype("float64")

    def predict_proba(self, X):
        e = np.exp(-self._dist(X))
        return e / e.sum(axis=1, keepdims=True)


class MeanRegressor:
    """Predicts the training mean — the minimal RegressorMixin."""

    _estimator_type = "regressor"

    def get_params(self, deep=True):
        return {}

    def fit(self, X, y):
        self.sum_ = float(np.sum(y))
        self.n_ = len(y)
        return self

    def partial_fit(self, X, y):
        self.sum_ = getattr(self, "sum_", 0.0) + float(np.sum(y))
        self.n_ = getattr(self, "n_", 0) + len(y)
        return self

    @property
    def mean_(self):
        return self.sum_ / self.n_

    def predict(self, X):
        return np.full(len(X), self.mean_)


class SufficientStatsRidge:
    """Exact streaming ridge regression: partial_fit accumulates the
    second-order sufficient statistics (n, Σx, Σy, Σxxᵀ, Σxy) and the
    coefficients solve the centered penalized normal equations
    (XᵀX/n − x̄x̄ᵀ + αI) w = (Xᵀy/n − x̄ȳ), b = ȳ − wᵀx̄ on demand.

    Unlike SGD the state after any batch multiset is a CLOSED FORM of
    the batch sums — order-free, merge-able, and exactly replayable by
    a SQL oracle — which makes this the content-deterministic model
    for verifying the adaptive searches end-to-end (the analog of the
    one-step-exact newton ridge that oracles pipeline_grid_search).
    It is also a genuinely useful online model: one pass, exact ridge,
    no learning rate."""

    _estimator_type = "regressor"

    def __init__(self, alpha: float = 1.0):
        self.alpha = alpha

    def get_params(self, deep=True):
        return {"alpha": self.alpha}

    def set_params(self, **p):
        for k, v in p.items():
            setattr(self, k, v)
        return self

    def partial_fit(self, X, y):
        X = np.asarray(X, dtype="float64")
        y = np.asarray(y, dtype="float64")
        if not hasattr(self, "n_"):
            d = X.shape[1]
            self.n_ = 0.0
            self.sx_ = np.zeros(d)
            self.sy_ = 0.0
            self.sxx_ = np.zeros((d, d))
            self.sxy_ = np.zeros(d)
        self.n_ += float(len(y))
        self.sx_ += X.sum(axis=0)
        self.sy_ += float(y.sum())
        self.sxx_ += X.T @ X
        self.sxy_ += X.T @ y
        return self

    def fit(self, X, y):
        for a in ("n_", "sx_", "sy_", "sxx_", "sxy_"):
            if hasattr(self, a):
                delattr(self, a)
        return self.partial_fit(X, y)

    def _solve(self):
        n = self.n_
        mx = self.sx_ / n
        my = self.sy_ / n
        cov = self.sxx_ / n - np.outer(mx, mx) + self.alpha * np.eye(len(mx))
        cxy = self.sxy_ / n - mx * my
        d = len(mx)
        # d <= 2: explicit Cramer arithmetic in the same operation
        # order as the SQL oracle replay (LAPACK solve differs in the
        # last ulps — the Mahalanobis precedent)
        if d == 1:
            w = np.array([float(cxy[0]) / float(cov[0, 0])])
        elif d == 2:
            a, b2, c2 = float(cov[0, 0]), float(cov[0, 1]), float(cov[1, 1])
            det = a * c2 - b2 * b2
            w = np.array([(float(cxy[0]) * c2 - b2 * float(cxy[1])) / det,
                          (float(cxy[1]) * a - b2 * float(cxy[0])) / det])
        else:
            w = np.linalg.solve(cov, cxy)
        return w, my - float(w @ mx)

    def predict(self, X):
        w, b = self._solve()
        return np.asarray(X, dtype="float64") @ w + b

    def score(self, X, y):
        y = np.asarray(y, dtype="float64")
        resid = y - self.predict(X)
        sst = float(((y - y.mean()) ** 2).sum())
        return 1.0 - float((resid ** 2).sum()) / sst if sst else 0.0


class SGDClassifier:
    """Logistic regression by mini-batch SGD with partial_fit — the
    incremental-learning workhorse for the adaptive searches (stand-in
    for sklearn.linear_model.SGDClassifier)."""

    _estimator_type = "classifier"

    def __init__(self, alpha: float = 1e-4, lr: float = 0.1, random_state: int = 0):
        self.alpha = alpha
        self.lr = lr
        self.random_state = random_state

    def get_params(self, deep=True):
        return {"alpha": self.alpha, "lr": self.lr, "random_state": self.random_state}

    def set_params(self, **p):
        for k, v in p.items():
            setattr(self, k, v)
        return self

    def partial_fit(self, X, y, classes=None):
        X = np.asarray(X, dtype="float64")
        y = np.asarray(y, dtype="float64")
        if not hasattr(self, "coef_"):
            self.coef_ = np.zeros(X.shape[1])
            self.intercept_ = 0.0
            self.t_ = 0
        margin = X @ self.coef_ + self.intercept_
        p = 1.0 / (1.0 + np.exp(-np.clip(margin, -35, 35)))
        g = p - y
        self.coef_ -= self.lr * (X.T @ g / len(y) + self.alpha * self.coef_)
        self.intercept_ -= self.lr * float(g.mean())
        self.t_ += 1
        return self

    def fit(self, X, y, epochs: int = 20):
        for _ in range(epochs):
            self.partial_fit(X, y)
        return self

    def decision_function(self, X):
        return np.asarray(X, dtype="float64") @ self.coef_ + self.intercept_

    def predict(self, X):
        return (self.decision_function(X) > 0).astype("float64")

    def predict_proba(self, X):
        p = 1.0 / (1.0 + np.exp(-np.clip(self.decision_function(X), -35, 35)))
        return np.column_stack([1 - p, p])

    def score(self, X, y):
        return float((self.predict(X) == np.asarray(y, dtype="float64")).mean())
