"""Distributed GLM solvers: gradient_descent / newton / proximal_grad / admm.

Reference: dask_ml/linear_model/glm.py:139-171 — the reference delegates
these solver names to the external ``dask_glm`` package, whose
communication pattern is per-chunk partial sufficient statistics reduced
to the driver, with a tiny dense update driver-side. We re-express that
pattern Spark-first:

- Each *pass* is one ``mapInPandas`` over the persisted training frame:
  every partition emits ONE row of Arrow-encoded partials
  ``(n, loss, grad[d], hess[d*d]?)`` — per fit, for a batch of fits:
  ``newton_many`` fits every (candidate, fold) GLM of a CV grid with
  one pass per iteration over the fold-tagged cache. The reduce is a driver sum over
  #partitions rows — the same shape as MLlib's ``treeAggregate`` (and
  O(P·d) / O(P·d²) doubles of traffic, a few MB for d ≤ ~500 even with
  thousands of partitions). For larger d, use ``solver="lbfgs"`` (MLlib,
  JVM-side aggregation).
- The input is persisted once; every pass rescans the cached partitions,
  so per-iteration cost is compute, not IO — identical to how the
  reference persists chunks across dask_glm iterations.
- ADMM is *consensus* ADMM (Boyd et al. 2011 §7.1.1, the algorithm
  dask_glm implements): each partition solves its local subproblem
  against its own cached block (local damped Newton, numpy), and only
  K×d doubles (local betas) move per round.

Objective convention: all solvers minimize
``mean(loss_i) + lam * (alpha*||w||_1 + (1-alpha)/2*||w||_2^2)`` with the
intercept never penalized — the SAME objective MLlib optimizes, so
``solver=`` is a pure strategy choice: every solver converges to the
same optimum (the reference's dask_glm instead penalizes the intercept,
a known wart we deliberately do not copy). Per the reference
(glm.py:148-150), ``gradient_descent`` and ``newton`` run unregularized.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MARGIN_CLIP = 350.0  # exp() overflow guard for logistic/poisson links


# ---------------------------------------------------------------------------
# Families: margin -> (pointwise loss, mean mu, hessian weight)
# ---------------------------------------------------------------------------

def _family_funcs(family: str):
    if family == "gaussian":
        def loss(m, y):
            r = m - y
            return 0.5 * r * r

        def mu(m):
            return m

        def weight(m):
            return np.ones_like(m)

    elif family == "logistic":
        def loss(m, y):
            # log(1+e^m) - y*m, numerically stable
            return np.logaddexp(0.0, m) - y * m

        def mu(m):
            return 1.0 / (1.0 + np.exp(-np.clip(m, -_MARGIN_CLIP, _MARGIN_CLIP)))

        def weight(m):
            p = mu(m)
            return p * (1.0 - p)

    elif family == "poisson":
        def loss(m, y):
            return np.exp(np.clip(m, -_MARGIN_CLIP, _MARGIN_CLIP)) - y * m

        def mu(m):
            return np.exp(np.clip(m, -_MARGIN_CLIP, _MARGIN_CLIP))

        def weight(m):
            return mu(m)

    else:  # pragma: no cover - guarded by callers
        raise ValueError(f"unknown family {family!r}")
    return loss, mu, weight


# ---------------------------------------------------------------------------
# One distributed pass: per-partition partials (n, loss, grad, hess) for
# every fit of a batch
# ---------------------------------------------------------------------------

def _batch_suffstats(df: DataFrame, cols, label_col: str, betas: np.ndarray,
                     family: str, want_grad: bool, want_hess: bool,
                     fold_col: str | None = None, train_mask=None):
    """One scan of ``df`` for F fits at once.

    ``betas`` is (F, d+1), intercept last (0 for a fit without one).
    Fit ``f`` reads every row whose int ``fold_col`` tag ``t`` has
    ``train_mask[t, f]`` set; without ``fold_col`` every fit reads every
    row.
    Each partition computes the (n, F) margins ``X @ Bᵀ`` once and
    emits one row of per-fit partials. Returns (n[F], mean_loss[F],
    grad[F, d+1]/n, hess[F, d+1, d+1]/n), grad/hess None unless
    requested. The layout mirrors the reference's
    ``add_intercept`` appended column (linear_model/utils.py:41-43).
    """
    d = len(cols)
    p = d + 1
    B = np.atleast_2d(np.asarray(betas, dtype=np.float64)).copy()
    nfit = B.shape[0]
    M = (np.asarray(train_mask, dtype=np.float64).copy()
         if fold_col is not None else None)
    loss_f, mu_f, w_f = _family_funcs(family)
    schema = ("n array<double>, loss array<double>, grad array<double>, "
              "hess array<double>")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = np.zeros(nfit)
        loss_tot = np.zeros(nfit)
        g = np.zeros((p, nfit)) if want_grad else None
        h = np.zeros((nfit, p, p)) if want_hess else None
        for pdf in it:
            X = np.empty((len(pdf), p))
            X[:, :d] = pdf[list(cols)].to_numpy(dtype=np.float64)
            X[:, d] = 1.0
            y = pdf[label_col].to_numpy(dtype=np.float64)[:, None]
            m = X @ B.T
            t = (np.ones((len(pdf), 1)) if M is None
                 else M[pdf[fold_col].to_numpy()])
            n += t.sum(axis=0)
            loss_tot += (loss_f(m, y) * t).sum(axis=0)
            if g is not None:
                g += X.T @ ((mu_f(m) - y) * t)
            if h is not None:
                w = w_f(m) * t
                for f in range(nfit):
                    h[f] += X.T @ (X * w[:, f, None])
        yield pd.DataFrame({
            "n": [n.tolist()],
            "loss": [loss_tot.tolist()],
            "grad": [g.T.ravel().tolist() if g is not None else None],
            "hess": [h.ravel().tolist() if h is not None else None],
        })

    rows = df.mapInPandas(gen, schema=schema).collect()
    n = np.sum([r["n"] for r in rows], axis=0) if rows else np.zeros(nfit)
    if not (n > 0).all():
        raise ValueError("cannot fit on an empty DataFrame")
    loss = np.sum([r["loss"] for r in rows], axis=0) / n
    grad = hess = None
    if want_grad:
        grad = (np.sum([r["grad"] for r in rows], axis=0)
                .reshape(nfit, p) / n[:, None])
    if want_hess:
        hess = (np.sum([r["hess"] for r in rows], axis=0)
                .reshape(nfit, p, p) / n[:, None, None])
    return n, loss, grad, hess


def _suffstats(df: DataFrame, cols, label_col: str, beta: np.ndarray,
               family: str, fit_intercept: bool, want_grad: bool,
               want_hess: bool):
    """The one-fit, no-fold case of _batch_suffstats: returns
    (n, mean_loss, grad/n, hess/n) over the fit's k = d(+1) coefficients."""
    d = len(cols)
    k = d + 1 if fit_intercept else d
    b = np.zeros(d + 1)
    b[:k] = beta
    n, loss, grad, hess = _batch_suffstats(
        df, cols, label_col, b[None, :], family, want_grad, want_hess)
    return (float(n[0]), float(loss[0]),
            grad[0, :k] if grad is not None else None,
            hess[0, :k, :k] if hess is not None else None)


def _loss_only(df, cols, label_col, beta, family, fit_intercept):
    _, loss, _, _ = _suffstats(df, cols, label_col, beta, family,
                               fit_intercept, False, False)
    return loss


def _reg_value(beta, d, lam, alpha):
    if lam == 0.0:
        return 0.0
    w = beta[:d]
    return lam * (alpha * float(np.abs(w).sum())
                  + (1.0 - alpha) * 0.5 * float(w @ w))


def _l2_grad_inplace(grad, beta, d, lam, alpha):
    if lam > 0.0 and alpha < 1.0:
        grad[:d] += lam * (1.0 - alpha) * beta[:d]
    return grad


# ---------------------------------------------------------------------------
# Solvers — each returns the full beta vector (intercept last if fitted)
# ---------------------------------------------------------------------------

def gradient_descent(df, cols, label_col, family, fit_intercept=True,
                     max_iter=100, tol=1e-8, **_):
    """Armijo-backtracking gradient descent (unregularized, matching
    reference glm.py:148-150 which strips the regularizer for this
    solver). One grad pass + >=1 loss-only passes per iteration."""
    d = len(cols)
    k = d + 1 if fit_intercept else d
    beta = np.zeros(k)
    step = 1.0
    armijo, backtrack, growth = 1e-4, 0.5, 1.25
    _, f0, grad, _ = _suffstats(df, cols, label_col, beta, family,
                                fit_intercept, True, False)
    for _it in range(max_iter):
        gnorm2 = float(grad @ grad)
        if gnorm2 < tol:
            break
        # backtrack until the Armijo sufficient-decrease test passes
        while True:
            cand = beta - step * grad
            f_new = _loss_only(df, cols, label_col, cand, family, fit_intercept)
            if f_new <= f0 - armijo * step * gnorm2 or step < 1e-12:
                break
            step *= backtrack
        if abs(f0 - f_new) <= tol * max(1.0, abs(f0)):
            beta, f0 = cand, f_new
            break
        beta, f0 = cand, f_new
        step *= growth
        _, _, grad, _ = _suffstats(df, cols, label_col, beta, family,
                                   fit_intercept, True, False)
    return beta


def newton(df, cols, label_col, family, **kwargs):
    """Newton-Raphson / IRLS; smooth (L2) penalties supported exactly —
    grad += lam*w and hess += lam*I on the weight block, so the
    gaussian/ridge case is STILL one-step exact (the ridge normal
    equations), which is what makes GridSearchCV over ridge C
    SQL-oracle-able. L1 is non-smooth and routes to proximal_grad/admm
    (raise here rather than silently ignoring it — dask_glm's newton is
    unregularized). One grad+hess pass per iteration; the (k x k) solve
    is driver-side numpy. The one-fit case of newton_many."""
    return newton_many(df, cols, label_col, family, [kwargs])[0]


def _newton_spec(fit_intercept=True, max_iter=50, tol=1e-8, lamduh=0.0,
                 regularizer="l2", **_):
    if lamduh > 0.0 and regularizer != "l2":
        raise ValueError(
            "newton supports only smooth (l2) penalties; use "
            "proximal_grad or admm for l1/elastic_net")
    return fit_intercept, max_iter, tol, lamduh


def newton_many(df, cols, label_col, family, fits, fold_col=None,
                train_mask=None):
    """Newton for a batch of fits, one pass over ``df`` per iteration
    for the whole batch (see _batch_suffstats).

    ``fits`` holds one dict of newton keywords per fit (fit_intercept,
    max_iter, tol, lamduh, regularizer). With ``fold_col``, fit ``f``
    trains on the rows whose tag ``t`` has ``train_mask[t, f]`` set —
    every (candidate, split) model of a CV grid in one scan. The driver keeps
    each fit's penalty, solve and convergence test; a converged fit
    leaves the batch. Returns one beta per fit (intercept last if
    fitted).

    The intercept starts at the link of the fit's label mean — from
    beta=0 the exp-link Hessian is tiny next to the gradient and the
    first Poisson step overshoots by ~ln(mean(y)), after which Newton
    crawls back ~1 unit per iteration; mean-link init lands the first
    step near the optimum instead. The first pass needs no beta: at
    w=0 every margin of a fit is its intercept b0, so its gradient
    ``mu(b0)·Σx - Σx·y`` and Hessian ``weight(b0)·Σx·xᵀ`` follow from
    the moments a gaussian pass at beta=0 returns (``-Σx·y``, ``Σx·xᵀ``,
    the last row giving the label mean and Σx). That one pass is both
    the init and the first Newton step."""
    specs = [_newton_spec(**f) for f in fits]
    d = len(cols)
    B = np.zeros((len(specs), d + 1))
    M = np.asarray(train_mask) if fold_col is not None else None
    _, mu_f, w_f = _family_funcs(family)
    iters = [0] * len(specs)
    active = [f for f, s in enumerate(specs) if s[1] > 0]
    first = True
    while active:
        _, _, G, H = _batch_suffstats(
            df, cols, label_col, B[active], "gaussian" if first else family,
            True, True, fold_col, M[:, active] if M is not None else None)
        still = []
        for j, f in enumerate(active):
            fit_intercept, max_iter, tol, lamduh = specs[f]
            k = d + 1 if fit_intercept else d
            grad, hess = G[j, :k].copy(), H[j, :k, :k]
            if first:
                b0 = 0.0
                if fit_intercept and family != "gaussian":
                    mean_y = -G[j, d]
                    if family == "poisson":
                        b0 = np.log(max(mean_y, 1e-12))
                    else:
                        p = min(max(mean_y, 1e-9), 1.0 - 1e-9)
                        b0 = np.log(p / (1.0 - p))
                    B[f, d] = b0
                m0 = np.array([b0])
                grad = grad + float(mu_f(m0)[0]) * H[j, d, :k]
                hess = float(w_f(m0)[0]) * hess
            if lamduh > 0.0:
                grad[:d] += lamduh * B[f, :d]
                hess = hess + lamduh * np.diag(
                    np.concatenate([np.ones(d), np.zeros(k - d)]))
            hess = hess + 1e-10 * np.eye(k)  # guard exact singularity
            try:
                delta = np.linalg.solve(hess, grad)
            except np.linalg.LinAlgError:
                delta = np.linalg.lstsq(hess, grad, rcond=None)[0]
            B[f, :k] -= delta
            iters[f] += 1
            # gaussian: quadratic objective, constant Hessian — the
            # first step IS the normal-equation solution, so skip the
            # verification pass
            if (family != "gaussian" and float(delta @ delta) >= tol
                    and iters[f] < max_iter):
                still.append(f)
        active = still
        first = False
    return [B[f, :d + 1 if s[0] else d].copy() for f, s in enumerate(specs)]


def _prox(z, d, thresh, shrink):
    """Soft-threshold + L2 shrink on the weight block only."""
    out = z.copy()
    w = out[:d]
    if thresh > 0.0:
        w = np.sign(w) * np.maximum(np.abs(w) - thresh, 0.0)
    if shrink > 0.0:
        w = w / (1.0 + shrink)
    out[:d] = w
    return out


def proximal_grad(df, cols, label_col, family, fit_intercept=True,
                  max_iter=100, tol=1e-8, lamduh=0.0, regularizer="l2", **_):
    """Proximal gradient (ISTA with backtracking). Smooth part =
    mean loss + L2 term (gradient passes); the L1 part enters only via
    the prox, so the iterate is exactly sparse — matching dask_glm's
    ``proximal_grad`` contract for ``regularizer='l1'``."""
    d = len(cols)
    k = d + 1 if fit_intercept else d
    alpha = {"l1": 1.0, "l2": 0.0, "elastic_net": 0.5}[regularizer]
    beta = np.zeros(k)
    step = 1.0
    backtrack, growth = 0.5, 1.25
    for _it in range(max_iter):
        _, f_s, grad, _ = _suffstats(df, cols, label_col, beta, family,
                                     fit_intercept, True, False)
        _l2_grad_inplace(grad, beta, d, lamduh, alpha)
        f_s += _reg_value(beta, d, lamduh * (1 - alpha), 0.0)  # smooth L2 part
        while True:
            cand = _prox(beta - step * grad, d, lamduh * alpha * step, 0.0)
            diff = cand - beta
            f_cand = (_loss_only(df, cols, label_col, cand, family, fit_intercept)
                      + _reg_value(cand, d, lamduh * (1 - alpha), 0.0))
            # quadratic upper-bound test (Beck-Teboulle backtracking)
            if (f_cand <= f_s + float(grad @ diff)
                    + float(diff @ diff) / (2.0 * step)) or step < 1e-12:
                break
            step *= backtrack
        moved = float(diff @ diff)
        beta = cand
        step *= growth
        if moved < tol * max(1.0, float(beta @ beta)):
            break
    return beta


def admm(df, cols, label_col, family, fit_intercept=True, max_iter=250,
         lamduh=0.0, regularizer="l2", rho=1.0, abstol=1e-4, reltol=1e-2,
         local_iter=20, relax=1.5, min_block_rows=32, **_):
    """Consensus ADMM over partitions (Boyd §7.1.1; dask_glm's ``admm``).

    Each round: every cached partition solves
    ``argmin_x  sum_i loss_i(x)/N + (rho/2)||x - z + u_k||^2``
    by damped local Newton on its own block (numpy, no shuffle), then
    K local betas (K = #partitions) come back to the driver for the
    z-update (prox of the mean) and the dual update. Traffic per round:
    K*(d+1) doubles each way.
    """
    d = len(cols)
    k = d + 1 if fit_intercept else d
    alpha = {"l1": 1.0, "l2": 0.0, "elastic_net": 0.5}[regularizer]
    n_total = df.count()
    nparts = df.rdd.getNumPartitions()
    # degenerate local subproblems (a handful of rows per block) stall
    # consensus; shrink the block count for small inputs. At scale the
    # natural partitioning (>=millions of rows per block) passes as-is.
    if n_total < min_block_rows * nparts:
        nparts = max(1, int(n_total) // min_block_rows) or 1
        df = df.coalesce(nparts)
        nparts = df.rdd.getNumPartitions()
    loss_f, mu_f, w_f = _family_funcs(family)

    z = np.zeros(k)
    u = np.zeros((nparts, k))
    x = np.zeros((nparts, k))
    schema = "pid long, x array<double>"

    for _round in range(max_iter):
        z_b, u_b, x_b = z.copy(), u.copy(), x.copy()
        warm = _round > 0

        def local_solve(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            chunks = [p for p in it]
            if not chunks:
                return
            pdf = pd.concat(chunks, ignore_index=True)
            X = pdf[list(cols)].to_numpy(dtype=np.float64)
            y = pdf[label_col].to_numpy(dtype=np.float64)
            if fit_intercept:
                X = np.concatenate([X, np.ones((X.shape[0], 1))], axis=1)
            v = z_b - u_b[pid]
            xk = x_b[pid].copy() if warm else v.copy()
            for _ in range(local_iter):
                m = X @ xk
                g = X.T @ (mu_f(m) - y) / n_total + rho * (xk - v)
                H = (X.T @ (X * w_f(m)[:, None])) / n_total + rho * np.eye(X.shape[1])
                try:
                    delta = np.linalg.solve(H, g)
                except np.linalg.LinAlgError:
                    delta = np.linalg.lstsq(H, g, rcond=None)[0]
                xk = xk - delta
                if float(delta @ delta) < 1e-12:
                    break
            yield pd.DataFrame({"pid": [pid], "x": [xk.tolist()]})

        rows = df.mapInPandas(local_solve, schema=schema).collect()
        live = []
        for r in rows:
            x[r["pid"]] = np.asarray(r["x"])
            live.append(r["pid"])
        live = np.asarray(sorted(live))
        z_old = z
        kk = len(live)
        # over-relaxation (Boyd §3.4.3) speeds consensus convergence
        x_hat = relax * x[live] + (1.0 - relax) * z_old
        # z-update: prox of the mean; effective lambda scales by 1/(rho*K)
        z = _prox((x_hat + u[live]).mean(axis=0), d,
                  lamduh * alpha / (rho * kk),
                  lamduh * (1 - alpha) / (rho * kk))
        u[live] += x_hat - z
        # Boyd stopping: primal/dual residual norms with abs+rel tolerances
        r_norm = float(np.sqrt(((x[live] - z) ** 2).sum()))
        s_norm = rho * float(np.sqrt(kk)) * float(np.linalg.norm(z - z_old))
        eps_pri = (np.sqrt(kk * k) * abstol
                   + reltol * max(float(np.linalg.norm(x[live])),
                                  float(np.sqrt(kk)) * float(np.linalg.norm(z))))
        eps_dual = (np.sqrt(kk * k) * abstol
                    + reltol * rho * float(np.linalg.norm(u[live])))
        if r_norm < eps_pri and s_norm < eps_dual:
            break
    return z


SOLVERS = {
    "gradient_descent": gradient_descent,
    "newton": newton,
    "proximal_grad": proximal_grad,
    "admm": admm,
}


def glm_solver_kwargs(penalty, C, fit_intercept: bool, max_iter: int,
                      tol: float, solver_kwargs=None) -> dict:
    """The solver keywords of an estimator's (penalty, C, ...): C maps
    to lamduh = 1/C, and no penalty or an infinite C to 0."""
    lam = 0.0 if C in (None, float("inf")) or penalty in (None, "none") else 1.0 / C
    regularizer = penalty if penalty in ("l1", "l2", "elastic_net") else "l2"
    kwargs = dict(fit_intercept=fit_intercept, max_iter=max_iter, tol=tol,
                  lamduh=lam, regularizer=regularizer)
    kwargs.update(solver_kwargs or {})
    return kwargs


def fit_glm(df: DataFrame, cols, label_col: str, family: str, solver: str,
            solver_kwargs: dict):
    """Dispatch a custom solver with its keywords (glm_solver_kwargs);
    returns (coef ndarray, intercept float).

    Persists the (projected) training frame for the duration — every
    solver makes >=1 pass per iteration over the same partitions.
    """
    from dask_ml_spark.utils import ensure_min_partitions

    if solver not in SOLVERS:
        raise ValueError(
            "'solver' must be one of {} or 'lbfgs'/'auto'. Got '{}' instead".format(
                sorted(SOLVERS), solver))
    proj = ensure_min_partitions(
        df.select(*[F.col(c).cast("double").alias(c) for c in cols],
                  F.col(label_col).cast("double").alias(label_col))
    ).persist()
    try:
        # no explicit count(): the solver's first pass materializes the
        # cache — an upfront count would cost one extra full scan
        beta = SOLVERS[solver](proj, cols, label_col, family,
                                **solver_kwargs)
    finally:
        proj.unpersist()
    d = len(cols)
    coef = np.asarray(beta[:d])
    intercept = float(beta[d]) if len(beta) > d else 0.0
    return coef, intercept
