"""Adaptive hyperparameter search on partial_fit models.

Reference: dask_ml/model_selection/_incremental.py (generic async
engine + IncrementalSearchCV + InverseDecaySearchCV),
_successive_halving.py, _hyperband.py.

Spark design (SURVEY §3.3): the reference trains candidate models ON
WORKERS — models are created as futures via `client.submit(_create_model)`
and every `_partial_fit`/`_score` runs on a worker
(reference _incremental.py:171-205, 280-364). This engine mirrors that
distribution model: training batches are materialized once (driver pulls
a bounded, unbiased sample partition-at-a-time) and broadcast to the
executors ONCE per fit — the Spark analog of the reference's
`client.scatter(data)` block placement. Each adaptive round then runs as
ONE Spark job: a task per surviving model carries (model_id, pickled
model, batch sequence) to an executor, runs its `partial_fit` calls and
scoring there against the broadcast test sample, and ships back only the
pickled model + score. The driver holds nothing but pickled model blobs
and the policy loop. The `additional_calls` policy protocol is preserved
verbatim — SuccessiveHalving / Hyperband / InverseDecay are policies over
the same engine, like the reference (_incremental.py:380-445).
Speculative priority−1 tasks are dropped (latency-only optimization, no
Spark analog — SURVEY §3.3).
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.base import BaseEstimator
from dask_ml_spark.plans.model_selection import ParameterSampler, train_test_split


def _collect_batches(df: DataFrame, feature_cols, label_col, max_rows_per_batch=50_000,
                     max_total_rows=1_000_000, order_by=None):
    """Materialize the training partitions to numpy batches for the
    one-time broadcast (the reference scatters blocks to workers and
    moves MODELS to data; here the bounded sample passes through the
    driver once, is broadcast once, and executors reuse it every round).

    max_total_rows bounds driver memory at scale: adaptive search fits
    small partial_fit models whose sample complexity saturates long
    before 10^6 rows — beyond the cap an unbiased rand-ordered sample
    is drawn (TakeOrdered, no full shuffle). Set None to disable.

    The pull is ONE Arrow-batched toPandas (bounded by max_total_rows,
    so driver memory is the same as the batch list it builds), sliced
    into batches driver-side — ~7x faster than the row-at-a-time
    toLocalIterator loop it replaces, with identical row order
    (partition order) and identical batch boundaries.
    """
    if order_by:
        # deterministic mode: batches are contiguous KEY-SORTED slices
        # (replayable as row_number()-over-key ranges by a SQL oracle);
        # the over-cap trim keeps the smallest keys — deterministic,
        # mildly biased, documented at the deterministic_by call site
        # dict.fromkeys dedup: an order_by key that is ALSO a feature
        # (or the label) would otherwise duplicate the column and make
        # pdf[feature_cols] return both copies (wrong X width)
        # unconditional limit instead of a count-then-maybe-limit: the
        # limit is a no-op pass-through under the cap and identical to
        # the old trim above it (GlobalLimit after the key sort keeps
        # sorted order), and it saves one full count job per fit
        sel = (df.select(*dict.fromkeys([*order_by, *feature_cols,
                                         label_col]))
               .orderBy(*order_by).select(*feature_cols, label_col))
        if max_total_rows is not None:
            sel = sel.limit(max_total_rows)
    else:
        sel = df.select(*feature_cols, label_col)
        if max_total_rows is not None and sel.count() > max_total_rows:
            sel = sel.orderBy(F.rand(seed=0)).limit(max_total_rows)
    pdf = sel.toPandas()
    X = pdf[list(feature_cols)].to_numpy(dtype="float64")
    y = pdf[label_col].to_numpy()
    return [(X[i:i + max_rows_per_batch], y[i:i + max_rows_per_batch])
            for i in range(0, len(pdf), max_rows_per_batch)]


def _train_task(item, b_batches, b_test, scoring, fit_kwargs, fit_accum):
    """Executor-side: train one model through its batch sequence for this
    round, score it, return the updated pickled model (reference runs the
    same unit of work as a worker future, _incremental.py:171-205).

    Runs inside a Spark task — `b_batches`/`b_test` are broadcast
    handles, `fit_accum` counts partial_fit calls for observability
    (and lets tests assert executor-side execution).
    """
    ident, blob, batch_ids = item
    est = pickle.loads(blob)
    batches = b_batches.value
    for bi in batch_ids:
        Xb, yb = batches[bi]
        est.partial_fit(Xb, yb, **fit_kwargs)
        fit_accum.add(1)
    X_test, y_test = b_test.value
    if scoring is not None and callable(scoring):
        score = float(scoring(est, X_test, y_test))
    else:
        score = float(est.score(X_test, y_test))
    return ident, pickle.dumps(est), score, len(batch_ids)


class BaseIncrementalSearchCV(BaseEstimator):
    """Generic adaptive engine (reference _incremental.py:138-377).

    Subclasses override `_additional_calls(info) -> {model_id: n_calls}`
    — empty dict stops; the single best-scoring model must be the last
    survivor.
    """

    def __init__(self, estimator, parameters, n_initial_parameters: int = 10,
                 test_size: float = 0.15, patience: int | bool = False, tol: float = 1e-3,
                 max_iter: int = 100, random_state: int | None = None, scoring=None,
                 deterministic_by=None):
        self.estimator = estimator
        self.parameters = parameters
        self.n_initial_parameters = n_initial_parameters
        self.test_size = test_size
        self.patience = patience
        self.tol = tol
        self.max_iter = max_iter
        self.random_state = random_state
        self.scoring = scoring
        # deterministic_by=[key cols] switches every seeded choice to a
        # content-deterministic one: Knuth-hash train/test split,
        # key-sorted contiguous batches, CYCLIC batch order, and
        # candidates taken in listed/grid order (cycled) — the search
        # becomes a pure function of the data, stable across
        # partitionings/retries/engines, so a SQL oracle can replay it
        # (and production reruns reproduce bit-identically).
        # REQUIRES unique key tuples: with duplicate keys the key sort
        # (and the oracle's row_number) is tie-arbitrary, so batch
        # boundaries / the over-cap trim could differ across
        # partitionings — _prepare_data validates and raises
        self.deterministic_by = (
            [deterministic_by] if isinstance(deterministic_by, str)
            else list(deterministic_by) if deterministic_by else None)

    # -- policy ----------------------------------------------------------
    def _additional_calls(self, info: dict) -> dict:
        """Default IncrementalSearchCV policy: keep training everything
        until max_iter / patience, then keep the best (reference
        _incremental.py:1102-1167)."""
        out = {}
        for ident, records in info.items():
            if records[-1]["partial_fit_calls"] < self.max_iter:
                out[ident] = 1
        if not out:
            best = max(info, key=lambda k: info[k][-1]["score"])
            return {best: 0}
        return out

    def _plateaued(self, records) -> bool:
        """True when the score gained ≤ tol over the last `patience`
        rounds (reference _incremental.py:1102-1167)."""
        if not self.patience or len(records) <= self.patience:
            return False
        return records[-1]["score"] <= records[-1 - self.patience]["score"] + self.tol

    def _create_models(self):
        if self.deterministic_by:
            # listed/grid order, cycled to n_initial_parameters — no rng
            from dask_ml_spark.plans.model_selection import ParameterGrid

            plist = ([dict(p) for p in self.parameters]
                     if isinstance(self.parameters, list)
                     else list(ParameterGrid(self.parameters)))
            params = [plist[i % len(plist)]
                      for i in range(self.n_initial_parameters)]
        else:
            rng = np.random.RandomState(self.random_state)
            params = list(ParameterSampler(self.parameters, self.n_initial_parameters,
                                           random_state=rng))
        models = {}
        for i, p in enumerate(params):
            est = self.estimator.clone() if hasattr(self.estimator, "clone") else _clone(self.estimator)
            if hasattr(est, "set_params"):
                est.set_params(**p)
            else:
                for k, v in p.items():
                    setattr(est, k, v)
            models[i] = (est, p)
        return models

    def _prepare_data(self, df: DataFrame, cols, label_col):
        """Split, pull the bounded batch sample, broadcast to executors.
        Returns (batches, batches_broadcast, test_broadcast) — Hyperband
        prepares once and shares across brackets (reference
        _hyperband.py splits once and feeds every bracket the same
        data)."""
        sc = df.sparkSession.sparkContext
        if self.deterministic_by:
            from concurrent.futures import ThreadPoolExecutor

            from dask_ml_spark.plans.model_selection import hash_split

            # unique-key validation: duplicate keys make the key sort
            # tie-arbitrary, silently breaking the bit-reproducibility
            # promise. count_distinct skips tuples containing NULL, so
            # NULL keys are counted separately and reported as such
            # (they'd also be dropped by the hash split) rather than
            # misdiagnosed as duplicates.
            anynull = None
            for c in self.deterministic_by:
                cn = F.col(c).isNull()
                anynull = cn if anynull is None else (anynull | cn)

            def _validate():
                chk = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(anynull.cast("long")).alias("nn"),
                    F.count_distinct(*[F.col(c)
                                       for c in self.deterministic_by])
                    .alias("nd")).collect()[0]
                if chk["nn"]:
                    raise ValueError(
                        f"deterministic_by={self.deterministic_by} "
                        f"contains NULLs in {chk['nn']} rows — NULL keys "
                        "cannot be hash-split or key-sorted "
                        "deterministically")
                if chk["n"] != chk["nd"]:
                    raise ValueError(
                        f"deterministic_by={self.deterministic_by} must "
                        f"be a unique key: {chk['n']} rows but only "
                        f"{chk['nd']} distinct key tuples — batch "
                        "boundaries would be tie-arbitrary and "
                        "non-reproducible")

            train, test = hash_split(df, self.deterministic_by,
                                     test_size=self.test_size)

            def _batches():
                return _collect_batches(train, cols, label_col,
                                        order_by=self.deterministic_by)

            def _test_pdf():
                # unconditional key-sort + limit (TakeOrdered/GlobalLimit
                # — under the cap this returns the whole test set, just
                # key-ordered, and every consumer is an order-free
                # aggregate). Replaces the count-then-maybe-sort pair of
                # jobs. dict.fromkeys dedup: a key that is also a
                # feature/label would duplicate the column and break the
                # orderBy/select with an ambiguous reference.
                return (test.select(*dict.fromkeys(
                            [*self.deterministic_by, *cols, label_col]))
                        .orderBy(*self.deterministic_by)
                        .select(*cols, label_col).limit(500_000)
                        .toPandas())

            # the three driver jobs (validation aggregate, train batch
            # sort+collect, test sort+collect) are independent — race
            # them so their Spark stages interleave; the validation
            # VERDICT still gates the result (checked first, raises
            # before any collected data is used). Hyperband amortizes
            # all of this further: brackets share ONE _prepare_data via
            # _shared_data, so the validation and both sorts run once
            # per search, not per bracket.
            with ThreadPoolExecutor(max_workers=3) as pool:
                f_val = pool.submit(_validate)
                f_bat = pool.submit(_batches)
                f_tst = pool.submit(_test_pdf)
                f_val.result()
                batches = f_bat.result()
                test_pdf = f_tst.result()
        else:
            train, test = train_test_split(df, test_size=self.test_size,
                                           random_state=self.random_state)
            batches = _collect_batches(train, cols, label_col)
            test_sel = test.select(*cols, label_col)
            if test_sel.count() > 500_000:  # bounded scoring set at scale
                test_sel = test_sel.orderBy(F.rand(seed=1)).limit(500_000)
            test_pdf = test_sel.toPandas()
        X_test = test_pdf[cols].to_numpy(dtype="float64")
        y_test = test_pdf[label_col].to_numpy()
        b_batches = sc.broadcast(batches)
        b_test = sc.broadcast((X_test, y_test))
        return batches, b_batches, b_test

    def fit(self, df: DataFrame, columns=None, label_col: str = "label", classes=None,
            _shared_data=None):
        cols = self._validate_data(df, columns)
        if _shared_data is not None:
            batches, b_batches, b_test = _shared_data
            owns_broadcast = False
        else:
            batches, b_batches, b_test = self._prepare_data(df, cols, label_col)
            owns_broadcast = True
        rng = np.random.RandomState(self.random_state)

        sc = df.sparkSession.sparkContext
        fit_accum = sc.accumulator(0)
        scoring = self.scoring
        if scoring is not None and not callable(scoring):
            # executor-side scoring runs on numpy batches — the
            # DataFrame scorer registry (SCORERS strings) belongs to
            # GridSearchCV; failing beats silently using est.score
            raise ValueError(
                "adaptive search scoring must be a callable "
                "(estimator, X, y) -> float; got "
                f"{scoring!r} — string scorer names are only supported "
                "by GridSearchCV/RandomizedSearchCV")

        models = self._create_models()
        blobs = {i: pickle.dumps(est) for i, (est, _p) in models.items()}
        params = {i: p for i, (_est, p) in models.items()}
        info = {i: [] for i in models}
        calls = {i: 0 for i in models}
        fit_kwargs = {"classes": np.asarray(classes)} if classes is not None else {}

        # round 0: one call each
        instructions = {i: 1 for i in models}
        self.history_ = []
        stopped: set = set()
        try:
            while True:
                live = {i: n for i, n in instructions.items() if n > 0}
                if not live:
                    break
                # draw each model's batch sequence on the driver in a fixed
                # order — results stay seed-deterministic no matter how Spark
                # schedules the per-model tasks. Deterministic mode cycles
                # epoch-style: call k trains on batch k % B (the batch
                # multiset after c calls is then a pure function of c,
                # which is what lets a SQL oracle replay the model state)
                if self.deterministic_by:
                    seqs = {
                        i: [(calls[i] + j) % len(batches) for j in range(n)]
                        for i, n in sorted(live.items())
                    }
                else:
                    seqs = {
                        i: [int(rng.randint(len(batches))) for _ in range(n)]
                        for i, n in sorted(live.items())
                    }
                items = [(i, blobs[i], seq) for i, seq in sorted(seqs.items())]
                # ONE Spark job per adaptive round: a task per surviving
                # model (reference trains each model as a worker future,
                # _incremental.py:280-364)
                results = (
                    sc.parallelize(items, numSlices=len(items))
                    .map(lambda it: _train_task(it, b_batches, b_test, scoring,
                                                fit_kwargs, fit_accum))
                    .collect()
                )
                for ident, blob, score, n_new in results:
                    blobs[ident] = blob
                    calls[ident] += n_new
                    rec = {"model_id": ident, "params": params[ident],
                           "partial_fit_calls": calls[ident], "score": score}
                    info[ident].append(rec)
                    self.history_.append(rec)
                # models the policy dropped stay out; plateaued models stop
                # training but remain candidates for best
                info = {i: r for i, r in info.items() if i in instructions}
                stopped |= {i for i, r in info.items() if self._plateaued(r)}
                active = {i: r for i, r in info.items() if i not in stopped}
                if not active:
                    break
                instructions = self._additional_calls(active)
                if not instructions or all(v == 0 for v in instructions.values()):
                    break
        finally:
            if owns_broadcast:
                b_batches.unpersist()
                b_test.unpersist()

        best_id = max(info, key=lambda k: info[k][-1]["score"])
        self.best_index_ = best_id
        self.best_estimator_ = pickle.loads(blobs[best_id])
        self.best_params_ = params[best_id]
        self.best_score_ = info[best_id][-1]["score"]
        self.n_models_ = len(models)
        self.model_history_ = info
        self.cv_results_ = self._make_results(models, calls)
        self.feature_columns_ = cols
        self.multimetric_ = False
        self.executor_fit_count_ = fit_accum.value
        return self

    def _make_results(self, models, calls):
        rows = {
            "model_id": [], "params": [], "partial_fit_calls": [], "test_score": [],
        }
        last = {r["model_id"]: r for r in self.history_}
        for i, (est, p) in models.items():
            rec = last.get(i)
            rows["model_id"].append(i)
            rows["params"].append(p)
            rows["partial_fit_calls"].append(calls[i])
            rows["test_score"].append(rec["score"] if rec else np.nan)
        order = np.argsort(-np.asarray(rows["test_score"]))
        rows["rank_test_score"] = np.empty(len(order), dtype=int)
        rows["rank_test_score"][order] = np.arange(1, len(order) + 1)
        return rows

    # -- post-fit API ----------------------------------------------------
    # the best (partial_fit) model is a local estimator; all post-fit
    # methods run distributed through a broadcast ParallelPostFit
    # (reference _incremental.py:745-785 exposes the same surface)
    def _ppf(self):
        from dask_ml_spark.operators.wrappers import ParallelPostFit

        ppf = ParallelPostFit(self.best_estimator_)
        ppf.feature_columns_ = self.feature_columns_
        return ppf

    def predict(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        return self._ppf().predict(df, output_col)

    def predict_proba(self, df: DataFrame, output_col: str = "probability") -> DataFrame:
        return self._ppf().predict_proba(df, output_col)

    def predict_log_proba(self, df: DataFrame, output_col: str = "log_probability") -> DataFrame:
        return self._ppf().predict_log_proba(df, output_col)

    def decision_function(self, df: DataFrame, output_col: str = "decision") -> DataFrame:
        return self._ppf().decision_function(df, output_col)

    def transform(self, df: DataFrame, output_col: str = "transformed") -> DataFrame:
        return self._ppf().transform(df, output_col)

    def score(self, df: DataFrame, label_col: str = "label") -> float:
        from dask_ml_spark.functions.metrics import accuracy_score

        return accuracy_score(self.predict(df), label_col=label_col)


def _clone(est):
    import copy

    return copy.deepcopy(est)


class IncrementalSearchCV(BaseIncrementalSearchCV):
    """Train all candidates incrementally; stop on plateau; keep best
    (reference _incremental.py:745-1167)."""


class InverseDecaySearchCV(BaseIncrementalSearchCV):
    """Keep ~ n_initial/(k+1) models at round k (reference
    _incremental.py:1170-1431)."""

    def __init__(self, estimator, parameters, n_initial_parameters: int = 10, **kw):
        super().__init__(estimator, parameters, n_initial_parameters, **kw)
        self._round = 0

    def _additional_calls(self, info: dict) -> dict:
        self._round += 1
        target = max(1, int(self.n_initial_parameters / (self._round + 1)))
        ranked = sorted(info, key=lambda k: info[k][-1]["score"], reverse=True)
        keep = ranked[:target]
        max_calls = max(r[-1]["partial_fit_calls"] for r in info.values())
        if len(keep) == 1 and info[keep[0]][-1]["partial_fit_calls"] >= self.max_iter:
            return {keep[0]: 0}
        return {k: 1 for k in keep if info[k][-1]["partial_fit_calls"] < self.max_iter} or {keep[0]: 0}


def _sha_steps(n: int, r: int, eta: float = 3, limit: int | None = None):
    """SuccessiveHalving schedule generator (ported semantics of
    reference _successive_halving.py:230-256): at step k keep
    n·eta^-k models and train each to r·eta^k total calls."""
    steps = []
    k = 0
    while True:
        n_k = max(1, int(np.floor(n * eta ** -k)))
        r_k = int(r * eta ** k) if limit is None else min(int(r * eta ** k), limit)
        steps.append((n_k, r_k))
        if n_k == 1 or (limit is not None and r_k >= limit):
            break
        k += 1
    return steps


class SuccessiveHalvingSearchCV(BaseIncrementalSearchCV):
    """SHA: repeatedly train the top 1/eta fraction eta× longer
    (reference _successive_halving.py:11-306)."""

    def __init__(self, estimator, parameters, n_initial_parameters: int = 10,
                 n_initial_iter: int = 3, aggressiveness: float = 3, **kw):
        super().__init__(estimator, parameters, n_initial_parameters, **kw)
        self.n_initial_iter = n_initial_iter
        self.aggressiveness = aggressiveness
        self._steps = None
        self._step_idx = 0

    def _additional_calls(self, info: dict) -> dict:
        if self._steps is None:
            self._steps = _sha_steps(self.n_initial_parameters, self.n_initial_iter,
                                     self.aggressiveness, limit=self.max_iter)
            self._step_idx = 0
        self._step_idx += 1
        if self._step_idx >= len(self._steps):
            best = max(info, key=lambda k: info[k][-1]["score"])
            return {best: 0}
        n_k, r_k = self._steps[self._step_idx]
        # explicit (score desc, id asc) — identical to the stable-sort
        # behavior this replaces, but now a documented contract the SQL
        # oracle's rank() can replay on ties
        ranked = sorted(info, key=lambda k: (-info[k][-1]["score"], k))
        keep = ranked[:n_k]
        out = {}
        for ident in keep:
            done = info[ident][-1]["partial_fit_calls"]
            out[ident] = max(0, r_k - done)
        if all(v == 0 for v in out.values()):
            best = max(keep, key=lambda k: info[k][-1]["score"])
            return {best: 0}
        return out


class HyperbandSearchCV(BaseEstimator):
    """Hyperband: several SuccessiveHalving brackets with different
    aggressiveness/budget trade-offs run over the SAME cached batches,
    results combined (reference _hyperband.py:58-664). Brackets run
    sequentially here (each is internally parallel); the metadata
    accounting (`metadata_`) matches the reference's
    (_hyperband.py:504-524)."""

    def __init__(self, estimator, parameters, max_iter: int = 81, aggressiveness: float = 3,
                 test_size: float = 0.15, random_state: int | None = None, scoring=None,
                 patience: int | bool = False, tol: float = 1e-3,
                 deterministic_by=None):
        self.estimator = estimator
        self.parameters = parameters
        self.max_iter = max_iter
        self.aggressiveness = aggressiveness
        self.test_size = test_size
        self.random_state = random_state
        self.scoring = scoring
        self.patience = patience
        self.tol = tol
        # content-deterministic mode shared by every bracket (see
        # BaseIncrementalSearchCV.deterministic_by)
        self.deterministic_by = deterministic_by

    def _brackets(self):
        """Bracket schedule (reference _hyperband.py:20-55): s_max+1
        brackets; bracket s starts n = ceil(B/R * eta^s/(s+1)) models
        at r = R * eta^-s initial calls."""
        eta = self.aggressiveness
        R = self.max_iter
        s_max = int(np.floor(np.log(R) / np.log(eta)))
        B = (s_max + 1) * R
        out = []
        for s in range(s_max, -1, -1):
            n = int(np.ceil(B / R * eta ** s / (s + 1)))
            r = max(1, int(R * eta ** -s))
            out.append((s, n, r))
        return out

    def fit(self, df: DataFrame, columns=None, label_col: str = "label", classes=None):
        self.metadata = {"brackets": [], "n_models": 0, "partial_fit_calls": 0}
        results = []
        self._bracket_searches = []
        # split + collect + broadcast ONCE; every bracket trains on the
        # same data (reference _hyperband.py:393-420 passes the same
        # X/y to all brackets)
        prep = SuccessiveHalvingSearchCV(
            self.estimator, self.parameters, test_size=self.test_size,
            random_state=self.random_state,
            deterministic_by=self.deterministic_by,
        )
        cols = prep._validate_data(df, columns)
        shared = prep._prepare_data(df, cols, label_col)
        _batches, b_batches, b_test = shared

        def _run_bracket(bracket):
            s, n, r = bracket
            sha = SuccessiveHalvingSearchCV(
                self.estimator, self.parameters,
                n_initial_parameters=n, n_initial_iter=r,
                aggressiveness=self.aggressiveness, max_iter=self.max_iter,
                test_size=self.test_size,
                random_state=None if self.random_state is None else self.random_state + s,
                scoring=self.scoring, patience=self.patience, tol=self.tol,
                deterministic_by=self.deterministic_by,
            )
            sha.fit(df, columns=columns, label_col=label_col, classes=classes,
                    _shared_data=shared)
            return s, sha

        # brackets are independent given the shared data — race them from
        # driver threads so their per-round Spark jobs interleave (the
        # reference's async engine interleaves all brackets' work the same
        # way, _hyperband.py:393-420); results are seed-deterministic per
        # bracket, so thread timing cannot change any output
        from concurrent.futures import ThreadPoolExecutor

        brackets = self._brackets()
        with ThreadPoolExecutor(max_workers=len(brackets)) as pool:
            fitted = list(pool.map(_run_bracket, brackets))
        b_batches.unpersist()
        b_test.unpersist()
        for s, sha in fitted:  # metadata stays in bracket order
            calls = sum(sha.cv_results_["partial_fit_calls"])
            self.metadata["brackets"].append(
                {"bracket": s, "n_models": sha.n_models_, "partial_fit_calls": calls}
            )
            self.metadata["n_models"] += sha.n_models_
            self.metadata["partial_fit_calls"] += calls
            results.append(sha)
            self._bracket_searches.append((s, sha))
        best = max(results, key=lambda s: s.best_score_)
        self.best_estimator_ = best.best_estimator_
        self.best_params_ = best.best_params_
        self.best_score_ = best.best_score_
        self.feature_columns_ = best.feature_columns_
        self.metadata_ = self.metadata
        # combined cv_results_
        self.cv_results_ = {
            "params": sum((s.cv_results_["params"] for s in results), []),
            "test_score": np.concatenate([s.cv_results_["test_score"] for s in results]),
            "partial_fit_calls": np.concatenate([s.cv_results_["partial_fit_calls"] for s in results]),
            "bracket": np.concatenate([
                np.full(len(s.cv_results_["params"]), br, dtype=int)
                for (br, s) in self._bracket_searches
            ]),
        }
        return self

    # same distributed post-fit surface as BaseIncrementalSearchCV
    _ppf = BaseIncrementalSearchCV._ppf
    predict = BaseIncrementalSearchCV.predict
    predict_proba = BaseIncrementalSearchCV.predict_proba
    predict_log_proba = BaseIncrementalSearchCV.predict_log_proba
    decision_function = BaseIncrementalSearchCV.decision_function
    transform = BaseIncrementalSearchCV.transform
    score = BaseIncrementalSearchCV.score
