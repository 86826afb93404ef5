"""Model selection: splitters + grid/random search.

Reference: dask_ml/model_selection/_split.py (train_test_split,
ShuffleSplit, KFold), _search.py (GridSearchCV/RandomizedSearchCV —
the reference's hand-built "query planner"), methods.py
(CVCache/create_cv_results).

Spark design: splits are ROW-LEVEL via rand(seed)/hash — strictly
better than the reference's blockwise splits (no shuffle, no
partition-boundary artifacts; reference _split.py:92-200 is blockwise
only because dask slicing is expensive). Folds are lazy column
predicates over ONE cached DataFrame — materializing k folds would
k× the storage; a `fold` column + filter reuses the same cache (the
CVCache idea, methods.py:83-152, without copies).

Search execution has one path. Candidates fall into prefix groups (one
per distinct pipeline-prefix params; a plain estimator is one group
with an empty prefix), and each group fits and scores over ONE cached
frame whose int ``__fold`` tag says which split a row trains or is
scored on: the KFold fold column itself when the prefix is empty, else
the k splits stacked with their prefix fitted on train only (train_i
tagged 2i, test_i tagged 2i+1). GLM candidates with a strictly convex
objective (operators.linear_model.newton_batch_family) are fitted
together by a Newton solver whose every iteration is ONE scan of that
frame for all (candidate, split) models, and scored together by one
aggregate when the scorer has an aggregate form. Where the reference
runs one task graph per (candidate, fold), this runs one job per
iteration for the whole grid. Every other (candidate, split) pair
(non-GLM estimators, explicit lbfgs, l1) is fitted and scored by one
driver thread pool. Fits are memoized by param-token so duplicate
candidates are fitted once (reference `seen` dicts,
_search.py:350-376).
"""

from __future__ import annotations

import functools
import itertools
from concurrent.futures import ThreadPoolExecutor

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.base import BaseEstimator


def train_test_split(df: DataFrame, test_size: float = 0.25, train_size: float | None = None,
                     random_state: int | None = None, shuffle: bool = True):
    """Fractional random split (reference _split.py:361-520 — fractional
    sizes only, same constraint here). Returns (train, test)."""
    if not shuffle:
        raise NotImplementedError("shuffle=False is not supported (matches reference _split.py:416-420)")
    if train_size is None:
        train_size = 1.0 - test_size
    seed = random_state if random_state is not None else np.random.randint(2**31)
    r = F.rand(seed)
    # tag once so train/test are consistent and disjoint under lazy eval
    tagged = df.withColumn("__r", r)
    train = tagged.where(F.col("__r") < train_size).drop("__r")
    test = tagged.where(F.col("__r") >= 1.0 - test_size).drop("__r")
    return train, test


def hash_split(df: DataFrame, key_cols, test_size: float = 0.25,
               n_buckets: int = 10_000, salt: int = 0):
    """Deterministic content-addressed split (beyond-reference).

    ``rand(seed)``-based splits (train_test_split above, reference
    _split.py) are reproducible only for a fixed partitioning — a task
    retry or repartition reassigns rows.  For production 100 TB
    pipelines the stable practice is hashing the row KEY: a row's side
    is a pure function of its key, independent of partitioning, executor
    failures, or engine.  The Knuth multiplicative hash below is plain
    integer arithmetic, so the same expression runs on any SQL engine
    (the oracle checks the split content, not just its size).

    Returns (train, test); rows with equal keys land on the same side
    (group-leakage-safe when key_cols is the entity id).
    """
    if not 0.0 < test_size < 1.0:
        raise ValueError("test_size must be in (0, 1)")
    bucket = _hash_bucket_expr(key_cols, n_buckets, salt, df=df)
    cut = int(round(n_buckets * (1.0 - test_size)))
    train = df.where(bucket < cut)
    test = df.where(bucket >= cut)
    return train, test


def _hash_bucket_expr(key_cols, n_buckets: int, salt: int, df=None):
    """Engine-portable bucket id: Knuth multiplicative hashing of the
    combined integer key, all in int64 arithmetic (no engine-specific
    hash function).

    String keys (content hashes, urls, doc names) are first folded to a
    portable integer via a 14-hex-digit md5 prefix — Spark
    ``conv(substring(md5(k),1,14),16,10)`` and SQL
    ``CAST(('0x' || substr(md5(k),1,14)) AS BIGINT)`` produce the same
    value, so the oracle/content guarantee survives non-numeric keys.
    Pass ``df`` so column types can be inspected; without it every key
    is assumed numeric (the historical behavior).
    """
    from pyspark.sql import types as T

    if isinstance(key_cols, str):
        key_cols = [key_cols]
    string_cols = set()
    if df is not None:
        string_cols = {f.name for f in df.schema.fields
                       if isinstance(f.dataType, (T.StringType, T.BinaryType))}
    M = 2654435761  # Knuth's multiplier (2^32 / phi)
    P = 1 << 31  # reduction modulus: keeps every product < 2^62 so the
    # arithmetic never overflows int64 on ANY engine (DuckDB errors on
    # bigint overflow; Spark non-ANSI silently wraps — both avoided)
    k = F.lit(int(salt) % P).cast("long")
    for c in key_cols:
        if c in string_cols:
            key = F.conv(F.substring(F.md5(F.col(c).cast("string")), 1, 14), 16, 10).cast("long")
        else:
            key = F.col(c).cast("long")
        k = F.pmod((F.pmod(k + key, F.lit(P))) * F.lit(M), F.lit(P))
    return F.pmod(k, F.lit(n_buckets))


class ShuffleSplit(BaseEstimator):
    """n_splits independent random splits (reference _split.py:92-200).
    Yields (train_df, test_df) pairs lazily; each split is a pair of
    complementary filters on one rand() column — no data movement."""

    def __init__(self, n_splits: int = 10, test_size: float = 0.1, train_size=None,
                 random_state: int | None = None):
        self.n_splits = n_splits
        self.test_size = test_size
        self.train_size = train_size
        self.random_state = random_state

    def split(self, df: DataFrame):
        rng = np.random.RandomState(self.random_state)
        for _ in range(self.n_splits):
            seed = int(rng.randint(2**31))
            yield train_test_split(df, test_size=self.test_size,
                                   train_size=self.train_size, random_state=seed)


class KFold(BaseEstimator):
    """k non-overlapping folds (reference _split.py:211-316).

    fold id = pmod(hash(rand-tag), k) when shuffled, else a
    row-number-free contiguous approximation via monotonic ids. The
    fold column is computed once; each (train, test) pair is a filter.
    """

    def __init__(self, n_splits: int = 5, shuffle: bool = False, random_state: int | None = None):
        self.n_splits = n_splits
        self.shuffle = shuffle
        self.random_state = random_state

    def fold_column(self, df: DataFrame, col_name: str = "__fold") -> DataFrame:
        k = self.n_splits
        if self.shuffle:
            seed = self.random_state if self.random_state is not None else 0
            e = F.floor(F.rand(seed) * k).cast("int")
        else:
            # contiguous-ish folds without a global sort: ntile would need
            # a single-partition window; use partition-local position
            # scaled by partition share — here approximated by monotonic id
            e = F.pmod(F.monotonically_increasing_id(), F.lit(k)).cast("int")
        return df.withColumn(col_name, e)

    def split(self, df: DataFrame):
        with_fold = self.fold_column(df)
        for i in range(self.n_splits):
            yield (
                with_fold.where(F.col("__fold") != i).drop("__fold"),
                with_fold.where(F.col("__fold") == i).drop("__fold"),
            )


class HashKFold(KFold):
    """Content-deterministic k folds: fold id = Knuth-hash bucket of
    the row KEY modulo k (same engine-portable arithmetic as
    hash_split). Unlike rand(seed) folds, a row's fold is a pure
    function of its key — stable across partitionings, task retries,
    and engines — which is what production CV on 100 TB needs for
    reproducible searches, and what lets a SQL oracle verify a whole
    GridSearchCV end-to-end (fold content included). Rows with equal
    keys share a fold (group-leakage-safe)."""

    def __init__(self, n_splits: int = 5, key_cols=None,
                 n_buckets: int = 10_000, salt: int = 0):
        super().__init__(n_splits=n_splits, shuffle=False, random_state=None)
        if not key_cols:
            raise ValueError("HashKFold requires key_cols")
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.n_buckets = n_buckets
        self.salt = salt

    def fold_column(self, df: DataFrame, col_name: str = "__fold") -> DataFrame:
        bucket = _hash_bucket_expr(self.key_cols, self.n_buckets,
                                   self.salt, df=df)
        return df.withColumn(
            col_name, F.pmod(bucket, F.lit(self.n_splits)).cast("int"))


def check_cv(cv=None):
    if cv is None:
        return KFold(n_splits=5)
    if isinstance(cv, int):
        return KFold(n_splits=cv)
    return cv


def compute_n_splits(cv) -> int:
    return getattr(cv, "n_splits", 1)


class ParameterGrid:
    def __init__(self, param_grid: dict | list):
        self.param_grid = [param_grid] if isinstance(param_grid, dict) else list(param_grid)

    def __iter__(self):
        for grid in self.param_grid:
            keys = sorted(grid)
            for combo in itertools.product(*[grid[k] for k in keys]):
                yield dict(zip(keys, combo))

    def __len__(self):
        return sum(
            int(np.prod([len(v) for v in grid.values()])) if grid else 1
            for grid in self.param_grid
        )


class ParameterSampler:
    def __init__(self, param_distributions: dict, n_iter: int, random_state=None):
        self.param_distributions = param_distributions
        self.n_iter = n_iter
        self.random_state = random_state

    def __iter__(self):
        rng = (self.random_state if isinstance(self.random_state, np.random.RandomState)
               else np.random.RandomState(self.random_state))
        keys = sorted(self.param_distributions)
        for _ in range(self.n_iter):
            out = {}
            for k in keys:
                v = self.param_distributions[k]
                if hasattr(v, "rvs"):
                    out[k] = v.rvs(random_state=rng)
                else:
                    out[k] = v[rng.randint(len(v))]
            yield out


def normalize_token(x) -> object:
    """Deterministic, content-based token for cache keys (the role of
    dask.base.normalize_token in the reference, _normalize.py:21-42):
    recursive over containers, content-hashing numpy arrays, and
    normalizing estimators by type + params + fitted state."""
    import hashlib

    if isinstance(x, dict):
        return tuple(sorted((k, normalize_token(v)) for k, v in x.items()))
    if isinstance(x, (list, tuple)):
        return tuple(normalize_token(v) for v in x)
    if isinstance(x, np.ndarray):
        return ("ndarray", x.shape, x.dtype.str,
                hashlib.md5(np.ascontiguousarray(x).tobytes()).hexdigest())
    if isinstance(x, np.random.RandomState):
        return normalize_token(x.get_state())
    if hasattr(x, "get_params") and not isinstance(x, type):
        return normalize_estimator(x)
    return repr(x)


def normalize_estimator(est) -> tuple:
    """Content hash of an estimator: type name + full (recursive) params
    + fitted trailing-underscore attributes, so candidates that differ
    only in nested-estimator state outside the grid still get distinct
    cache keys (reference model_selection/_normalize.py:21-42, incl. the
    fitted-attribute handling of dask-ml issue #658)."""
    base = [type(est).__name__, normalize_token(est.get_params())]
    exclude = {"cv_results_", "model_history_", "history_", "refit_time_"}
    for attr in dir(est):
        if not attr.endswith("_") or attr.startswith("_") or attr in exclude:
            continue
        try:
            val = getattr(est, attr)
        except Exception:
            continue
        if callable(val) and not hasattr(val, "get_params"):
            continue
        base.append((attr, normalize_token(val)))
    return tuple(base)


def _param_token(params: dict) -> str:
    return repr(normalize_token(params))


def _stack_splits(splits, prefix, prefix_p: dict, columns,
                  label_col: str) -> DataFrame:
    """Every (train_i, test_i) split in one frame tagged by an int
    ``__fold``: the ``prefix`` Pipeline (None for no prefix), set to
    ``prefix_p``, is fitted on train_i only; prefix_i(train_i) is
    tagged 2i and prefix_i(test_i) 2i+1."""
    parts = []
    for i, (train, test) in enumerate(splits):
        if prefix is not None:
            pre = prefix.clone().set_params(**prefix_p).fit(
                train, columns, label_col)
            train, test = pre.transform(train), pre.transform(test)
        parts += [train.withColumn("__fold", F.lit(2 * i)),
                  test.withColumn("__fold", F.lit(2 * i + 1))]
    return functools.reduce(DataFrame.unionByName, parts)


class GridSearchCV(BaseEstimator):
    """Exhaustive CV search over cached, split-tagged frames (the
    reference builds an explicit task graph, _search.py:195-260): one
    frame per pipeline-prefix group, whose prefix is fitted once per
    split on that split's train rows.

    GLM candidates that newton_batch_family admits (solver "auto" or
    "newton", strictly convex objective) are fitted together: each
    Newton iteration is one pass over the group's frame that updates
    every (candidate, split) model, and one aggregate scores them all
    when the scorer has an aggregate form. ``solver="auto"`` thus
    means the batched Newton pass inside the search and MLlib L-BFGS
    for the refit; both reach the same optimum. The other (candidate,
    split) pairs are fitted as concurrent Spark jobs from one driver
    thread pool of ``n_jobs`` (Spark's scheduler plays the role of the
    dask scheduler), which also scores whatever the aggregate did
    not."""

    def __init__(self, estimator, param_grid, scoring=None, cv=None, refit: bool = True,
                 n_jobs: int = 4):
        self.estimator = estimator
        self.param_grid = param_grid
        self.scoring = scoring
        self.cv = cv
        self.refit = refit
        self.n_jobs = n_jobs

    def _candidates(self):
        return list(ParameterGrid(self.param_grid))

    def fit(self, df: DataFrame, columns=None, label_col: str = "label") -> "GridSearchCV":
        from dask_ml_spark.functions.metrics import (check_scoring,
                                                     score_estimator,
                                                     score_folds)

        cv = check_cv(self.cv)
        candidates = self._candidates()
        scorer = check_scoring(self.estimator, self.scoring)

        if columns is not None:
            # prune the fold cache to the columns the fits/scorer touch:
            # caching a wide fact table for a 4-feature search wastes
            # storage memory AND makes every (candidate, fold) scan pay
            # for unused columns. Estimators declare their needs via
            # required_input_columns (column-scoped by library contract;
            # pipelines union their stages; BlockTransformer-style
            # whole-frame stages return None and keep the full frame)
            req = self.estimator.required_input_columns(columns)
            if req is not None:
                keep = [c for c in dict.fromkeys(
                    [*req, label_col, *getattr(cv, "key_cols", [])])
                    if c in df.columns]
                df = df.select(*keep)

        seen: dict[str, int] = {}  # dedup identical candidates (reference `seen`)
        unique: list[tuple[int, dict]] = []
        for ci, params in enumerate(candidates):
            tok = _param_token(params)
            if tok in seen:
                continue
            seen[tok] = ci
            unique.append((ci, params))

        from dask_ml_spark.operators.compose import Pipeline as _Pipeline
        from dask_ml_spark.operators.linear_model import (fit_newton_batch,
                                                          newton_batch_family)
        from dask_ml_spark.utils import right_size_cv_cache

        # prefix groups (reference _search.py:619-749): a multi-step
        # pipeline's candidates that differ only in final-stage params
        # share ONE prefix fit per split; any other estimator is one
        # group with an empty prefix whose final stage is the estimator
        prefix, final_name, final = None, None, self.estimator
        if isinstance(final, _Pipeline) and len(final.steps) > 1:
            prefix = _Pipeline(final.steps[:-1])
            final_name, final = final.steps[-1]
        groups: dict[str, tuple[dict, list]] = {}
        for ci, params in unique:
            prefix_p, final_p = {}, {}
            for k, v in params.items():
                step, sep, sub = k.partition("__")
                if prefix is None or not sep:
                    final_p[k] = v
                elif step != final_name:
                    prefix_p[k] = v
                else:
                    final_p[sub] = v
            groups.setdefault(_param_token(prefix_p), (prefix_p, []))[1].append(
                (ci, final.clone().set_params(**final_p)))
        n_pooled = sum(newton_batch_family(m) is None
                       for _, cands in groups.values() for _, m in cands)

        # row-wise parameter-independent prep (e.g. GLM feature
        # assembly) runs ONCE here, above the (candidate, split)
        # fan-out, so every fit shares the one cached prepared frame
        df = self.estimator.prepare_cv_cache(df, columns, label_col)

        # right-size the cached frames up-front (see right_size_cv_cache
        # — bytes-floored, so big caches keep their partitions): the
        # batched pass is one consumer, each pooled fit one more, up
        # to n_jobs
        n_concurrent = max(1, min(
            self.n_jobs, n_pooled * getattr(cv, "n_splits", 1)))
        tagged = None
        if isinstance(cv, KFold):
            # CVCache analog: one cached fold-tagged frame; the refit
            # reads it too
            tagged = right_size_cv_cache(cv.fold_column(df),
                                         n_concurrent).persist()
            df = tagged.drop("__fold")
            splits = [(tagged.where(F.col("__fold") != i).drop("__fold"),
                       tagged.where(F.col("__fold") == i).drop("__fold"))
                      for i in range(cv.n_splits)]
        else:
            splits = list(cv.split(df))
        n_splits = len(splits)

        results: dict[tuple, float] = {}
        with ThreadPoolExecutor(max_workers=self.n_jobs) as pool:
            for prefix_p, cands in groups.values():
                # each group fits and scores over ONE cached frame with
                # an int __fold tag: split i trains on the tags in
                # train_tags[i] and is scored on score_tags[i]
                if tagged is not None and prefix is None:
                    frame = tagged
                    train_tags = [[t for t in range(n_splits) if t != i]
                                  for i in range(n_splits)]
                    score_tags = list(range(n_splits))
                else:
                    frame = right_size_cv_cache(_stack_splits(
                        splits, prefix, prefix_p, columns, label_col),
                        n_concurrent).persist()
                    train_tags = [[2 * i] for i in range(n_splits)]
                    score_tags = [2 * i + 1 for i in range(n_splits)]
                try:
                    # GLM candidates with a strictly convex objective:
                    # every (candidate, split) model in one Newton pass
                    # per iteration, scored by one aggregate when the
                    # scorer has an aggregate form
                    fitted = {(ci, i): m.clone() for ci, m in cands
                              if newton_batch_family(m) is not None
                              for i in range(n_splits)}
                    if fitted:
                        mask = np.zeros((max(score_tags) + 1, len(fitted)),
                                        dtype=bool)
                        for f, (_, i) in enumerate(fitted):
                            mask[train_tags[i], f] = True
                        fit_newton_batch(list(fitted.values()), frame,
                                         columns, label_col,
                                         fold_col="__fold", train_mask=mask)
                        scores = score_folds(
                            scorer, [(m, score_tags[i])
                                     for (_, i), m in fitted.items()],
                            frame, "__fold", label_col)
                        if scores is not None:
                            results.update(zip(fitted, scores))

                    def _run(task):
                        (ci, i), model = task
                        if (ci, i) not in fitted:
                            model = model.clone()
                            model.fit(frame.where(F.col("__fold").isin(
                                train_tags[i])).drop("__fold"),
                                columns=columns, label_col=label_col)
                        test = frame.where(F.col("__fold") == score_tags[i])
                        return (ci, i), score_estimator(
                            scorer, model, test.drop("__fold"), label_col)

                    # every other (candidate, split) pair is fitted
                    # (unless batched) and scored by the one pool
                    results.update(pool.map(_run, [
                        ((ci, i), fitted.get((ci, i), m))
                        for ci, m in cands for i in range(n_splits)
                        if (ci, i) not in results]))
                finally:
                    if frame is not tagged:
                        frame.unpersist()

        mean_scores, std_scores = [], []
        split_scores = []
        for ci, params in enumerate(candidates):
            src = seen[_param_token(params)]
            ss = [results[(src, fi)] for fi in range(n_splits)]
            split_scores.append(ss)
            mean_scores.append(float(np.mean(ss)))
            std_scores.append(float(np.std(ss)))
        means = np.asarray(mean_scores)
        # min-rank on ties (reference methods.py:354-446 uses rankdata):
        # rank = 1 + number of strictly better candidates
        ranks = np.asarray([1 + int((means > s).sum()) for s in means])
        self.cv_results_ = {
            "params": candidates,
            "mean_test_score": means,
            "std_test_score": np.asarray(std_scores),
            "rank_test_score": ranks.astype(int),
        }
        for fi in range(n_splits):
            self.cv_results_[f"split{fi}_test_score"] = np.asarray(
                [ss[fi] for ss in split_scores])
        for k in sorted({k for p in candidates for k in p}):
            self.cv_results_[f"param_{k}"] = np.asarray([p.get(k) for p in candidates], dtype=object)
        self.best_index_ = int(np.argmax(mean_scores))
        self.best_params_ = candidates[self.best_index_]
        self.best_score_ = mean_scores[self.best_index_]
        if self.refit:
            self.best_estimator_ = self.estimator.clone().set_params(**self.best_params_)
            # with a fold column, df is the cached fold frame — the
            # same rows, already prepared, so the refit skips a full
            # rescan of the source plan
            self.best_estimator_.fit(df, columns=columns,
                                     label_col=label_col)
        if tagged is not None:
            tagged.unpersist()
        return self

    def predict(self, df: DataFrame, **kw) -> DataFrame:
        return self.best_estimator_.predict(df, **kw)

    # post-fit passthroughs to the refit best estimator (reference
    # _search.py:1137-1171 exposes the same surface)
    def predict_proba(self, df: DataFrame, **kw) -> DataFrame:
        return self.best_estimator_.predict_proba(df, **kw)

    def predict_log_proba(self, df: DataFrame, **kw) -> DataFrame:
        return self.best_estimator_.predict_log_proba(df, **kw)

    def decision_function(self, df: DataFrame, **kw) -> DataFrame:
        return self.best_estimator_.decision_function(df, **kw)

    def transform(self, df: DataFrame, **kw) -> DataFrame:
        return self.best_estimator_.transform(df, **kw)

    def inverse_transform(self, df: DataFrame, **kw) -> DataFrame:
        return self.best_estimator_.inverse_transform(df, **kw)

    def score(self, df: DataFrame, label_col: str = "label"):
        from dask_ml_spark.functions.metrics import check_scoring, score_estimator

        scorer = check_scoring(self.estimator, self.scoring)
        return score_estimator(scorer, self.best_estimator_, df, label_col)


class RandomizedSearchCV(GridSearchCV):
    def __init__(self, estimator, param_distributions, n_iter: int = 10, scoring=None,
                 cv=None, refit: bool = True, n_jobs: int = 4, random_state=None):
        super().__init__(estimator, param_distributions, scoring, cv, refit, n_jobs)
        self.param_distributions = param_distributions
        self.n_iter = n_iter
        self.random_state = random_state

    def _candidates(self):
        return list(ParameterSampler(self.param_distributions, self.n_iter, self.random_state))


class GroupKFold(HashKFold):
    """sklearn-parity group-aware k folds: every row of a group lands
    in the SAME fold, so no group leaks across a train/test boundary.
    Exactly HashKFold keyed on the group column (the content-hash fold
    id is a pure function of the group value — partitioning-, retry-,
    and engine-stable), named for users arriving from sklearn, where
    dask-ml ships no group-aware splitter at all."""

    def __init__(self, n_splits: int = 5, group_col: str = "group",
                 salt: int = 0):
        super().__init__(n_splits=n_splits, key_cols=group_col, salt=salt)
        self.group_col = group_col


def group_shuffle_split(df: DataFrame, group_col: str,
                        test_size: float = 0.25, salt: int = 0):
    """sklearn GroupShuffleSplit analog, one split: the group's
    content hash decides the side, so all rows of a group land
    together and the split replays identically anywhere. Returns
    (train_df, test_df)."""
    return hash_split(df, key_cols=group_col, test_size=test_size,
                      salt=salt)


class TimeSeriesSplit(BaseEstimator):
    """Expanding-window time-series CV (sklearn TimeSeriesSplit
    semantics re-expressed on a TIME COLUMN, the only ordering that
    exists at 100 TB): the time axis is cut into n_splits+1 contiguous
    blocks; fold i trains on everything strictly before cut i+1 and
    tests on the following block — train always precedes test, so no
    temporal leakage, and the train window expands per fold.

    boundary="range" (default): cuts equally spaced in TIME between
    min and max, computed in integer microseconds (timestamps) so the
    boundaries are EXACT and engine-portable — a SQL oracle can replay
    fold membership row-for-row. boundary="quantile": percentile_approx
    cuts balance fold SIZES instead (approximate, engine-specific).

    Scale shape: boundary state is n_splits+1 driver scalars from one
    min/max (or quantile-sketch) aggregate; every (train, test) pair is
    two pushdown-friendly range filters — no sort, no window, no
    shuffle.
    """

    def __init__(self, n_splits: int = 5, time_col: str = "ts",
                 boundary: str = "range"):
        if boundary not in ("range", "quantile"):
            raise ValueError(f"boundary must be 'range'|'quantile', "
                             f"got {boundary!r}")
        self.n_splits = n_splits
        self.time_col = time_col
        self.boundary = boundary

    def _time_expr(self, df: DataFrame):
        from pyspark.sql import types as T

        dt = df.schema[self.time_col].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            # NTZ cannot cast straight to numeric; route through
            # TIMESTAMP — unix_micros then equals DuckDB's epoch_us
            return F.unix_micros(F.col(self.time_col).cast("timestamp"))
        return F.col(self.time_col).cast("long")

    def cuts(self, df: DataFrame) -> list:
        """The n_splits interior boundaries (ascending)."""
        t = self._time_expr(df)
        k = self.n_splits + 1
        if self.boundary == "range":
            row = df.agg(F.min(t).alias("t0"), F.max(t).alias("t1")).collect()[0]
            t0, t1 = int(row["t0"]), int(row["t1"])
            if t1 - t0 < k:
                # mirror the quantile path's guard: a (near-)constant
                # time column yields duplicate integer cuts, silently
                # producing empty train AND empty test folds
                raise ValueError(
                    f"time range [{t0}, {t1}] too narrow for "
                    f"{self.n_splits} splits — boundary='range' cuts "
                    "would collide; reduce n_splits or use a "
                    "finer-grained time column")
            return [t0 + (t1 - t0) * i // k for i in range(1, k)]
        qs = [i / k for i in range(1, k)]
        row = df.select(t.alias("__t")).agg(
            F.percentile_approx("__t", qs, 10_000).alias("c")).collect()[0]
        cuts = [int(c) for c in row["c"]]
        if len(set(cuts)) < len(cuts):
            # a dominant timestamp collapses adjacent quantiles; a
            # duplicated cut would silently yield an EMPTY test fold
            raise ValueError(
                f"quantile cuts collide ({cuts}): too many rows share "
                f"one time value for {self.n_splits} splits — reduce "
                f"n_splits or use boundary='range'")
        return cuts

    def split(self, df: DataFrame):
        t = self._time_expr(df)
        cuts = self.cuts(df)
        hi = cuts[1:] + [None]
        for lo, h in zip(cuts, hi):
            test = (t >= F.lit(lo)) if h is None else \
                ((t >= F.lit(lo)) & (t < F.lit(h)))
            yield df.where(t < F.lit(lo)), df.where(test)
