"""Model-selection catalog queries: splitters, searches, feature selection (SURVEY 2.6).

Split out of the single-file plans/queries.py in round 13 (maintainability:
251+ builders in one 12k-line module); composed by catalog/__init__.py.
Conventions (canonical fixed-point aggregation, oracle alignment) are
documented in catalog/_shared.py.
"""
from __future__ import annotations
import math
from pyspark.sql import functions as F
from dask_ml_spark.utils import local_frame
from ._shared import TOKEN_RE_SQL, _dsum, _t  # noqa: F401

def q_hash_split_train_stats(spark, sf_dir):
    """Deterministic content-addressed train/test split: the bucket is
    a pure arithmetic function of the row key (portable across engines
    and partitionings — unlike rand(seed)), so the oracle verifies the
    exact split CONTENT, not just its size."""
    from dask_ml_spark.plans.model_selection import hash_split

    li = _t(spark, sf_dir, "lineitem")
    train, test = hash_split(li, ["l_orderkey", "l_linenumber"], test_size=0.25)
    t1 = train.agg(F.count("*").alias("n"), _dsum("l_extendedprice").alias("sum_price"),
                   F.lit("train").alias("side"))
    t2 = test.agg(F.count("*").alias("n"), _dsum("l_extendedprice").alias("sum_price"),
                  F.lit("test").alias("side"))
    return t1.unionAll(t2)


SQL_HASH_SPLIT_TRAIN_STATS = """
WITH b AS (
    SELECT l_extendedprice,
           ((((0 + l_orderkey) % 2147483648) * 2654435761 % 2147483648
             + l_linenumber) % 2147483648) * 2654435761 % 2147483648 % 10000 AS bucket
    FROM lineitem
)
SELECT count(*) AS n,
       (CAST(sum(CAST(floor((l_extendedprice) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000) AS sum_price,
       'train' AS side
FROM b WHERE bucket < 7500
UNION ALL
SELECT count(*) AS n,
       (CAST(sum(CAST(floor((l_extendedprice) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000) AS sum_price,
       'test' AS side
FROM b WHERE bucket >= 7500
"""


SHA_N, SHA_R, SHA_ETA, SHA_MAX = 6, 2, 3, 12


def q_incremental_search_best(spark, sf_dir):
    """Standalone SuccessiveHalvingSearchCV (reference
    _successive_halving.py:11-306), oracle-able since r9 the same way
    hyperband_best was converted in r8: deterministic_by switches the
    seeded choices to content-deterministic ones (Knuth hash split,
    key-sorted cyclic batches, listed candidates) and the model is
    SufficientStatsRidge, a closed form of the batch sums — so the SQL
    replays the rung scores at every call target, the (score desc, id
    asc) promotions, and the winner. The seeded SGD SuccessiveHalving
    stays the tested production path
    (tests/test_incremental_search.py)."""
    import math

    from dask_ml_spark.operators.local_estimators import SufficientStatsRidge
    from dask_ml_spark.plans.incremental import SuccessiveHalvingSearchCV

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "label",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double"))
    sha = SuccessiveHalvingSearchCV(
        SufficientStatsRidge(),
        [{"alpha": a} for a in HB_ALPHAS[:SHA_N]],
        n_initial_parameters=SHA_N, n_initial_iter=SHA_R,
        aggressiveness=SHA_ETA, max_iter=SHA_MAX,
        deterministic_by=["l_orderkey", "l_linenumber",
                          "l_extendedprice", "l_discount"])
    sha.fit(li, ["l_extendedprice", "l_discount"], label_col="label")
    return local_frame(
        spark, [(float(sha.best_params_["alpha"]),
                 math.floor(sha.best_score_ * 1e6 + 0.5) / 1e6,
                 int(sha.n_models_))],
        "best_alpha double, best_score double, n_models long")


def q_chi2_scores(spark, sf_dir):
    """chi2 feature scoring (operators/feature_selection.py::chi2):
    observed per-language mass of two non-negative document features
    (chars, tokens) against the independence expectation — one
    groupBy(label) moments pass, the formula replayed in SQL."""
    from dask_ml_spark.datapipe.dedup import tokens_expr
    from dask_ml_spark.operators.feature_selection import chi2

    docs = _t(spark, sf_dir, "documents")
    x = docs.select(
        "lang", F.col("n_chars").cast("double").alias("nchars"),
        F.size(tokens_expr(F.col("text"))).cast("double").alias("ntokens"))
    s = chi2(x, ["nchars", "ntokens"], "lang")
    return local_frame(
        spark, [(c, float(v)) for c, v in s.items()],
        "feature string, chi2 double")


SQL_CHI2_SCORES = f"""
WITH x AS (
    SELECT lang, n_chars::DOUBLE AS nchars,
           len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))::DOUBLE
               AS ntokens
    FROM documents
), g AS (
    SELECT lang, count(*)::DOUBLE AS n,
           sum(nchars) AS s0, sum(ntokens) AS s1
    FROM x GROUP BY lang
), t AS (
    SELECT sum(n) AS ntot, sum(s0) AS t0, sum(s1) AS t1 FROM g
)
SELECT 'nchars' AS feature,
       sum(pow(s0 - t0 * n / ntot, 2) / (t0 * n / ntot)) AS chi2
FROM g CROSS JOIN t
UNION ALL
SELECT 'ntokens',
       sum(pow(s1 - t1 * n / ntot, 2) / (t1 * n / ntot))
FROM g CROSS JOIN t
"""


def q_time_series_split_stats(spark, sf_dir):
    """TimeSeriesSplit over the events stream (plans/
    model_selection.py): 4 expanding-window folds cut at exact integer-
    microsecond range boundaries; per fold the train/test row counts
    plus the test block's value mass prove fold MEMBERSHIP, not just
    sizes. The oracle recomputes every boundary and filter in SQL.

    Rendering (r14, guide §2.4): the boundaries come from the
    splitter's own cuts() (one min/max job — the same job the split()
    generator pays), then ALL four folds' train/test counts and test
    value masses are conditional aggregates in ONE scan of events,
    reshaped to 4 rows with inline. The previous rendering unioned 4
    (train agg ⨯ test agg) crossJoins = 9 full scans + 4
    BroadcastNestedLoopJoins for identical values."""
    from dask_ml_spark.plans.model_selection import TimeSeriesSplit

    ev = _t(spark, sf_dir, "events")
    tss = TimeSeriesSplit(n_splits=4, time_col="ts")
    cuts = tss.cuts(ev)
    t = tss._time_expr(ev)
    aggs, n = [], len(cuts)
    for i, (lo, hi) in enumerate(zip(cuts, cuts[1:] + [None])):
        test = (t >= F.lit(lo)) if hi is None else \
            ((t >= F.lit(lo)) & (t < F.lit(hi)))
        aggs.append(F.count(F.when(t < F.lit(lo), True)).alias(f"tr{i}"))
        aggs.append(F.count(F.when(test, True)).alias(f"te{i}"))
        # conditional form of _dsum("value"), same fixed-point grid
        aggs.append(F.round(F.coalesce(
            F.sum(F.when(test, F.floor(F.col("value") * 10000 + F.lit(0.5))
                         .cast("long"))).cast("double") / F.lit(10000),
            F.lit(0.0)), 6).alias(f"tv{i}"))
    folds = F.array(*[
        F.struct(F.lit(i).cast("long").alias("fold"),
                 F.col(f"tr{i}").alias("train_rows"),
                 F.col(f"te{i}").alias("test_rows"),
                 F.col(f"tv{i}").alias("test_value_sum"))
        for i in range(n)])
    return ev.agg(*aggs).select(F.inline(folds))


def _sql_time_series_split_stats(n: int = 4) -> str:
    k = n + 1
    parts = []
    for i in range(n):
        lo = f"(t0 + (t1 - t0) * {i + 1} // {k})"
        hi = f"(t0 + (t1 - t0) * {i + 2} // {k})"
        test = (f"tu >= {lo}" if i == n - 1
                else f"tu >= {lo} AND tu < {hi}")
        parts.append(f"""
SELECT {i}::BIGINT AS fold,
       count(*) FILTER (WHERE tu < {lo})::BIGINT AS train_rows,
       count(*) FILTER (WHERE {test})::BIGINT AS test_rows,
       round(coalesce(CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT))
                           FILTER (WHERE {test}) AS DOUBLE) / 10000, 0), 6)
           AS test_value_sum
FROM e CROSS JOIN b""")
    body = "\nUNION ALL".join(parts)
    return f"""
WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
           FROM events),
e AS (SELECT epoch_us(ts) AS tu, value FROM events)
{body}
"""


def q_variance_threshold(spark, sf_dir):
    """VarianceThreshold fit (operators/feature_selection.py): per-
    column population variance + keep decision; the injected constant
    column is the one that must be dropped. Attrs are one agg row of
    driver state, replayed with var_pop in SQL."""
    from dask_ml_spark.operators.feature_selection import VarianceThreshold

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        F.lit(7.5).alias("const"))
    vt = VarianceThreshold(threshold=0.0).fit(li)
    # extendedprice variance is ~5e8 — snap to 2 decimals on both sides
    # (the standard_scaler_fit / gaussian_nb_fit canonicalization)
    rows = [(c, round(float(v), 2) if c == "l_extendedprice" else float(v),
             int(keep)) for c, v, keep in
            zip(vt.columns_, vt.variances_, vt.support_)]
    return local_frame(
        spark, rows, "feature string, variance double, kept long")


SQL_VARIANCE_THRESHOLD = """
SELECT 'l_quantity' AS feature, var_pop(l_quantity) AS variance,
       CASE WHEN var_pop(l_quantity) > 0 THEN 1 ELSE 0 END::BIGINT AS kept
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', round(var_pop(l_extendedprice), 2),
       CASE WHEN var_pop(l_extendedprice) > 0 THEN 1 ELSE 0 END::BIGINT
FROM lineitem
UNION ALL
SELECT 'l_discount', var_pop(l_discount),
       CASE WHEN var_pop(l_discount) > 0 THEN 1 ELSE 0 END::BIGINT
FROM lineitem
UNION ALL
SELECT 'l_tax', var_pop(l_tax),
       CASE WHEN var_pop(l_tax) > 0 THEN 1 ELSE 0 END::BIGINT
FROM lineitem
UNION ALL
SELECT 'const', var_pop(7.5),
       CASE WHEN var_pop(7.5) > 0 THEN 1 ELSE 0 END::BIGINT
FROM lineitem
"""


def q_select_kbest(spark, sf_dir):
    """SelectKBest(f_classif) over the first 8 embedding dims vs the
    class label: per-feature ANOVA F plus the top-3 keep flags. The
    oracle recomputes the per-class (n, sum, sum_sq) moments and the
    same F formula in SQL; selection ranks (f_stat DESC, feature ASC)
    in both engines."""
    from dask_ml_spark.operators.feature_selection import SelectKBest

    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "label", *[F.element_at("embedding", i + 1).cast("double")
                   .alias(f"d{i}") for i in range(8)])
    kb = SelectKBest(k=3, score_func="f_classif").fit(
        x, columns=[f"d{i}" for i in range(8)], label_col="label")
    rows = [(c, float(s), int(keep)) for c, s, keep in
            zip(kb.columns_, kb.scores_, kb.support_)]
    return local_frame(
        spark, rows, "feature string, f_stat double, selected long")


def _sql_select_kbest(dims: int = 8, k: int = 3) -> str:
    sel = ", ".join(f"embedding[{i + 1}]::DOUBLE AS d{i}"
                    for i in range(dims))
    moments = ", ".join(f"sum(d{i}) AS s{i}, sum(d{i}*d{i}) AS q{i}"
                        for i in range(dims))
    totals = ", ".join(f"sum(s{i}) AS ts{i}" for i in range(dims))
    branches = "\nUNION ALL\n".join(f"""
    SELECT 'd{i}' AS feature,
           (sum(n * pow(s{i}/n - ts{i}/ntot, 2)) / (max(ngrp) - 1))
           / (sum(q{i} - s{i}*s{i}/n) / (max(ntot) - max(ngrp))) AS f_stat
    FROM g CROSS JOIN t""" for i in range(dims))
    return f"""
WITH x AS (SELECT label, {sel} FROM embeddings),
g AS (SELECT label, count(*)::DOUBLE AS n, {moments} FROM x GROUP BY label),
t AS (SELECT sum(n) AS ntot, count(*)::DOUBLE AS ngrp, {totals} FROM g),
f AS ({branches}),
ranked AS (
    SELECT feature, f_stat,
           row_number() OVER (ORDER BY f_stat DESC, feature ASC) AS rn
    FROM f
)
SELECT feature, f_stat,
       CASE WHEN rn <= {k} THEN 1 ELSE 0 END::BIGINT AS selected
FROM ranked
"""


def q_f_regression_scores(spark, sf_dir):
    """f_regression univariate F-tests: which lineitem columns predict
    extendedprice. One corr+count agg; F = r^2/(1-r^2)*(n-2), the
    identical closed form replayed over DuckDB's corr."""
    from dask_ml_spark.operators.feature_selection import f_regression

    li = _t(spark, sf_dir, "lineitem")
    scores = f_regression(li, ["l_quantity", "l_discount", "l_tax"],
                          "l_extendedprice")
    rows = [(c, float(v)) for c, v in scores.items()]
    return local_frame(spark, rows, "feature string, f_stat double")


SQL_F_REGRESSION_SCORES = """
WITH c AS (
    SELECT count(*)::DOUBLE AS n,
           corr(l_quantity, l_extendedprice) AS rq,
           corr(l_discount, l_extendedprice) AS rd,
           corr(l_tax, l_extendedprice) AS rt
    FROM lineitem
)
SELECT 'l_quantity' AS feature, rq*rq / (1 - rq*rq) * (n - 2) AS f_stat FROM c
UNION ALL
SELECT 'l_discount', rd*rd / (1 - rd*rd) * (n - 2) FROM c
UNION ALL
SELECT 'l_tax', rt*rt / (1 - rt*rt) * (n - 2) FROM c
"""


def q_group_kfold_assignment(spark, sf_dir):
    """Group-aware CV folds (GroupKFold, sklearn-parity — dask-ml has
    no group splitter): every document of a source lands in ONE fold,
    so no group straddles a train/test boundary. The oracle replays
    the engine-portable md5-fold + Knuth-bucket fold id, verifying the
    ASSIGNMENT, and count(distinct source) summing to the total source
    count across folds is the no-leakage proof."""
    from dask_ml_spark.plans.model_selection import GroupKFold

    docs = _t(spark, sf_dir, "documents")
    gk = GroupKFold(n_splits=5, group_col="source")
    wf = gk.fold_column(docs)
    return (wf.groupBy(F.col("__fold").cast("long").alias("fold"))
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct("source").alias("n_sources")))


SQL_GROUP_KFOLD_ASSIGNMENT = """
WITH keyed AS (
    SELECT source,
           ('0x' || substr(md5(source), 1, 14))::BIGINT AS key
    FROM documents
)
SELECT ((((key % 2147483648) * 2654435761) % 2147483648) % 10000) % 5
           AS fold,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources
FROM keyed
GROUP BY 1
"""


def q_grid_search_best(spark, sf_dir):
    """GridSearchCV (reference _search.py:131-1728): one cached
    fold-tagged frame, every (param, fold) model fitted by the batched
    Newton pass and scored by one aggregate. Seeded folds — rows-only."""
    from dask_ml_spark.operators.linear_model import LogisticRegression
    from dask_ml_spark.operators.preprocessing import StandardScaler
    from dask_ml_spark.plans.model_selection import GridSearchCV, KFold

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "label", (F.col("l_returnflag") == "R").cast("double")
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    scaled = StandardScaler().fit(li, cols).transform(li)
    gs = GridSearchCV(
        LogisticRegression(max_iter=10, tol=1e-4),
        {"C": [0.1, 10.0]},
        cv=KFold(n_splits=3, shuffle=True, random_state=7),
        # all 2x3 (param, fold) models share each Newton pass — the
        # reference's scheduler runs the whole (param, fold) graph at
        # once. refit=False (r14): the query returns best_params_/best_score_/
        # n_candidates only — all CV-table state; the default refit's
        # full-data MLlib fit (~10 LBFGS jobs) produced an estimator
        # nothing read (guide §1.2: don't compute what you throw away).
        # Values are unchanged (the ridge/pipeline siblings already ran
        # refit=False).
        refit=False,
        n_jobs=6,
    )
    gs.fit(scaled, cols, label_col="label")
    return local_frame(
        spark, [(float(gs.best_params_["C"]), float(gs.best_score_),
                 len(gs.cv_results_["mean_test_score"]))],
        "best_C double, best_score double, n_candidates long")


RIDGE_GRID_C = [0.1, 10.0]


def q_ridge_grid_search(spark, sf_dir):
    """A GridSearchCV whose ENTIRE result is value-verified: ridge
    regression (one-step-exact newton = the ridge normal equations)
    over content-deterministic HashKFold folds (Knuth-hash bucket % k,
    the hash_split arithmetic), so the oracle can replay fold
    assignment, per-fold penalized normal equations (Cramer's rule),
    held-out R², and candidate ranking — the first value-verified
    model-selection query (the seeded grid_search_best stays rows-only
    by design, mirroring the reference's seeded folds)."""
    from dask_ml_spark.operators.linear_model import LinearRegression
    from dask_ml_spark.plans.model_selection import GridSearchCV, HashKFold

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "label", F.col("l_extendedprice").cast("double"))
    gs = GridSearchCV(
        LinearRegression(penalty="l2", solver="newton"),
        {"C": RIDGE_GRID_C},
        cv=HashKFold(n_splits=3, key_cols=["l_orderkey", "l_linenumber"]),
        refit=False, n_jobs=6)
    gs.fit(li, ["l_quantity", "l_discount"], label_col="label")
    rows = [(float(p["C"]), round(float(s), 6))
            for p, s in zip(gs.cv_results_["params"],
                            gs.cv_results_["mean_test_score"])]
    best = max(r2 for _, r2 in rows)
    return local_frame(spark, [(c, r2, r2 == best) for c, r2 in rows],
                       "C double, mean_r2 double, is_best boolean")


def _sql_ridge_grid_search() -> str:
    """Replay the whole search in SQL: Knuth-hash fold ids, per-fold
    sufficient statistics (one grouped pass; train sums = total −
    held-out fold), the 3×3 penalized normal equations by Cramer's
    rule per (fold, C), held-out R² expanded in the same sufficient
    statistics, then the per-candidate fold mean and argmax."""
    cand = ", ".join(f"({c!r})" for c in RIDGE_GRID_C)
    det = ("a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13) "
           "+ a13*(a12*a23 - a22*a13)")
    return f"""
WITH f AS (
    SELECT l_quantity AS x1, l_discount AS x2,
           l_extendedprice::DOUBLE AS y,
           ((((0 + l_orderkey) % 2147483648) * 2654435761 % 2147483648
             + l_linenumber) % 2147483648) * 2654435761
             % 2147483648 % 10000 % 3 AS fold
    FROM lineitem
),
per AS (
    SELECT fold, count(*)::DOUBLE AS n, sum(x1) AS s1, sum(x2) AS s2,
           sum(y) AS sy, sum(x1*x1) AS s11, sum(x2*x2) AS s22,
           sum(x1*x2) AS s12, sum(x1*y) AS s1y, sum(x2*y) AS s2y,
           sum(y*y) AS syy
    FROM f GROUP BY fold
),
tot AS (
    SELECT sum(n) AS n, sum(s1) AS s1, sum(s2) AS s2, sum(sy) AS sy,
           sum(s11) AS s11, sum(s22) AS s22, sum(s12) AS s12,
           sum(s1y) AS s1y, sum(s2y) AS s2y
    FROM per
),
tr AS (
    SELECT p.fold, t.n - p.n AS n, t.s1 - p.s1 AS s1, t.s2 - p.s2 AS s2,
           t.sy - p.sy AS sy, t.s11 - p.s11 AS s11, t.s22 - p.s22 AS s22,
           t.s12 - p.s12 AS s12, t.s1y - p.s1y AS s1y, t.s2y - p.s2y AS s2y
    FROM per p CROSS JOIN tot t
),
cand(c) AS (VALUES {cand}),
mats AS (
    SELECT tr.fold, cand.c,
           tr.s11/tr.n + 1.0/cand.c AS a11, tr.s12/tr.n AS a12,
           tr.s1/tr.n AS a13, tr.s22/tr.n + 1.0/cand.c AS a22,
           tr.s2/tr.n AS a23, 1.0 AS a33,
           tr.s1y/tr.n AS b1, tr.s2y/tr.n AS b2, tr.sy/tr.n AS b3
    FROM tr CROSS JOIN cand
),
coef AS (
    SELECT fold, c,
      (b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)
         + a13*(b2*a23 - a22*b3)) / ({det}) AS w1,
      (a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13)
         + a13*(a12*b3 - b2*a13)) / ({det}) AS w2,
      (a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)
         + b1*(a12*a23 - a22*a13)) / ({det}) AS b
    FROM mats
),
scored AS (
    SELECT coef.c, coef.fold,
      1 - (p.syy - 2*w1*p.s1y - 2*w2*p.s2y - 2*b*p.sy
           + w1*w1*p.s11 + w2*w2*p.s22 + 2*w1*w2*p.s12
           + 2*w1*b*p.s1 + 2*w2*b*p.s2 + b*b*p.n)
        / (p.syy - p.sy*p.sy/p.n) AS r2
    FROM coef JOIN per p ON coef.fold = p.fold
),
means AS (SELECT c, round(avg(r2), 6) AS mean_r2 FROM scored GROUP BY c)
SELECT c AS "C", mean_r2,
       mean_r2 = (SELECT max(mean_r2) FROM means) AS is_best
FROM means
"""


def q_train_test_split_sizes(spark, sf_dir):
    """train_test_split / randomSplit (reference _split.py:361-520).
    Seeded row-level Bernoulli split — rows-only (fractions are
    approximate by design, like the reference's blockwise splits)."""
    from dask_ml_spark.plans.model_selection import train_test_split

    li = _t(spark, sf_dir, "lineitem")
    train, test = train_test_split(li, test_size=0.25, random_state=42)
    n_train, n_test = train.count(), test.count()
    return local_frame(
        spark, [(n_test, n_train, float(n_test) / float(n_train + n_test))],
        "n_test long, n_train long, test_frac double")


HB_ALPHAS = [1e6, 1e7, 3e7, 1e8, 3e8, 1e9, 3e9, 1e10, 3e10]


HB_MAX_ITER, HB_ETA = 9, 3


HB_BATCH = 50_000


def _hyperband_schedule(R: int = HB_MAX_ITER, eta: int = HB_ETA):
    """Mirror of HyperbandSearchCV._brackets + the engine's ACTUAL
    call accounting (plans/incremental.py: round 0 gives every model
    exactly ONE call; SHA step k then tops the (score desc, id asc)
    top n_k up to r_k total calls). Pure arithmetic in (R, eta) — the
    oracle embeds these as literals, so if the engine ever deviates
    from its own schedule the driver's hash check fails."""
    import math

    s_max = int(math.floor(math.log(R) / math.log(eta)))
    B = (s_max + 1) * R
    out = []
    for s in range(s_max, -1, -1):
        n = int(math.ceil(B / R * eta ** s / (s + 1)))
        r = max(1, int(R * eta ** -s))
        steps, k = [], 0
        while True:  # _sha_steps(n, r, eta, limit=R) mirror
            n_k = max(1, int(math.floor(n * eta ** -k)))
            r_k = min(int(r * eta ** k), R)
            steps.append((n_k, r_k))
            if n_k == 1 or r_k >= R:
                break
            k += 1
        targets = [1] + [rk for (_nk, rk) in steps[1:]]
        keeps = [n] + [nk for (nk, _rk) in steps[1:]]
        total = keeps[0] * targets[0] + sum(
            keeps[i] * (targets[i] - targets[i - 1])
            for i in range(1, len(keeps)))
        out.append({"s": s, "n": n, "targets": targets,
                    "keeps": keeps, "total": total})
    return out


def q_hyperband_best(spark, sf_dir):
    """HyperbandSearchCV (reference _hyperband.py:58-664) made fully
    oracle-able (was rows-only through r7): deterministic_by switches
    the engine's seeded choices to content-deterministic ones (Knuth
    hash split, key-sorted cyclic batches, listed candidates) and the
    model is SufficientStatsRidge, whose state after any batch
    multiset is a closed form of the batch sums — so the SQL replays
    the split, the per-batch sufficient statistics, every rung's
    Cramer-ridge scores, the (score desc, id asc) promotions, and the
    bracket winners. One row per bracket; n_models/partial_fit_calls
    come from the ENGINE's metadata and are checked against the
    schedule arithmetic the oracle embeds. The seeded SGD Hyperband
    stays the production path (tests/test_incremental_search.py)."""
    import math

    from dask_ml_spark.operators.local_estimators import SufficientStatsRidge
    from dask_ml_spark.plans.incremental import HyperbandSearchCV

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "label",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double"))
    # the full 4-column key: the synthetic lineitem duplicates
    # (l_orderkey, l_linenumber) pairs, and deterministic_by REQUIRES a
    # unique key (the engine validates) — ties would make the key sort
    # and the oracle's row_number silently arbitrary
    hb = HyperbandSearchCV(
        SufficientStatsRidge(),
        [{"alpha": a} for a in HB_ALPHAS],
        max_iter=HB_MAX_ITER, aggressiveness=HB_ETA,
        deterministic_by=["l_orderkey", "l_linenumber",
                          "l_extendedprice", "l_discount"])
    hb.fit(li, ["l_extendedprice", "l_discount"], label_col="label")
    winner = next(s for s, sha in hb._bracket_searches
                  if sha.best_score_ == hb.best_score_)
    rows = [(int(s), int(meta["n_models"]), int(meta["partial_fit_calls"]),
             float(sha.best_params_["alpha"]),
             math.floor(sha.best_score_ * 1e6 + 0.5) / 1e6, bool(s == winner))
            for (s, sha), meta in zip(hb._bracket_searches,
                                      hb.metadata_["brackets"])]
    return local_frame(
        spark, rows, "bracket long, n_models long, partial_fit_calls long, "
        "best_alpha double, best_score double, is_winner boolean")


def _sql_incremental_search_best() -> str:
    """Single-bracket SuccessiveHalving replay — the hyperband oracle's
    structure with the standalone schedule: steps for
    (n=6, r=2, eta=3, limit=12) give ranking targets [1, 6, 12] calls
    and keeps [6, 2, 1] (round 0 trains every model exactly ONE call,
    then each SHA step tops the (score desc, id asc) top n_k up to r_k
    — the engine's own accounting, embedded as literals so a schedule
    deviation fails the driver's hash check)."""
    import math

    steps, k = [], 0
    while True:  # _sha_steps(SHA_N, SHA_R, SHA_ETA, limit=SHA_MAX)
        n_k = max(1, int(math.floor(SHA_N * SHA_ETA ** -k)))
        r_k = min(int(SHA_R * SHA_ETA ** k), SHA_MAX)
        steps.append((n_k, r_k))
        if n_k == 1 or r_k >= SHA_MAX:
            break
        k += 1
    targets = [1] + [rk for (_nk, rk) in steps[1:]]
    keeps = [SHA_N] + [nk for (nk, _rk) in steps[1:]]
    calls_vals = ", ".join(f"({c})" for c in sorted(set(targets)))
    cand_vals = ", ".join(f"({i}, {a!r})"
                          for i, a in enumerate(HB_ALPHAS[:SHA_N]))
    stats = ["n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y"]
    wsum = ", ".join(
        f"sum((c // b + CASE WHEN batch < c % b THEN 1 ELSE 0 END) * {x}) AS {x}"
        for x in stats)
    chains = []
    prev = None
    for j, (c, nk) in enumerate(zip(targets, keeps)):
        rung = f"r{j}"
        src = (f"fitsc WHERE c = {c}" if j == 0 else
               f"fitsc JOIN k{j} USING (mid) WHERE c = {c}")
        chains.append(f"{rung} AS (SELECT mid, alpha, score FROM {src})")
        if j + 1 < len(targets):
            chains.append(
                f"k{j + 1} AS (SELECT mid FROM (SELECT mid, "
                f"row_number() OVER (ORDER BY score DESC, mid) AS rk "
                f"FROM {rung}) WHERE rk <= {keeps[j + 1]})")
        prev = rung
    chain_sql = ",\n".join(chains)
    return f"""
WITH split AS (
    SELECT l_extendedprice::DOUBLE AS x1, l_discount AS x2,
           (l_extendedprice * (1 - l_discount))::DOUBLE AS y,
           l_orderkey, l_linenumber, l_extendedprice, l_discount,
           ((((((((0 + l_orderkey) % 2147483648) * 2654435761
                 % 2147483648
             + l_linenumber) % 2147483648) * 2654435761 % 2147483648
             + trunc(l_extendedprice)::BIGINT) % 2147483648)
                 * 2654435761 % 2147483648
             + trunc(l_discount)::BIGINT) % 2147483648) * 2654435761
             % 2147483648 % 10000 AS bucket
    FROM lineitem
),
train AS (
    SELECT * FROM (
        SELECT x1, x2, y,
               row_number() OVER (ORDER BY l_orderkey, l_linenumber,
                                  l_extendedprice, l_discount) - 1
                   AS rn
        FROM split WHERE bucket < 8500)
    WHERE rn < 1000000
),
bt AS (
    SELECT rn // {HB_BATCH} AS batch, count(*)::DOUBLE AS n,
           sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
           sum(x1*x1) AS s11, sum(x2*x2) AS s22, sum(x1*x2) AS s12,
           sum(x1*y) AS s1y, sum(x2*y) AS s2y
    FROM train GROUP BY 1
),
nb AS (SELECT count(*)::BIGINT AS b FROM bt),
te AS (
    SELECT count(*)::DOUBLE AS n, sum(x1) AS s1, sum(x2) AS s2,
           sum(y) AS sy, sum(x1*x1) AS s11, sum(x2*x2) AS s22,
           sum(x1*x2) AS s12, sum(x1*y) AS s1y, sum(x2*y) AS s2y,
           sum(y*y) AS syy
    FROM (SELECT * FROM (
              SELECT x1, x2, y,
                     row_number() OVER (ORDER BY l_orderkey,
                                        l_linenumber, l_extendedprice,
                                        l_discount) AS rn2
              FROM split WHERE bucket >= 8500)
          WHERE rn2 <= 500000)
),
calls(c) AS (VALUES {calls_vals}),
st AS (
    SELECT c, {wsum}
    FROM calls CROSS JOIN bt CROSS JOIN nb GROUP BY c
),
cand(mid, alpha) AS (VALUES {cand_vals}),
mom AS (
    SELECT mid, alpha, c,
           s1/n AS m1, s2/n AS m2, sy/n AS my,
           s11/n - (s1/n)*(s1/n) + alpha AS va,
           s12/n - (s1/n)*(s2/n) AS vb,
           s22/n - (s2/n)*(s2/n) + alpha AS vc,
           s1y/n - (s1/n)*(sy/n) AS c1,
           s2y/n - (s2/n)*(sy/n) AS c2
    FROM cand CROSS JOIN st
),
coefs AS (
    SELECT mid, alpha, c,
           (c1*vc - vb*c2) / (va*vc - vb*vb) AS w1,
           (c2*va - vb*c1) / (va*vc - vb*vb) AS w2,
           my - ((c1*vc - vb*c2) / (va*vc - vb*vb) * m1
                 + (c2*va - vb*c1) / (va*vc - vb*vb) * m2) AS b0
    FROM mom
),
fitsc AS (
    SELECT mid, alpha, c,
           1 - (t.syy - 2*w1*t.s1y - 2*w2*t.s2y - 2*b0*t.sy
                + w1*w1*t.s11 + w2*w2*t.s22 + 2*w1*w2*t.s12
                + 2*w1*b0*t.s1 + 2*w2*b0*t.s2 + b0*b0*t.n)
             / (t.syy - t.sy*t.sy/t.n) AS score
    FROM coefs CROSS JOIN te t
),
{chain_sql}
SELECT alpha AS best_alpha,
       floor(score * 1e6 + 0.5) / 1e6 AS best_score,
       {SHA_N}::BIGINT AS n_models
FROM (SELECT *, row_number() OVER (ORDER BY score DESC, mid) AS rk
      FROM {prev}) WHERE rk = 1
"""


def _sql_hyperband_best() -> str:
    """Generated rung-by-rung replay (the kcenter chained-CTE idiom):
    hash split -> per-batch sufficient statistics -> model states for
    every rung target (cyclic batch counts are a closed form of c and
    the batch count) -> Cramer-ridge + expanded test R² per (model,
    calls) -> per-bracket promotion chains -> winners. Schedule
    geometry (targets/keeps/totals) is embedded as literals from
    _hyperband_schedule."""
    sched = _hyperband_schedule()
    all_calls = sorted({c for br in sched for c in br["targets"]})
    calls_vals = ", ".join(f"({c})" for c in all_calls)
    cand_vals = ", ".join(f"({i}, {a!r})" for i, a in enumerate(HB_ALPHAS))
    stats = ["n", "s1", "s2", "sy", "s11", "s22", "s12", "s1y", "s2y"]
    wsum = ", ".join(
        f"sum((c // b + CASE WHEN batch < c % b THEN 1 ELSE 0 END) * {x}) AS {x}"
        for x in stats)

    # per-bracket promotion chains
    chains, finals = [], []
    for br in sched:
        s, n, targets, keeps = br["s"], br["n"], br["targets"], br["keeps"]
        prev = None
        for k, (c, nk) in enumerate(zip(targets, keeps)):
            rung = f"b{s}r{k}"
            src = (f"fitsc WHERE c = {c} AND mid < {n}" if k == 0 else
                   f"fitsc JOIN b{s}k{k} USING (mid) WHERE c = {c}")
            chains.append(f"{rung} AS (SELECT mid, alpha, score FROM {src})")
            if k + 1 < len(targets):
                nk_next = keeps[k + 1]
                chains.append(
                    f"b{s}k{k + 1} AS (SELECT mid FROM (SELECT mid, "
                    f"row_number() OVER (ORDER BY score DESC, mid) AS rk "
                    f"FROM {rung}) WHERE rk <= {nk_next})")
            prev = rung
        finals.append(
            f"b{s}best AS (SELECT {s} AS bracket, {n} AS n_models, "
            f"{br['total']} AS partial_fit_calls, alpha AS best_alpha, "
            f"score FROM (SELECT *, row_number() OVER "
            f"(ORDER BY score DESC, mid) AS rk FROM {prev}) WHERE rk = 1)")
    union = " UNION ALL ".join(f"SELECT * FROM b{br['s']}best"
                               for br in sched)
    return f"""
WITH split AS (
    SELECT l_extendedprice::DOUBLE AS x1, l_discount AS x2,
           (l_extendedprice * (1 - l_discount))::DOUBLE AS y,
           l_orderkey, l_linenumber, l_extendedprice, l_discount,
           -- 4-key Knuth chain (engine casts doubles to long by
           -- TRUNCATION, hence trunc() here, not ::BIGINT rounding)
           ((((((((0 + l_orderkey) % 2147483648) * 2654435761
                 % 2147483648
             + l_linenumber) % 2147483648) * 2654435761 % 2147483648
             + trunc(l_extendedprice)::BIGINT) % 2147483648)
                 * 2654435761 % 2147483648
             + trunc(l_discount)::BIGINT) % 2147483648) * 2654435761
             % 2147483648 % 10000 AS bucket
    FROM lineitem
),
train AS (
    -- mirrors the engine's _collect_batches cap: the key-sorted train
    -- frame is trimmed to its smallest 1M keys (no-op below the cap)
    SELECT * FROM (
        SELECT x1, x2, y,
               row_number() OVER (ORDER BY l_orderkey, l_linenumber,
                                  l_extendedprice, l_discount) - 1
                   AS rn
        FROM split WHERE bucket < 8500)
    WHERE rn < 1000000
),
bt AS (
    SELECT rn // {HB_BATCH} AS batch, count(*)::DOUBLE AS n,
           sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
           sum(x1*x1) AS s11, sum(x2*x2) AS s22, sum(x1*x2) AS s12,
           sum(x1*y) AS s1y, sum(x2*y) AS s2y
    FROM train GROUP BY 1
),
nb AS (SELECT count(*)::BIGINT AS b FROM bt),
te AS (
    -- mirrors the engine's 500k key-sorted test cap (no-op below it)
    SELECT count(*)::DOUBLE AS n, sum(x1) AS s1, sum(x2) AS s2,
           sum(y) AS sy, sum(x1*x1) AS s11, sum(x2*x2) AS s22,
           sum(x1*x2) AS s12, sum(x1*y) AS s1y, sum(x2*y) AS s2y,
           sum(y*y) AS syy
    FROM (SELECT * FROM (
              SELECT x1, x2, y,
                     row_number() OVER (ORDER BY l_orderkey,
                                        l_linenumber, l_extendedprice,
                                        l_discount) AS rn2
              FROM split WHERE bucket >= 8500)
          WHERE rn2 <= 500000)
),
calls(c) AS (VALUES {calls_vals}),
st AS (
    SELECT c, {wsum}
    FROM calls CROSS JOIN bt CROSS JOIN nb GROUP BY c
),
cand(mid, alpha) AS (VALUES {cand_vals}),
mom AS (
    SELECT mid, alpha, c,
           s1/n AS m1, s2/n AS m2, sy/n AS my,
           s11/n - (s1/n)*(s1/n) + alpha AS va,
           s12/n - (s1/n)*(s2/n) AS vb,
           s22/n - (s2/n)*(s2/n) + alpha AS vc,
           s1y/n - (s1/n)*(sy/n) AS c1,
           s2y/n - (s2/n)*(sy/n) AS c2
    FROM cand CROSS JOIN st
),
coefs AS (
    SELECT mid, alpha, c,
           (c1*vc - vb*c2) / (va*vc - vb*vb) AS w1,
           (c2*va - vb*c1) / (va*vc - vb*vb) AS w2,
           my - ((c1*vc - vb*c2) / (va*vc - vb*vb) * m1
                 + (c2*va - vb*c1) / (va*vc - vb*vb) * m2) AS b0
    FROM mom
),
fitsc AS (
    SELECT mid, alpha, c,
           1 - (t.syy - 2*w1*t.s1y - 2*w2*t.s2y - 2*b0*t.sy
                + w1*w1*t.s11 + w2*w2*t.s22 + 2*w1*w2*t.s12
                + 2*w1*b0*t.s1 + 2*w2*b0*t.s2 + b0*b0*t.n)
             / (t.syy - t.sy*t.sy/t.n) AS score
    FROM coefs CROSS JOIN te t
),
{", ".join(chains)},
{", ".join(finals)},
allb AS ({union}),
win AS (
    SELECT bracket FROM (
        SELECT bracket, row_number() OVER
            (ORDER BY score DESC, bracket DESC) AS rk
        FROM allb) WHERE rk = 1
)
SELECT bracket::BIGINT AS bracket, n_models::BIGINT AS n_models,
       partial_fit_calls::BIGINT AS partial_fit_calls,
       best_alpha::DOUBLE AS best_alpha,
       floor(score * 1e6 + 0.5) / 1e6 AS best_score,
       bracket = (SELECT bracket FROM win) AS is_winner
FROM allb
"""


PIPE_GRID_C = [0.2, 2.0, 20.0]


def q_pipeline_grid_search(spark, sf_dir):
    """GridSearchCV over a Pipeline with step__param candidates —
    exercises prefix sharing (ONE scaler fit per fold on its train
    rows, the transformed folds stacked in one cached frame, every
    final-stage (candidate, fold) model fitted by one batched Newton
    pass; reference _search.py:619-749) — and, since r7, every value is
    oracle-verified: content-deterministic HashKFold folds + a
    StandardScaler prefix + one-step-exact newton ridge let the SQL
    replay fold hash, per-fold train mean/std, the scaled-space
    penalized normal equations (which DECOUPLE the intercept: scaled
    features have exact zero train mean), the back-substituted
    raw-space coefficients, held-out R², and candidate ranking."""
    from dask_ml_spark.operators.compose import Pipeline
    from dask_ml_spark.operators.linear_model import LinearRegression
    from dask_ml_spark.operators.preprocessing import StandardScaler
    from dask_ml_spark.plans.model_selection import GridSearchCV, HashKFold

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "label", F.col("l_extendedprice").cast("double"))
    gs = GridSearchCV(
        Pipeline([("scale", StandardScaler()),
                  ("ridge", LinearRegression(penalty="l2", solver="newton"))]),
        {"ridge__C": PIPE_GRID_C},
        cv=HashKFold(n_splits=3, key_cols=["l_orderkey", "l_linenumber"]),
        refit=False, n_jobs=6)
    gs.fit(li, ["l_quantity", "l_discount"], label_col="label")
    rows = [(float(p["ridge__C"]), round(float(s), 6))
            for p, s in zip(gs.cv_results_["params"],
                            gs.cv_results_["mean_test_score"])]
    best = max(r2 for _, r2 in rows)
    return local_frame(spark, [(c, r2, r2 == best) for c, r2 in rows],
                       "C double, mean_r2 double, is_best boolean")


def _sql_pipeline_grid_search() -> str:
    """Replay the PIPELINE search in SQL: Knuth-hash fold ids, per-fold
    sufficient statistics (train sums = total − held-out fold), the
    TRAIN-fold scaler (population mean/std — fit on train only, no
    leakage), then the ridge normal equations in SCALED space, where
    the train means are exactly zero so the intercept decouples:

        [1+1/C  g12 ] [w1]   [c1]
        [g12  1+1/C ] [w2] = [c2],   b = ybar_train

    with g12 the train correlation and c1/c2 the scaled feature-label
    covariances — all pure algebra over the raw sums. Coefficients
    back-substitute to raw space (W = w/sd, B = b − Σ w·m/sd) and the
    held-out R² expands in the test fold's raw sufficient statistics."""
    cand = ", ".join(f"({c!r})" for c in PIPE_GRID_C)
    den = "((1.0+1.0/c)*(1.0+1.0/c) - g12*g12)"
    u1 = f"((c1*(1.0+1.0/c) - g12*c2) / {den})"  # scaled-space w1
    u2 = f"((c2*(1.0+1.0/c) - g12*c1) / {den})"  # scaled-space w2
    return f"""
WITH f AS (
    SELECT l_quantity AS x1, l_discount AS x2,
           l_extendedprice::DOUBLE AS y,
           ((((0 + l_orderkey) % 2147483648) * 2654435761 % 2147483648
             + l_linenumber) % 2147483648) * 2654435761
             % 2147483648 % 10000 % 3 AS fold
    FROM lineitem
),
per AS (
    SELECT fold, count(*)::DOUBLE AS n, sum(x1) AS s1, sum(x2) AS s2,
           sum(y) AS sy, sum(x1*x1) AS s11, sum(x2*x2) AS s22,
           sum(x1*x2) AS s12, sum(x1*y) AS s1y, sum(x2*y) AS s2y,
           sum(y*y) AS syy
    FROM f GROUP BY fold
),
tot AS (
    SELECT sum(n) AS n, sum(s1) AS s1, sum(s2) AS s2, sum(sy) AS sy,
           sum(s11) AS s11, sum(s22) AS s22, sum(s12) AS s12,
           sum(s1y) AS s1y, sum(s2y) AS s2y
    FROM per
),
tr AS (
    SELECT p.fold, t.n - p.n AS n, t.s1 - p.s1 AS s1, t.s2 - p.s2 AS s2,
           t.sy - p.sy AS sy, t.s11 - p.s11 AS s11, t.s22 - p.s22 AS s22,
           t.s12 - p.s12 AS s12, t.s1y - p.s1y AS s1y, t.s2y - p.s2y AS s2y
    FROM per p CROSS JOIN tot t
),
sm AS (
    SELECT fold, sy/n AS ybar, s1/n AS m1, s2/n AS m2,
           sqrt(s11/n - (s1/n)*(s1/n)) AS sd1,
           sqrt(s22/n - (s2/n)*(s2/n)) AS sd2,
           (s12/n - (s1/n)*(s2/n))
             / (sqrt(s11/n - (s1/n)*(s1/n)) * sqrt(s22/n - (s2/n)*(s2/n)))
             AS g12,
           (s1y/n - (s1/n)*(sy/n)) / sqrt(s11/n - (s1/n)*(s1/n)) AS c1,
           (s2y/n - (s2/n)*(sy/n)) / sqrt(s22/n - (s2/n)*(s2/n)) AS c2
    FROM tr
),
cand(c) AS (VALUES {cand}),
coef AS (
    SELECT fold, c,
           {u1} / sd1 AS w1,
           {u2} / sd2 AS w2,
           ybar - {u1} * m1 / sd1 - {u2} * m2 / sd2 AS b
    FROM sm CROSS JOIN cand
),
scored AS (
    SELECT coef.c, coef.fold,
      1 - (p.syy - 2*w1*p.s1y - 2*w2*p.s2y - 2*b*p.sy
           + w1*w1*p.s11 + w2*w2*p.s22 + 2*w1*w2*p.s12
           + 2*w1*b*p.s1 + 2*w2*b*p.s2 + b*b*p.n)
        / (p.syy - p.sy*p.sy/p.n) AS r2
    FROM coef JOIN per p ON coef.fold = p.fold
),
means AS (SELECT c, round(avg(r2), 6) AS mean_r2 FROM scored GROUP BY c)
SELECT c AS "C", mean_r2,
       mean_r2 = (SELECT max(mean_r2) FROM means) AS is_best
FROM means
"""


def catalog_queries():
    """This family's queries() entries (order preserved by __init__)."""
    return {
        "hash_split_train_stats": q_hash_split_train_stats,
        "variance_threshold": q_variance_threshold,
        "select_kbest": q_select_kbest,
        "f_regression_scores": q_f_regression_scores,
        "time_series_split_stats": q_time_series_split_stats,
        "chi2_scores": q_chi2_scores,
        "group_kfold_assignment": q_group_kfold_assignment,
        "incremental_search_best": q_incremental_search_best,
        "grid_search_best": q_grid_search_best,
        "ridge_grid_search_hash_cv": q_ridge_grid_search,
        "train_test_split_sizes": q_train_test_split_sizes,
        "hyperband_best": q_hyperband_best,
        "pipeline_grid_search": q_pipeline_grid_search,
    }


def catalog_oracles():
    """This family's oracle_sql() entries — built lazily at call time,
    exactly as the original build_catalog did."""
    return {
        "hash_split_train_stats": SQL_HASH_SPLIT_TRAIN_STATS,
        "variance_threshold": SQL_VARIANCE_THRESHOLD,
        "select_kbest": _sql_select_kbest(),
        "f_regression_scores": SQL_F_REGRESSION_SCORES,
        "time_series_split_stats": _sql_time_series_split_stats(),
        "chi2_scores": SQL_CHI2_SCORES,
        "group_kfold_assignment": SQL_GROUP_KFOLD_ASSIGNMENT,
        "ridge_grid_search_hash_cv": _sql_ridge_grid_search(),
        "pipeline_grid_search": _sql_pipeline_grid_search(),
        "hyperband_best": _sql_hyperband_best(),
        "incremental_search_best": _sql_incremental_search_best(),
    }
