"""Preprocessing, encoder, vectorizer, model-fit, clustering, decomposition, and metrics catalog queries (SURVEY 2.3-2.5).

Split out of the single-file plans/queries.py in round 13 (maintainability:
251+ builders in one 12k-line module); composed by catalog/__init__.py.
Conventions (canonical fixed-point aggregation, oracle alignment) are
documented in catalog/_shared.py.
"""
from __future__ import annotations
import math
from pyspark.sql import functions as F
from dask_ml_spark.datapipe import dedup as DD
from dask_ml_spark.datapipe import text_stats as TS
from dask_ml_spark.utils import local_frame
from ._shared import LINEITEM_FEATS, TOKEN_RE_SQL, _dsum, _sql_lang_score, _t  # noqa: F401

def _dsum_wide(col):
    """_dsum for LARGE-magnitude summands (squared errors ~1e8-1e10 per
    row): the int64 fixed-point sum would cross 2^63 around sf1
    (silently wrapping in Spark, erroring in DuckDB — review-caught),
    so accumulate in DECIMAL(27,4) instead (1e23-unit headroom).
    floor-to-grid FIRST keeps the decimal cast tie-free: the floored
    double sits within half an ulp of an exact 1e-4-grid value, far
    from any .xxxx50 midpoint where the engines' cast rounding modes
    disagree. SQL twin:
    CAST(sum(CAST(floor(e * 10000 + 0.5) / 10000
                  AS DECIMAL(27,4))) AS DOUBLE)."""
    if isinstance(col, str):
        col = F.col(col)
    return (F.sum((F.floor(col * 10000 + F.lit(0.5)) / 10000)
                  .cast("decimal(27,4)")).cast("double"))


# =====================================================================
# preprocessing operators (SURVEY §2.3)
# =====================================================================

def q_standard_scaler_fit(spark, sf_dir):
    from dask_ml_spark.operators.preprocessing import StandardScaler

    li = _t(spark, sf_dir, "lineitem")
    sc = StandardScaler().fit(li, LINEITEM_FEATS)
    row = {}
    for i, c in enumerate(LINEITEM_FEATS):
        row[f"mean_{c}"] = float(sc.mean_[i])
        # extendedprice variance is ~5e8: cross-engine co-moment drift
        # sits near the rounded gate's grid, so snap it to 2 decimals on
        # both sides (same canonicalization as gaussian_nb_fit's
        # var_price); the O(1)-magnitude variances stay raw
        v = float(sc.var_[i])
        row[f"var_{c}"] = round(v, 2) if c == "l_extendedprice" else v
    cols = sorted(row)
    return local_frame(spark, [tuple(row[c] for c in cols)],
                       ", ".join(f"{c} double" for c in cols))


SQL_STANDARD_SCALER_FIT = "SELECT " + ", ".join(
    f"avg({c}) AS mean_{c}, "
    + (f"round(var_pop({c}), 2) AS var_{c}" if c == "l_extendedprice"
       else f"var_pop({c}) AS var_{c}")
    for c in LINEITEM_FEATS
) + " FROM lineitem"


def q_standard_scaler_transform(spark, sf_dir):
    from dask_ml_spark.operators.preprocessing import StandardScaler

    li = _t(spark, sf_dir, "lineitem")
    sc = StandardScaler().fit(li, ["l_quantity", "l_extendedprice"])
    return sc.transform(li).select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").alias("scaled_quantity"),
        F.col("l_extendedprice").alias("scaled_price"),
    )


SQL_STANDARD_SCALER_TRANSFORM = """
SELECT l_orderkey, l_linenumber,
       (l_quantity - avg(l_quantity) OVER ()) / stddev_pop(l_quantity) OVER () AS scaled_quantity,
       (l_extendedprice - avg(l_extendedprice) OVER ()) / stddev_pop(l_extendedprice) OVER () AS scaled_price
FROM lineitem
"""


def q_minmax_scaler_fit(spark, sf_dir):
    from dask_ml_spark.operators.preprocessing import MinMaxScaler

    li = _t(spark, sf_dir, "lineitem")
    sc = MinMaxScaler().fit(li, LINEITEM_FEATS)
    row = {}
    for i, c in enumerate(LINEITEM_FEATS):
        row[f"min_{c}"] = float(sc.data_min_[i])
        row[f"max_{c}"] = float(sc.data_max_[i])
    cols = sorted(row)
    return local_frame(spark, [tuple(row[c] for c in cols)],
                       ", ".join(f"{c} double" for c in cols))


SQL_MINMAX_SCALER_FIT = "SELECT " + ", ".join(
    f"min({c})::DOUBLE AS min_{c}, max({c})::DOUBLE AS max_{c}" for c in LINEITEM_FEATS
) + " FROM lineitem"


def q_robust_scaler_fit(spark, sf_dir):
    from dask_ml_spark.operators.preprocessing import RobustScaler

    li = _t(spark, sf_dir, "lineitem")
    sc = RobustScaler().fit(li, ["l_quantity", "l_extendedprice"])
    return local_frame(
        spark, [(float(sc.center_[0]), float(sc.scale_[0]),
                 float(sc.center_[1]), float(sc.scale_[1]))],
        "center_l_quantity double, iqr_l_quantity double, "
        "center_l_extendedprice double, iqr_l_extendedprice double")


SQL_ROBUST_SCALER_FIT = """
SELECT quantile_cont(l_quantity, 0.5) AS center_l_quantity,
       quantile_cont(l_quantity, 0.75) - quantile_cont(l_quantity, 0.25) AS iqr_l_quantity,
       quantile_cont(l_extendedprice, 0.5) AS center_l_extendedprice,
       quantile_cont(l_extendedprice, 0.75) - quantile_cont(l_extendedprice, 0.25) AS iqr_l_extendedprice
FROM lineitem
"""


def q_simple_imputer_fit(spark, sf_dir):
    from dask_ml_spark.operators.preprocessing import SimpleImputer

    li = _t(spark, sf_dir, "lineitem")
    mean_imp = SimpleImputer(strategy="mean").fit(li, ["l_quantity", "l_discount"])
    # exact=True: the DuckDB oracle is quantile_cont; the API default is
    # percentile_approx (matches reference approximate-quantile semantics)
    med_imp = SimpleImputer(strategy="median", exact=True).fit(li, ["l_quantity"])
    return local_frame(
        spark, [(float(mean_imp.statistics_["l_quantity"]),
                 float(mean_imp.statistics_["l_discount"]),
                 float(med_imp.statistics_["l_quantity"]))],
        "mean_l_quantity double, mean_l_discount double, "
        "median_l_quantity double")


SQL_SIMPLE_IMPUTER_FIT = """
SELECT avg(l_quantity) AS mean_l_quantity,
       avg(l_discount) AS mean_l_discount,
       quantile_cont(l_quantity, 0.5) AS median_l_quantity
FROM lineitem
"""


# =====================================================================
# encoders (SURVEY §2.3)
# =====================================================================

def q_label_encoder_fit(spark, sf_dir):
    from dask_ml_spark.operators.encoders import LabelEncoder

    o = _t(spark, sf_dir, "orders")
    le = LabelEncoder().fit(o, "o_orderpriority")
    return local_frame(
        spark, [(v, i) for i, v in enumerate(le.classes_.tolist())],
        "label string, code int")


SQL_LABEL_ENCODER_FIT = """
SELECT o_orderpriority AS label,
       CAST(row_number() OVER (ORDER BY o_orderpriority) - 1 AS INTEGER) AS code
FROM (SELECT DISTINCT o_orderpriority FROM orders)
"""


def q_label_encoder_transform(spark, sf_dir):
    from dask_ml_spark.operators.encoders import LabelEncoder

    o = _t(spark, sf_dir, "orders")
    le = LabelEncoder().fit(o, "o_orderpriority")
    return le.transform(o, "priority_code").select("o_orderkey", "o_orderpriority", "priority_code")


SQL_LABEL_ENCODER_TRANSFORM = """
SELECT o_orderkey, o_orderpriority,
       CAST(dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS INTEGER) AS priority_code
FROM orders
"""


def q_ordinal_encoder(spark, sf_dir):
    from dask_ml_spark.operators.encoders import OrdinalEncoder

    o = _t(spark, sf_dir, "orders")
    oe = OrdinalEncoder().fit(o, ["o_orderstatus", "o_orderpriority"])
    return oe.transform(o).select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status_code"),
        F.col("o_orderpriority").alias("priority_code"),
    )


SQL_ORDINAL_ENCODER = """
SELECT o_orderkey,
       CAST(dense_rank() OVER (ORDER BY o_orderstatus) - 1 AS INTEGER) AS status_code,
       CAST(dense_rank() OVER (ORDER BY o_orderpriority) - 1 AS INTEGER) AS priority_code
FROM orders
"""


def q_dummy_encoder(spark, sf_dir):
    from dask_ml_spark.operators.encoders import DummyEncoder

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    de = DummyEncoder().fit(o, ["o_orderstatus"])
    out = de.transform(o)
    return out.select(
        "o_orderkey",
        *[F.col(c).cast("int").alias(c) for c in de.transformed_columns_],
    )


def sql_dummy_encoder(categories) -> str:
    cases = ", ".join(
        f"CASE WHEN o_orderstatus = '{v}' THEN 1 ELSE 0 END AS o_orderstatus_{v}"
        for v in categories
    )
    return f"SELECT o_orderkey, {cases} FROM orders"


def q_polynomial_features(spark, sf_dir):
    from dask_ml_spark.operators.preprocessing import PolynomialFeatures

    li = _t(spark, sf_dir, "lineitem")
    pf = PolynomialFeatures(degree=2, include_bias=False).fit(li, ["l_quantity", "l_discount"])
    out = pf.transform(li)
    return out.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity^2").alias("q2"),
        F.col("l_quantity l_discount").alias("qd"),
        F.col("l_discount^2").alias("d2"),
    )


SQL_POLYNOMIAL_FEATURES = """
SELECT l_orderkey, l_linenumber,
       l_quantity * l_quantity AS q2,
       l_quantity * l_discount AS qd,
       l_discount * l_discount AS d2
FROM lineitem
"""


PAIRWISE_CENTERS = [[10.0, 30000.0], [40.0, 70000.0]]


def q_pairwise_distance_to_centers(spark, sf_dir):
    """Arrow-batched pandas-UDF pairwise distances vs a broadcast Y —
    checked against pure-SQL sqrt expressions (validates the UDF
    path's numerics, not just JVM expressions)."""
    from dask_ml_spark.operators.pairwise import pairwise_distances

    li = _t(spark, sf_dir, "lineitem")
    out = pairwise_distances(li, ["l_quantity", "l_extendedprice"], PAIRWISE_CENTERS)
    return out.select(
        "l_orderkey", "l_linenumber",
        F.element_at("distances", 1).alias("dist_0"),
        F.element_at("distances", 2).alias("dist_1"),
    )


SQL_PAIRWISE_DISTANCE_TO_CENTERS = f"""
SELECT l_orderkey, l_linenumber,
       sqrt(pow(l_quantity - {PAIRWISE_CENTERS[0][0]}, 2) + pow(l_extendedprice - {PAIRWISE_CENTERS[0][1]}, 2)) AS dist_0,
       sqrt(pow(l_quantity - {PAIRWISE_CENTERS[1][0]}, 2) + pow(l_extendedprice - {PAIRWISE_CENTERS[1][1]}, 2)) AS dist_1
FROM lineitem
"""


def q_minmax_scaler_transform(spark, sf_dir):
    from dask_ml_spark.operators.preprocessing import MinMaxScaler

    li = _t(spark, sf_dir, "lineitem")
    sc = MinMaxScaler().fit(li, ["l_quantity"])
    return sc.transform(li).select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").alias("scaled_quantity")
    )


SQL_MINMAX_SCALER_TRANSFORM = """
SELECT l_orderkey, l_linenumber,
       (l_quantity - min(l_quantity) OVER ()) / (max(l_quantity) OVER () - min(l_quantity) OVER ()) AS scaled_quantity
FROM lineitem
"""


# =====================================================================
# grouped statistics / models (SURVEY §2.3/2.4)
# =====================================================================

def q_gaussian_nb_fit(spark, sf_dir):
    from dask_ml_spark.operators.naive_bayes import GaussianNB

    li = _t(spark, sf_dir, "lineitem")
    nb = GaussianNB(var_smoothing=0.0).fit(
        li, ["l_quantity", "l_extendedprice", "l_discount"], label_col="l_returnflag"
    )
    # extendedprice variance is ~4e8: cross-engine drift (~2e-7 abs)
    # sits within 4x of the rounded gate's 1e-6 granularity, so snap it
    # to 2 decimals on both sides
    rows = [(cls, int(nb.class_count_[ci]),
             *(float(v) for v in nb.theta_[ci][:3]),
             float(nb.var_[ci][0]), round(float(nb.var_[ci][1]), 2),
             float(nb.var_[ci][2]))
            for ci, cls in enumerate(nb.classes_.tolist())]
    return local_frame(
        spark, rows, "l_returnflag string, n long, mean_quantity double, "
        "mean_price double, mean_discount double, var_quantity double, "
        "var_price double, var_discount double")


SQL_GAUSSIAN_NB_FIT = """
SELECT l_returnflag,
       count(*) AS n,
       avg(l_quantity) AS mean_quantity,
       avg(l_extendedprice) AS mean_price,
       avg(l_discount) AS mean_discount,
       var_pop(l_quantity) AS var_quantity,
       round(var_pop(l_extendedprice), 2) AS var_price,
       var_pop(l_discount) AS var_discount
FROM lineitem
GROUP BY l_returnflag
"""


def q_simple_ols_fit(spark, sf_dir):
    """Closed-form simple linear regression (quantity ~ extendedprice)
    via regr_* aggregates — the GLM family's SQL-checkable member."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.regr_slope(F.col("l_quantity"), F.col("l_extendedprice")).alias("slope"),
        F.regr_intercept(F.col("l_quantity"), F.col("l_extendedprice")).alias("intercept"),
        F.regr_r2(F.col("l_quantity"), F.col("l_extendedprice")).alias("r2"),
    )


SQL_SIMPLE_OLS_FIT = """
SELECT regr_slope(l_quantity, l_extendedprice) AS slope,
       regr_intercept(l_quantity, l_extendedprice) AS intercept,
       regr_r2(l_quantity, l_extendedprice) AS r2
FROM lineitem
"""


def q_ols_newton_fit(spark, sf_dir):
    """Distributed Newton solver (operators/solvers.py) on a 2-feature
    OLS. For the gaussian family Newton solves the normal equations
    exactly in one step, so DuckDB's Cramer-rule solution of the same
    system is a tight oracle — this checks the distributed
    gradient/Hessian aggregation end-to-end, not just SQL parity."""
    from dask_ml_spark.linear_model import LinearRegression

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        F.col("l_tax").cast("double").alias("x2"),
        F.col("l_discount").cast("double").alias("label"),
    )
    m = LinearRegression(penalty="none", solver="newton", max_iter=2).fit(
        li, ["x1", "x2"])
    return local_frame(
        spark, [(float(m.coef_[0]), float(m.coef_[1]), float(m.intercept_))],
        "coef_x1 double, coef_x2 double, intercept double")


SQL_OLS_NEWTON_FIT = """
WITH d AS (
  SELECT l_quantity/50.0 AS x1, l_tax AS x2, l_discount AS y FROM lineitem
), s AS (
  SELECT count(*)::DOUBLE AS n,
         sum(x1*x1) AS a11, sum(x1*x2) AS a12, sum(x1) AS a13,
         sum(x2*x2) AS a22, sum(x2) AS a23,
         sum(x1*y) AS b1, sum(x2*y) AS b2, sum(y) AS b3
  FROM d
), m AS (
  SELECT *,
    a11*(a22*n - a23*a23) - a12*(a12*n - a23*a13) + a13*(a12*a23 - a22*a13) AS det
  FROM s
)
SELECT
  (b1*(a22*n - a23*a23) - a12*(b2*n - a23*b3) + a13*(b2*a23 - a22*b3)) / det AS coef_x1,
  (a11*(b2*n - a23*b3) - b1*(a12*n - a23*a13) + a13*(a12*b3 - b2*a13)) / det AS coef_x2,
  (a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13) + b1*(a12*a23 - a22*a13)) / det AS intercept
FROM m
"""


def q_logistic_newton_fit(spark, sf_dir):
    """Distributed Newton-IRLS logistic fit on a SATURATED model (one
    binary feature): the MLE has the closed form beta0 = logit(P(y|x=0)),
    beta1 = logit(P(y|x=1)) - beta0, so plain SQL group means are an
    exact oracle for the iterative distributed solver."""
    from dask_ml_spark.linear_model import LogisticRegression

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_discount") > 0.05).cast("double").alias("x"),
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
    )
    m = LogisticRegression(penalty="none", solver="newton",
                           max_iter=25, tol=1e-14).fit(li, ["x"])
    return local_frame(
        spark,
        [(float(m.coef_[0]), float(m.intercept_))], "coef_x double, intercept double")


SQL_LOGISTIC_NEWTON_FIT = """
WITH g AS (
  SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS x,
         avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS p
  FROM lineitem GROUP BY 1
)
SELECT (SELECT ln(p/(1-p)) FROM g WHERE x = 1) - (SELECT ln(p/(1-p)) FROM g WHERE x = 0) AS coef_x,
       (SELECT ln(p/(1-p)) FROM g WHERE x = 0) AS intercept
"""


def q_poisson_newton_fit(spark, sf_dir):
    """Distributed Newton-IRLS Poisson fit, saturated single-binary-
    feature model: MLE closed form beta0 = ln(mean(y|x=0)), beta1 =
    ln(mean(y|x=1)) - beta0 — SQL group means oracle the solver."""
    from dask_ml_spark.linear_model import PoissonRegression

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("double").alias("x"),
        F.col("l_quantity").cast("double").alias("label"),
    )
    m = PoissonRegression(solver="newton", max_iter=25, tol=1e-14,
                          C=float("inf")).fit(li, ["x"])
    return local_frame(
        spark,
        [(float(m.coef_[0]), float(m.intercept_))], "coef_x double, intercept double")


SQL_POISSON_NEWTON_FIT = """
WITH g AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS x,
         avg(l_quantity) AS m
  FROM lineitem GROUP BY 1
)
SELECT (SELECT ln(m) FROM g WHERE x = 1) - (SELECT ln(m) FROM g WHERE x = 0) AS coef_x,
       (SELECT ln(m) FROM g WHERE x = 0) AS intercept
"""


def q_incremental_pca_fit(spark, sf_dir):
    """IncrementalPCA (reference incremental_pca.py:36-427) fed three
    disjoint batches. Moment accumulation is exact, so the learned mean
    is SQL's avg() and the eigenvalue SUM is the covariance trace
    (= Σ var_samp) — an oracle over the batch-sequential path without
    needing SQL to eigendecompose."""
    from dask_ml_spark.operators.decomposition import IncrementalPCA

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    ipca = IncrementalPCA()
    for b in range(3):
        ipca.partial_fit(li.where(F.col("l_linenumber") % 3 == b), cols)
    # Canonicalization: batch-merged moments differ from the single-pass
    # oracle at ~1e-14 relative, and column MEANS (sum/60000) can land
    # exactly on decimal rounding ties (e.g. avg(l_discount) =
    # 2995.11/60000 = 0.0499185), so we emit mean_*n (the column sums,
    # true values are multiples of 0.01 — rounding to 2 decimals snaps
    # both engines to the same double, never near a tie) and the
    # variance trace rounded to 1e-2 abs ≈ 1e-11 rel.
    n = float(ipca.n_samples_seen_)
    row = ([round(float(v) * n, 2) for v in ipca.mean_]
           + [round(float(ipca.explained_variance_.sum()), 2), n])
    return local_frame(
        spark, [tuple(row)],
        ", ".join(f"sum_{c} double" for c in cols) + ", total_var double, n double")


SQL_INCREMENTAL_PCA_FIT = """
SELECT round(avg(l_quantity) * count(*), 2) AS sum_l_quantity,
       round(avg(l_extendedprice) * count(*), 2) AS sum_l_extendedprice,
       round(avg(l_discount) * count(*), 2) AS sum_l_discount,
       round(avg(l_tax) * count(*), 2) AS sum_l_tax,
       round(var_samp(l_quantity) + var_samp(l_extendedprice)
         + var_samp(l_discount) + var_samp(l_tax), 2) AS total_var,
       count(*)::DOUBLE AS n
FROM lineitem
"""


def q_pca_covariance(spark, sf_dir):
    """The distributed half of PCA.fit — the covariance matrix (the
    driver-side eigh consumes exactly these numbers)."""
    li = _t(spark, sf_dir, "lineitem")
    cols = LINEITEM_FEATS
    aggs = []
    for i, ci in enumerate(cols):
        for j in range(i, len(cols)):
            c = F.covar_samp(F.col(ci), F.col(cols[j]))
            # cov_1_1 (extendedprice variance) is ~5e8 — snap to 2
            # decimals on both sides (standard_scaler_fit precedent);
            # every other entry is <=1e5 and safe raw
            if i == 1 and j == 1:
                c = F.round(c, 2)
            aggs.append(c.alias(f"cov_{i}_{j}"))
    return li.agg(*aggs)


def _sql_pca_covariance() -> str:
    cols = LINEITEM_FEATS
    parts = []
    for i, ci in enumerate(cols):
        for j in range(i, len(cols)):
            e = f"covar_samp({ci}, {cols[j]})"
            if i == 1 and j == 1:
                e = f"round({e}, 2)"
            parts.append(f"{e} AS cov_{i}_{j}")
    return "SELECT " + ", ".join(parts) + " FROM lineitem"


SQL_PCA_COVARIANCE = _sql_pca_covariance()


# =====================================================================
# metrics (SURVEY §2.5)
# =====================================================================

def q_classification_metrics(spark, sf_dir):
    """accuracy / log_loss on a deterministic rule-based 'prediction'
    (label = returnflag=='R', score = discount-based)."""
    from dask_ml_spark.functions.metrics import accuracy_expr, log_loss_expr

    li = _t(spark, sf_dir, "lineitem")
    y = (F.col("l_returnflag") == "R").cast("double")
    p = F.least(F.greatest(F.col("l_discount") * 8, F.lit(0.01)), F.lit(0.99))
    pred = (p > 0.4).cast("double")
    return li.agg(
        accuracy_expr(y, pred).alias("accuracy"),
        log_loss_expr(y, p).alias("log_loss"),
        F.count("*").alias("n"),
    )


SQL_CLASSIFICATION_METRICS = """
SELECT avg(CASE WHEN (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) =
                     (CASE WHEN least(greatest(l_discount * 8, 0.01), 0.99) > 0.4 THEN 1.0 ELSE 0.0 END)
           THEN 1.0 ELSE 0.0 END) AS accuracy,
       avg(-( (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) * ln(least(greatest(l_discount * 8, 0.01), 0.99))
            + (1 - (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END)) * ln(1 - least(greatest(l_discount * 8, 0.01), 0.99)))) AS log_loss,
       count(*) AS n
FROM lineitem
"""


def q_regression_metrics(spark, sf_dir):
    from dask_ml_spark.functions.metrics import mae_expr, mape_expr, mse_expr, msle_expr

    li = _t(spark, sf_dir, "lineitem")
    y = F.col("l_extendedprice")
    pred = F.col("l_quantity") * 2000.0
    # mse is an ~2.5e8-scale mean whose raw-double accumulation drifts
    # past the hash grid under plan-shape changes — catalog rendering
    # uses the decimal-exact form of the same formula (mse_expr, the
    # production path, stays pytest-pinned); mae/mape/msle/r2 are O(1e4)
    # or self-normalizing and stay on the library exprs.
    return li.agg(
        (_dsum_wide(F.pow(pred - y, 2)) / F.count("*")).alias("mse"),
        mae_expr(y, pred).alias("mae"),
        mape_expr(y, pred).alias("mape"),
        msle_expr(y, pred).alias("msle"),
        (F.lit(1.0) - F.sum(F.pow(y - pred, 2)) / (F.sum(F.pow(y, 2)) - F.pow(F.sum(y), 2) / F.count("*"))).alias("r2"),
    )


SQL_REGRESSION_METRICS = """
SELECT CAST(sum(CAST(floor(pow(l_quantity * 2000.0 - l_extendedprice, 2) * 10000 + 0.5) / 10000 AS DECIMAL(27,4))) AS DOUBLE)
           / count(*) AS mse,
       avg(abs(l_quantity * 2000.0 - l_extendedprice)) AS mae,
       avg(abs(l_quantity * 2000.0 - l_extendedprice) / greatest(abs(l_extendedprice), 1e-15)) AS mape,
       avg(pow(ln(1 + l_quantity * 2000.0) - ln(1 + l_extendedprice), 2)) AS msle,
       1.0 - sum(pow(l_extendedprice - l_quantity * 2000.0, 2))
           / (sum(pow(l_extendedprice, 2)) - pow(sum(l_extendedprice), 2) / count(*)) AS r2
FROM lineitem
"""


# =====================================================================
# text vectorization (SURVEY §2.3 text family)
# =====================================================================

def q_token_document_frequency(spark, sf_dir):
    """CountVectorizer's fit pass: document frequency per token with
    min_df=5 (the vocabulary-discovery aggregation)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.array_distinct(DD.tokens_expr(F.col("text")))
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= 5)
    )


SQL_TOKEN_DOCUMENT_FREQUENCY = f"""
SELECT token, count(*) AS df FROM (
    SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))) AS token
    FROM documents
) GROUP BY token HAVING count(*) >= 5
"""


def q_tfidf(spark, sf_dir):
    """TF-IDF (smooth idf, no norm) over the long/triplet encoding,
    keyed by (doc_id, token)."""
    docs = _t(spark, sf_dir, "documents")
    toks = DD.tokens_expr(F.col("text"))
    n_docs = docs.count()
    tf = (
        docs.select("doc_id", F.explode(toks).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = dfreq.select(
        "token", (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0).alias("idf")
    )
    return (
        tf.join(F.broadcast(idf), "token")
        .select("doc_id", "token", (F.col("tf") * F.col("idf")).alias("tfidf"))
    )


SQL_TFIDF = f"""
WITH tf AS (
    SELECT doc_id, token, count(*) AS tf FROM (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS token
        FROM documents
    ) GROUP BY doc_id, token
), n AS (SELECT count(*) AS n_docs FROM documents),
idf AS (
    SELECT token, ln((SELECT n_docs FROM n) + 1.0) - ln(count(*) + 1.0) + 1.0 AS idf
    FROM tf GROUP BY token
)
SELECT tf.doc_id, tf.token, tf.tf * idf.idf AS tfidf
FROM tf JOIN idf ON tf.token = idf.token
"""


def q_cohens_kappa_lang(spark, sf_dir):
    """Cohen's κ (functions/metrics.py::cohens_kappa — the
    chance-corrected agreement audit): does the stopword-ratio
    language guesser agree with the gold lang labels beyond chance?
    Raw accuracy flatters any pair that over-predicts the majority
    class; κ corrects by the marginal chance agreement. ONE
    contingency aggregate + exact-integer driver assembly; the oracle
    replays the lang_pred argmax CASE and the same integer
    arithmetic."""
    from dask_ml_spark.datapipe import text_stats as TS
    from dask_ml_spark.functions.metrics import cohens_kappa

    docs = _t(spark, sf_dir, "documents")
    pred = TS.language_scores(docs).join(
        docs.select("doc_id", "lang"), "doc_id")
    out = cohens_kappa(pred, "lang", "lang_pred")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", "k_classes",
                      r6(F.col("po")).alias("po"),
                      r6(F.col("pe")).alias("pe"),
                      r6(F.col("kappa")).alias("kappa"))


def _sql_cohens_kappa_lang() -> str:
    from dask_ml_spark.datapipe import text_stats as TS

    langs = sorted(TS.STOPWORDS)
    scores = ", ".join(f"{_sql_lang_score(lg)} AS score_{lg}"
                       for lg in langs)
    conds = []
    for lang in langs:
        cmp = " AND ".join(
            f"score_{lang} {'>' if other < lang else '>='} score_{other}"
            for other in langs if other != lang)
        conds.append(f"WHEN {cmp} THEN '{lang}'")
    case = "CASE " + " ".join(conds) + f" ELSE '{langs[0]}' END"
    return f"""
WITH scored AS (
    SELECT lang, {scores} FROM documents WHERE lang IS NOT NULL
), pred AS (
    SELECT lang AS a, {case} AS b FROM scored
), c AS (
    SELECT a, b, count(*)::HUGEINT AS n FROM pred GROUP BY a, b
), s AS (
    SELECT sum(n) AS n,
           sum(CASE WHEN a = b THEN n ELSE 0::HUGEINT END) AS diag
    FROM c
), m AS (
    SELECT cls, coalesce(ra, 0::HUGEINT) AS ra,
           coalesce(cb, 0::HUGEINT) AS cb
    FROM (SELECT a AS cls FROM c UNION SELECT b FROM c)
    LEFT JOIN (SELECT a, sum(n) AS ra FROM c GROUP BY a) t1
           ON t1.a = cls
    LEFT JOIN (SELECT b, sum(n) AS cb FROM c GROUP BY b) t2
           ON t2.b = cls
), pe AS (
    SELECT sum(ra * cb) AS pe_num, count(*)::BIGINT AS kc FROM m
), k AS (
    SELECT s.n, pe.kc,
           diag::DOUBLE / s.n::DOUBLE AS po,
           pe_num::DOUBLE / (s.n::DOUBLE * s.n::DOUBLE) AS pe
    FROM s, pe
)
SELECT n::BIGINT AS n, kc AS k_classes,
       floor(po * 1e6 + 0.5) / 1e6 AS po,
       floor(pe * 1e6 + 0.5) / 1e6 AS pe,
       floor((po - pe) / (1.0 - pe) * 1e6 + 0.5) / 1e6 AS kappa
FROM k
"""


def q_mcnemar_quality_screens(spark, sf_dir):
    """McNemar's paired-binary test (functions/metrics.py::
    mcnemar_test — 'is screen A stricter than screen B on the SAME
    documents?', which an unpaired proportion test gets wrong): a
    char-length screen vs a token-count screen over the same corpus;
    only the discordant documents carry signal. Exact dof-1 tail via
    2·Φ̄(√χ²) — no Wilson–Hilferty, oracle-identical."""
    from dask_ml_spark.datapipe.dedup import tokens_expr
    from dask_ml_spark.functions.metrics import mcnemar_test

    docs = _t(spark, sf_dir, "documents")
    screens = docs.select(
        (F.length("text") >= 300).alias("pass_chars"),
        (F.size(tokens_expr(F.col("text"))) >= 55).alias("pass_tokens"))
    out = mcnemar_test(screens, "pass_chars", "pass_tokens")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", "b_discordant", "c_discordant",
                      r6(F.col("chi2")).alias("chi2"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_mcnemar_quality_screens() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "sqrt(chi2)")
    return f"""
WITH s AS (
    SELECT length(text) >= 300 AS a,
           len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) >= 55
               AS b
    FROM documents
), agg AS (
    SELECT count(*)::BIGINT AS n,
           sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS bd,
           sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS cd
    FROM s
), st AS (
    SELECT n, bd, cd,
           CASE WHEN bd + cd = 0 THEN 0.0
                ELSE (greatest(abs(bd - cd) - 1, 0)
                      * greatest(abs(bd - cd) - 1, 0))::DOUBLE
                     / (bd + cd)::DOUBLE END AS chi2
    FROM agg
)
SELECT n, bd AS b_discordant, cd AS c_discordant,
       floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2,
       floor((CASE WHEN bd + cd = 0 THEN 1.0
                   ELSE {p2} END) * 1e6 + 0.5) / 1e6
           AS p_value
FROM st
"""


def q_cochrans_q_screens(spark, sf_dir):
    """Cochran's Q (functions/metrics.py::cochrans_q — the binary
    Friedman): do three quality screens pass at the same rate over
    the same documents, accounting for the per-document pairing? ONE
    aggregate of exact integer sums (k column totals + Σrowsum +
    Σrowsum²); χ²₂ tail replayed by the oracle's even-dof closed
    form."""
    from dask_ml_spark.datapipe.dedup import tokens_expr
    from dask_ml_spark.functions.metrics import cochrans_q

    docs = _t(spark, sf_dir, "documents")
    toks = tokens_expr(F.col("text"))
    screens = docs.select(
        (F.length("text") >= 300).alias("s_chars"),
        (F.size(toks) >= 55).alias("s_tokens"),
        (F.size(F.array_distinct(toks)) >= 45).alias("s_distinct"))
    out = cochrans_q(screens, ["s_chars", "s_tokens", "s_distinct"])
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("k", "n", r6(F.col("q_stat")).alias("q_stat"),
                      "dof", r6(F.col("p_value")).alias("p_value"))


def _sql_cochrans_q_screens() -> str:
    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    p = duckdb_sql(chi2_sf, "q", 2)
    return f"""
WITH s AS (
    SELECT CASE WHEN length(text) >= 300 THEN 1 ELSE 0 END AS x0,
           CASE WHEN len(regexp_extract_all(lower(text),
                                            '{TOKEN_RE_SQL}')) >= 55
                THEN 1 ELSE 0 END AS x1,
           CASE WHEN len(list_distinct(regexp_extract_all(lower(text),
                                            '{TOKEN_RE_SQL}'))) >= 45
                THEN 1 ELSE 0 END AS x2
    FROM documents
), agg AS (
    SELECT count(*)::BIGINT AS n,
           sum(x0)::HUGEINT AS t0, sum(x1)::HUGEINT AS t1,
           sum(x2)::HUGEINT AS t2,
           sum(x0 + x1 + x2)::HUGEINT AS sr,
           sum((x0 + x1 + x2) * (x0 + x1 + x2))::HUGEINT AS sr2
    FROM s
), q AS (
    SELECT n,
           (2 * ((3 * t0 - sr) * (3 * t0 - sr)
                 + (3 * t1 - sr) * (3 * t1 - sr)
                 + (3 * t2 - sr) * (3 * t2 - sr)))::DOUBLE
           / (3.0 * (3 * sr - sr2)::DOUBLE) AS q
    FROM agg
)
SELECT 3::BIGINT AS k, n, floor(q * 1e6 + 0.5) / 1e6 AS q_stat,
       2::BIGINT AS dof,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value
FROM q
"""


def q_mcc_return_rule(spark, sf_dir):
    """Matthews correlation coefficient (functions/metrics.py::
    matthews_corrcoef — the imbalance-honest single-number eval, the
    Pearson φ of the 2×2 table): how well does a naive
    discount-threshold rule predict returns? One aggregate of four
    conditional counts, exact bignum products."""
    from dask_ml_spark.functions.metrics import matthews_corrcoef

    li = _t(spark, sf_dir, "lineitem")
    labeled = li.select(
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
        (F.col("l_discount") >= 0.05).cast("double").alias("prediction"))
    mcc = matthews_corrcoef(labeled)
    r6v = math.floor(mcc * 1e6 + 0.5) / 1e6
    return local_frame(spark, [(float(r6v),)], "mcc double")


def _sql_mcc_return_rule() -> str:
    return """
WITH s AS (
    SELECT (l_returnflag = 'R') AS y, (l_discount >= 0.05) AS p
    FROM lineitem
), agg AS (
    SELECT sum(CASE WHEN y AND p THEN 1 ELSE 0 END)::HUGEINT AS tp,
           sum(CASE WHEN NOT y AND p THEN 1 ELSE 0 END)::HUGEINT AS fp,
           sum(CASE WHEN y AND NOT p THEN 1 ELSE 0 END)::HUGEINT AS fn,
           sum(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END)::HUGEINT
               AS tn
    FROM s
)
SELECT floor((tp * tn - fp * fn)::DOUBLE
             / sqrt(((tp + fp) * (tp + fn) * (tn + fp)
                     * (tn + fn))::DOUBLE) * 1e6 + 0.5) / 1e6 AS mcc
FROM agg
"""


def q_ece_event_probability(spark, sf_dir):
    """Expected / maximum calibration error (functions/metrics.py::
    expected_calibration_error — the reliability-diagram scalar the
    calibration_curve points summarize): a synthetic probability
    (clamped value/100) scored against the purchase indicator — the
    gate a quality-classifier's probabilities must pass before its
    thresholds mean anything. ONE ≤n_bins aggregate; driver assembly
    in bin order replayed by the oracle."""
    from dask_ml_spark.functions.metrics import expected_calibration_error

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        F.least(F.lit(0.99), F.greatest(
            F.lit(0.01), F.col("value").cast("double") / 100.0))
        .alias("probability"))
    out = expected_calibration_error(scored, n_bins=10)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", "n_bins", r6(F.col("ece")).alias("ece"),
                      r6(F.col("mce")).alias("mce"))


def _sql_ece_event_probability() -> str:
    return """
WITH s AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
           least(0.99, greatest(0.01, value::DOUBLE / 100.0)) AS p
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
), b AS (
    SELECT CAST(least(9, floor(p * 10)) AS INTEGER) AS bin,
           count(*)::BIGINT AS nb, sum(p) AS sp,
           sum(y)::BIGINT AS pos
    FROM s GROUP BY 1
), n AS (
    SELECT sum(nb) AS n FROM b
), terms AS (
    SELECT bin, nb, abs(pos::DOUBLE / nb::DOUBLE - sp / nb::DOUBLE)
               AS gap
    FROM b
)
SELECT (SELECT n FROM n)::BIGINT AS n, 10::BIGINT AS n_bins,
       floor(sum((nb::DOUBLE / (SELECT n FROM n)::DOUBLE) * gap)
             * 1e6 + 0.5) / 1e6 AS ece,
       floor(max(gap) * 1e6 + 0.5) / 1e6 AS mce
FROM terms
"""


def q_brier_event_probability(spark, sf_dir):
    """Murphy decomposition of the Brier score (functions/metrics.py::
    brier_decomposition) on the same synthetic probability-vs-purchase
    frame ece_event_probability gates: splits the score into the
    fixable calibration gap (reliability), the score's sorting power
    (resolution), the base-rate floor (uncertainty), and the two
    within-bin terms that make the identity exact. ONE ≤n_bins
    aggregate; driver assembly in bin order replayed by the oracle."""
    from dask_ml_spark.functions.metrics import brier_decomposition

    ev = _t(spark, sf_dir, "events")
    scored = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        F.least(F.lit(0.99), F.greatest(
            F.lit(0.01), F.col("value").cast("double") / 100.0))
        .alias("probability"))
    out = brier_decomposition(scored, n_bins=10)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        "n", "n_bins", r6(F.col("brier")).alias("brier"),
        r6(F.col("reliability")).alias("reliability"),
        r6(F.col("resolution")).alias("resolution"),
        r6(F.col("uncertainty")).alias("uncertainty"),
        r6(F.col("within_var")).alias("within_var"),
        r6(F.col("within_cov")).alias("within_cov"))


def _sql_brier_event_probability() -> str:
    return """
WITH s AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
           least(0.99, greatest(0.01, value::DOUBLE / 100.0)) AS p
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
), b AS (
    SELECT CAST(least(9, floor(p * 10)) AS INTEGER) AS bin,
           count(*)::DOUBLE AS nb, sum(p) AS sp, sum(p * p) AS spp,
           sum(y) AS sy, sum(p * y) AS spy
    FROM s GROUP BY 1
), t AS (
    SELECT (SELECT sum(nb) FROM b) AS n,
           (SELECT sum(sy) FROM b) / (SELECT sum(nb) FROM b) AS ybar
), terms AS (
    SELECT b.*, t.n, t.ybar,
           spp - 2.0 * spy + sy AS bs_t,
           nb * (sp / nb - sy / nb) * (sp / nb - sy / nb) AS rel_t,
           nb * (sy / nb - t.ybar) * (sy / nb - t.ybar) AS res_t,
           spp - nb * (sp / nb) * (sp / nb) AS wbv_t,
           spy - nb * (sp / nb) * (sy / nb) AS wbc_t
    FROM b CROSS JOIN t
)
SELECT max(n)::BIGINT AS n, 10::BIGINT AS n_bins,
       floor(sum(bs_t) / max(n) * 1e6 + 0.5) / 1e6 AS brier,
       floor(sum(rel_t) / max(n) * 1e6 + 0.5) / 1e6 AS reliability,
       floor(sum(res_t) / max(n) * 1e6 + 0.5) / 1e6 AS resolution,
       floor(max(ybar) * (1.0 - max(ybar)) * 1e6 + 0.5) / 1e6
           AS uncertainty,
       floor(sum(wbv_t) / max(n) * 1e6 + 0.5) / 1e6 AS within_var,
       floor(sum(wbc_t) / max(n) * 1e6 + 0.5) / 1e6 AS within_cov
FROM terms
"""



# =====================================================================
# quantile transformer / one-hot / count-vectorizer / kernels /
# sessionization (widening pass)
# =====================================================================

def q_quantile_transformer_fit(spark, sf_dir):
    """The distributed fit pass of QuantileTransformer (reference
    data.py:303-418): an 11-point exact-percentile grid per column,
    computed in ONE aggregate pass over both measures."""
    from dask_ml_spark.operators.preprocessing import QuantileTransformer

    li = _t(spark, sf_dir, "lineitem")
    qt = QuantileTransformer(n_quantiles=11, approximate=False).fit(
        li, ["l_quantity", "l_extendedprice"]
    )
    # round 4: linear interpolation between 0.01-grid values at one-decimal
    # rank fractions yields exact multiples of 1e-3, so the 1e-4 grid is
    # tie-free while the engines' interpolation arithmetic differs ~1e-11
    rows = [(i, round(float(qt.quantiles_[i, 1]), 4),
             round(float(qt.quantiles_[i, 0]), 4))
            for i in range(qt.quantiles_.shape[0])]
    return local_frame(spark, rows,
                       "idx long, q_price double, q_quantity double")


SQL_QUANTILE_TRANSFORMER_FIT = """
WITH g AS (
    SELECT quantile_cont(l_quantity,      [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS qq,
           quantile_cont(l_extendedprice, [0.0,0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9,1.0]) AS qp
    FROM lineitem
)
SELECT CAST(i - 1 AS BIGINT) AS idx,
       round(qq[i], 4) AS q_quantity, round(qp[i], 4) AS q_price
FROM g, generate_series(1, 11) AS t(i)
"""


# GK at accuracy=2e6 is in its exact regime at sf<=0.1 (rank error
# n/(2*accuracy) < 1): percentile_approx deterministically returns the
# order statistic at rank ceil(p * n) computed in DOUBLE arithmetic —
# including the FP noise the np.linspace grid carries (linspace's
# 0.30000000000000004 * 60000 lands just above 18000, so Spark picks
# rank 18001 where a clean 0.3 would pick 18000). The oracle replays
# the SAME double products (string-cast literals are correctly-rounded
# to the identical doubles), so both engines select identical ranks.
SQL_QUANTILE_TRANSFORMER_FIT_APPROX = """
WITH probs AS (
    SELECT * FROM (VALUES
        (0, '0.0'::DOUBLE), (1, '0.1'::DOUBLE), (2, '0.2'::DOUBLE),
        (3, '0.30000000000000004'::DOUBLE), (4, '0.4'::DOUBLE),
        (5, '0.5'::DOUBLE), (6, '0.6000000000000001'::DOUBLE),
        (7, '0.7000000000000001'::DOUBLE), (8, '0.8'::DOUBLE),
        (9, '0.9'::DOUBLE), (10, '1.0'::DOUBLE)) t(i, pr)
),
n AS (SELECT count(*)::DOUBLE AS cnt FROM lineitem),
ranks AS (
    SELECT i, GREATEST(1, CEIL(pr * cnt))::BIGINT AS rk FROM probs, n
),
sq AS (SELECT row_number() OVER (ORDER BY l_quantity) AS r,
              l_quantity AS v FROM lineitem),
sp AS (SELECT row_number() OVER (ORDER BY l_extendedprice) AS r,
              l_extendedprice AS v FROM lineitem)
SELECT ranks.i::BIGINT AS idx, sq.v::DOUBLE AS q_quantity,
       sp.v::DOUBLE AS q_price
FROM ranks JOIN sq ON sq.r = ranks.rk JOIN sp ON sp.r = ranks.rk
"""


def q_quantile_transformer_fit_approx(spark, sf_dir):
    """The scale path of the QuantileTransformer fit: percentile_approx
    (Greenwald-Khanna sketch — bounded memory per aggregate regardless
    of row count, mergeable map-side). This is the default
    (approximate=True) and the bench headline; the exact-percentile
    variant above buffers every value in the aggregation buffer and
    does not survive 100 TB columns. accuracy=250k (the measured
    no-compression exactness floor at the oracle SF) makes the approx
    path DuckDB-oracled (was rows-only); the library default stays
    accuracy=10000 — the deliberate oracle-vs-production split
    winsorized_prices also makes."""
    from dask_ml_spark.operators.preprocessing import QuantileTransformer

    li = _t(spark, sf_dir, "lineitem")
    qt = QuantileTransformer(n_quantiles=11, accuracy=250_000).fit(
        li, ["l_quantity", "l_extendedprice"]
    )
    rows = [(i, float(qt.quantiles_[i, 1]), float(qt.quantiles_[i, 0]))
            for i in range(qt.quantiles_.shape[0])]
    return local_frame(spark, rows,
                       "idx long, q_price double, q_quantity double")


def q_one_hot_encoder(spark, sf_dir):
    """OneHotEncoder dense path (reference _encoders.py:17-307) on two
    low-cardinality columns, expanded to one 0/1 column per category —
    pure JVM column expressions, no shuffle."""
    from dask_ml_spark.operators.encoders import OneHotEncoder

    li = _t(spark, sf_dir, "lineitem")
    enc = OneHotEncoder(sparse_output=False).fit(li, ["l_returnflag", "l_linestatus"])
    out = enc.transform(li, output_col="oh")
    names = []
    for c in enc.columns_:
        names += [f"oh_{c[2:]}_{v}" for v in enc.categories_[c].tolist()]
    sel = [F.col("l_orderkey"), F.col("l_linenumber")]
    sel += [F.element_at("oh", i + 1).alias(n) for i, n in enumerate(names)]
    return out.select(*sel)


SQL_ONE_HOT_ENCODER = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.0 END AS oh_returnflag_A,
       CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS oh_returnflag_N,
       CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS oh_returnflag_R,
       CASE WHEN l_linestatus = 'F' THEN 1.0 ELSE 0.0 END AS oh_linestatus_F,
       CASE WHEN l_linestatus = 'O' THEN 1.0 ELSE 0.0 END AS oh_linestatus_O
FROM lineitem
"""


def q_count_vectorizer_long(spark, sf_dir):
    """CountVectorizer two-pass flow (reference text.py:170-230):
    vocabulary discovery with min_df/max_features, then the long/triplet
    transform (doc_id, token_id, count) via broadcast-vocabulary join."""
    from dask_ml_spark.operators.text import CountVectorizer

    docs = _t(spark, sf_dir, "documents")
    cv = CountVectorizer(input_col="text", token_pattern="[a-z0-9_]{2,}",
                         min_df=5, max_features=500).fit(docs)
    return cv.transform_long(docs, "doc_id")


SQL_COUNT_VECTORIZER_LONG = f"""
WITH docfreq AS (
    SELECT token, count(*) AS df FROM (
        SELECT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))) AS token
        FROM documents
    ) GROUP BY token HAVING count(*) >= 5
), vocab AS (
    SELECT token, CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS token_id
    FROM (SELECT token FROM docfreq ORDER BY df DESC, token LIMIT 500)
), tok AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS token
    FROM documents
)
SELECT tok.doc_id, vocab.token_id, count(*) AS "count"
FROM tok JOIN vocab USING (token)
GROUP BY 1, 2
"""


def q_rbf_kernel_to_centers(spark, sf_dir):
    """Gram-matrix block against a small broadcast Y (reference
    pairwise.py:136-226 rbf_kernel) — the Arrow-batched kernel path."""
    import numpy as np

    from dask_ml_spark.operators.pairwise import rbf_kernel

    li = _t(spark, sf_dir, "lineitem")
    Y = np.array([[10.0, 0.02], [40.0, 0.06]])
    out = rbf_kernel(li, ["l_quantity", "l_discount"], Y, gamma=0.01, output_col="k")
    return out.select(
        "l_orderkey", "l_linenumber",
        F.element_at("k", 1).alias("k0"),
        F.element_at("k", 2).alias("k1"),
    )


SQL_RBF_KERNEL_TO_CENTERS = """
SELECT l_orderkey, l_linenumber,
       exp(-0.01 * (pow(l_quantity - 10.0, 2) + pow(l_discount - 0.02, 2))) AS k0,
       exp(-0.01 * (pow(l_quantity - 40.0, 2) + pow(l_discount - 0.06, 2))) AS k1
FROM lineitem
"""


# --- rows-only queries (iterative algorithms; driver does weaker check) --

# pinned Lloyd setup shared by the Spark query and its SQL oracle:
# explicit init centers in scaled space + tol=0 → exactly KMEANS_ITERS
# deterministic iterations (reference k_means.py accepts ndarray init)
KMEANS_INIT = [[-1.0, -1.0, 0.0], [1.0, 1.0, 0.0], [-1.0, 1.0, 0.0], [1.0, -1.0, 0.0]]


KMEANS_ITERS = 2


KMEANS_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def q_kmeans_cluster_sizes(spark, sf_dir):
    """DataFrame-Lloyd k-means with pinned init centers — the reference's
    own hand-built Lloyd topology (k_means.py:549-619), seed-free and
    therefore fully SQL-oracle-able: the oracle replays the same
    KMEANS_ITERS center updates from the same literals."""
    from dask_ml_spark.operators.cluster import KMeans
    from dask_ml_spark.operators.preprocessing import StandardScaler

    li = _t(spark, sf_dir, "lineitem")
    scaled = StandardScaler().fit(li, KMEANS_COLS).transform(li)
    km = KMeans(n_clusters=4, init=KMEANS_INIT, max_iter=KMEANS_ITERS,
                tol=0.0, algorithm="lloyd_dataframe").fit(scaled, KMEANS_COLS)
    return (
        km.predict(scaled)
        .groupBy("prediction")
        .agg(F.count("*").alias("n"))
        .select(F.col("prediction").cast("int").alias("cluster"), "n")
    )


def sql_kmeans_cluster_sizes() -> str:
    """Replay the pinned-Lloyd iterations in SQL: per round, a one-row
    center pivot cross-joined to the scaled rows, first-min CASE
    assignment (same tie-break as Spark's array_position of array_min),
    grouped averages with COALESCE to the previous round's center for
    empty clusters."""
    k = len(KMEANS_INIT)
    dims = ["q", "p", "d"]

    def pivot(src: str, name: str) -> str:
        cells = ", ".join(
            f"max(CASE WHEN cluster = {c} THEN c{v} END) AS c{v}{c}"
            for c in range(k) for v in dims
        )
        return f"{name} AS (SELECT {cells} FROM {src})"

    def assign(name: str, piv: str) -> str:
        dist = ", ".join(
            "(" + " + ".join(f"(s.{v} - {piv}.c{v}{c}) * (s.{v} - {piv}.c{v}{c})" for v in dims)
            + f") AS d{c}"
            for c in range(k)
        )
        whens = []
        for c in range(k - 1):
            cond = " AND ".join(f"d{c} <= d{o}" for o in range(c + 1, k))
            whens.append(f"WHEN {cond} THEN {c}")
        case = "CASE " + " ".join(whens) + f" ELSE {k - 1} END"
        return (f"{name} AS (SELECT {', '.join(dims)}, {case} AS cluster "
                f"FROM (SELECT s.*, {dist} FROM scaled s CROSS JOIN {piv}))")

    def update(prev_centers: str, assigned: str, gname: str, cname: str) -> str:
        avgs = ", ".join(f"avg({v}) AS m{v}" for v in dims)
        coal = ", ".join(f"coalesce(g.m{v}, p.c{v}) AS c{v}" for v in dims)
        return (f"{gname} AS (SELECT cluster, {avgs} FROM {assigned} GROUP BY cluster), "
                f"{cname} AS (SELECT p.cluster, {coal} FROM {prev_centers} p "
                f"LEFT JOIN {gname} g ON p.cluster = g.cluster)")

    init_rows = ", ".join(
        "(" + ", ".join([str(c)] + [f"{v!r}" for v in KMEANS_INIT[c]]) + ")"
        for c in range(k)
    )
    parts = [
        "scaled AS (SELECT "
        + ", ".join(
            f"({col} - avg({col}) OVER ()) / stddev_pop({col}) OVER () AS {v}"
            for col, v in zip(KMEANS_COLS, dims)
        )
        + " FROM lineitem)",
        f"c0(cluster, {', '.join('c' + v for v in dims)}) AS (VALUES {init_rows})",
    ]
    prev = "c0"
    for it in range(KMEANS_ITERS):
        parts.append(pivot(prev, f"pv{it}"))
        parts.append(assign(f"a{it}", f"pv{it}"))
        parts.append(update(prev, f"a{it}", f"g{it}", f"c{it + 1}"))
        prev = f"c{it + 1}"
    parts.append(pivot(prev, "pvf"))
    parts.append(assign("af", "pvf"))
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT cluster, count(*) AS n FROM af GROUP BY cluster")


# pinned init (scaled space) + tol=0 → exactly GMM_ITERS EM rounds,
# replayable in SQL just like the Lloyd loop above
GMM_INIT = [[-1.0, -1.0, -1.0], [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]]


GMM_W0 = 1.0 / 3.0


# two rounds, like KMEANS_ITERS: round 1 replays the pinned-literal
# E/M math, round 2 proves the computed-parameter feedback path
GMM_ITERS = 2


def q_gmm_params(spark, sf_dir):
    """Diagonal-covariance Gaussian mixture EM (operators/mixture.py)
    with fully pinned init on the standardized k-means columns: every
    E-step is a literal-parameter projection, every M-step ONE
    aggregate, and tol=0 runs exactly GMM_ITERS rounds — so the oracle
    replays the identical responsibilities, sums, and parameter
    updates round by round."""
    from dask_ml_spark.operators.mixture import GaussianMixture
    from dask_ml_spark.operators.preprocessing import StandardScaler

    li = _t(spark, sf_dir, "lineitem")
    scaled = StandardScaler().fit(li, KMEANS_COLS).transform(li)
    gm = GaussianMixture(
        n_components=3, max_iter=GMM_ITERS, tol=0.0, reg_covar=1e-6,
        init_means=GMM_INIT, init_weights=[GMM_W0] * 3,
        init_variances=[[1.0] * 3] * 3,
    ).fit(scaled, KMEANS_COLS)
    r6 = lambda x: math.floor(float(x) * 1e6 + 0.5) / 1e6  # noqa: E731
    rows = [(j, r6(gm.weights_[j]), *(r6(v) for v in gm.means_[j][:3]),
             *(r6(v) for v in gm.covariances_[j][:3]))
            for j in range(3)]
    return local_frame(
        spark, rows, "component long, weight double, mu0 double, "
        "mu1 double, mu2 double, var0 double, var1 double, var2 double")


def sql_gmm_params() -> str:
    """Replay the pinned-init diagonal EM in SQL: per round, a one-row
    parameter pivot cross-joined to the scaled rows, the SAME
    term-order log-density / stable-softmax expressions the Spark side
    codegens, one grouped-sum M-step, and the identical
    mu = sx/n, var = sxx/n − mu² + reg updates."""
    k = len(GMM_INIT)
    dims = ["q", "p", "d"]
    TWO_PI_SQL = "(6.283185307179586::DOUBLE)"

    def pivot(src: str, name: str) -> str:
        cells = ", ".join(
            f"max(CASE WHEN comp = {c} THEN {f} END) AS {f}{c}"
            for c in range(k)
            for f in (["w"] + [f"m{v}" for v in dims] + [f"v{v}" for v in dims])
        )
        return f"{name} AS (SELECT {cells} FROM {src})"

    def estep(name: str, piv: str) -> str:
        # lp{c}: identical left-assoc term order as _log_prob_exprs
        lps = []
        for c in range(k):
            terms = " + ".join(
                f"(ln({TWO_PI_SQL} * v{v}{c}) "
                f"+ (s.{v} - m{v}{c}) * (s.{v} - m{v}{c}) / v{v}{c})"
                for v in dims)
            lps.append(f"ln(w{c}) - 0.5 * ({terms}) AS lp{c}")
        es = " + ".join(f"exp(lp{c} - mx)" for c in range(k))
        rs = ", ".join(f"exp(lp{c} - mx) / es AS r{c}" for c in range(k))
        return (f"{name} AS (SELECT {', '.join(dims)}, {rs} FROM ("
                f"SELECT *, {es} AS es FROM ("
                f"SELECT {', '.join('s.' + v for v in dims)}, "
                f"{', '.join(lps)}, "
                f"greatest({', '.join('ln(w%d) - 0.5 * (%s)' % (c, ' + '.join('(ln(%s * v%s%d) + (s.%s - m%s%d) * (s.%s - m%s%d) / v%s%d)' % (TWO_PI_SQL, v, c, v, v, c, v, v, c, v, c) for v in dims)) for c in range(k))}) AS mx "
                f"FROM scaled s CROSS JOIN {piv})))")

    def mstep(src: str, gname: str, cname: str) -> str:
        sums = ["count(*) AS n"]
        for c in range(k):
            sums.append(f"sum(r{c}) AS n{c}")
            for v in dims:
                sums.append(f"sum(r{c} * {v}) AS sx{c}{v}")
                sums.append(f"sum(r{c} * {v} * {v}) AS sxx{c}{v}")
        unions = []
        for c in range(k):
            cols = [f"{c} AS comp", f"n{c} / n AS w"]
            cols += [f"sx{c}{v} / n{c} AS m{v}" for v in dims]
            cols += [f"sxx{c}{v} / n{c} - (sx{c}{v} / n{c}) * (sx{c}{v} / n{c})"
                     f" + 1e-6 AS v{v}" for v in dims]
            unions.append(f"SELECT {', '.join(cols)} FROM {gname}")
        return (f"{gname} AS (SELECT {', '.join(sums)} FROM {src}), "
                f"{cname} AS ({' UNION ALL '.join(unions)})")

    init_rows = ", ".join(
        "(" + ", ".join(
            [str(c), repr(GMM_W0)]
            + [repr(m) for m in GMM_INIT[c]] + ["1.0"] * len(dims)) + ")"
        for c in range(k))
    parts = [
        "scaled AS (SELECT "
        + ", ".join(
            f"({col} - avg({col}) OVER ()) / stddev_pop({col}) OVER () AS {v}"
            for col, v in zip(KMEANS_COLS, dims))
        + " FROM lineitem)",
        f"c0(comp, w, {', '.join('m' + v for v in dims)}, "
        f"{', '.join('v' + v for v in dims)}) AS (VALUES {init_rows})",
    ]
    prev = "c0"
    for it in range(GMM_ITERS):
        parts.append(pivot(prev, f"pv{it}"))
        parts.append(estep(f"e{it}", f"pv{it}"))
        parts.append(mstep(f"e{it}", f"g{it}", f"c{it + 1}"))
        prev = f"c{it + 1}"
    r6 = lambda e: f"floor({e} * 1e6 + 0.5) / 1e6"  # noqa: E731
    out = ["comp AS component", f"{r6('w')} AS weight"]
    out += [f"{r6('m' + v)} AS mu{i}" for i, v in enumerate(dims)]
    out += [f"{r6('v' + v)} AS var{i}" for i, v in enumerate(dims)]
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT {', '.join(out)} FROM {prev}")


def q_frequent_itemsets_stats(spark, sf_dir):
    """Apriori levels 1-3 (operators/frequent_patterns.py) over the
    order -> part co-purchase baskets: per itemset size, how many
    itemsets clear min_count=2 and the support extremes. The Spark
    side generates combinations with per-basket HOFs (no basket x
    basket self-join); the oracle enumerates them with ordered
    self-joins — agreeing counts check both the combination generation
    and the member pruning."""
    from dask_ml_spark.operators.frequent_patterns import frequent_itemsets

    li = _t(spark, sf_dir, "lineitem")
    fi = frequent_itemsets(li, basket_col="l_orderkey",
                           item_col="l_partkey", min_count=2, max_len=3)
    return (fi.groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_itemsets"),
                 F.max("support").alias("max_support"),
                 F.sum("support").cast("long").alias("total_support"))
            .select(F.col("size").cast("int").alias("size"),
                    "n_itemsets", "max_support", "total_support"))


SQL_FREQUENT_ITEMSETS_STATS = """
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
f1 AS (SELECT i, count(*) AS s FROM bi GROUP BY i HAVING count(*) >= 2),
p2 AS (SELECT x.i AS ia, y.i AS ib, count(*) AS s
       FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
       GROUP BY 1, 2 HAVING count(*) >= 2),
p3 AS (SELECT x.i AS ia, y.i AS ib, z.i AS ic, count(*) AS s
       FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
            JOIN bi z ON y.b = z.b AND y.i < z.i
       GROUP BY 1, 2, 3 HAVING count(*) >= 2),
u AS (SELECT 1 AS size, s FROM f1
      UNION ALL SELECT 2, s FROM p2
      UNION ALL SELECT 3, s FROM p3)
SELECT size, count(*)::BIGINT AS n_itemsets, max(s)::BIGINT AS max_support,
       sum(s)::BIGINT AS total_support
FROM u GROUP BY size
"""


def q_association_rules_topk(spark, sf_dir):
    """Top-20 co-purchase association rules by lift. Confidence and
    lift are pure integer-ratio arithmetic evaluated in the SAME
    operation order on both engines, so the ordering (lift DESC, then
    rule) is engine-exact; output values are floor-form rounded."""
    from dask_ml_spark.operators.frequent_patterns import association_rules

    li = _t(spark, sf_dir, "lineitem")
    rules = association_rules(li, basket_col="l_orderkey",
                              item_col="l_partkey", min_count=2)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (rules
            .orderBy(F.desc("lift"), "antecedent", "consequent")
            .limit(20)
            .select("antecedent", "consequent", "support",
                    "antecedent_support", "consequent_support",
                    r6(F.col("confidence")).alias("confidence"),
                    r6(F.col("lift")).alias("lift")))


SQL_ASSOCIATION_RULES_TOPK = """
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
f1 AS (SELECT i, count(*) AS s FROM bi GROUP BY i HAVING count(*) >= 2),
p2 AS (SELECT x.i AS ia, y.i AS ib, count(*) AS s
       FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
       GROUP BY 1, 2 HAVING count(*) >= 2),
dir AS (SELECT ia AS a, ib AS c, s FROM p2
        UNION ALL SELECT ib, ia, s FROM p2),
rules AS (
    SELECT d.a AS antecedent, d.c AS consequent, d.s AS support,
           fa.s AS antecedent_support, fc.s AS consequent_support,
           d.s / fa.s AS confidence,
           d.s / fa.s * (SELECT n FROM n) / fc.s AS lift
    FROM dir d
    JOIN f1 fa ON d.a = fa.i
    JOIN f1 fc ON d.c = fc.i)
SELECT antecedent, consequent, support, antecedent_support,
       consequent_support,
       floor(confidence_raw * 1e6 + 0.5) / 1e6 AS confidence,
       floor(lift_raw * 1e6 + 0.5) / 1e6 AS lift
FROM (
    -- order by the RAW lift (the rounded output alias would shadow it
    -- and two rules with distinct raw lifts rounding to the same 1e-6
    -- value could flip rows at the LIMIT boundary vs the Spark side,
    -- which orders before rounding)
    SELECT antecedent, consequent, support::BIGINT AS support,
           antecedent_support::BIGINT AS antecedent_support,
           consequent_support::BIGINT AS consequent_support,
           confidence AS confidence_raw, lift AS lift_raw
    FROM rules
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 20) q
ORDER BY lift_raw DESC, antecedent, consequent
"""


RP_K, RP_SEED = 16, 42


def q_random_projection_norms(spark, sf_dir):
    """Sparse random projection (operators/random_projection.py,
    Achlioptas/Li) of the 64-dim embeddings down to RP_K dims; the 10
    largest projected L2 norms. The (d, k, seed) matrix needs no data
    pass, folds as literals, and the oracle regenerates the SAME
    matrix from the same seed — so coordinates and ranking are
    engine-exact arithmetic."""
    from dask_ml_spark.operators.random_projection import (
        SparseRandomProjection)

    emb = _t(spark, sf_dir, "embeddings")
    d = 64
    cols = [f"x{i}" for i in range(d)]
    flat = emb.select(
        "vec_id",
        *[F.element_at("embedding", i + 1).cast("double").alias(cols[i])
          for i in range(d)])
    rp = SparseRandomProjection(RP_K, random_state=RP_SEED).fit(flat, cols)
    proj = rp.transform(flat)
    norm2 = F.lit(0.0)
    for j in range(RP_K):
        norm2 = norm2 + F.col(f"rp{j}") * F.col(f"rp{j}")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return (proj
            .withColumn("__n", F.sqrt(norm2))
            .orderBy(F.desc("__n"), "vec_id")
            .limit(10)
            .select("vec_id", r6(F.col("__n")).alias("norm"),
                    *[r6(F.col(f"rp{j}")).alias(f"rp{j}") for j in range(4)]))


def sql_random_projection_norms() -> str:
    """Regenerate the seeded Achlioptas matrix with the identical numpy
    calls and fold it as SQL literals, mirroring the Spark fold's term
    order (zero entries skipped on both sides)."""
    from dask_ml_spark.operators.random_projection import (
        SparseRandomProjection)

    d = 64
    W = SparseRandomProjection(RP_K, random_state=RP_SEED) \
        ._make_components(d)
    rps = []
    for j in range(RP_K):
        terms = [f"(embedding[{i + 1}]::DOUBLE) * ({float(W[j][i])!r}::DOUBLE)"
                 for i in range(d) if W[j][i] != 0.0]
        rps.append(" + ".join(terms) if terms else "0.0")
    norm = " + ".join(f"rp{j} * rp{j}" for j in range(RP_K))
    r6 = lambda e: f"floor({e} * 1e6 + 0.5) / 1e6"  # noqa: E731
    return (
        "WITH p AS (SELECT vec_id, "
        + ", ".join(f"{e} AS rp{j}" for j, e in enumerate(rps))
        + " FROM embeddings)\n"
        + "SELECT vec_id, " + r6(f"sqrt({norm})") + " AS norm, "
        + ", ".join(r6(f"rp{j}") + f" AS rp{j}" for j in range(4))
        + f"\nFROM p ORDER BY sqrt({norm}) DESC, vec_id LIMIT 10")


def q_logistic_saturated_fit(spark, sf_dir):
    """Unpenalized logistic regression on ONE binary feature — the
    saturated model whose MLE has a closed form (group log-odds), so
    the distributed LBFGS solver is value-checked against the true
    optimum: intercept = logit(P(y|x=0)), coef = logit(P(y|x=1)) −
    intercept."""
    from dask_ml_spark.operators.linear_model import LogisticRegression

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") > 25).cast("double").alias("x"),
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
    )
    m = LogisticRegression(penalty="none", max_iter=200, tol=1e-12).fit(li, ["x"])
    return local_frame(spark, [(float(m.coef_[0]), float(m.intercept_))],
                       "coef_x double, intercept double")


SQL_LOGISTIC_SATURATED_FIT = """
WITH g AS (
    SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS x,
           avg(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS p
    FROM lineitem
    GROUP BY 1
),
lo AS (SELECT x, ln(p / (1 - p)) AS logit FROM g)
SELECT (SELECT logit FROM lo WHERE x = 1) - (SELECT logit FROM lo WHERE x = 0) AS coef_x,
       (SELECT logit FROM lo WHERE x = 0) AS intercept
"""


def q_logistic_regression_eval(spark, sf_dir):
    """SURVEY §7.2 step-3 pipeline: scale → split → logistic fit →
    predict → metrics, on lineitem with label returnflag=='R'."""
    from dask_ml_spark.functions.metrics import accuracy_expr, log_loss_expr
    from dask_ml_spark.operators.linear_model import LogisticRegression
    from dask_ml_spark.operators.preprocessing import StandardScaler
    from dask_ml_spark.plans.model_selection import train_test_split

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    labeled = li.withColumn("label", (F.col("l_returnflag") == "R").cast("double"))
    scaled = StandardScaler().fit(labeled, cols).transform(labeled)
    train, test = train_test_split(scaled, test_size=0.25, random_state=42)
    model = LogisticRegression(C=10.0, max_iter=30, tol=1e-5).fit(train, cols)
    pred = model.predict_proba(model.predict(test))
    return pred.agg(
        accuracy_expr(F.col("label"), F.col("prediction")).alias("accuracy"),
        log_loss_expr(F.col("label"), F.col("probability")).alias("log_loss"),
        F.count("*").alias("n_test"),
    )


def q_pca_transform_variance(spark, sf_dir):
    """PCA fit + transform; variance of each projected component should
    equal the eigenvalues — checks the full loop distributed. Two
    literal-prescaled features make the covariance eigensystem
    closed-form, so the oracle verifies the VALUES (the empirical
    var_samp of each projection must equal the 2×2 covariance
    eigenvalue the SQL computes directly)."""
    from dask_ml_spark.operators.decomposition import PCA

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") / F.lit(50.0)).alias("x"),
        (F.col("l_extendedprice") / F.lit(100000.0)).alias("y"),
    )
    pca = PCA(n_components=2).fit(li, ["x", "y"])
    proj = pca.transform(li)
    return proj.agg(
        F.var_samp("pc0").alias("var_pc0"),
        F.var_samp("pc1").alias("var_pc1"),
    )


SQL_PCA_TRANSFORM_VARIANCE = """
WITH m AS (
    SELECT var_samp(x) AS cxx, var_samp(y) AS cyy, covar_samp(x, y) AS cxy
    FROM (SELECT l_quantity / 50.0 AS x, l_extendedprice / 100000.0 AS y FROM lineitem)
)
SELECT (cxx + cyy) / 2 + sqrt(((cxx - cyy) / 2) * ((cxx - cyy) / 2) + cxy * cxy) AS var_pc0,
       (cxx + cyy) / 2 - sqrt(((cxx - cyy) / 2) * ((cxx - cyy) / 2) + cxy * cxy) AS var_pc1
FROM m
"""


def q_hashing_vectorizer_long(spark, sf_dir):
    """Stateless hashing vectorizer, triplet form (xxhash64 is
    Spark-specific — rows-only check; determinism is covered by
    tests/test_text.py)."""
    from dask_ml_spark.operators.text import HashingVectorizer

    docs = _t(spark, sf_dir, "documents")
    hv = HashingVectorizer(n_features=1024, alternate_sign=False)
    return hv.transform_long(docs, "doc_id")


def q_hashing_vectorizer_portable(spark, sf_dir):
    """Same triplet pipeline with the engine-portable md5-prefix hash
    (signed), so the full explode → hash → signed-sum → prune path is
    value-checked against DuckDB — the oracle the xxhash64 default
    can't have."""
    from dask_ml_spark.operators.text import HashingVectorizer

    docs = _t(spark, sf_dir, "documents")
    hv = HashingVectorizer(n_features=256, alternate_sign=True, hash_fn="portable")
    return hv.transform_long(docs, "doc_id")


SQL_HASHING_VECTORIZER_PORTABLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS token
    FROM documents
)
SELECT doc_id,
       CAST(CAST(('0x' || substr(md5(token), 1, 14)) AS BIGINT) % 256 AS INTEGER) AS bucket,
       sum(CASE WHEN CAST(('0x' || substr(md5(token), 15, 1)) AS BIGINT) % 2 = 0
                THEN 1.0 ELSE -1.0 END) AS value
FROM tok
GROUP BY doc_id, bucket
HAVING sum(CASE WHEN CAST(('0x' || substr(md5(token), 15, 1)) AS BIGINT) % 2 = 0
                THEN 1.0 ELSE -1.0 END) <> 0
"""


def q_winsorized_prices(spark, sf_dir):
    """Winsorizer fit + transform (operators/preprocessing.py): clip
    extendedprice and quantity to their exact [5%, 95%] quantiles,
    then per-flag sums of the clipped columns value-check BOTH the
    fitted bounds and the least/greatest projection (the maxabs_scaler
    idiom). exact=True so the oracle replays the bounds with
    quantile_cont; percentile_approx stays the library default."""
    from dask_ml_spark.operators.preprocessing import Winsorizer

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_extendedprice", "l_quantity"]
    w = Winsorizer(lower=0.05, upper=0.95, approximate=False).fit(li, cols)
    out = w.transform(li)
    return (out.groupBy("l_returnflag")
            .agg(*[F.round(_dsum(c), 4).alias(f"wsum_{c}") for c in cols],
                 F.count("*").alias("n")))


SQL_WINSORIZED_PRICES = """
WITH q AS (
    SELECT quantile_cont(l_extendedprice, 0.05) AS lo_p,
           quantile_cont(l_extendedprice, 0.95) AS hi_p,
           quantile_cont(l_quantity, 0.05) AS lo_q,
           quantile_cont(l_quantity, 0.95) AS hi_q
    FROM lineitem
)
SELECT l_returnflag,
       round((CAST(sum(CAST(floor((least(greatest(l_extendedprice, lo_p), hi_p)) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000), 4)
           AS wsum_l_extendedprice,
       round((CAST(sum(CAST(floor((least(greatest(l_quantity, lo_q), hi_q)) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000), 4)
           AS wsum_l_quantity,
       count(*)::BIGINT AS n
FROM lineitem CROSS JOIN q
GROUP BY l_returnflag
"""


def q_kbins_discretizer_approx(spark, sf_dir):
    """Scale-path KBinsDiscretizer: percentile_approx edges. GK rank
    error is <= n/(2*accuracy), so accuracy=250k is the measured
    exactness floor at the ORACLE SF (no sketch compression at n=6e4,
    so DuckDB's quantile_disc replays the edges bit-for-bit — was
    rows-only before r6; 1e5 compresses and drifts). Same deliberate
    oracle-vs-production split as winsorized_prices: the LIBRARY
    default stays accuracy=10000, the bounded 100 TB sketch."""
    from dask_ml_spark.operators.preprocessing import KBinsDiscretizer

    li = _t(spark, sf_dir, "lineitem")
    kb = KBinsDiscretizer(n_bins=8, strategy="quantile", approximate=True,
                          accuracy=250_000).fit(li, ["l_extendedprice"])
    return (kb.transform(li.select("l_extendedprice"))
            .groupBy(F.col("l_extendedprice").cast("long").alias("bin"))
            .agg(F.count("*").alias("n")))


def q_target_encoder(spark, sf_dir):
    """TargetEncoder (operators/encoders.py): smoothed mean-target
    encoding of l_returnflag against l_quantity; the oracle replays
    the exact shrinkage formula per category."""
    from dask_ml_spark.operators.encoders import TargetEncoder

    li = _t(spark, sf_dir, "lineitem")
    te = TargetEncoder(smoothing=20.0).fit(
        li, ["l_returnflag"], target_col="l_quantity")
    return (te.transform(li)
            .groupBy("l_returnflag")
            .agg(F.first("l_returnflag_enc").alias("enc"),
                 F.count("*").alias("n")))


SQL_TARGET_ENCODER = """
WITH g AS (SELECT avg(l_quantity) AS gm FROM lineitem),
s AS (SELECT l_returnflag, count(*) AS n, avg(l_quantity) AS m
      FROM lineitem GROUP BY 1)
SELECT l_returnflag, (n * m + 20.0 * gm) / (n + 20.0) AS enc, n
FROM s CROSS JOIN g
"""


def q_maxabs_scaler(spark, sf_dir):
    """MaxAbsScaler fit + transform: per-flag sums of the scaled
    columns value-check both the fitted maxima and the projection."""
    from dask_ml_spark.operators.preprocessing import MaxAbsScaler

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    out = MaxAbsScaler().fit(li, cols).transform(li)
    return (out.groupBy("l_returnflag")
            .agg(*[F.sum(c).alias(f"sum_{c}") for c in cols]))


SQL_MAXABS_SCALER = """
WITH m AS (
    SELECT max(abs(l_quantity)) AS mq, max(abs(l_extendedprice)) AS mp,
           max(abs(l_discount)) AS md
    FROM lineitem
)
SELECT l_returnflag,
       sum(l_quantity / mq) AS sum_l_quantity,
       sum(l_extendedprice / mp) AS sum_l_extendedprice,
       sum(l_discount / md) AS sum_l_discount
FROM lineitem CROSS JOIN m
GROUP BY l_returnflag
"""


def q_row_normalizer(spark, sf_dir):
    """Normalizer (operators/preprocessing.py): row-wise L2 scaling of
    three lineitem measures — stateless narrow projection; per-flag
    sums of the normalized columns are value-checked."""
    from dask_ml_spark.operators.preprocessing import Normalizer

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_tax"]
    out = Normalizer(norm="l2").fit(li, cols).transform(li)
    return (out.groupBy("l_returnflag")
            .agg(*[F.sum(c).alias(f"sum_{c}") for c in cols]))


SQL_ROW_NORMALIZER = """
WITH n AS (
    SELECT l_returnflag,
           sqrt(l_quantity * l_quantity
                + l_extendedprice * l_extendedprice
                + l_tax * l_tax) AS nrm,
           l_quantity, l_extendedprice, l_tax
    FROM lineitem
)
SELECT l_returnflag,
       sum(l_quantity / (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END)) AS sum_l_quantity,
       sum(l_extendedprice / (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END)) AS sum_l_extendedprice,
       sum(l_tax / (CASE WHEN nrm = 0 THEN 1.0 ELSE nrm END)) AS sum_l_tax
FROM n GROUP BY l_returnflag
"""


def q_kbins_discretizer(spark, sf_dir):
    """KBinsDiscretizer (operators/preprocessing.py): exact-quantile
    edges on the continuous l_extendedprice (continuous ⇒ no
    row-on-edge float ambiguity between engines), ordinal transform as
    a pure column expression; per-bin count + sum checked."""
    from dask_ml_spark.operators.preprocessing import KBinsDiscretizer

    li = _t(spark, sf_dir, "lineitem")
    kb = KBinsDiscretizer(n_bins=8, strategy="quantile").fit(
        li, ["l_extendedprice"])
    return (kb.transform(li.select("l_extendedprice",
                                   F.col("l_extendedprice").alias("raw")))
            .groupBy(F.col("l_extendedprice").cast("long").alias("bin"))
            .agg(F.count("*").alias("n"), _dsum("raw").alias("total")))


SQL_KBINS_DISCRETIZER = """
WITH e AS (
    SELECT quantile_cont(l_extendedprice,
        [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS q
    FROM lineitem
)
SELECT
    (CASE WHEN l_extendedprice >= q[1] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[2] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[3] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[4] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[5] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[6] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[7] THEN 1 ELSE 0 END)::BIGINT AS bin,
    count(*) AS n,
    (CAST(sum(CAST(floor((l_extendedprice) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000) AS total
FROM lineitem CROSS JOIN e
GROUP BY 1
"""


# approx sibling: quantile_disc replays exact-regime GK edges (see
# SQL_QUANTILE_TRANSFORMER_FIT_APPROX note); the bin rule is the same
SQL_KBINS_DISCRETIZER_APPROX = """
WITH e AS (
    SELECT quantile_disc(l_extendedprice,
        [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS q
    FROM lineitem
)
SELECT
    (CASE WHEN l_extendedprice >= q[1] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[2] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[3] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[4] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[5] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[6] THEN 1 ELSE 0 END
   + CASE WHEN l_extendedprice >= q[7] THEN 1 ELSE 0 END)::BIGINT AS bin,
    count(*)::BIGINT AS n
FROM lineitem CROSS JOIN e
GROUP BY 1
"""


def q_knn_classifier_eval(spark, sf_dir):
    """Brute-force k-NN prediction (operators/neighbors.py): the first
    100 embedding rows are the evaluation batch, the rest train; the
    classifier majority-votes (ties to the smallest label) and the
    regressor means over the SAME 5 euclidean neighbors. Fully
    oracled — the SQL replays distances, the (dist, tid) neighbor
    ranking, the vote, and the mean."""
    from dask_ml_spark.operators.neighbors import (KNeighborsClassifier,
                                                   KNeighborsRegressor)

    emb = _t(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") >= 100)
    test = emb.where(F.col("vec_id") < 100).select("vec_id", "embedding")
    clf = KNeighborsClassifier(n_neighbors=5, vec_col="embedding").fit(
        train, label_col="label", id_col="vec_id")
    reg = KNeighborsRegressor(n_neighbors=5, vec_col="embedding").fit(
        train, label_col="label", id_col="vec_id")
    # both heads consume the SAME 5 euclidean neighbors (the query's
    # contract) — search once, aggregate twice (r13 opt; lazy
    # checkpoint so the scan-and-rank runs a single time)
    nn = clf.kneighbors(test, "vec_id").localCheckpoint(eager=False)
    p = clf.predict(test, "vec_id", neighbors=nn)
    m = reg.predict(test, "vec_id", output_col="knn_mean", neighbors=nn)
    return (p.join(m, "vec_id")
            .select("vec_id", F.col("prediction").cast("long"),
                    F.round("knn_mean", 6).alias("knn_mean")))


SQL_KNN_CLASSIFIER_EVAL = """
WITH tr AS (
    SELECT vec_id, embedding::DOUBLE[] AS v, label
    FROM embeddings WHERE vec_id >= 100
),
te AS (
    SELECT vec_id, embedding::DOUBLE[] AS v
    FROM embeddings WHERE vec_id < 100
),
d AS (
    SELECT te.vec_id AS qid, tr.vec_id AS tid, tr.label,
           list_sum(list_transform(generate_series(1, len(te.v)),
               i -> (te.v[i] - tr.v[i]) * (te.v[i] - tr.v[i]))) AS dist
    FROM te CROSS JOIN tr
),
r AS (
    SELECT qid, tid, label,
           row_number() OVER (PARTITION BY qid ORDER BY dist, tid) AS rk
    FROM d
),
k AS (SELECT qid, label FROM r WHERE rk <= 5),
v AS (SELECT qid, label, count(*) AS votes FROM k GROUP BY qid, label),
p AS (
    SELECT qid, label,
           row_number() OVER (PARTITION BY qid
                              ORDER BY votes DESC, label) AS pr
    FROM v
),
m AS (SELECT qid, round(avg(label::DOUBLE), 6) AS knn_mean
      FROM k GROUP BY qid)
SELECT p.qid AS vec_id, p.label::BIGINT AS prediction, m.knn_mean
FROM p JOIN m ON p.qid = m.qid
WHERE p.pr = 1
"""


def q_truncated_svd_variance(spark, sf_dir):
    """TruncatedSVD (reference truncated_svd.py:9-246): single-pass
    Gramian + driver eigh. Run on TWO (literal-prescaled) features so
    the 2×2 Gramian eigensystem has a closed form the SQL oracle can
    evaluate — λ± = (Sxx+Syy)/2 ± sqrt(((Sxx−Syy)/2)² + Sxy²) — turning
    the previously rows-only check into a full value match."""
    from dask_ml_spark.operators.decomposition import TruncatedSVD

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") / F.lit(50.0)).alias("x"),
        (F.col("l_extendedprice") / F.lit(100000.0)).alias("y"),
    )
    svd = TruncatedSVD(n_components=2).fit(li, ["x", "y"])
    return local_frame(
        spark, [(*(float(v) for v in svd.singular_values_[:2]),
                 *(float(v) for v in svd.explained_variance_[:2]))],
        "sv0 double, sv1 double, explained_var0 double, "
        "explained_var1 double")


# closed-form 2×2 eigensystem of the uncentered Gramian; explained
# variance matches the operator: (λ − n·(comp·mean)²) / (n−1), with the
# eigenvector (Sxy, λ−Sxx) — sign-free because t_mean enters squared
SQL_TRUNCATED_SVD_VARIANCE = """
WITH m AS (
    SELECT count(*)::DOUBLE AS n,
           sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy,
           avg(x) AS mx, avg(y) AS my
    FROM (SELECT l_quantity / 50.0 AS x, l_extendedprice / 100000.0 AS y FROM lineitem)
),
e AS (
    SELECT *,
           (sxx + syy) / 2 + sqrt(((sxx - syy) / 2) * ((sxx - syy) / 2) + sxy * sxy) AS l0,
           (sxx + syy) / 2 - sqrt(((sxx - syy) / 2) * ((sxx - syy) / 2) + sxy * sxy) AS l1
    FROM m
),
v AS (
    SELECT *,
           (sxy * mx + (l0 - sxx) * my) / sqrt(sxy * sxy + (l0 - sxx) * (l0 - sxx)) AS t0,
           (sxy * mx + (l1 - sxx) * my) / sqrt(sxy * sxy + (l1 - sxx) * (l1 - sxx)) AS t1
    FROM e
)
SELECT sqrt(l0) AS sv0, sqrt(greatest(l1, 0.0)) AS sv1,
       (l0 - n * t0 * t0) / (n - 1) AS explained_var0,
       (l1 - n * t1 * t1) / (n - 1) AS explained_var1
FROM v
"""


BLOBS_CENTERS = [[-5.0, 0.0], [0.0, 5.0], [5.0, -5.0]]


BLOBS_N = 10_000


BLOBS_STD = 1.5


def q_mahalanobis_outliers(spark, sf_dir):
    """Empirical-covariance Mahalanobis outlier scoring
    (operators/outliers.py) over three lineitem measures: fit is one
    moments aggregate, Σ⁻¹ folds into a literal quadratic form, and
    the query returns the 10 most outlying rows. Fully oracled — the
    SQL recomputes mean/covariance from raw sums, inverts the 3x3 by
    Cramer (adjugate / det), and replays the same quadratic form and
    ranking."""
    from dask_ml_spark.operators.outliers import MahalanobisOutlier

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    m = MahalanobisOutlier().fit(li, cols)
    scored = m.score_samples(li, "m2")
    return (scored
            .orderBy(F.desc("m2"), "l_orderkey", "l_linenumber")
            .limit(10)
            .select("l_orderkey", "l_linenumber",
                    (F.floor(F.col("m2") * 1e6 + F.lit(0.5)) / 1e6)
                    .alias("m2")))


def _sql_mahalanobis_outliers() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    moments = ", ".join(
        [f"avg({c}) AS m{i}" for i, c in enumerate(cols)]
        + [f"avg({cols[i]} * {cols[j]}) AS p{i}{j}"
           for i in range(3) for j in range(i, 3)])
    covs = ", ".join(f"p{i}{j} - m{i} * m{j} AS c{i}{j}"
                     for i in range(3) for j in range(i, 3))
    det = ("c00*(c11*c22 - c12*c12) - c01*(c01*c22 - c12*c02) "
           "+ c02*(c01*c12 - c11*c02)")
    # precision = adjugate / det (symmetric 3x3)
    prec = f"""
    (c11*c22 - c12*c12) / ({det}) AS q00,
    (c02*c12 - c01*c22) / ({det}) AS q01,
    (c01*c12 - c02*c11) / ({det}) AS q02,
    (c00*c22 - c02*c02) / ({det}) AS q11,
    (c02*c01 - c00*c12) / ({det}) AS q12,
    (c00*c11 - c01*c01) / ({det}) AS q22"""
    q = {(0, 0): "q00", (0, 1): "q01", (0, 2): "q02",
         (1, 0): "q01", (1, 1): "q11", (1, 2): "q12",
         (2, 0): "q02", (2, 1): "q12", (2, 2): "q22"}
    # EXACT same i,j accumulation order as score_samples
    terms = " + ".join(
        f"{q[(i, j)]} * ({cols[i]} - m{i}) * ({cols[j]} - m{j})"
        for i in range(3) for j in range(3))
    return f"""
WITH st AS (SELECT {moments} FROM lineitem),
cv AS (SELECT *, {covs} FROM st),
pr AS (SELECT *, {prec} FROM cv),
sc AS (
    SELECT l.l_orderkey, l.l_linenumber, 0.0 + {terms} AS m2
    FROM lineitem l CROSS JOIN pr
)
SELECT l_orderkey, l_linenumber,
       floor(m2 * 1e6 + 0.5) / 1e6 AS m2
FROM sc ORDER BY sc.m2 DESC, l_orderkey, l_linenumber LIMIT 10
"""


DBSCAN_N = 2000


DBSCAN_EPS = 0.8


DBSCAN_MINPTS = 5


def q_dbscan_cluster_sizes(spark, sf_dir):
    """DBSCAN (operators/cluster.py) over content-deterministic blobs:
    the grid-cell-join implementation's full contract — core set,
    min-core-id components, nearest-core border assignment, noise —
    verified against a brute-force SQL replay (all-pairs distances +
    recursive-CTE reachability). Coordinates quantize to 6 decimals
    via floor(x*1e6+0.5) in BOTH engines first, so every downstream
    threshold compares identical doubles (Box-Muller cos/ln can differ
    in the last ulp between engines)."""
    from dask_ml_spark.datasets import make_blobs_deterministic
    from dask_ml_spark.operators.cluster import DBSCAN

    pts = make_blobs_deterministic(DBSCAN_N, BLOBS_CENTERS,
                                   cluster_std=BLOBS_STD, spark=spark)
    quant = pts.select(
        F.col("id"),
        *[(F.floor(F.col(f"x{j}") * 1e6 + F.lit(0.5)) / 1e6).alias(f"x{j}")
          for j in range(2)])
    out = DBSCAN(eps=DBSCAN_EPS, min_pts=DBSCAN_MINPTS).fit_predict(
        quant, ["x0", "x1"], id_col="id")
    return (out.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cluster"))


def _sql_dbscan_cluster_sizes() -> str:
    """Brute-force replay: generate the same quantized points,
    all-pairs eps-neighborhoods, core set (self included, >= min_pts),
    min-core-id labels via recursive reachability over core-core
    edges, nearest-core border assignment (ties -> smallest core id),
    noise -1."""
    W = float(1 << 56)
    two_pi = 2.0 * 3.141592653589793

    def h(tag):
        return ("CAST(('0x' || substr(md5(id::VARCHAR || '_0_" + tag
                + "'), 1, 14)) AS BIGINT)")

    k = len(BLOBS_CENTERS)
    feats = []
    for j in range(2):
        u1 = f"(({h(f'a{j}')}) + 0.5) / {W!r}"
        u2 = f"(({h(f'b{j}')}) + 0.5) / {W!r}"
        z = f"sqrt(-2.0 * ln({u1})) * cos({two_pi!r} * ({u2}))"
        centers = ", ".join(f"({c[j]!r})" for c in BLOBS_CENTERS)
        cj = f"list_extract([{centers}], (({h('c')}) % {k}) + 1)"
        feats.append(
            f"floor(({cj} + {BLOBS_STD!r} * ({z})) * 1e6 + 0.5) / 1e6"
            f" AS x{j}")
    eps2 = DBSCAN_EPS * DBSCAN_EPS
    return f"""
WITH RECURSIVE pts AS (
    SELECT id, {feats[0]}, {feats[1]}
    FROM range({DBSCAN_N}) t(id)
),
pairs AS (
    SELECT a.id AS ia, b.id AS ib,
           (a.x0 - b.x0) * (a.x0 - b.x0)
           + (a.x1 - b.x1) * (a.x1 - b.x1) AS d2
    FROM pts a JOIN pts b ON a.id <> b.id
    WHERE (a.x0 - b.x0) * (a.x0 - b.x0)
          + (a.x1 - b.x1) * (a.x1 - b.x1) <= {eps2!r}
),
cnt AS (SELECT ia AS id, count(*) + 1 AS n FROM pairs GROUP BY ia),
core AS (SELECT id FROM cnt WHERE n >= {DBSCAN_MINPTS}),
ce AS (
    SELECT p.ia, p.ib FROM pairs p
    JOIN core c1 ON p.ia = c1.id JOIN core c2 ON p.ib = c2.id
),
reach AS (
    SELECT id AS node, id AS lbl FROM core
    UNION
    SELECT ce.ib AS node, reach.lbl FROM reach JOIN ce ON ce.ia = reach.node
),
core_lbl AS (SELECT node AS id, min(lbl) AS cluster FROM reach GROUP BY node),
border AS (
    SELECT p.ia AS id, cl.cluster,
           row_number() OVER (PARTITION BY p.ia
                              ORDER BY p.d2, p.ib) AS rk
    FROM pairs p
    JOIN core c ON p.ib = c.id
    JOIN core_lbl cl ON cl.id = p.ib
    WHERE p.ia NOT IN (SELECT id FROM core)
),
lbl AS (
    SELECT id, cluster FROM core_lbl
    UNION ALL
    SELECT id, cluster FROM border WHERE rk = 1
)
SELECT coalesce(l.cluster, -1)::BIGINT AS cluster, count(*)::BIGINT AS n
FROM pts LEFT JOIN lbl l ON pts.id = l.id
GROUP BY 1 ORDER BY 1
"""


def q_blobs_deterministic_stats(spark, sf_dir):
    """Content-deterministic distributed data generation
    (datasets.py::make_blobs_deterministic): every row is a pure
    function of its index (Knuth hash → Box–Muller), entirely JVM
    expressions over spark.range — so unlike the numpy-RNG
    make_blobs (rows-only make_blobs_kmeans), the generated VALUES are
    verified by the oracle replaying the identical arithmetic."""
    from dask_ml_spark.datasets import make_blobs_deterministic

    df = make_blobs_deterministic(BLOBS_N, BLOBS_CENTERS,
                                  cluster_std=BLOBS_STD, spark=spark)
    return (df.groupBy("cluster")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("x0"), 6).alias("mean_x0"),
                 F.round(F.avg("x1"), 6).alias("mean_x1"),
                 F.round(F.stddev_pop("x0"), 6).alias("std_x0"))
            .orderBy("cluster"))


def _sql_blobs_deterministic_stats() -> str:
    k = len(BLOBS_CENTERS)
    W = float(1 << 56)
    two_pi = 2.0 * 3.141592653589793

    def h(tag):
        return ("CAST(('0x' || substr(md5(id::VARCHAR || '_0_" + tag
                + "'), 1, 14)) AS BIGINT)")

    feats = []
    for j in range(2):
        u1 = f"(({h(f'a{j}')}) + 0.5) / {W!r}"
        u2 = f"(({h(f'b{j}')}) + 0.5) / {W!r}"
        z = f"sqrt(-2.0 * ln({u1})) * cos({two_pi!r} * ({u2}))"
        center = ("CASE cluster "
                  + " ".join(f"WHEN {c} THEN {BLOBS_CENTERS[c][j]!r}"
                             for c in range(k))
                  + " END")
        feats.append(f"{center} + {BLOBS_STD!r} * ({z}) AS x{j}")
    return f"""
WITH r AS (SELECT range AS id FROM range({BLOBS_N})),
c AS (SELECT id, ({h('c')}) % {k} AS cluster FROM r),
pts AS (SELECT cluster, {', '.join(feats)} FROM c)
SELECT cluster::INT AS cluster, count(*) AS n,
       round(avg(x0), 6) AS mean_x0, round(avg(x1), 6) AS mean_x1,
       round(stddev_pop(x0), 6) AS std_x0
FROM pts GROUP BY cluster ORDER BY cluster
"""


def q_blockwise_voting_eval(spark, sf_dir):
    """BlockwiseVotingClassifier (reference _blockwise.py:11-291): one
    sklearn-protocol clone fit per partition, majority-vote predict.
    Run on a deterministic single-partition layout so the vote reduces
    to one CentroidClassifier — whose nearest-class-centroid decision
    the SQL oracle evaluates in closed form (per-class feature means +
    first-min distance). Multi-partition voting stays covered by
    tests/test_models.py (partitioning-dependent, not oracle-able)."""
    from dask_ml_spark.functions.metrics import accuracy_expr
    from dask_ml_spark.operators.ensemble import BlockwiseVotingClassifier
    from dask_ml_spark.operators.local_estimators import CentroidClassifier
    from dask_ml_spark.operators.preprocessing import StandardScaler

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "label", (F.col("l_returnflag") == "R").cast("double")
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    scaled = StandardScaler().fit(li, cols).transform(li).coalesce(1)
    bv = BlockwiseVotingClassifier(CentroidClassifier()).fit(scaled, cols, label_col="label")
    pred = bv.predict(scaled)
    return pred.agg(
        accuracy_expr(F.col("label"), F.col("prediction")).alias("accuracy"),
        F.count("*").alias("n"),
    )


def sql_blockwise_voting_eval() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    feats = [f"f{i}" for i in range(len(cols))]
    scaled = ", ".join(
        f"({c} - avg({c}) OVER ()) / stddev_pop({c}) OVER () AS {f}"
        for c, f in zip(cols, feats)
    )
    cent = ", ".join(f"avg({f}) AS c{f}" for f in feats)
    pv = ", ".join(
        f"max(CASE WHEN label = {lab} THEN c{f} END) AS {tag}{f}"
        for lab, tag in ((0.0, "a"), (1.0, "b")) for f in feats
    )
    d0 = " + ".join(f"(s.{f} - pv.a{f}) * (s.{f} - pv.a{f})" for f in feats)
    d1 = " + ".join(f"(s.{f} - pv.b{f}) * (s.{f} - pv.b{f})" for f in feats)
    return f"""
WITH scaled AS (
    SELECT {scaled},
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label
    FROM lineitem
),
cent AS (SELECT label, {cent} FROM scaled GROUP BY label),
pv AS (SELECT {pv} FROM cent),
pred AS (
    SELECT label, CASE WHEN ({d0}) <= ({d1}) THEN 0.0 ELSE 1.0 END AS prediction
    FROM scaled s CROSS JOIN pv
)
SELECT avg(CASE WHEN prediction = label THEN 1.0 ELSE 0.0 END) AS accuracy,
       count(*) AS n
FROM pred
"""


SPECTRAL_GAMMA = 0.5


SPECTRAL_LANDMARKS = [
    [-1.2, -1.2, -1.2], [-1.2, 0.0, 1.2], [0.0, -1.2, 1.2], [0.0, 0.0, 0.0],
    [0.0, 1.2, -1.2], [1.2, -1.2, 0.0], [1.2, 0.0, -1.2], [1.2, 1.2, 1.2],
]


SPECTRAL_KM_INIT = [[-0.6, -0.3, 0.0], [-0.4, 0.3, 0.3], [-0.2, 0.0, -0.2]]


SPECTRAL_ITERS = 2


def _spectral_proj():
    """The Nyström embedding map for the PINNED landmarks — computed
    in numpy from the literals alone, so the Spark query and the SQL
    generator derive the IDENTICAL l×k weight matrix (the driver-side
    SVD is not a distributed computation; what the oracle verifies is
    everything distributed: scaling, the kernel embedding of every
    row, the Lloyd rounds, and the final assignment)."""
    import numpy as np

    from dask_ml_spark.operators.pairwise import rbf_kernel_matrix

    lm = np.asarray(SPECTRAL_LANDMARKS, dtype="float64")
    A = rbf_kernel_matrix(lm, lm, SPECTRAL_GAMMA)
    U, S, _ = np.linalg.svd(A, hermitian=True)
    k = len(SPECTRAL_KM_INIT)
    S_inv_sqrt = np.where(S[:k] > 1e-12, 1.0 / np.sqrt(S[:k]), 0.0)
    return U[:, :k] * S_inv_sqrt


def q_spectral_clustering_sizes(spark, sf_dir):
    """Nyström spectral clustering (reference spectral.py:22-375):
    kernel block + distributed embedding + k-means. Landmarks and
    k-means init are PINNED literals (the kmeans_cluster_sizes trick
    one level up), so the full pipeline — standardize, RBF-embed
    through the SVD map, replayed Lloyd rounds, final assignment — is
    SQL-oracle-able. The seeded-sampling path stays available on the
    operator (landmarks=None)."""
    from dask_ml_spark.operators.cluster import SpectralClustering
    from dask_ml_spark.operators.preprocessing import StandardScaler

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    scaled = StandardScaler().fit(li, cols).transform(li)
    sc = SpectralClustering(
        n_clusters=3, gamma=SPECTRAL_GAMMA, landmarks=SPECTRAL_LANDMARKS,
        kmeans_params={"init": SPECTRAL_KM_INIT, "max_iter": SPECTRAL_ITERS,
                       "tol": 0.0, "algorithm": "lloyd_dataframe"})
    return (
        sc.fit_predict(scaled, cols)
        .groupBy("prediction")
        .agg(F.count("*").alias("n"))
        .select(F.col("prediction").cast("long").alias("cluster"), "n")
    )


def sql_spectral_clustering_sizes() -> str:
    """Replay the pinned spectral pipeline in SQL: standardize with
    population stddev windows, compute the k embedding columns as
    Σ_i proj[i][j]·exp(-γ·||x - landmark_i||²) (full-precision numpy
    literals), then the same pivot/assign/update Lloyd replay as
    sql_kmeans_cluster_sizes over the embedding coordinates."""
    proj = _spectral_proj()
    k = len(SPECTRAL_KM_INIT)
    dims = [f"e{j}" for j in range(k)]
    cols = KMEANS_COLS
    svars = ["q", "p", "d"]

    kernels = []
    for i, lm in enumerate(SPECTRAL_LANDMARKS):
        d2 = " + ".join(f"({v} - {lm[a]!r}) * ({v} - {lm[a]!r})"
                        for a, v in enumerate(svars))
        kernels.append(f"exp(-{SPECTRAL_GAMMA!r} * ({d2})) AS kk{i}")
    embs = []
    for j in range(k):
        terms = [f"kk{i} * {float(proj[i, j])!r}"
                 for i in range(len(SPECTRAL_LANDMARKS))
                 if float(proj[i, j]) != 0.0]
        embs.append("(" + " + ".join(terms) + f") AS e{j}")

    def pivot(src: str, name: str) -> str:
        cells = ", ".join(
            f"max(CASE WHEN cluster = {c} THEN c{v} END) AS c{v}{c}"
            for c in range(k) for v in dims)
        return f"{name} AS (SELECT {cells} FROM {src})"

    def assign(name: str, piv: str) -> str:
        dist = ", ".join(
            "(" + " + ".join(f"(s.{v} - {piv}.c{v}{c}) * (s.{v} - {piv}.c{v}{c})"
                             for v in dims) + f") AS d{c}"
            for c in range(k))
        whens = []
        for c in range(k - 1):
            cond = " AND ".join(f"d{c} <= d{o}" for o in range(c + 1, k))
            whens.append(f"WHEN {cond} THEN {c}")
        case = "CASE " + " ".join(whens) + f" ELSE {k - 1} END"
        return (f"{name} AS (SELECT {', '.join(dims)}, {case} AS cluster "
                f"FROM (SELECT s.*, {dist} FROM emb s CROSS JOIN {piv}))")

    def update(prev: str, assigned: str, gname: str, cname: str) -> str:
        avgs = ", ".join(f"avg({v}) AS m{v}" for v in dims)
        coal = ", ".join(f"coalesce(g.m{v}, p.c{v}) AS c{v}" for v in dims)
        return (f"{gname} AS (SELECT cluster, {avgs} FROM {assigned} GROUP BY cluster), "
                f"{cname} AS (SELECT p.cluster, {coal} FROM {prev} p "
                f"LEFT JOIN {gname} g ON p.cluster = g.cluster)")

    init_rows = ", ".join(
        "(" + ", ".join([str(c)] + [f"{v!r}" for v in SPECTRAL_KM_INIT[c]]) + ")"
        for c in range(k))
    parts = [
        "scaled AS (SELECT "
        + ", ".join(
            f"({col} - avg({col}) OVER ()) / stddev_pop({col}) OVER () AS {v}"
            for col, v in zip(cols, svars))
        + " FROM lineitem)",
        f"kern AS (SELECT {', '.join(kernels)} FROM scaled)",
        f"emb AS (SELECT {', '.join(embs)} FROM kern)",
        f"c0(cluster, {', '.join('c' + v for v in dims)}) AS (VALUES {init_rows})",
    ]
    prev = "c0"
    for it in range(SPECTRAL_ITERS):
        parts.append(pivot(prev, f"pv{it}"))
        parts.append(assign(f"a{it}", f"pv{it}"))
        parts.append(update(prev, f"a{it}", f"g{it}", f"c{it + 1}"))
        prev = f"c{it + 1}"
    parts.append(pivot(prev, "pvf"))
    parts.append(assign("af", "pvf"))
    return ("WITH " + ",\n".join(parts)
            + "\nSELECT cluster::BIGINT AS cluster, count(*) AS n "
              "FROM af GROUP BY cluster")


SGD_N_BLOCKS = 8


def q_incremental_sgd_eval(spark, sf_dir):
    """Incremental wrapper (reference wrappers.py:419-603): sequential
    partial_fit as chained single-partition executor jobs (the model
    travels between executors, partition data never leaves them), then
    distributed broadcast predict + accuracy. Oracle-able since r9:
    deterministic_by keys the blocks by the engine-portable Knuth hash
    (content-deterministic block multisets in block order), and
    SGDClassifier's partial_fit is one mean-gradient step per block —
    a closed form of batch aggregates, so the SQL replays the
    8-block sequential chain as chained CTE updates and scores the
    final weights. Accuracy is a thresholded count ratio, so the
    float-association slack between numpy block sums and SQL sums
    cannot move it at the 1e-6 rounding. The seeded shuffle_blocks
    mode stays the production default (tests/test_models.py)."""
    from dask_ml_spark.operators.local_estimators import SGDClassifier
    from dask_ml_spark.operators.preprocessing import StandardScaler
    from dask_ml_spark.operators.wrappers import Incremental

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "label", (F.col("l_returnflag") == "R").cast("double")
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    scaled = StandardScaler().fit(li, cols).transform(li)
    inc = Incremental(SGDClassifier(lr=0.1),
                      deterministic_by=["l_orderkey", "l_linenumber"],
                      n_blocks=SGD_N_BLOCKS)
    inc.fit(scaled, cols, label_col="label", classes=[0.0, 1.0])
    pred = inc.predict(scaled)
    acc = F.avg((F.col("label") == F.col("prediction")).cast("double"))
    return pred.agg(
        (F.floor(acc * 1e6 + F.lit(0.5)) / 1e6).alias("accuracy"),
        F.count("*").alias("n"),
    )


def sql_incremental_sgd_eval() -> str:
    """Replay the deterministic Incremental SGD chain: fold = the
    2-key Knuth hash mod 8 (same chain as hash_split), then per block
    one mean-gradient logistic step
        p = sigmoid(clip(x·w + b, ±35)); g = p − y
        c_k ← c_k − lr·(Σ g·x_k / n + alpha·c_k);  b ← b − lr·Σg/n
    exactly SGDClassifier.partial_fit's arithmetic, chained through 8
    CTEs, then broadcast predict (margin > 0) and accuracy."""
    lr, alpha = 0.1, 1e-4
    feats = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    nf = len(feats)
    xs = ", ".join(
        f"(({c} - avg({c}) OVER ()) / stddev_pop({c}) OVER ()) AS x{i}"
        for i, c in enumerate(feats))
    margin = " + ".join(f"x{i}*c{i}" for i in range(nf)) + " + b0"
    chain = []
    prev = "w0"
    for b in range(SGD_N_BLOCKS):
        sums = ", ".join(f"sum(g * x{i}) AS s{i}" for i in range(nf))
        ups = ", ".join(
            f"CASE WHEN n > 0 THEN c{i} - {lr!r} * (s{i}/n + {alpha!r}*c{i})"
            f" ELSE c{i} END AS c{i}" for i in range(nf))
        chain.append(f"""g{b} AS (
    SELECT count(*)::DOUBLE AS n, {sums}, sum(g) AS sg
    FROM (SELECT {', '.join(f'x{i}' for i in range(nf))},
                 1.0/(1.0 + exp(-greatest(-35.0::DOUBLE,
                     least(35.0::DOUBLE, {margin})))) - y AS g
          FROM train CROSS JOIN {prev} WHERE fold = {b})
), w{b + 1} AS (
    SELECT {ups},
           CASE WHEN n > 0 THEN b0 - {lr!r} * (sg / n) ELSE b0 END AS b0
    FROM {prev} CROSS JOIN g{b})""")
        prev = f"w{b + 1}"
    chain_sql = ",\n".join(chain)
    return f"""
WITH train AS (
    SELECT {xs},
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
           ((((0 + l_orderkey) % 2147483648) * 2654435761 % 2147483648
             + l_linenumber) % 2147483648) * 2654435761
             % 2147483648 % {SGD_N_BLOCKS} AS fold
    FROM lineitem
),
w0 AS (SELECT {', '.join(f'0.0::DOUBLE AS c{i}' for i in range(nf))},
              0.0::DOUBLE AS b0),
{chain_sql}
SELECT floor(avg(CASE WHEN (CASE WHEN {margin} > 0 THEN 1.0 ELSE 0.0 END) = y
                      THEN 1.0 ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS accuracy,
       count(*) AS n
FROM train CROSS JOIN {prev}
"""


def q_poisson_regression_fit(spark, sf_dir):
    """Poisson GLM with log link via distributed IRLS (reference
    glm.py:332-385). Iterative solver — rows-only."""
    from dask_ml_spark.operators.linear_model import PoissonRegression

    li = _t(spark, sf_dir, "lineitem").withColumn("label", F.col("l_quantity"))
    pr = PoissonRegression(max_iter=15).fit(li, ["l_discount", "l_tax"], label_col="label")
    return local_frame(
        spark, [(float(pr.coef_[0]), float(pr.coef_[1]), float(pr.intercept_))],
        "coef_discount double, coef_tax double, intercept double")


def q_calibration_curve(spark, sf_dir):
    """Reliability-diagram points for a synthetic probability column."""
    from dask_ml_spark.functions.metrics import calibration_curve

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
        (F.col("l_discount") * 10.0).alias("probability"),  # in [0, 1]
    )
    return calibration_curve(li, n_bins=10)


SQL_CALIBRATION_CURVE = """
WITH p AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
           l_discount * 10.0 AS prob
    FROM lineitem
)
SELECT CAST(least(9, floor(prob * 10)) AS INTEGER) AS bin,
       avg(prob) AS mean_predicted,
       avg(label) AS fraction_positive,
       count(*) AS n
FROM p
GROUP BY 1
"""


def q_confusion_matrix(spark, sf_dir):
    """Long-form confusion matrix over a thresholded score."""
    from dask_ml_spark.functions.metrics import confusion_matrix

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
        (F.col("l_quantity") > 25).cast("double").alias("prediction"),
    )
    return confusion_matrix(li)


SQL_CONFUSION_MATRIX = """
SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
       CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS prediction,
       count(*) AS n
FROM lineitem
GROUP BY 1, 2
"""


def q_precision_recall_f1(spark, sf_dir):
    """One-pass binary precision/recall/F1 over a thresholded score."""
    from dask_ml_spark.functions.metrics import precision_recall_f1

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
        (F.col("l_quantity") > 25).cast("double").alias("prediction"),
    )
    m = precision_recall_f1(li)
    return local_frame(
        spark, [(m["precision"], m["recall"], m["f1"],
                 int(m["tp"]), int(m["fp"]), int(m["fn"]))],
        "precision double, recall double, f1 double, "
        "tp long, fp long, fn long")


SQL_PRECISION_RECALL_F1 = """
WITH p AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
           CASE WHEN l_quantity > 25 THEN 1.0 ELSE 0.0 END AS prediction
    FROM lineitem
),
c AS (
    SELECT sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
           sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END)::BIGINT AS fp,
           sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END)::BIGINT AS fn
    FROM p
)
SELECT tp / (tp + fp)::DOUBLE AS precision,
       tp / (tp + fn)::DOUBLE AS recall,
       2.0 * (tp / (tp + fp)::DOUBLE) * (tp / (tp + fn)::DOUBLE)
           / ((tp / (tp + fp)::DOUBLE) + (tp / (tp + fn)::DOUBLE)) AS f1,
       tp, fp, fn
FROM c
"""


def q_roc_auc_eval(spark, sf_dir):
    """Distributed exact ROC-AUC (rank-sum with tie-averaged ranks) of
    a continuous score against a binary label; the oracle reproduces
    the same formulation with a SQL window prefix sum."""
    from dask_ml_spark.functions.metrics import roc_auc_score

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
        (F.col("l_extendedprice") / (F.lit(1.0) + F.col("l_discount"))).alias("score"),
    )
    auc = roc_auc_score(li, "label", "score")
    return local_frame(spark, [(float(auc),)], "auc double")


SQL_ROC_AUC_EVAL = """
WITH scored AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
           l_extendedprice / (1.0 + l_discount) AS score
    FROM lineitem
),
g AS (
    SELECT score, count(*)::DOUBLE AS c, sum(label) AS p
    FROM scored GROUP BY score
),
w AS (
    SELECT p, c - p AS neg,
           COALESCE(sum(c - p) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
    FROM g
)
SELECT sum(p * (neg_below + 0.5 * neg)) / (sum(p) * sum(neg)) AS auc FROM w
"""


def q_roc_auc_binned(spark, sf_dir):
    """The 100 TB ROC-AUC path (functions/metrics.py::roc_auc_score
    with bins=4096): scores bucket into K equal-width bins — one
    min/max pass + one ≤K-group aggregate, no score-sorted shuffle —
    with |error| bounded by the within-bin pair mass (O(1/K)). The
    oracle replays the identical bucketing arithmetic in SQL, so this
    is a full hash-match, not rows-only."""
    from dask_ml_spark.functions.metrics import roc_auc_score

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
        (F.col("l_extendedprice") / (F.lit(1.0) + F.col("l_discount"))).alias("score"),
    )
    auc = roc_auc_score(li, "label", "score", bins=4096)
    return local_frame(spark, [(float(auc),)], "auc double").select(
        F.round(F.col("auc"), 9).alias("auc"))


SQL_ROC_AUC_BINNED = """
WITH scored AS (
    SELECT CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label,
           l_extendedprice / (1.0 + l_discount) AS score
    FROM lineitem
),
rng AS (
    SELECT min(score) AS lo,
           CASE WHEN max(score) = min(score) THEN 1.0
                ELSE max(score) - min(score) END AS width
    FROM scored
),
g AS (
    SELECT least(4095, floor((score - lo) / width * 4096))::INT AS b,
           count(*)::DOUBLE AS c, sum(label) AS p
    FROM scored, rng GROUP BY 1
),
w AS (
    SELECT p, c - p AS neg,
           COALESCE(sum(c - p) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
    FROM g
)
SELECT round(sum(p * (neg_below + 0.5 * neg)) / (sum(p) * sum(neg)), 9) AS auc
FROM w
"""


def q_poisson_saturated_fit(spark, sf_dir):
    """Unpenalized Poisson/log GLM on ONE binary feature — saturated
    model, closed-form MLE (group means under the log link), so the
    MLlib IRLS path is value-checked against the true optimum:
    intercept = ln(mean(y | x=0)), coef = ln(mean(y | x=1)) − intercept."""
    from dask_ml_spark.operators.linear_model import PoissonRegression

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_discount") > 0.05).cast("double").alias("x"),
        F.col("l_quantity").alias("label"),
    )
    pr = PoissonRegression(C=float("inf"), max_iter=100, tol=1e-12).fit(
        li, ["x"], label_col="label")
    return local_frame(spark, [(float(pr.coef_[0]), float(pr.intercept_))],
                       "coef_x double, intercept double")


SQL_POISSON_SATURATED_FIT = """
WITH g AS (
    SELECT CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS x,
           avg(l_quantity) AS m
    FROM lineitem GROUP BY 1
)
SELECT ln((SELECT m FROM g WHERE x = 1)) - ln((SELECT m FROM g WHERE x = 0)) AS coef_x,
       ln((SELECT m FROM g WHERE x = 0)) AS intercept
"""


def q_make_blobs_kmeans(spark, sf_dir):
    """Synthetic data generators (reference datasets.py:78-206) feeding
    clustering: make_blobs per-partition seeded generation → KMeans.
    Seeded — rows-only."""
    from dask_ml_spark.datasets import make_blobs
    from dask_ml_spark.operators.cluster import KMeans

    df = make_blobs(n_samples=20000, n_features=4, centers=3,
                    cluster_std=0.8, random_state=5, n_partitions=8, spark=spark)
    cols = [c for c in df.columns if c.startswith("x")]
    km = KMeans(n_clusters=3, random_state=5, max_iter=10).fit(df, cols)
    return (
        km.predict(df)
        .groupBy("prediction")
        .agg(F.count("*").alias("n"))
        .select(F.col("prediction").cast("long").alias("cluster"), "n")
    )


def q_feature_hasher_long(spark, sf_dir):
    """FeatureHasher over dict-shaped rows (categorical flags + a
    numeric), triplet output. xxhash64 buckets are Spark-specific —
    rows-only; determinism covered by tests."""
    from dask_ml_spark.operators.text import FeatureHasher

    li = _t(spark, sf_dir, "lineitem")
    feats = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        F.create_map(
            F.concat(F.lit("rf="), F.col("l_returnflag")), F.lit(1.0),
            F.concat(F.lit("ls="), F.col("l_linestatus")), F.lit(1.0),
            F.lit("qty"), F.col("l_quantity").cast("double"),
        ).alias("features_raw"),
    )
    fh = FeatureHasher(n_features=4096)
    return fh.transform_long(feats, "row_id")


def q_feature_hasher_portable(spark, sf_dir):
    """Same dict-shaped hashing with the engine-portable md5-prefix
    hash — the oracle value-checks explode → hash → signed weighted sum
    → prune against DuckDB."""
    from dask_ml_spark.operators.text import FeatureHasher

    li = _t(spark, sf_dir, "lineitem")
    feats = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("row_id"),
        F.create_map(
            F.concat(F.lit("rf="), F.col("l_returnflag")), F.lit(1.0),
            F.concat(F.lit("ls="), F.col("l_linestatus")), F.lit(1.0),
            F.lit("qty"), F.col("l_quantity").cast("double"),
        ).alias("features_raw"),
    )
    fh = FeatureHasher(n_features=512, hash_fn="portable")
    return fh.transform_long(feats, "row_id")


SQL_FEATURE_HASHER_PORTABLE = """
WITH kv AS (
    SELECT l_orderkey * 10 + l_linenumber AS row_id, key, value
    FROM lineitem,
         (VALUES (1), (2), (3)) AS t(slot),
         LATERAL (SELECT CASE slot WHEN 1 THEN 'rf=' || l_returnflag
                                   WHEN 2 THEN 'ls=' || l_linestatus
                                   ELSE 'qty' END AS key,
                         CASE slot WHEN 3 THEN l_quantity ELSE 1.0 END AS value)
)
SELECT row_id,
       CAST(CAST(('0x' || substr(md5(key), 1, 14)) AS BIGINT) % 512 AS INTEGER) AS bucket,
       sum(value * CASE WHEN CAST(('0x' || substr(md5(key), 15, 1)) AS BIGINT) % 2 = 0
                        THEN 1.0 ELSE -1.0 END) AS value
FROM kv
GROUP BY row_id, bucket
HAVING sum(value * CASE WHEN CAST(('0x' || substr(md5(key), 15, 1)) AS BIGINT) % 2 = 0
                        THEN 1.0 ELSE -1.0 END) <> 0
"""


def q_weighted_metrics(spark, sf_dir):
    """Weighted metric aggregates (reference passes sample_weight
    through sklearn formulas): sum(w*x)/sum(w) shape, one pass."""
    from dask_ml_spark.functions.metrics import accuracy_expr, mse_expr

    li = _t(spark, sf_dir, "lineitem")
    y = (F.col("l_returnflag") == "R").cast("double")
    pred = (F.col("l_discount") > 0.05).cast("double")
    w = F.col("l_tax") + 0.01
    yr = F.col("l_extendedprice")
    pr = F.col("l_quantity") * 2000.0
    # weighted_accuracy exercises the library expr (an O(1) ratio —
    # self-normalizing, plan-shape safe); weighted_mse is an ~1e9-scale
    # ratio whose raw-double numerator drifts past the hash grid, so the
    # catalog rendering uses the decimal-exact form of the SAME formula
    # (mse_expr itself — the production path — is pytest-pinned).
    return li.agg(
        accuracy_expr(y, pred, w).alias("weighted_accuracy"),
        (_dsum_wide(w * F.pow(pr - yr, 2)) / _dsum(w)).alias("weighted_mse"),
        _dsum(w).alias("sum_w"),
    )


SQL_WEIGHTED_METRICS = """
SELECT sum((l_tax + 0.01) * CASE WHEN (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) =
                                      (CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END)
                                 THEN 1.0 ELSE 0.0 END) / sum(l_tax + 0.01) AS weighted_accuracy,
       CAST(sum(CAST(floor((l_tax + 0.01) * pow(l_quantity * 2000.0 - l_extendedprice, 2) * 10000 + 0.5) / 10000 AS DECIMAL(27,4))) AS DOUBLE)
           / (CAST(sum(CAST(floor((l_tax + 0.01) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000) AS weighted_mse,
       (CAST(sum(CAST(floor((l_tax + 0.01) * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000) AS sum_w
FROM lineitem
"""


def q_pipeline_poly_scale(spark, sf_dir):
    """compose.Pipeline chaining StandardScaler -> PolynomialFeatures
    (reference compose/_column_transformer.py + Pipeline semantics):
    fitted state folds into one fused projection — no UDF, no shuffle."""
    from dask_ml_spark.operators.compose import Pipeline
    from dask_ml_spark.operators.preprocessing import PolynomialFeatures, StandardScaler

    li = _t(spark, sf_dir, "lineitem")
    pipe = Pipeline([
        ("scale", StandardScaler()),
        ("poly", PolynomialFeatures(degree=2, include_bias=False)),
    ])
    pipe.fit(li, ["l_quantity", "l_discount"])
    out = pipe.transform(li)
    return out.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").alias("z_quantity"),
        F.col("l_discount").alias("z_discount"),
        F.col("l_quantity^2").alias("z_quantity_sq"),
        F.col("l_quantity l_discount").alias("z_cross"),
        F.col("l_discount^2").alias("z_discount_sq"),
    )


SQL_PIPELINE_POLY_SCALE = """
WITH z AS (
    SELECT l_orderkey, l_linenumber,
           (l_quantity - avg(l_quantity) OVER ()) / stddev_pop(l_quantity) OVER () AS zq,
           (l_discount - avg(l_discount) OVER ()) / stddev_pop(l_discount) OVER () AS zd
    FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       zq AS z_quantity, zd AS z_discount,
       zq * zq AS z_quantity_sq, zq * zd AS z_cross, zd * zd AS z_discount_sq
FROM z
"""


def q_simple_imputer_transform(spark, sf_dir):
    """SimpleImputer transform path (reference impute.py fillna): nulls
    fabricated from zero discounts, filled with the fitted mean — fit is
    one aggregate, transform a pure coalesce projection."""
    from dask_ml_spark.operators.preprocessing import SimpleImputer

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "d2", F.when(F.col("l_discount") == 0, None).otherwise(F.col("l_discount"))
    )
    imp = SimpleImputer(strategy="mean").fit(li, ["d2"])
    return imp.transform(li).select("l_orderkey", "l_linenumber", "d2")


SQL_SIMPLE_IMPUTER_TRANSFORM = """
WITH s AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount = 0 THEN NULL ELSE l_discount END AS d2
    FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       coalesce(d2, (SELECT avg(d2) FROM s)) AS d2
FROM s
"""


def q_column_transformer(spark, sf_dir):
    """compose.ColumnTransformer (reference _column_transformer.py:12-219):
    standard-scale two measures, min-max a third — different fitted
    transformers per column subset, one fused projection."""
    from dask_ml_spark.operators.compose import ColumnTransformer
    from dask_ml_spark.operators.preprocessing import MinMaxScaler, StandardScaler

    li = _t(spark, sf_dir, "lineitem")
    ct = ColumnTransformer([
        ("std", StandardScaler(), ["l_quantity", "l_extendedprice"]),
        ("mm", MinMaxScaler(), ["l_discount"]),
    ])
    out = ct.fit(li).transform(li)
    return out.select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").alias("z_quantity"),
        F.col("l_extendedprice").alias("z_price"),
        F.col("l_discount").alias("mm_discount"),
    )


SQL_COLUMN_TRANSFORMER = """
SELECT l_orderkey, l_linenumber,
       (l_quantity - avg(l_quantity) OVER ()) / stddev_pop(l_quantity) OVER () AS z_quantity,
       (l_extendedprice - avg(l_extendedprice) OVER ()) / stddev_pop(l_extendedprice) OVER () AS z_price,
       (l_discount - min(l_discount) OVER ()) / (max(l_discount) OVER () - min(l_discount) OVER ()) AS mm_discount
FROM lineitem
"""


def q_parallel_post_fit_eval(spark, sf_dir):
    """ParallelPostFit (reference wrappers.py:298-401): driver-side fit
    on a sample, broadcast-model Arrow predict over the full table,
    metric aggregate. The fit sample is selected by the engine-portable
    content hash (same Knuth-bucket arithmetic as stratified_sample)
    instead of an order-dependent limit(), so the SQL oracle can
    reproduce the exact training subset and verify the full
    fit→broadcast→predict→metric loop by value."""
    from dask_ml_spark.functions.metrics import accuracy_expr
    from dask_ml_spark.operators.local_estimators import CentroidClassifier
    from dask_ml_spark.operators.preprocessing import StandardScaler
    from dask_ml_spark.operators.wrappers import ParallelPostFit
    from dask_ml_spark.plans.model_selection import _hash_bucket_expr

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "label", (F.col("l_returnflag") == "R").cast("double")
    )
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    scaled = StandardScaler().fit(li, cols).transform(li)
    bucket = _hash_bucket_expr(["l_orderkey", "l_linenumber"], 10_000, 0, df=scaled)
    sample = scaled.where(bucket < F.lit(1000))  # content-chosen ~10%
    ppf = ParallelPostFit(CentroidClassifier())
    ppf.fit(sample, cols, label_col="label")
    pred = ppf.predict(scaled)
    return pred.agg(
        accuracy_expr(F.col("label"), F.col("prediction")).alias("accuracy"),
        F.count("*").alias("n"),
    )


def sql_parallel_post_fit_eval() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    feats = [f"f{i}" for i in range(len(cols))]
    scaled = ", ".join(
        f"({c} - avg({c}) OVER ()) / stddev_pop({c}) OVER () AS {f}"
        for c, f in zip(cols, feats)
    )
    # same Knuth chain as _hash_bucket_expr over (l_orderkey, l_linenumber)
    hash_expr = ("(((((((0 + l_orderkey) % 2147483648) * 2654435761) % 2147483648)"
                 " + l_linenumber) % 2147483648) * 2654435761) % 2147483648 % 10000")
    cent = ", ".join(f"avg({f}) AS c{f}" for f in feats)
    pv = ", ".join(
        f"max(CASE WHEN label = {lab} THEN c{f} END) AS {tag}{f}"
        for lab, tag in ((0.0, "a"), (1.0, "b")) for f in feats
    )
    d0 = " + ".join(f"(s.{f} - pv.a{f}) * (s.{f} - pv.a{f})" for f in feats)
    d1 = " + ".join(f"(s.{f} - pv.b{f}) * (s.{f} - pv.b{f})" for f in feats)
    return f"""
WITH scaled AS (
    SELECT l_orderkey, l_linenumber, {scaled},
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label
    FROM lineitem
),
samp AS (SELECT * FROM scaled WHERE {hash_expr} < 1000),
cent AS (SELECT label, {cent} FROM samp GROUP BY label),
pv AS (SELECT {pv} FROM cent),
pred AS (
    SELECT label, CASE WHEN ({d0}) <= ({d1}) THEN 0.0 ELSE 1.0 END AS prediction
    FROM scaled s CROSS JOIN pv
)
SELECT avg(CASE WHEN prediction = label THEN 1.0 ELSE 0.0 END) AS accuracy,
       count(*) AS n
FROM pred
"""


def q_robust_scaler_transform(spark, sf_dir):
    """RobustScaler transform path: (x - median)/IQR with the fitted
    exact quantiles folded in as literals."""
    from dask_ml_spark.operators.preprocessing import RobustScaler

    li = _t(spark, sf_dir, "lineitem")
    sc = RobustScaler().fit(li, ["l_quantity", "l_extendedprice"])
    return sc.transform(li).select(
        "l_orderkey", "l_linenumber",
        F.col("l_quantity").alias("r_quantity"),
        F.col("l_extendedprice").alias("r_price"),
    )


SQL_ROBUST_SCALER_TRANSFORM = """
WITH q AS (
    SELECT quantile_cont(l_quantity, 0.25) AS q1_q, quantile_cont(l_quantity, 0.5) AS med_q,
           quantile_cont(l_quantity, 0.75) AS q3_q,
           quantile_cont(l_extendedprice, 0.25) AS q1_p, quantile_cont(l_extendedprice, 0.5) AS med_p,
           quantile_cont(l_extendedprice, 0.75) AS q3_p
    FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       (l_quantity - med_q) / (q3_q - q1_q) AS r_quantity,
       (l_extendedprice - med_p) / (q3_p - q1_p) AS r_price
FROM lineitem, q
"""


def q_label_encoder_roundtrip(spark, sf_dir):
    """LabelEncoder transform -> inverse_transform round-trip
    (reference label.py:146-196): codes come back as the original
    labels; the oracle is an identity projection."""
    from dask_ml_spark.operators.encoders import LabelEncoder

    o = _t(spark, sf_dir, "orders")
    le = LabelEncoder().fit(o, "o_orderpriority")
    coded = le.transform(o, output_col="code")
    back = le.inverse_transform(coded, "code", output_col="decoded")
    return back.select("o_orderkey", F.col("decoded").alias("o_orderpriority_rt"))


SQL_LABEL_ENCODER_ROUNDTRIP = """
SELECT o_orderkey, o_orderpriority AS o_orderpriority_rt FROM orders
"""


def catalog_queries():
    """This family's queries() entries (order preserved by __init__)."""
    return {
        "standard_scaler_fit": q_standard_scaler_fit,
        "standard_scaler_transform": q_standard_scaler_transform,
        "minmax_scaler_fit": q_minmax_scaler_fit,
        "robust_scaler_fit": q_robust_scaler_fit,
        "simple_imputer_fit": q_simple_imputer_fit,
        "polynomial_features": q_polynomial_features,
        "pairwise_distance_to_centers": q_pairwise_distance_to_centers,
        "minmax_scaler_transform": q_minmax_scaler_transform,
        "label_encoder_fit": q_label_encoder_fit,
        "label_encoder_transform": q_label_encoder_transform,
        "ordinal_encoder": q_ordinal_encoder,
        "dummy_encoder": q_dummy_encoder,
        "gaussian_nb_fit": q_gaussian_nb_fit,
        "simple_ols_fit": q_simple_ols_fit,
        "ols_newton_fit": q_ols_newton_fit,
        "logistic_newton_fit": q_logistic_newton_fit,
        "poisson_newton_fit": q_poisson_newton_fit,
        "pca_covariance": q_pca_covariance,
        "incremental_pca_fit": q_incremental_pca_fit,
        "classification_metrics": q_classification_metrics,
        "regression_metrics": q_regression_metrics,
        "token_document_frequency": q_token_document_frequency,
        "tfidf": q_tfidf,
        "kbins_discretizer": q_kbins_discretizer,
        "kbins_discretizer_approx": q_kbins_discretizer_approx,
        "target_encoder": q_target_encoder,
        "row_normalizer": q_row_normalizer,
        "maxabs_scaler": q_maxabs_scaler,
        "winsorized_prices": q_winsorized_prices,
        "cohens_kappa_lang": q_cohens_kappa_lang,
        "mcnemar_quality_screens": q_mcnemar_quality_screens,
        "cochrans_q_screens": q_cochrans_q_screens,
        "mcc_return_rule": q_mcc_return_rule,
        "ece_event_probability": q_ece_event_probability,
        "brier_event_probability": q_brier_event_probability,
        "quantile_transformer_fit": q_quantile_transformer_fit,
        "one_hot_encoder": q_one_hot_encoder,
        "count_vectorizer_long": q_count_vectorizer_long,
        "rbf_kernel_to_centers": q_rbf_kernel_to_centers,
        "weighted_metrics": q_weighted_metrics,
        "pipeline_poly_scale": q_pipeline_poly_scale,
        "simple_imputer_transform": q_simple_imputer_transform,
        "column_transformer": q_column_transformer,
        "robust_scaler_transform": q_robust_scaler_transform,
        "label_encoder_roundtrip": q_label_encoder_roundtrip,
        "quantile_transformer_fit_approx": q_quantile_transformer_fit_approx,
        "kmeans_cluster_sizes": q_kmeans_cluster_sizes,
        "gmm_params": q_gmm_params,
        "frequent_itemsets_stats": q_frequent_itemsets_stats,
        "association_rules_topk": q_association_rules_topk,
        "random_projection_norms": q_random_projection_norms,
        "logistic_regression_eval": q_logistic_regression_eval,
        "logistic_saturated_fit": q_logistic_saturated_fit,
        "pca_transform_variance": q_pca_transform_variance,
        "knn_classifier_eval": q_knn_classifier_eval,
        "hashing_vectorizer_long": q_hashing_vectorizer_long,
        "hashing_vectorizer_portable": q_hashing_vectorizer_portable,
        "truncated_svd_variance": q_truncated_svd_variance,
        "blockwise_voting_eval": q_blockwise_voting_eval,
        "spectral_clustering_sizes": q_spectral_clustering_sizes,
        "incremental_sgd_eval": q_incremental_sgd_eval,
        "poisson_regression_fit": q_poisson_regression_fit,
        "poisson_saturated_fit": q_poisson_saturated_fit,
        "roc_auc_eval": q_roc_auc_eval,
        "roc_auc_binned": q_roc_auc_binned,
        "precision_recall_f1": q_precision_recall_f1,
        "confusion_matrix": q_confusion_matrix,
        "calibration_curve": q_calibration_curve,
        "make_blobs_kmeans": q_make_blobs_kmeans,
        "blobs_deterministic_stats": q_blobs_deterministic_stats,
        "dbscan_cluster_sizes": q_dbscan_cluster_sizes,
        "mahalanobis_outliers": q_mahalanobis_outliers,
        "feature_hasher_long": q_feature_hasher_long,
        "feature_hasher_portable": q_feature_hasher_portable,
        "parallel_post_fit_eval": q_parallel_post_fit_eval,
    }


def catalog_oracles():
    """This family's oracle_sql() entries — built lazily at call time,
    exactly as the original build_catalog did."""
    return {
        "standard_scaler_fit": SQL_STANDARD_SCALER_FIT,
        "standard_scaler_transform": SQL_STANDARD_SCALER_TRANSFORM,
        "minmax_scaler_fit": SQL_MINMAX_SCALER_FIT,
        "robust_scaler_fit": SQL_ROBUST_SCALER_FIT,
        "simple_imputer_fit": SQL_SIMPLE_IMPUTER_FIT,
        "polynomial_features": SQL_POLYNOMIAL_FEATURES,
        "pairwise_distance_to_centers": SQL_PAIRWISE_DISTANCE_TO_CENTERS,
        "minmax_scaler_transform": SQL_MINMAX_SCALER_TRANSFORM,
        "label_encoder_fit": SQL_LABEL_ENCODER_FIT,
        "label_encoder_transform": SQL_LABEL_ENCODER_TRANSFORM,
        "ordinal_encoder": SQL_ORDINAL_ENCODER,
        "dummy_encoder": sql_dummy_encoder(["F", "O", "P"]),
        "gaussian_nb_fit": SQL_GAUSSIAN_NB_FIT,
        "simple_ols_fit": SQL_SIMPLE_OLS_FIT,
        "ols_newton_fit": SQL_OLS_NEWTON_FIT,
        "logistic_newton_fit": SQL_LOGISTIC_NEWTON_FIT,
        "poisson_newton_fit": SQL_POISSON_NEWTON_FIT,
        "knn_classifier_eval": SQL_KNN_CLASSIFIER_EVAL,
        "pca_covariance": SQL_PCA_COVARIANCE,
        "incremental_pca_fit": SQL_INCREMENTAL_PCA_FIT,
        "classification_metrics": SQL_CLASSIFICATION_METRICS,
        "regression_metrics": SQL_REGRESSION_METRICS,
        "token_document_frequency": SQL_TOKEN_DOCUMENT_FREQUENCY,
        "tfidf": SQL_TFIDF,
        "kbins_discretizer": SQL_KBINS_DISCRETIZER,
        "kbins_discretizer_approx": SQL_KBINS_DISCRETIZER_APPROX,
        "quantile_transformer_fit_approx": SQL_QUANTILE_TRANSFORMER_FIT_APPROX,
        "target_encoder": SQL_TARGET_ENCODER,
        "row_normalizer": SQL_ROW_NORMALIZER,
        "maxabs_scaler": SQL_MAXABS_SCALER,
        "winsorized_prices": SQL_WINSORIZED_PRICES,
        "cohens_kappa_lang": _sql_cohens_kappa_lang(),
        "mcnemar_quality_screens": _sql_mcnemar_quality_screens(),
        "cochrans_q_screens": _sql_cochrans_q_screens(),
        "mcc_return_rule": _sql_mcc_return_rule(),
        "ece_event_probability": _sql_ece_event_probability(),
        "brier_event_probability": _sql_brier_event_probability(),
        "quantile_transformer_fit": SQL_QUANTILE_TRANSFORMER_FIT,
        "one_hot_encoder": SQL_ONE_HOT_ENCODER,
        "count_vectorizer_long": SQL_COUNT_VECTORIZER_LONG,
        "rbf_kernel_to_centers": SQL_RBF_KERNEL_TO_CENTERS,
        "weighted_metrics": SQL_WEIGHTED_METRICS,
        "pipeline_poly_scale": SQL_PIPELINE_POLY_SCALE,
        "simple_imputer_transform": SQL_SIMPLE_IMPUTER_TRANSFORM,
        "column_transformer": SQL_COLUMN_TRANSFORMER,
        "robust_scaler_transform": SQL_ROBUST_SCALER_TRANSFORM,
        "label_encoder_roundtrip": SQL_LABEL_ENCODER_ROUNDTRIP,
        "kmeans_cluster_sizes": sql_kmeans_cluster_sizes(),
        "gmm_params": sql_gmm_params(),
        "frequent_itemsets_stats": SQL_FREQUENT_ITEMSETS_STATS,
        "association_rules_topk": SQL_ASSOCIATION_RULES_TOPK,
        "random_projection_norms": sql_random_projection_norms(),
        "truncated_svd_variance": SQL_TRUNCATED_SVD_VARIANCE,
        "blockwise_voting_eval": sql_blockwise_voting_eval(),
        "pca_transform_variance": SQL_PCA_TRANSFORM_VARIANCE,
        "parallel_post_fit_eval": sql_parallel_post_fit_eval(),
        "hashing_vectorizer_portable": SQL_HASHING_VECTORIZER_PORTABLE,
        "feature_hasher_portable": SQL_FEATURE_HASHER_PORTABLE,
        "logistic_saturated_fit": SQL_LOGISTIC_SATURATED_FIT,
        "poisson_saturated_fit": SQL_POISSON_SATURATED_FIT,
        "roc_auc_eval": SQL_ROC_AUC_EVAL,
        "roc_auc_binned": SQL_ROC_AUC_BINNED,
        "spectral_clustering_sizes": sql_spectral_clustering_sizes(),
        "blobs_deterministic_stats": _sql_blobs_deterministic_stats(),
        "dbscan_cluster_sizes": _sql_dbscan_cluster_sizes(),
        "mahalanobis_outliers": _sql_mahalanobis_outliers(),
        "incremental_sgd_eval": sql_incremental_sgd_eval(),
        "precision_recall_f1": SQL_PRECISION_RECALL_F1,
        "confusion_matrix": SQL_CONFUSION_MATRIX,
        "calibration_curve": SQL_CALIBRATION_CURVE,
    }
