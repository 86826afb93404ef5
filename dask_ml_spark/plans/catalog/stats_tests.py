"""Hypothesis-test / effect-size / time-series stats catalog queries (functions/stats.py surface).

Split out of the single-file plans/queries.py in round 13 (maintainability:
251+ builders in one 12k-line module); composed by catalog/__init__.py.
Conventions (canonical fixed-point aggregation, oracle alignment) are
documented in catalog/_shared.py.
"""
from __future__ import annotations
from pyspark.sql import functions as F
from ._shared import _t  # noqa: F401

def q_ks_price_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov (functions/stats.py::ks_2sample,
    beyond-reference — the distribution-shift gate for data
    experiments): did returned lineitems ship at different prices than
    non-returned? D over the pooled distinct prices (inclusive ECDFs,
    counts are exact in double so D is bit-exact cross-engine) + the
    asymptotic Kolmogorov p (identical 25-term series both engines)."""
    from dask_ml_spark.functions.stats import ks_2sample

    li = _t(spark, sf_dir, "lineitem")
    out = ks_2sample(li, "l_extendedprice", "l_returnflag",
                     groups=("N", "R"))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n1", "n2", r6(F.col("d_stat")).alias("d_stat"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_ks_price_test() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, ks_p

    p = duckdb_sql(ks_p, "lam")
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS v, l_returnflag AS g
    FROM lineitem WHERE l_returnflag IN ('N', 'R')
), g AS (
    SELECT v,
           sum(CASE WHEN g = 'N' THEN 1.0 ELSE 0.0 END) AS c1,
           sum(CASE WHEN g = 'R' THEN 1.0 ELSE 0.0 END) AS c2
    FROM k GROUP BY v
), c AS (
    SELECT v, c1, c2,
           sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS f1,
           sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS f2,
           (SELECT sum(c1) FROM g) AS n1, (SELECT sum(c2) FROM g) AS n2
    FROM g
), d AS (
    SELECT max(n1) AS n1, max(n2) AS n2,
           max(abs(f1/n1 - f2/n2)) AS d_stat
    FROM c
), l AS (
    SELECT n1, n2, d_stat,
           d_stat * sqrt(n1 * n2 / (n1 + n2)) AS lam
    FROM d
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       floor(d_stat * 1e6 + 0.5) / 1e6 AS d_stat,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value
FROM l
"""


KS_BINS = 128


def q_ks_price_test_binned(spark, sf_dir):
    """The KS test's 100 TB scale path (the roc_auc_binned pattern):
    equal-width binning replaces the distinct-value prefix pass with
    one min/max aggregate + one ≤K-group aggregate — continuous data
    makes the exact path's distinct-value frame row-count-sized. The
    binned D is conservative (≤ exact) within the largest per-bin
    mass; deterministic, so fully oracled."""
    from dask_ml_spark.functions.stats import ks_2sample

    li = _t(spark, sf_dir, "lineitem")
    out = ks_2sample(li, "l_extendedprice", "l_returnflag",
                     groups=("N", "R"), bins=KS_BINS)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n1", "n2", r6(F.col("d_stat")).alias("d_stat"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_ks_price_test_binned() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, ks_p

    p = duckdb_sql(ks_p, "lam")
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS v, l_returnflag AS g
    FROM lineitem WHERE l_returnflag IN ('N', 'R')
), lim AS (SELECT min(v) AS lo, max(v) AS hi FROM k),
b AS (
    -- width mirrors the engine's (hi - lo) or 1.0 zero-width guard
    SELECT least({KS_BINS - 1},
                 floor((v - (SELECT lo FROM lim))
                       / (SELECT CASE WHEN hi = lo THEN 1.0
                                      ELSE hi - lo END FROM lim)
                       * {KS_BINS}))
               AS bkt,
           sum(CASE WHEN g = 'N' THEN 1.0 ELSE 0.0 END) AS c1,
           sum(CASE WHEN g = 'R' THEN 1.0 ELSE 0.0 END) AS c2
    FROM k GROUP BY 1
), c AS (
    SELECT sum(c1) OVER w AS f1, sum(c2) OVER w AS f2,
           (SELECT sum(c1) FROM b) AS n1, (SELECT sum(c2) FROM b) AS n2
    FROM b WINDOW w AS (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)
), d AS (
    SELECT max(n1) AS n1, max(n2) AS n2,
           max(abs(f1/n1 - f2/n2)) AS d_stat
    FROM c
), l AS (
    SELECT n1, n2, d_stat,
           d_stat * sqrt(n1 * n2 / (n1 + n2)) AS lam
    FROM d
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       floor(d_stat * 1e6 + 0.5) / 1e6 AS d_stat,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value
FROM l
"""


def q_mann_whitney_discount(spark, sf_dir):
    """Two-sample Mann–Whitney U (functions/stats.py::mann_whitney_u):
    discount levels of returned vs non-returned items — 11 distinct
    discount values, so the tie correction does real work. U is the
    tie-averaged rank-sum (the exact-AUC identity: AUC = U/(n1·n2));
    z is tie- and continuity-corrected; p via the shared A&S 26.2.17
    normal tail (identical literal arithmetic both engines). Counts
    and their products stay below 2^53, so u/z are exact. r12: the
    rank-biserial effect size r = 2U/(n1·n2) − 1 joins the output
    (the eta² convention — at corpus n significance is a given; r
    says whether the groups actually move the ranks)."""
    from dask_ml_spark.functions.stats import mann_whitney_u

    li = _t(spark, sf_dir, "lineitem")
    out = mann_whitney_u(li, "l_discount", "l_returnflag",
                         groups=("N", "R"))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n1", "n2", "u_stat",
                      r6(F.col("z")).alias("z"),
                      r6(F.col("p_value")).alias("p_value"),
                      r6(F.col("rank_biserial")).alias("rank_biserial"))


def _sql_mann_whitney_discount() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "z")
    return f"""
WITH k AS (
    SELECT l_discount::DOUBLE AS v, l_returnflag AS g
    FROM lineitem WHERE l_returnflag IN ('N', 'R')
), g AS (
    SELECT v,
           sum(CASE WHEN g = 'N' THEN 1.0 ELSE 0.0 END) AS c1,
           sum(CASE WHEN g = 'R' THEN 1.0 ELSE 0.0 END) AS c2
    FROM k GROUP BY v
), c AS (
    SELECT v, c1, c2,
           sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) - c2 AS b2
    FROM g
), a AS (
    SELECT sum(c1 * (b2 + 0.5 * c2)) AS u,
           sum(c1) AS n1, sum(c2) AS n2,
           sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS ties
    FROM c
), s AS (
    SELECT u, n1, n2,
           n1 * n2 / 2.0 AS mu,
           n1 * n2 / 12.0 * ((n1 + n2 + 1.0)
               - ties / ((n1 + n2) * (n1 + n2 - 1.0))) AS var
    FROM a
), z AS (
    SELECT u, n1, n2,
           CASE WHEN var <= 0.0 THEN 0.0
                ELSE sign(u - mu) * greatest(0.0, abs(u - mu) - 0.5)
                     / sqrt(var) END AS z,
           var
    FROM s
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2, u AS u_stat,
       floor(z * 1e6 + 0.5) / 1e6 AS z,
       floor((CASE WHEN var <= 0.0 THEN 1.0
                   ELSE {p2} END) * 1e6 + 0.5) / 1e6
           AS p_value,
       floor((2.0 * u / (n1 * n2) - 1.0) * 1e6 + 0.5) / 1e6
           AS rank_biserial
FROM z
"""


def q_benford_price(spark, sf_dir):
    """Benford first-digit screen (functions/stats.py::benford_test —
    the fabricated-data smell test): leading significant digits of the
    prices on the exact 0.01 fixed-point grid vs the log₁₀(1+1/d)
    law, χ²₈ (even-dof closed form replayed by the oracle) + Nigrini's
    MAD. TPC-H prices are range-uniform, not multiplicative, so the
    screen FLAGS them — which is the demonstration: the statistic
    detects non-Benford generation processes. One ≤9-row digit
    aggregate; the digit extraction is integer/string rendering, free
    of the log₁₀ ulp boundary hazard."""
    from dask_ml_spark.functions.stats import benford_test

    li = _t(spark, sf_dir, "lineitem")
    out = benford_test(li, "l_extendedprice", grid=2)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", r6(F.col("chi2") / 1000.0).alias("chi2_k"),
                      r6(F.col("p_value")).alias("p_value"),
                      r6(F.col("mad")).alias("mad"))


def _sql_benford_price() -> str:
    import math as _m

    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    ps = [_m.log10(1.0 + 1.0 / dd) for dd in range(1, 10)]
    digit_counts = ", ".join(
        f"sum(CASE WHEN d = {dd} THEN 1 ELSE 0 END)::BIGINT AS o{dd}"
        for dd in range(1, 10))
    # in-order left-associative chains mirror the engine's digit loop
    chi2 = " + ".join(
        f"(o{dd}::DOUBLE - n::DOUBLE * {ps[dd - 1]!r})"
        f" * (o{dd}::DOUBLE - n::DOUBLE * {ps[dd - 1]!r})"
        f" / (n::DOUBLE * {ps[dd - 1]!r})" for dd in range(1, 10))
    mad = " + ".join(
        f"abs(o{dd}::DOUBLE / n::DOUBLE - {ps[dd - 1]!r})"
        for dd in range(1, 10))
    p = duckdb_sql(chi2_sf, "chi2", 8)
    return f"""
WITH k AS (
    SELECT CAST(floor(abs(l_extendedprice::DOUBLE) * 100.0 + 0.5)
                AS BIGINT) AS c
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
), dd AS (
    SELECT CAST(substr(c::VARCHAR, 1, 1) AS INTEGER) AS d
    FROM k WHERE c >= 1
), agg AS (
    SELECT count(*)::BIGINT AS n, {digit_counts} FROM dd
), s AS (
    SELECT n, ({chi2}) AS chi2, ({mad}) / 9.0 AS mad FROM agg
)
SELECT n,
       floor(chi2 / 1000.0 * 1e6 + 0.5) / 1e6 AS chi2_k,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value,
       floor(mad * 1e6 + 0.5) / 1e6 AS mad
FROM s
"""


def q_wilcoxon_user_value(spark, sf_dir):
    """Wilcoxon signed-rank test (functions/stats.py::
    wilcoxon_signed_rank — the PAIRED nonparametric test): does each
    user's mean click value differ from THAT USER's mean view value?
    Pairs are per-user (click-mean, view-mean) — the within-unit
    design no two-sample test can express. The per-user means use the
    catalog's exact fixed-point convention (_davg twin: int64 1e-4
    units / count) so the pair values — and therefore the |d| ranks —
    are bit-identical cross-engine; the signed-rank machinery is the
    mann_whitney bounded-driver shape on the |d| axis with exact
    doubled-rank bignum sums."""
    from dask_ml_spark.functions.stats import wilcoxon_signed_rank

    ev = _t(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    kept = ev.where(v.isNotNull() & ~F.isnan(v)
                    & F.col("user_id").isNotNull())
    cv = F.when(F.col("event_type") == "click", v)
    vv = F.when(F.col("event_type") == "view", v)
    fx = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("long")  # noqa
    paired = (kept.groupBy("user_id")
              .agg(F.sum(fx(cv)).alias("__sa"),
                   F.count(cv).alias("__ca"),
                   F.sum(fx(vv)).alias("__sb"),
                   F.count(vv).alias("__cb"))
              .where((F.col("__ca") > 0) & (F.col("__cb") > 0))
              .select((F.col("__sa").cast("double") / 10000
                       / F.col("__ca")).alias("a"),
                      (F.col("__sb").cast("double") / 10000
                       / F.col("__cb")).alias("b")))
    out = wilcoxon_signed_rank(paired, "a", "b")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", "w_plus",
                      r6(F.col("z")).alias("z"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_wilcoxon_user_value() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "z")
    return f"""
WITH e AS (
    SELECT user_id, event_type, value::DOUBLE AS v
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
      AND user_id IS NOT NULL
), p AS (
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click'
                         THEN CAST(floor(v * 10000 + 0.5) AS BIGINT)
                    END) AS DOUBLE) / 10000
           / count(CASE WHEN event_type = 'click' THEN v END) AS a,
           CAST(sum(CASE WHEN event_type = 'view'
                         THEN CAST(floor(v * 10000 + 0.5) AS BIGINT)
                    END) AS DOUBLE) / 10000
           / count(CASE WHEN event_type = 'view' THEN v END) AS b
    FROM e GROUP BY user_id
    HAVING count(CASE WHEN event_type = 'click' THEN v END) > 0
       AND count(CASE WHEN event_type = 'view' THEN v END) > 0
), d AS (
    SELECT a - b AS d FROM p WHERE a - b <> 0.0
), g AS (
    SELECT abs(d) AS v, count(*)::HUGEINT AS c,
           sum(CASE WHEN d > 0.0 THEN 1 ELSE 0 END)::HUGEINT AS cp
    FROM d GROUP BY 1
), c AS (
    SELECT v, c, cp,
           sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
    FROM g
), a2 AS (
    -- doubled tie-averaged ranks: 2·rank = 2·cum_before + c + 1
    SELECT sum(cp * (2 * (cum - c) + c + 1)) AS w2, sum(c) AS n,
           sum(c * c * c - c) AS ties
    FROM c
), s AS (
    SELECT n, w2::DOUBLE / 2.0 AS w,
           (n * (n + 1)) / 4.0 AS mu,
           (n * (n + 1.0) * (2.0 * n + 1.0)) / 24.0
           - ties::DOUBLE / 48.0 AS var
    FROM a2
), z AS (
    SELECT n, w,
           CASE WHEN var <= 0.0 THEN 0.0
                ELSE sign(w - mu) * greatest(0.0, abs(w - mu) - 0.5)
                     / sqrt(var) END AS z,
           var
    FROM s
)
SELECT n::BIGINT AS n, w AS w_plus,
       floor(z * 1e6 + 0.5) / 1e6 AS z,
       floor((CASE WHEN var <= 0.0 THEN 1.0
                   ELSE {p2} END) * 1e6 + 0.5) / 1e6
           AS p_value
FROM z
"""


def q_friedman_user_event_value(spark, sf_dir):
    """Friedman blocked rank test (functions/stats.py::friedman_test —
    the paired/blocked member completing the rank-family square:
    MW→KW unpaired, Wilcoxon→Friedman blocked): do users rank the
    five event types' values differently, each user their own
    control? One (user, type) fixed-point mean is the raw-row pass;
    ranks are computed IN-ROW over each user's 5-element array (no
    shuffle-touching sort); one groupBy(type) of doubled-rank sums;
    Q with the tie-correction divisor and the even-dof χ²₄ closed
    form the oracle replays exactly."""
    from dask_ml_spark.functions.stats import friedman_test

    ev = _t(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    kept = ev.where(v.isNotNull() & ~F.isnan(v)
                    & F.col("user_id").isNotNull()
                    & F.col("event_type").isNotNull())
    fx = F.floor(v * 10000 + F.lit(0.5)).cast("long")
    cells = (kept.groupBy("user_id", "event_type")
             .agg(F.sum(fx).alias("__s"), F.count(v).alias("__c"))
             .select("user_id", "event_type",
                     (F.col("__s").cast("double") / 10000
                      / F.col("__c")).alias("v")))
    out = friedman_test(cells, "v", "user_id", "event_type")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("k", "b", r6(F.col("q_stat")).alias("q_stat"),
                      "dof",
                      r6(F.col("tie_correction"))
                      .alias("tie_correction"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_friedman_user_event_value() -> str:
    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    p = duckdb_sql(chi2_sf, "qc", 4)
    return f"""
WITH e AS (
    SELECT user_id, event_type, value::DOUBLE AS v
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
      AND user_id IS NOT NULL AND event_type IS NOT NULL
), cells AS (
    SELECT user_id, event_type,
           CAST(sum(CAST(floor(v * 10000 + 0.5) AS BIGINT))
                AS DOUBLE) / 10000 / count(v) AS v
    FROM e GROUP BY user_id, event_type
), kk AS (
    SELECT count(DISTINCT event_type) AS k FROM cells
), cb AS (
    -- complete blocks only (the standard Friedman requirement)
    SELECT user_id FROM cells GROUP BY user_id
    HAVING count(*) = (SELECT k FROM kk)
), r AS (
    -- doubled tie-averaged within-block ranks:
    -- 2·rank = 2·(#smaller) + #equal + 1
    SELECT c.event_type,
           2 * (rank() OVER (PARTITION BY c.user_id ORDER BY c.v) - 1)
           + count(*) OVER (PARTITION BY c.user_id, c.v) + 1 AS r2,
           count(*) OVER (PARTITION BY c.user_id, c.v) AS ce
    FROM cells c JOIN cb USING (user_id)
), g AS (
    SELECT event_type, sum(r2::HUGEINT) AS rs,
           count(*)::HUGEINT AS b,
           sum((ce * ce - 1)::HUGEINT) AS ts
    FROM r GROUP BY event_type
), s AS (
    SELECT sum(rs * rs) AS ssq, sum(ts) AS ties, max(b) AS b,
           count(*)::BIGINT AS k
    FROM g
), q AS (
    SELECT k, b,
           (12.0 * ssq::DOUBLE / (4.0 * b * k * (k + 1.0))
            - 3.0 * b * (k + 1.0))
           / (1.0 - ties::DOUBLE
                    / ((b * k * (k * k - 1))::DOUBLE)) AS qc,
           1.0 - ties::DOUBLE
                 / ((b * k * (k * k - 1))::DOUBLE) AS corr
    FROM s
)
SELECT k, b::BIGINT AS b,
       floor(qc * 1e6 + 0.5) / 1e6 AS q_stat,
       (k - 1)::BIGINT AS dof,
       floor(corr * 1e6 + 0.5) / 1e6 AS tie_correction,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value
FROM q
"""


HL_BINS = 512


def q_hl_shift_price(spark, sf_dir):
    """Hodges–Lehmann location shift (functions/stats.py::
    hodges_lehmann_shift — the robust BY-HOW-MUCH companion of
    mann_whitney's p and rank_biserial): median over all cross-pair
    price differences, returned vs non-returned items, via the binned
    O(K²) exact-integer convolution (one shared-grid bucket aggregate;
    nearest-rank lower-median selection the oracle replays in
    HUGEINT)."""
    from dask_ml_spark.functions.stats import hodges_lehmann_shift

    li = _t(spark, sf_dir, "lineitem")
    out = hodges_lehmann_shift(li, "l_extendedprice", "l_returnflag",
                               groups=("N", "R"), bins=HL_BINS)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n1", "n2", r6(F.col("shift")).alias("shift"))


def _sql_hl_shift_price() -> str:
    K = HL_BINS
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS v,
           (l_returnflag = 'N') AS is1
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
      AND l_returnflag IN ('N', 'R')
), lim AS (
    SELECT min(v) AS lo, max(v) AS hi FROM k
), w AS (
    SELECT lo, CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS width
    FROM lim
), cells AS (
    SELECT greatest(0, least({K - 1},
               CAST(floor((v - (SELECT lo FROM w))
                          / (SELECT width FROM w) * {K}) AS INTEGER)))
               AS b,
           is1, count(*)::HUGEINT AS c
    FROM k GROUP BY 1, 2
), c1 AS (SELECT b, c FROM cells WHERE is1),
c2 AS (SELECT b, c FROM cells WHERE NOT is1),
nn AS (
    SELECT (SELECT sum(c) FROM c1) AS n1,
           (SELECT sum(c) FROM c2) AS n2
), conv AS (
    SELECT c1.b - c2.b AS d, sum(c1.c * c2.c) AS cw
    FROM c1 CROSS JOIN c2 GROUP BY 1
), cum AS (
    SELECT d, sum(cw) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
               AS cum
    FROM conv
), med AS (
    SELECT min(d) AS d_med FROM cum
    WHERE cum >= ((SELECT n1 FROM nn) * (SELECT n2 FROM nn) + 1) // 2
)
SELECT (SELECT n1 FROM nn)::BIGINT AS n1,
       (SELECT n2 FROM nn)::BIGINT AS n2,
       floor(d_med * ((SELECT width FROM w) / {K}) * 1e6 + 0.5) / 1e6
           AS shift
FROM med
"""


def q_chi2_independence_flags(spark, sf_dir):
    """Pearson chi-square independence test (functions/stats.py::
    chi2_independence): is return flag independent of line status? One
    distributed groupBy pass, bounded contingency to the driver,
    even-dof EXACT tail probability (dof = (3−1)(2−1) = 2 at every SF
    — the fixed-point the SQL replays; Q(x; 2) = e^{−x/2})."""
    from dask_ml_spark.functions.stats import chi2_independence

    li = _t(spark, sf_dir, "lineitem")
    out = chi2_independence(li, "l_returnflag", "l_linestatus")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(r6(F.col("chi2")).alias("chi2"),
                      F.col("dof").cast("long").alias("dof"),
                      r6(F.col("p_value")).alias("p_value"),
                      r6(F.col("cramers_v")).alias("cramers_v"))


def _sql_chi2_independence_flags() -> str:
    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    p = duckdb_sql(chi2_sf, "chi2", 2)
    return f"""
WITH c AS (
    SELECT l_returnflag AS a, l_linestatus AS b, count(*)::DOUBLE AS o
    FROM lineitem
    WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
    GROUP BY 1, 2
), ra AS (SELECT a, sum(o) AS ra FROM c GROUP BY a),
cb AS (SELECT b, sum(o) AS cb FROM c GROUP BY b),
-- the FULL row x column product: structurally empty cells contribute
-- (0 - e)^2/e = e to the Pearson statistic (mirrors the engine)
m AS (
    SELECT coalesce(c.o, 0.0) AS o, ra.ra, cb.cb,
           (SELECT sum(o) FROM c) AS n
    FROM ra CROSS JOIN cb
    LEFT JOIN c ON c.a = ra.a AND c.b = cb.b
), s AS (
    SELECT sum((o - ra*cb/n) * (o - ra*cb/n) / (ra*cb/n)) AS chi2,
           max(n) AS n,
           least((SELECT count(*) FROM ra) - 1,
                 (SELECT count(*) FROM cb) - 1) AS mindim
    FROM m
)
SELECT floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2, 2::BIGINT AS dof,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value,
       floor(sqrt(chi2 / (n * mindim)) * 1e6 + 0.5) / 1e6 AS cramers_v
FROM s
"""


def q_welch_ttest_price(spark, sf_dir):
    """Welch's unequal-variance t-test (functions/stats.py::
    welch_ttest): do returned and non-returned lineitems differ in
    mean price? ONE aggregate pass (counts, sums, sum-squares per
    group via conditional sums); Welch–Satterthwaite dof; two-sided p
    via the shared A&S normal tail (dof ~ 2·10^5 here — the normal
    approximation to t is exact to <1e-8). All raw sums are shared-
    term-order expressions both engines replay."""
    from dask_ml_spark.functions.stats import welch_ttest

    li = _t(spark, sf_dir, "lineitem")
    out = welch_ttest(li, "l_extendedprice", "l_returnflag",
                      groups=("N", "R"))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n1", "n2",
                      r6(F.col("mean_diff")).alias("mean_diff"),
                      r6(F.col("t_stat")).alias("t_stat"),
                      r6(F.col("dof") / 1000.0).alias("dof_k"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_welch_ttest_price() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "t")
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS v,
           CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS one,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS two
    FROM lineitem WHERE l_returnflag IN ('N', 'R')
), a AS (
    SELECT sum(one) AS n1, sum(two) AS n2,
           sum(one * v) AS s1, sum(two * v) AS s2,
           sum(one * v * v) AS q1, sum(two * v * v) AS q2
    FROM k
), m AS (
    SELECT n1, n2, s1/n1 AS m1, s2/n2 AS m2,
           (q1 - n1 * (s1/n1) * (s1/n1)) / (n1 - 1.0) AS v1,
           (q2 - n2 * (s2/n2) * (s2/n2)) / (n2 - 1.0) AS v2
    FROM a
), t AS (
    SELECT n1, n2, m1 - m2 AS mean_diff,
           (m1 - m2) / sqrt(v1/n1 + v2/n2) AS t,
           ((v1/n1 + v2/n2) * (v1/n1 + v2/n2))
               / ((v1/n1) * (v1/n1) / (n1 - 1.0)
                  + (v2/n2) * (v2/n2) / (n2 - 1.0)) AS dof
    FROM m
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       floor(mean_diff * 1e6 + 0.5) / 1e6 AS mean_diff,
       floor(t * 1e6 + 0.5) / 1e6 AS t_stat,
       floor(dof / 1000.0 * 1e6 + 0.5) / 1e6 AS dof_k,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value
FROM t
"""


def q_welch_bh_by_month(spark, sf_dir):
    """Per-stratum hypothesis sweep + multiple-testing control
    (functions/stats.py::welch_ttest_by + benjamini_hochberg): ONE
    conditional-sum groupBy computes a Welch test of returned-vs-kept
    price for EVERY ship month, then BH step-up q-values control the
    FDR over the ~80-test family (at corpus scale every per-stratum
    sweep needs this — thousands of 0.05-level tests guarantee false
    discoveries). The q map is a bounded driver computation joined
    back as a broadcast; the oracle replays the sweep as per-month
    conditional sums and BH as a rank + suffix-min window."""
    from dask_ml_spark.functions.stats import benjamini_hochberg, welch_ttest_by

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_month", F.date_format(F.col("l_shipdate"), "yyyy-MM"))
    tests = welch_ttest_by(li, "l_extendedprice", "l_returnflag",
                           ("N", "R"), "ship_month")
    out = benjamini_hochberg(tests, "p_value", alpha=0.05)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("ship_month", "n1", "n2",
                      r6(F.col("t_stat")).alias("t_stat"),
                      r6(F.col("p_value")).alias("p_value"),
                      r6(F.col("q_value")).alias("q_value"),
                      "reject", "valid")


def _sql_welch_bh_by_month() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "t")
    return f"""
WITH k AS (
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           l_extendedprice::DOUBLE AS v,
           CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS one,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS two
    FROM lineitem
    WHERE l_returnflag IN ('N', 'R')
      AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
), a AS (
    SELECT ship_month, sum(one) AS n1, sum(two) AS n2,
           sum(one * v) AS s1, sum(two * v) AS s2,
           sum(one * v * v) AS q1, sum(two * v * v) AS q2
    FROM k GROUP BY ship_month
), m AS (
    SELECT ship_month, n1, n2, s1/n1 AS m1, s2/n2 AS m2,
           (q1 - n1 * (s1/n1) * (s1/n1)) / (n1 - 1.0) AS v1,
           (q2 - n2 * (s2/n2) * (s2/n2)) / (n2 - 1.0) AS v2
    FROM a
), t AS (
    SELECT ship_month, n1, n2,
           CASE WHEN n1 >= 2 AND n2 >= 2
                     AND v1/n1 + v2/n2 > 0.0
                THEN (m1 - m2) / sqrt(v1/n1 + v2/n2) END AS t,
           (n1 >= 2 AND n2 >= 2
            AND coalesce(v1/n1 + v2/n2, -1.0) > 0.0) AS valid
    FROM m
), p AS (
    SELECT ship_month, n1, n2, t, valid,
           CASE WHEN valid THEN {p2} END AS p
    FROM t
), fam AS (
    SELECT *, row_number() OVER (ORDER BY p) AS rn,
           count(*) OVER () AS mm
    FROM p WHERE p IS NOT NULL
), adj AS (
    SELECT *, least(1.0, min(p * mm / rn)
               OVER (ORDER BY rn ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING)) AS q
    FROM fam
)
SELECT p.ship_month, p.n1::BIGINT AS n1, p.n2::BIGINT AS n2,
       floor(p.t * 1e6 + 0.5) / 1e6 AS t_stat,
       floor(p.p * 1e6 + 0.5) / 1e6 AS p_value,
       floor(adj.q * 1e6 + 0.5) / 1e6 AS q_value,
       CASE WHEN adj.q IS NOT NULL THEN adj.q <= 0.05 END AS reject,
       p.valid AS valid
FROM p LEFT JOIN adj ON p.ship_month = adj.ship_month
"""


BOOT_B = 50


BOOT_M = 2654435761


BOOT_P = 1 << 31


def q_bootstrap_price_ci(spark, sf_dir):
    """Poisson-bootstrap CI for the mean price (functions/stats.py::
    bootstrap_ci — the 100 TB bootstrap: every row gets a
    hash-deterministic Poisson(1) multiplicity per replicate, so all
    50 replicates reduce in ONE aggregate pass; no resampled
    materialization, no shuffle). Nearest-rank percentile selection
    means engine FP drift in a replicate mean cannot move the chosen
    rank; the oracle replays every draw bit-for-bit (the u values are
    exact int/2^31 doubles) via a 50-row constants join. grid=4 (the
    catalog _dsum convention): Σw·v and Σv accumulate as exact int64
    1e-4 units in BOTH engines, so the replicate means and the
    headline mean are bit-stable under any plan-shape change — raw
    double sums left only ~30× margin to the 1e-6 output grid."""
    from dask_ml_spark.functions.stats import bootstrap_ci

    li = _t(spark, sf_dir, "lineitem")
    out = bootstrap_ci(li, "l_extendedprice",
                       ["l_orderkey", "l_linenumber"],
                       n_boot=BOOT_B, alpha=0.1, grid=4)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", r6(F.col("mean")).alias("mean"),
                      r6(F.col("ci_lo")).alias("ci_lo"),
                      r6(F.col("ci_hi")).alias("ci_hi"), "n_boot")


def _sql_bootstrap_price_ci() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, pois1_weight

    consts = ", ".join(f"({b}, {pow(BOOT_M, b + 1, BOOT_P)})"
                       for b in range(BOOT_B))
    ladder = duckdb_sql(pois1_weight, "u")
    # nearest-rank (1-indexed): k_lo = ceil(0.05*50) = 3,
    # k_hi = ceil(0.95*50) = 48 — catalog fixed-point literals
    # grid=4 fixed point: vq = int64 1e-4 units; w is a small integer,
    # so wx = Σ vq·w and sw = Σ w are exact int64 sums in both engines
    # (the r10 _dsum convention); the final int64 → double conversion
    # and the (÷1e4, ÷sw) op order mirror the engine exactly
    return f"""
WITH base AS (
    SELECT CAST(floor(l_extendedprice::DOUBLE * 10000 + 0.5) AS BIGINT)
               AS vq,
           ((((0 + l_orderkey) % {BOOT_P}) * {BOOT_M} % {BOOT_P}
             + l_linenumber) % {BOOT_P}) * {BOOT_M} % {BOOT_P} AS k0
    FROM lineitem
), consts(b, a) AS (VALUES {consts}),
w AS (
    SELECT vq, b, CAST({ladder} AS BIGINT) AS w FROM (
        SELECT vq, b,
               (((k0 + 1 + b) * CAST(a AS BIGINT)) % {BOOT_P})::DOUBLE
                   / {float(BOOT_P)!r} AS u
        FROM base CROSS JOIN consts)
), reps AS (
    SELECT b, sum(vq * w) AS wx, sum(w) AS sw FROM w GROUP BY b
), means AS (
    SELECT (wx::DOUBLE / 10000) / sw AS m FROM reps WHERE sw > 0
)
SELECT (SELECT count(*) FROM base)::BIGINT AS n,
       floor(((SELECT sum(vq) FROM base)::DOUBLE / 10000)
             / (SELECT count(*) FROM base) * 1e6 + 0.5) / 1e6 AS mean,
       floor((SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 2)
             * 1e6 + 0.5) / 1e6 AS ci_lo,
       floor((SELECT m FROM means ORDER BY m LIMIT 1 OFFSET 47)
             * 1e6 + 0.5) / 1e6 AS ci_hi,
       {BOOT_B}::BIGINT AS n_boot
"""


def q_bootstrap_ci_by_flag(spark, sf_dir):
    """Per-group Poisson-bootstrap CIs (functions/stats.py::
    bootstrap_ci_by — the corpus-report sweep: mean price per return
    flag WITH error bars, still ONE raw-row pass): the same
    hash-deterministic draws as bootstrap_price_ci, aggregated by
    (flag, replicate) — ≤G·B groups — and nearest-rank CIs per flag
    driver-side. grid=4 fixed-point sums; the oracle replays every
    draw and selects the same ranks with a per-flag window."""
    from dask_ml_spark.functions.stats import bootstrap_ci_by

    li = _t(spark, sf_dir, "lineitem")
    out = bootstrap_ci_by(li, "l_extendedprice",
                          ["l_orderkey", "l_linenumber"],
                          by="l_returnflag", n_boot=BOOT_B, alpha=0.1,
                          grid=4)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("l_returnflag", "n",
                      r6(F.col("mean")).alias("mean"),
                      r6(F.col("ci_lo")).alias("ci_lo"),
                      r6(F.col("ci_hi")).alias("ci_hi"),
                      "n_boot", "valid")


def _sql_bootstrap_ci_by_flag() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, pois1_weight

    consts = ", ".join(f"({b}, {pow(BOOT_M, b + 1, BOOT_P)})"
                       for b in range(BOOT_B))
    ladder = duckdb_sql(pois1_weight, "u")
    # nearest-rank per flag (1-indexed): k_lo = ceil(0.05*50) = 3,
    # k_hi = ceil(0.95*50) = 48 — the engine's ranks, as a window
    return f"""
WITH base AS (
    SELECT l_returnflag::VARCHAR AS g,
           CAST(floor(l_extendedprice::DOUBLE * 10000 + 0.5) AS BIGINT)
               AS vq,
           ((((0 + l_orderkey) % {BOOT_P}) * {BOOT_M} % {BOOT_P}
             + l_linenumber) % {BOOT_P}) * {BOOT_M} % {BOOT_P} AS k0
    FROM lineitem
    WHERE l_returnflag IS NOT NULL
), consts(b, a) AS (VALUES {consts}),
w AS (
    SELECT g, vq, b, CAST({ladder} AS BIGINT) AS w FROM (
        SELECT g, vq, b,
               (((k0 + 1 + b) * CAST(a AS BIGINT)) % {BOOT_P})::DOUBLE
                   / {float(BOOT_P)!r} AS u
        FROM base CROSS JOIN consts)
), reps AS (
    SELECT g, b, sum(vq * w) AS wx, sum(w) AS sw
    FROM w GROUP BY g, b
), means AS (
    SELECT g, (wx::DOUBLE / 10000) / sw AS m,
           row_number() OVER (PARTITION BY g ORDER BY
                              (wx::DOUBLE / 10000) / sw) AS rk
    FROM reps WHERE sw > 0
), st AS (
    SELECT g, count(*)::BIGINT AS n, sum(vq) AS s FROM base GROUP BY g
)
SELECT st.g AS l_returnflag, st.n AS n,
       floor((st.s::DOUBLE / 10000) / st.n * 1e6 + 0.5) / 1e6 AS mean,
       floor((SELECT m FROM means WHERE means.g = st.g AND rk = 3)
             * 1e6 + 0.5) / 1e6 AS ci_lo,
       floor((SELECT m FROM means WHERE means.g = st.g AND rk = 48)
             * 1e6 + 0.5) / 1e6 AS ci_hi,
       {BOOT_B}::BIGINT AS n_boot,
       TRUE AS valid
FROM st
"""


def q_prop_ztest_discount(spark, sf_dir):
    """Two-sample proportion z-test (functions/stats.py::prop_ztest):
    is the fraction of deep-discounted lines different between
    returned and kept items? ONE conditional-sum aggregate; pooled
    variance; two-sided p via the shared A&S normal tail."""
    from dask_ml_spark.functions.stats import prop_ztest

    li = _t(spark, sf_dir, "lineitem")
    out = prop_ztest(li, F.col("l_discount") > 0.05, "l_returnflag",
                     ("N", "R"))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n1", "n2", r6(F.col("p1")).alias("p1"),
                      r6(F.col("p2")).alias("p2"),
                      r6(F.col("z")).alias("z"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_prop_ztest_discount() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "z")
    return f"""
WITH k AS (
    SELECT CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS s,
           CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS one,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS two
    FROM lineitem WHERE l_returnflag IN ('N', 'R')
), a AS (
    SELECT sum(one) AS n1, sum(two) AS n2,
           sum(one * s) AS s1, sum(two * s) AS s2
    FROM k
), z AS (
    SELECT n1, n2, s1/n1 AS p1, s2/n2 AS p2,
           CASE WHEN ((s1+s2)/(n1+n2)) * (1.0 - (s1+s2)/(n1+n2))
                     * (1.0/n1 + 1.0/n2) <= 0.0 THEN 0.0
                ELSE (s1/n1 - s2/n2)
                     / sqrt(((s1+s2)/(n1+n2)) * (1.0 - (s1+s2)/(n1+n2))
                            * (1.0/n1 + 1.0/n2)) END AS z
    FROM a
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       floor(p1 * 1e6 + 0.5) / 1e6 AS p1,
       floor(p2 * 1e6 + 0.5) / 1e6 AS p2,
       floor(z * 1e6 + 0.5) / 1e6 AS z,
       floor(CASE WHEN z = 0.0 THEN 1.0
                  ELSE {p2} END * 1e6 + 0.5) / 1e6
           AS p_value
FROM z
"""


def q_anova_event_value(spark, sf_dir):
    """One-way ANOVA across all event types (functions/stats.py::
    anova_oneway — the k-group generalization of the Welch pair test):
    one groupBy(event_type) pass of (n, Σx, Σx²), F assembled from k
    rows of driver state, p via the large-within-dof χ² limit of k·F
    (df_within ≈ 10^5 here; the even-dof exact tail replays in SQL).
    Only the self-normalizing F/p are emitted — the raw SS terms are
    1e9-scale order-dependent sums."""
    from dask_ml_spark.functions.stats import anova_oneway

    ev = _t(spark, sf_dir, "events")
    out = anova_oneway(ev, "value", "event_type")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("k", "n", r6(F.col("f_stat")).alias("f_stat"),
                      "df_between", "df_within",
                      r6(F.col("p_value")).alias("p_value"),
                      r6(F.col("eta_squared")).alias("eta_squared"))


def _sql_anova_event_value() -> str:
    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    # events has 5 event types -> df_between = 4 (even): exact tail
    tail = duckdb_sql(chi2_sf, "4.0 * f", 4)
    return f"""
WITH g AS (
    -- filter parity with anova_oneway: NaN values and NULL groups are
    -- dropped by the engine too
    SELECT event_type, count(*)::DOUBLE AS n, sum(value) AS s,
           sum(value * value) AS q
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
      AND event_type IS NOT NULL
    GROUP BY event_type
), t AS (
    SELECT count(*)::BIGINT AS k, sum(n) AS n_tot, sum(s) AS s_tot,
           sum(n * (s/n - (SELECT sum(s) FROM g) / (SELECT sum(n) FROM g))
               * (s/n - (SELECT sum(s) FROM g) / (SELECT sum(n) FROM g)))
               AS ssb,
           sum(q - n * (s/n) * (s/n)) AS ssw
    FROM g
), f AS (
    SELECT k, n_tot, (ssb / (k - 1)) / (ssw / (n_tot - k)) AS f,
           ssb / (ssb + ssw) AS eta2
    FROM t
)
SELECT k, n_tot::BIGINT AS n,
       floor(f * 1e6 + 0.5) / 1e6 AS f_stat,
       (k - 1)::BIGINT AS df_between,
       (n_tot - k)::BIGINT AS df_within,
       floor({tail} * 1e6 + 0.5) / 1e6 AS p_value,
       floor(eta2 * 1e6 + 0.5) / 1e6 AS eta_squared
FROM f
"""


def q_pairwise_welch_events(spark, sf_dir):
    """Post-hoc pairwise Welch after ANOVA (functions/stats.py::
    pairwise_welch — "which event types differ?"): all C(5,2)=10
    pairwise unequal-variance t-tests from the SAME single
    (n, Σx, Σx²) groupBy pass anova runs, BH-corrected across the pair
    family driver-side. The oracle replays the pair loop as a
    self-join of the 5-row group aggregate and BH as a suffix-min
    window."""
    from dask_ml_spark.functions.stats import pairwise_welch

    ev = _t(spark, sf_dir, "events")
    out = pairwise_welch(ev, "value", "event_type")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        "group_a", "group_b", "n_a", "n_b",
        r6(F.col("mean_diff")).alias("mean_diff"),
        r6(F.col("t_stat")).alias("t_stat"),
        r6(F.col("dof")).alias("dof"),
        r6(F.col("p_value")).alias("p_value"),
        r6(F.col("q_value")).alias("q_value"),
        "reject")


def _sql_pairwise_welch_events() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "t")
    # every events group has >= 2 rows and positive variance at any
    # SF the oracle runs at, so the valid-filter parity is vacuous
    # here (the engine would exclude invalid pairs from m; there are
    # none) — documented rather than replicated
    return f"""
WITH g AS (
    SELECT event_type::VARCHAR AS grp, count(*)::DOUBLE AS n,
           sum(value::DOUBLE) AS s, sum(value::DOUBLE * value) AS q
    FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
      AND event_type IS NOT NULL
    GROUP BY 1
), st AS (
    SELECT grp, n, s / n AS m,
           (q - n * (s / n) * (s / n)) / (n - 1.0) AS v
    FROM g
), pr AS (
    SELECT a.grp AS ga, b.grp AS gb, a.n AS na, b.n AS nb,
           a.m - b.m AS diff,
           (a.m - b.m) / sqrt(a.v / a.n + b.v / b.n) AS t,
           (a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n)
               / ((a.v / a.n) * (a.v / a.n) / (a.n - 1.0)
                  + (b.v / b.n) * (b.v / b.n) / (b.n - 1.0)) AS dof
    FROM st a JOIN st b ON a.grp < b.grp
), pp AS (
    SELECT ga, gb, na, nb, diff, t, dof,
           {p2} AS p
    FROM pr
), rk AS (
    SELECT *, row_number() OVER (ORDER BY p, ga, gb) AS j,
           count(*) OVER () AS m
    FROM pp
), bh AS (
    SELECT *, least(1.0, min(p * m / j) OVER
               (ORDER BY j ROWS BETWEEN CURRENT ROW
                AND UNBOUNDED FOLLOWING)) AS qv
    FROM rk
)
SELECT ga AS group_a, gb AS group_b, na::BIGINT AS n_a,
       nb::BIGINT AS n_b,
       floor(diff * 1e6 + 0.5) / 1e6 AS mean_diff,
       floor(t * 1e6 + 0.5) / 1e6 AS t_stat,
       floor(dof * 1e6 + 0.5) / 1e6 AS dof,
       floor(p * 1e6 + 0.5) / 1e6 AS p_value,
       floor(qv * 1e6 + 0.5) / 1e6 AS q_value,
       qv <= 0.05 AS reject
FROM bh
"""


ISO_BINS = 64


def q_isotonic_price_curve(spark, sf_dir):
    """Binned isotonic regression (functions/stats.py::
    isotonic_fit_binned — the calibration-curve fitter): the monotone
    fit of mean price vs quantity. One min/max pass + ONE ≤K-bucket
    (n, Σy) aggregate (grid=4 fixed point); the monotone solve uses
    the MINIMAX characterization y*_i = max_{j≤i} min_{k≥i} mean(j..k)
    — equal to PAV (pytest-pinned) but SQL-replayable op-for-op, which
    PAV's data-dependent pooling order is not. The oracle builds all
    pair means from window cumsums and takes the two grouped
    extremes."""
    from dask_ml_spark.functions.stats import isotonic_fit_binned

    li = _t(spark, sf_dir, "lineitem")
    out = isotonic_fit_binned(li, "l_quantity", "l_extendedprice",
                              bins=ISO_BINS, grid=4)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("bucket", r6(F.col("x_lo")).alias("x_lo"),
                      r6(F.col("x_hi")).alias("x_hi"), "n",
                      r6(F.col("y_mean")).alias("y_mean"),
                      r6(F.col("y_fit")).alias("y_fit"))


def _sql_isotonic_price_curve() -> str:
    K = ISO_BINS
    return f"""
WITH k AS (
    SELECT l_quantity::DOUBLE AS x, l_extendedprice::DOUBLE AS y
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
      AND l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
), lim AS (SELECT min(x) AS lo, max(x) AS hi FROM k),
w AS (SELECT lo, CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS wd
      FROM lim),
b AS (
    SELECT CAST(least({K - 1}, floor((x - (SELECT lo FROM w))
                                     / (SELECT wd FROM w) * {K}))
                AS BIGINT) AS bkt,
           count(*)::BIGINT AS n,
           sum(CAST(floor(y * 10000 + 0.5) AS BIGINT)) AS s
    FROM k GROUP BY 1
), c AS (
    SELECT bkt, n, s,
           sum(n) OVER (ORDER BY bkt) AS cn,
           sum(s) OVER (ORDER BY bkt) AS cs,
           row_number() OVER (ORDER BY bkt) AS i
    FROM b
), pm AS (
    -- mean of y over buckets j..k from the inclusive cumsums — the
    -- engine's exact op order: (int-units :: DOUBLE / 1e4) / count
    SELECT a.i AS ji, bb.i AS ki,
           ((bb.cs - a.cs + a.s)::DOUBLE / 10000)
               / (bb.cn - a.cn + a.n) AS m
    FROM c a JOIN c bb ON a.i <= bb.i
), im AS (
    SELECT t.i AS ti, pm.ji, min(pm.m) AS mn
    FROM c t JOIN pm ON pm.ji <= t.i AND pm.ki >= t.i
    GROUP BY 1, 2
), fit AS (
    SELECT ti, max(mn) AS yfit FROM im GROUP BY ti
)
SELECT c.bkt AS bucket,
       floor(((SELECT lo FROM w) + c.bkt * ((SELECT wd FROM w) / {K}))
             * 1e6 + 0.5) / 1e6 AS x_lo,
       floor(((SELECT lo FROM w)
              + (c.bkt + 1) * ((SELECT wd FROM w) / {K}))
             * 1e6 + 0.5) / 1e6 AS x_hi,
       c.n AS n,
       floor(((c.s::DOUBLE / 10000) / c.n) * 1e6 + 0.5) / 1e6 AS y_mean,
       floor(fit.yfit * 1e6 + 0.5) / 1e6 AS y_fit
FROM c JOIN fit ON fit.ti = c.i
"""


def q_brown_forsythe_price(spark, sf_dir):
    """Brown–Forsythe variance-homogeneity test (functions/stats.py::
    brown_forsythe): do price spreads differ across return flags?
    Two passes — per-group medians (approximate=False so DuckDB
    quantile_cont replays them exactly, the winsorized_prices
    convention; the LIBRARY default is the percentile_approx sketch),
    then the one-way F over |x − med_g|. Only the self-normalizing
    W/p are emitted."""
    from dask_ml_spark.functions.stats import brown_forsythe

    li = _t(spark, sf_dir, "lineitem")
    out = brown_forsythe(li, "l_extendedprice", "l_returnflag",
                         approximate=False)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("k", "n", r6(F.col("f_stat")).alias("f_stat"),
                      "df_between", "df_within",
                      r6(F.col("p_value")).alias("p_value"),
                      r6(F.col("eta_squared")).alias("eta_squared"))


def _sql_brown_forsythe_price() -> str:
    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    # 3 return flags -> df_between = 2 (even): exact tail
    tail = duckdb_sql(chi2_sf, "2.0 * f", 2)
    return f"""
WITH kept AS (
    -- filter parity with brown_forsythe/anova_oneway: NaN values and
    -- NULL groups are dropped by the engine too
    SELECT l_returnflag AS grp, l_extendedprice::DOUBLE AS x
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
      AND l_returnflag IS NOT NULL
), med AS (
    SELECT grp, quantile_cont(x, 0.5) AS m
    FROM kept GROUP BY grp
), z AS (
    SELECT kept.grp AS grp, abs(x - m) AS v
    FROM kept JOIN med ON kept.grp = med.grp
), g AS (
    SELECT grp, count(*)::DOUBLE AS n, sum(v) AS s, sum(v * v) AS q
    FROM z GROUP BY grp
), t AS (
    SELECT count(*)::BIGINT AS k, sum(n) AS n_tot,
           sum(n * (s/n - (SELECT sum(s) FROM g) / (SELECT sum(n) FROM g))
               * (s/n - (SELECT sum(s) FROM g) / (SELECT sum(n) FROM g)))
               AS ssb,
           sum(q - n * (s/n) * (s/n)) AS ssw
    FROM g
), f AS (
    SELECT k, n_tot, (ssb / (k - 1)) / (ssw / (n_tot - k)) AS f,
           ssb / (ssb + ssw) AS eta2
    FROM t
)
SELECT k, n_tot::BIGINT AS n,
       floor(f * 1e6 + 0.5) / 1e6 AS f_stat,
       (k - 1)::BIGINT AS df_between,
       (n_tot - k)::BIGINT AS df_within,
       floor({tail} * 1e6 + 0.5) / 1e6 AS p_value,
       floor(eta2 * 1e6 + 0.5) / 1e6 AS eta_squared
FROM f
"""


def q_spearman_price_quantity_exact(spark, sf_dir):
    """EXACT Spearman rank correlation (functions/stats.py::
    spearman_rho): price vs quantity with tie-averaged ranks
    (quantity has ~50 distinct values — the tie machinery does real
    work). Per column one distinct-value groupBy + prefix pass builds
    the rank map, joined back (AQE broadcasts the small maps); one
    Pearson co-moment aggregate over the rank pair. Since r12 this is
    the PARITY WITNESS, not the headline: on a continuous column
    (price: distinct ≈ N) the rank map is a row-count-sized sort in
    disguise, so the catalog headline `spearman_price_quantity` is
    the binned scale path (5× faster at sf0.1, |Δρ| = O(1/K)); this
    exact sibling stays oracled to pin the binned path's accuracy."""
    from dask_ml_spark.functions.stats import spearman_rho

    li = _t(spark, sf_dir, "lineitem")
    out = spearman_rho(li, "l_extendedprice", "l_quantity")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", r6(F.col("rho")).alias("rho"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_spearman_price_quantity_exact() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "(abs(rho) * sqrt(n - 1.0))")
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS a, l_quantity::DOUBLE AS b
    FROM lineitem
), ra AS (
    SELECT a, cum - c + (c + 1.0) / 2.0 AS r FROM (
        SELECT a, c, sum(c) OVER (ORDER BY a ROWS UNBOUNDED PRECEDING)
               AS cum
        FROM (SELECT a, count(*)::DOUBLE AS c FROM k GROUP BY a))
), rb AS (
    SELECT b, cum - c + (c + 1.0) / 2.0 AS r FROM (
        SELECT b, c, sum(c) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING)
               AS cum
        FROM (SELECT b, count(*)::DOUBLE AS c FROM k GROUP BY b))
), j AS (
    SELECT ra.r AS x, rb.r AS y
    FROM k JOIN ra ON k.a = ra.a JOIN rb ON k.b = rb.b
), c AS (
    SELECT count(*)::DOUBLE AS n, corr(x, y) AS rho FROM j
)
SELECT n::BIGINT AS n,
       floor(rho * 1e6 + 0.5) / 1e6 AS rho,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value
FROM c
"""


SPEARMAN_BINS = 256


def q_spearman_price_quantity(spark, sf_dir):
    """Spearman rank correlation, the CATALOG HEADLINE (functions/
    stats.py::spearman_rho_binned — since r12 the binned scale path
    is the documented default for continuous columns; the exact
    tie-averaged-rank path stays oracled as
    `spearman_price_quantity_exact`, the parity witness): the exact
    path's rank map groups by distinct value, which on a continuous
    price column is distinct ≈ N (a row-count-sized sort in
    disguise). Here: one min/max aggregate + ONE
    groupBy(bucket_a, bucket_b) count (≤K² cells), then exact integer
    arithmetic driver-side — no rank join, no prefix machinery,
    |ρ_binned − ρ_exact| = O(1/K) (parity-pinned). The oracle replays
    the integer sums in HUGEINT, bit-for-bit."""
    from dask_ml_spark.functions.stats import spearman_rho_binned

    li = _t(spark, sf_dir, "lineitem")
    out = spearman_rho_binned(li, "l_extendedprice", "l_quantity",
                              bins=SPEARMAN_BINS)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", r6(F.col("rho")).alias("rho"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_spearman_price_quantity() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    K = SPEARMAN_BINS
    p2 = duckdb_sql(normal_p2, "(abs(rho) * sqrt(n - 1.0))")
    # doubled tie-averaged bucket ranks (2·rank = 2·cum − c + 1 with an
    # INCLUSIVE cumsum) keep every sum integral; HUGEINT accumulation
    # replays the engine's Python-bignum driver arithmetic bit-for-bit
    # — the only float ops are the same two final divisions
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS a, l_quantity::DOUBLE AS b
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
      AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
), lim AS (
    SELECT min(a) AS la, max(a) AS ha, min(b) AS lb, max(b) AS hb FROM k
), w AS (
    SELECT la, lb,
           CASE WHEN ha = la THEN 1.0 ELSE ha - la END AS wa,
           CASE WHEN hb = lb THEN 1.0 ELSE hb - lb END AS wb
    FROM lim
), cells AS (
    SELECT CAST(least({K - 1}, floor((a - (SELECT la FROM w))
                                     / (SELECT wa FROM w) * {K}))
                AS BIGINT) AS ba,
           CAST(least({K - 1}, floor((b - (SELECT lb FROM w))
                                     / (SELECT wb FROM w) * {K}))
                AS BIGINT) AS bb,
           count(*)::BIGINT AS cw
    FROM k GROUP BY 1, 2
), ra AS (
    SELECT ba, 2 * cum - c + 1 AS r2 FROM (
        SELECT ba, c, sum(c) OVER (ORDER BY ba ROWS UNBOUNDED PRECEDING)
               AS cum
        FROM (SELECT ba, sum(cw) AS c FROM cells GROUP BY ba))
), rb AS (
    SELECT bb, 2 * cum - c + 1 AS r2 FROM (
        SELECT bb, c, sum(c) OVER (ORDER BY bb ROWS UNBOUNDED PRECEDING)
               AS cum
        FROM (SELECT bb, sum(cw) AS c FROM cells GROUP BY bb))
), j AS (
    SELECT cells.cw::HUGEINT AS cw, ra.r2::HUGEINT AS x,
           rb.r2::HUGEINT AS y
    FROM cells JOIN ra USING (ba) JOIN rb USING (bb)
), s AS (
    SELECT sum(cw) AS n, sum(cw * x) AS sx, sum(cw * y) AS sy,
           sum(cw * x * x) AS sxx, sum(cw * y * y) AS syy,
           sum(cw * x * y) AS sxy
    FROM j
), c AS (
    SELECT n,
           (n * sxy - sx * sy)::DOUBLE
           / sqrt((n * sxx - sx * sx)::DOUBLE
                  * (n * syy - sy * sy)::DOUBLE) AS rho
    FROM s
)
SELECT n::BIGINT AS n,
       floor(rho * 1e6 + 0.5) / 1e6 AS rho,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value
FROM c
"""


CP_BINS = 64


def q_changepoint_event_value(spark, sf_dir):
    """Mean-shift changepoint over event time (functions/stats.py::
    changepoint_mean — the ks-binned skeleton as a drift monitor):
    bucket the stream into 64 equal-width time bins, one ≤K-group
    (n, Σx, Σx²) aggregate, driver-side max-|t| split scan with a
    Bonferroni-corrected p. Deterministic (smallest-split tie-break),
    so the SQL oracle replays the scan as a window cumsum + argmax."""
    from dask_ml_spark.functions.stats import changepoint_mean

    ev = _t(spark, sf_dir, "events")
    out = changepoint_mean(ev, "value", "ts", bins=CP_BINS)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(r6(F.col("split_value")).alias("split_value"),
                      r6(F.col("t_stat")).alias("t_stat"),
                      r6(F.col("p_value")).alias("p_value"),
                      "n_before", "n_after",
                      r6(F.col("mean_before")).alias("mean_before"),
                      r6(F.col("mean_after")).alias("mean_after"))


def _sql_changepoint_event_value() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_sf

    K = CP_BINS
    sf = duckdb_sql(normal_sf, "abs(t)")
    return f"""
WITH k AS (
    SELECT epoch(ts)::DOUBLE AS o, value::DOUBLE AS v
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
), lim AS (SELECT min(o) AS lo, max(o) AS hi FROM k),
w AS (SELECT CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS wd,
             lo FROM lim),
b AS (
    SELECT least({K - 1},
                 floor((o - (SELECT lo FROM w))
                       / (SELECT wd FROM w) * {K})) AS bkt,
           count(*)::DOUBLE AS n, sum(v) AS s, sum(v * v) AS q
    FROM k GROUP BY 1
), c AS (
    SELECT bkt,
           sum(n) OVER cw AS n1, sum(s) OVER cw AS s1,
           sum(q) OVER cw AS q1,
           (SELECT sum(n) FROM b) AS tn,
           (SELECT sum(s) FROM b) AS tsum,
           (SELECT sum(q) FROM b) AS tq
    FROM b WINDOW cw AS (ORDER BY bkt ROWS UNBOUNDED PRECEDING)
), t AS (
    -- identical operation order as the engine's driver scan
    SELECT bkt, n1, tn - n1 AS n2, s1/n1 AS m1,
           (tsum - s1) / (tn - n1) AS m2,
           (m1 - m2) / sqrt((((q1 - n1 * (s1/n1) * (s1/n1))
                              + ((tq - q1) - (tn - n1)
                                 * ((tsum - s1)/(tn - n1))
                                 * ((tsum - s1)/(tn - n1))))
                             / (tn - 2.0))
                            * (1.0/n1 + 1.0/(tn - n1))) AS t
    FROM c
    WHERE bkt < {K - 1} AND n1 >= 2 AND tn - n1 >= 2
      AND (((q1 - n1 * (s1/n1) * (s1/n1))
            + ((tq - q1) - (tn - n1) * ((tsum - s1)/(tn - n1))
               * ((tsum - s1)/(tn - n1)))) / (tn - 2.0))
          * (1.0/n1 + 1.0/(tn - n1)) > 0.0
), best AS (
    SELECT * FROM t ORDER BY abs(t) DESC, bkt ASC LIMIT 1
)
SELECT floor(((SELECT lo FROM w) + (bkt + 1) * ((SELECT wd FROM w) / {K}))
             * 1e6 + 0.5) / 1e6 AS split_value,
       floor(t * 1e6 + 0.5) / 1e6 AS t_stat,
       floor(least(1.0, {K - 1} * (2.0 * {sf})) * 1e6 + 0.5) / 1e6
           AS p_value,
       n1::BIGINT AS n_before, n2::BIGINT AS n_after,
       floor(m1 * 1e6 + 0.5) / 1e6 AS mean_before,
       floor(m2 * 1e6 + 0.5) / 1e6 AS mean_after
FROM best
"""


TREND_BINS = 64


def q_trend_event_value(spark, sf_dir):
    """Mann–Kendall trend + Theil–Sen slope over event time
    (functions/stats.py::trend_test — the monotone-drift monitor
    changepoint can't express): the ks-binned skeleton, then the
    64-point bucket-mean series drives S, the tie-corrected z, and the
    pairwise-slope median driver-side. grid=4 (the _dsum convention)
    makes every bucket mean — and therefore every sign in S —
    bit-stable under plan-shape changes; the oracle replays the
    C(64,2) pair loop as a self-join."""
    from dask_ml_spark.functions.stats import trend_test

    ev = _t(spark, sf_dir, "events")
    out = trend_test(ev, "value", "ts", bins=TREND_BINS, grid=4)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", "n_buckets", "s_stat",
                      r6(F.col("z")).alias("z"),
                      r6(F.col("p_value")).alias("p_value"),
                      r6(F.col("sen_slope") * 86400.0)
                      .alias("sen_slope_per_day"))


def _sql_trend_event_value() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    K = TREND_BINS
    p2 = duckdb_sql(normal_p2, "z")
    return f"""
WITH k AS (
    SELECT epoch(ts)::DOUBLE AS o, value::DOUBLE AS v
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
), lim AS (SELECT min(o) AS lo, max(o) AS hi FROM k),
w AS (SELECT lo, CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS wd
      FROM lim),
b AS (
    SELECT least({K - 1}, floor((o - (SELECT lo FROM w))
                                / (SELECT wd FROM w) * {K})) AS bkt,
           count(*)::BIGINT AS n,
           sum(CAST(floor(v * 10000 + 0.5) AS BIGINT)) AS s
    FROM k GROUP BY 1
), m AS (
    -- bucket means from exact int64 1e-4-unit sums (grid=4), in the
    -- engine's exact op order; midpoints vs the bucket grid
    SELECT bkt, n, (s::DOUBLE / 10000) / n AS mv,
           (SELECT lo FROM w) + (bkt + 0.5) * ((SELECT wd FROM w) / {K})
               AS x
    FROM b
), pairs AS (
    SELECT a.mv AS m1, c.mv AS m2, a.x AS x1, c.x AS x2
    FROM m a JOIN m c ON a.bkt < c.bkt
), sstat AS (
    SELECT sum(CASE WHEN m2 > m1 THEN 1 WHEN m2 < m1 THEN -1
               ELSE 0 END)::BIGINT AS s,
           count(*)::BIGINT AS np FROM pairs
), bc AS (
    SELECT count(*)::BIGINT AS nb, sum(n)::BIGINT AS n_rows FROM m
), tc AS (
    SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT AS t
    FROM (SELECT count(*)::BIGINT AS t FROM m GROUP BY mv)
    WHERE t > 1
), vr AS (
    SELECT ((SELECT nb FROM bc) * ((SELECT nb FROM bc) - 1)
            * (2 * (SELECT nb FROM bc) + 5)
            - (SELECT t FROM tc))::DOUBLE / 18.0 AS var
), zz AS (
    SELECT CASE WHEN (SELECT var FROM vr) <= 0.0 THEN 0.0
                WHEN (SELECT s FROM sstat) > 0
                    THEN ((SELECT s FROM sstat) - 1)
                         / sqrt((SELECT var FROM vr))
                WHEN (SELECT s FROM sstat) < 0
                    THEN ((SELECT s FROM sstat) + 1)
                         / sqrt((SELECT var FROM vr))
                ELSE 0.0 END AS z
), sl AS (
    SELECT (m2 - m1) / (x2 - x1) AS sl FROM pairs
), med AS (
    SELECT (SELECT sl FROM sl ORDER BY sl
            LIMIT 1 OFFSET (((SELECT np FROM sstat) - 1) // 2)) AS lo_s,
           (SELECT sl FROM sl ORDER BY sl
            LIMIT 1 OFFSET ((SELECT np FROM sstat) // 2)) AS hi_s
)
SELECT (SELECT n_rows FROM bc) AS n,
       (SELECT nb FROM bc) AS n_buckets,
       (SELECT s FROM sstat) AS s_stat,
       floor(z * 1e6 + 0.5) / 1e6 AS z,
       floor(CASE WHEN (SELECT var FROM vr) <= 0.0 THEN 1.0
                  ELSE {p2} END * 1e6 + 0.5) / 1e6
           AS p_value,
       floor((SELECT lo_s + (hi_s - lo_s) / 2.0 FROM med) * 86400.0
             * 1e6 + 0.5) / 1e6 AS sen_slope_per_day
FROM zz
"""


KENDALL_BINS = 128


def q_kendall_price_quantity(spark, sf_dir):
    """Kendall's τ-b rank correlation, binned scale path (functions/
    stats.py::kendall_tau_binned — exact τ is all n(n−1)/2 pair
    orientations, quadratic; here one min/max aggregate + ONE
    groupBy(bucket_a, bucket_b) count ≤K² cells, then 2-D prefix sums
    over the cell grid count concordant/discordant pairs in O(K²)
    exact bignum ops — within-bucket pairs become ties, which τ-b's
    tie correction absorbs). The oracle replays the cell grid with
    dense-grid HUGEINT window cumsums, bit-for-bit up to the final
    float divisions."""
    from dask_ml_spark.functions.stats import kendall_tau_binned

    li = _t(spark, sf_dir, "lineitem")
    out = kendall_tau_binned(li, "l_extendedprice", "l_quantity",
                             bins=KENDALL_BINS)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", r6(F.col("tau")).alias("tau"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_kendall_price_quantity() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    K = KENDALL_BINS
    p2 = duckdb_sql(normal_p2, "z")
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS a, l_quantity::DOUBLE AS b
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
      AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
), lim AS (
    SELECT min(a) AS la, max(a) AS ha, min(b) AS lb, max(b) AS hb FROM k
), w AS (
    SELECT la, lb,
           CASE WHEN ha = la THEN 1.0 ELSE ha - la END AS wa,
           CASE WHEN hb = lb THEN 1.0 ELSE hb - lb END AS wb
    FROM lim
), cells AS (
    SELECT CAST(least({K - 1}, floor((a - (SELECT la FROM w))
                                     / (SELECT wa FROM w) * {K}))
                AS BIGINT) AS ba,
           CAST(least({K - 1}, floor((b - (SELECT lb FROM w))
                                     / (SELECT wb FROM w) * {K}))
                AS BIGINT) AS bb,
           count(*)::HUGEINT AS c
    FROM k GROUP BY 1, 2
), grid AS (
    SELECT ga.range AS gi, gb.range AS gj
    FROM range({K}) ga CROSS JOIN range({K}) gb
), dense AS (
    SELECT gi, gj, coalesce(cells.c, 0::HUGEINT) AS c
    FROM grid LEFT JOIN cells ON cells.ba = gi AND cells.bb = gj
), rowcum AS (
    SELECT gi, gj,
           sum(c) OVER (PARTITION BY gi ORDER BY gj
                        ROWS UNBOUNDED PRECEDING) AS rc
    FROM dense
), pref AS (
    -- P(gi, gj) = sum of cells with ba <= gi AND bb <= gj
    SELECT gi, gj,
           sum(rc) OVER (PARTITION BY gj ORDER BY gi
                         ROWS UNBOUNDED PRECEDING) AS p2
    FROM rowcum
), cd AS (
    -- each unordered pair counted once from its larger-a member:
    -- concordant partners are P(i-1, j-1); discordant are
    -- A(i-1) - P(i-1, j) with A(i) = P(i, K-1)
    SELECT sum(x.c * coalesce(pll.p2, 0::HUGEINT)) AS conc,
           sum(x.c * (coalesce(pa.p2, 0::HUGEINT)
                      - coalesce(plj.p2, 0::HUGEINT))) AS disc
    FROM cells x
    LEFT JOIN pref pll ON pll.gi = x.ba - 1 AND pll.gj = x.bb - 1
    LEFT JOIN pref plj ON plj.gi = x.ba - 1 AND plj.gj = x.bb
    LEFT JOIN pref pa  ON pa.gi = x.ba - 1 AND pa.gj = {K - 1}
), ta AS (
    SELECT sum(t * (t - 1) // 2) AS n1,
           sum(t * (t - 1) * (2 * t + 5)) AS vt,
           sum(t * (t - 1)) AS st1,
           sum(t * (t - 1) * (t - 2)) AS st2
    FROM (SELECT sum(c) AS t FROM cells GROUP BY ba)
), tb AS (
    SELECT sum(u * (u - 1) // 2) AS n2,
           sum(u * (u - 1) * (2 * u + 5)) AS vu,
           sum(u * (u - 1)) AS su1,
           sum(u * (u - 1) * (u - 2)) AS su2
    FROM (SELECT sum(c) AS u FROM cells GROUP BY bb)
), nn AS (
    SELECT sum(c) AS n, sum(c) * (sum(c) - 1) // 2 AS n0 FROM cells
), st AS (
    SELECT n, (conc - disc)::DOUBLE
              / sqrt((n0 - n1)::DOUBLE * (n0 - n2)::DOUBLE) AS tau,
           (conc - disc)::DOUBLE
           / sqrt((n * (n - 1) * (2 * n + 5) - vt - vu)::DOUBLE / 18.0
                  + st1::DOUBLE * su1::DOUBLE
                    / (2.0 * n * (n - 1.0))
                  + CASE WHEN n > 2
                         THEN st2::DOUBLE * su2::DOUBLE
                              / (9.0 * n * (n - 1.0) * (n - 2.0))
                         ELSE 0.0 END) AS z
    FROM cd, ta, tb, nn
)
SELECT n::BIGINT AS n,
       floor(tau * 1e6 + 0.5) / 1e6 AS tau,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value
FROM st
"""


JT_ORDER = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW"]


JT_BINS = 256


def q_jonckheere_priority_price(spark, sf_dir):
    """Jonckheere–Terpstra ordered-alternative test (functions/
    stats.py::jonckheere_terpstra): does order value TREND across the
    five priority levels, urgent → low? KW would only say "differ";
    JT tests the monotone dose-response and is the right tool when
    the groups carry an order. Implemented as Kendall's S between the
    group ordinal and the binned value (the textbook equivalence —
    JT's centered statistic IS S), so it reuses the exact-integer
    2-D-prefix cell core; the oracle replays the ordinal×bucket grid
    with HUGEINT window cumsums."""
    from dask_ml_spark.functions.stats import jonckheere_terpstra

    od = _t(spark, sf_dir, "orders")
    out = jonckheere_terpstra(od, "o_totalprice", "o_orderpriority",
                              order=JT_ORDER, bins=JT_BINS)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", "k", r6(F.col("tau")).alias("tau"),
                      r6(F.col("z")).alias("z"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_jonckheere_priority_price() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    K = JT_BINS
    kk = len(JT_ORDER)
    p2 = duckdb_sql(normal_p2, "z")
    case = "CASE " + " ".join(
        f"WHEN o_orderpriority = '{g}' THEN {i}"
        for i, g in enumerate(JT_ORDER)) + " END"
    return f"""
WITH k AS (
    SELECT {case} AS o, o_totalprice::DOUBLE AS v
    FROM orders
    WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
      AND o_orderpriority IN ({', '.join(f"'{g}'" for g in JT_ORDER)})
), lim AS (
    SELECT min(v) AS lv, max(v) AS hv FROM k
), w AS (
    SELECT lv, CASE WHEN hv = lv THEN 1.0 ELSE hv - lv END AS wv
    FROM lim
), cells AS (
    SELECT o AS ba,
           CAST(least({K - 1}, floor((v - (SELECT lv FROM w))
                                     / (SELECT wv FROM w) * {K}))
                AS BIGINT) AS bb,
           count(*)::HUGEINT AS c
    FROM k GROUP BY 1, 2
), grid AS (
    SELECT ga.range AS gi, gb.range AS gj
    FROM range({kk}) ga CROSS JOIN range({K}) gb
), dense AS (
    SELECT gi, gj, coalesce(cells.c, 0::HUGEINT) AS c
    FROM grid LEFT JOIN cells ON cells.ba = gi AND cells.bb = gj
), rowcum AS (
    SELECT gi, gj,
           sum(c) OVER (PARTITION BY gi ORDER BY gj
                        ROWS UNBOUNDED PRECEDING) AS rc
    FROM dense
), pref AS (
    SELECT gi, gj,
           sum(rc) OVER (PARTITION BY gj ORDER BY gi
                         ROWS UNBOUNDED PRECEDING) AS p2
    FROM rowcum
), cd AS (
    SELECT sum(x.c * coalesce(pll.p2, 0::HUGEINT)) AS conc,
           sum(x.c * (coalesce(pa.p2, 0::HUGEINT)
                      - coalesce(plj.p2, 0::HUGEINT))) AS disc
    FROM cells x
    LEFT JOIN pref pll ON pll.gi = x.ba - 1 AND pll.gj = x.bb - 1
    LEFT JOIN pref plj ON plj.gi = x.ba - 1 AND plj.gj = x.bb
    LEFT JOIN pref pa  ON pa.gi = x.ba - 1 AND pa.gj = {K - 1}
), ta AS (
    SELECT sum(t * (t - 1) // 2) AS n1,
           sum(t * (t - 1) * (2 * t + 5)) AS vt,
           sum(t * (t - 1)) AS st1,
           sum(t * (t - 1) * (t - 2)) AS st2
    FROM (SELECT sum(c) AS t FROM cells GROUP BY ba)
), tb AS (
    SELECT sum(u * (u - 1) // 2) AS n2,
           sum(u * (u - 1) * (2 * u + 5)) AS vu,
           sum(u * (u - 1)) AS su1,
           sum(u * (u - 1) * (u - 2)) AS su2
    FROM (SELECT sum(c) AS u FROM cells GROUP BY bb)
), nn AS (
    SELECT sum(c) AS n, sum(c) * (sum(c) - 1) // 2 AS n0 FROM cells
), st AS (
    SELECT n, (conc - disc)::DOUBLE
              / sqrt((n0 - n1)::DOUBLE * (n0 - n2)::DOUBLE) AS tau,
           (conc - disc)::DOUBLE
           / sqrt((n * (n - 1) * (2 * n + 5) - vt - vu)::DOUBLE / 18.0
                  + st1::DOUBLE * su1::DOUBLE
                    / (2.0 * n * (n - 1.0))
                  + CASE WHEN n > 2
                         THEN st2::DOUBLE * su2::DOUBLE
                              / (9.0 * n * (n - 1.0) * (n - 2.0))
                         ELSE 0.0 END) AS z
    FROM cd, ta, tb, nn
)
SELECT n::BIGINT AS n, {kk}::BIGINT AS k,
       floor(tau * 1e6 + 0.5) / 1e6 AS tau,
       floor(z * 1e6 + 0.5) / 1e6 AS z,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value
FROM st
"""


def q_kruskal_wallis_quantity(spark, sf_dir):
    """Kruskal–Wallis rank ANOVA (functions/stats.py::kruskal_wallis —
    the k-group Mann–Whitney / rank-based anova_oneway): quantity
    across the three return flags. ONE groupBy(value, group) count is
    the only raw-row pass (~50 distinct quantities × 3 flags of
    driver state); global tie-averaged ranks and the k rank sums
    assemble in exact doubled-integer arithmetic, H with the
    tie-correction divisor, p from the even-dof χ² closed form the
    oracle replays exactly."""
    from dask_ml_spark.functions.stats import kruskal_wallis

    li = _t(spark, sf_dir, "lineitem")
    out = kruskal_wallis(li, "l_quantity", "l_returnflag")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("k", "n", r6(F.col("h_stat")).alias("h_stat"),
                      "dof",
                      r6(F.col("tie_correction"))
                      .alias("tie_correction"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_kruskal_wallis_quantity() -> str:
    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    p = duckdb_sql(chi2_sf, "hc", 2)
    return f"""
WITH k AS (
    SELECT l_quantity::DOUBLE AS v, l_returnflag::VARCHAR AS g
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND NOT isnan(l_quantity)
      AND l_returnflag IS NOT NULL
), vc AS (
    SELECT v, count(*)::HUGEINT AS c FROM k GROUP BY v
), r AS (
    -- doubled tie-averaged global ranks: 2·rank = 2·(cum − c) + c + 1
    SELECT v, 2 * (cum - c) + c + 1 AS r2 FROM (
        SELECT v, c, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS cum
        FROM vc)
), cells AS (
    SELECT v, g, count(*)::HUGEINT AS c FROM k GROUP BY v, g
), gr AS (
    SELECT g, sum(cells.c) AS ng, sum(cells.c * r.r2) AS rg2
    FROM cells JOIN r USING (v) GROUP BY g
), nn AS (
    SELECT sum(c) AS n, sum(c * c * c - c) AS tie_sum FROM vc
), s AS (
    SELECT count(*)::BIGINT AS k,
           sum((rg2 * rg2)::DOUBLE / (4.0 * ng)) AS s4
    FROM gr
), h AS (
    SELECT s.k, nn.n,
           (12.0 * s.s4 / (nn.n * (nn.n + 1.0)) - 3.0 * (nn.n + 1.0))
           / (1.0 - nn.tie_sum::DOUBLE
                    / ((nn.n * nn.n * nn.n - nn.n)::DOUBLE)) AS hc,
           1.0 - nn.tie_sum::DOUBLE
                 / ((nn.n * nn.n * nn.n - nn.n)::DOUBLE) AS corr
    FROM s, nn
)
SELECT k, n::BIGINT AS n,
       floor(hc * 1e6 + 0.5) / 1e6 AS h_stat,
       (k - 1)::BIGINT AS dof,
       floor(corr * 1e6 + 0.5) / 1e6 AS tie_correction,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value
FROM h
"""


def q_partial_corr_price_quantity(spark, sf_dir):
    """Partial Pearson correlation (functions/stats.py::
    partial_correlation — the confounder screen): price vs quantity
    CONTROLLING for discount, ρ = −P_ab/√(P_aa·P_bb) from the inverse
    of the 3×3 correlation matrix built in ONE co-moment aggregate.
    tail='normal' here (dof ≈ n — the documented corpus convention
    the SQL replays; the library default is the exact t tail). The
    oracle replays the one-control closed form
    (r_ab − r_ac·r_bc)/√((1−r_ac²)(1−r_bc²)), which the matrix
    inverse equals algebraically."""
    from dask_ml_spark.functions.stats import partial_correlation

    li = _t(spark, sf_dir, "lineitem")
    out = partial_correlation(li, "l_extendedprice", "l_quantity",
                              ["l_discount"], tail="normal")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", "g_controls", r6(F.col("r")).alias("r"),
                      r6(F.col("t_stat") / 100.0).alias("t_stat_c"),
                      "dof", r6(F.col("p_value")).alias("p_value"))


def _sql_partial_corr_price_quantity() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "t")
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS a, l_quantity::DOUBLE AS b,
           l_discount::DOUBLE AS c
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
      AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
      AND l_discount IS NOT NULL AND NOT isnan(l_discount)
), m AS (
    SELECT count(*)::BIGINT AS n, corr(a, b) AS rab,
           corr(a, c) AS rac, corr(b, c) AS rbc
    FROM k
), p AS (
    SELECT n,
           (rab - rac * rbc)
           / sqrt((1.0 - rac * rac) * (1.0 - rbc * rbc)) AS r
    FROM m
), t AS (
    SELECT n, r, (n - 3) AS dof,
           r * sqrt((n - 3) / (1.0 - r * r)) AS t
    FROM p
)
SELECT n, 1::BIGINT AS g_controls,
       floor(r * 1e6 + 0.5) / 1e6 AS r,
       floor(t / 100.0 * 1e6 + 0.5) / 1e6 AS t_stat_c,
       dof::BIGINT AS dof,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value
FROM t
"""


def q_seasonal_decompose_daily(spark, sf_dir):
    """Classical additive seasonal decomposition (functions/stats.py::
    seasonal_decompose — trend + weekly seasonal + residual of the
    daily mean event value; the residual is what drift monitors
    should watch once the known cycle is removed). One raw-row bucket
    aggregate, then the decomposition over the ≤K bucket grid
    driver-side: centered 7-day moving average (NULL at edges/gaps —
    surfaced, not interpolated), grid-anchored position means,
    centered seasonal. The oracle replays the windows and means over
    the same dense grid."""
    from dask_ml_spark.functions.stats import seasonal_decompose

    ev = _t(spark, sf_dir, "events")
    out = seasonal_decompose(ev, "value", "ts", period=7,
                             step=86400.0)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("bucket", "n", r6(F.col("x")).alias("x"),
                      r6(F.col("trend")).alias("trend"),
                      r6(F.col("seasonal")).alias("seasonal"),
                      r6(F.col("resid")).alias("resid"))


def _sql_seasonal_decompose_daily() -> str:
    return """
WITH s AS (
    SELECT CAST(floor(epoch(ts)::DOUBLE / 86400.0) AS BIGINT) AS b,
           count(*)::BIGINT AS n, avg(value::DOUBLE) AS x
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
    GROUP BY 1
), lim AS (
    SELECT min(b) AS lo, max(b) AS hi FROM s
), grid AS (
    -- list-valued range() accepts expressions where the table
    -- function does not
    SELECT unnest(range(lo, hi + 1)) AS b FROM lim
), d AS (
    SELECT grid.b, coalesce(s.n, 0::BIGINT) AS n, s.x
    FROM grid LEFT JOIN s USING (b)
), tr AS (
    -- full centered 7-window over the dense grid: edge-truncated or
    -- gap-containing windows report NULL (the engine's contract)
    SELECT b, n, x,
           CASE WHEN count(*) OVER w = 7 AND count(x) OVER w = 7
                THEN sum(x) OVER w / 7.0 END AS trend
    FROM d
    WINDOW w AS (ORDER BY b ROWS BETWEEN 3 PRECEDING
                 AND 3 FOLLOWING)
), pm AS (
    SELECT b % 7 AS pos, avg(x - trend) AS m
    FROM tr WHERE trend IS NOT NULL AND x IS NOT NULL
    GROUP BY 1
), ctr AS (
    SELECT avg(m) AS c FROM pm
), sea AS (
    SELECT pos, m - (SELECT c FROM ctr) AS s FROM pm
)
SELECT tr.b AS bucket, tr.n,
       floor(tr.x * 1e6 + 0.5) / 1e6 AS x,
       floor(tr.trend * 1e6 + 0.5) / 1e6 AS trend,
       floor(sea.s * 1e6 + 0.5) / 1e6 AS seasonal,
       floor((tr.x - tr.trend - sea.s) * 1e6 + 0.5) / 1e6 AS resid
FROM tr LEFT JOIN sea ON tr.b % 7 = sea.pos
ORDER BY bucket
"""


def q_acf_daily_value(spark, sf_dir):
    """Autocorrelation of the daily mean event value
    (functions/stats.py::autocorrelation): one raw-row bucket
    aggregate, then ONE explode-over-lags + ONE integer equi-join +
    ONE groupBy(lag) of co-moment aggregates — the time-series
    dependence diagnostic with no keyless window. Per-lag Pearson
    (each lag's own pair means), so every acf is a self-normalizing
    ratio."""
    from dask_ml_spark.functions.stats import autocorrelation

    ev = _t(spark, sf_dir, "events")
    out = autocorrelation(ev, "value", "ts", lags=7, step=86400.0)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("lag", "n_pairs", r6(F.col("acf")).alias("acf"),
                      r6(F.col("band_lo")).alias("band_lo"),
                      r6(F.col("band_hi")).alias("band_hi"))


def _sql_acf_daily_value() -> str:
    from dask_ml_spark.functions.stats import _Z975

    return f"""
WITH s AS (
    SELECT CAST(floor(epoch(ts)::DOUBLE / 86400.0) AS BIGINT) AS b,
           avg(value::DOUBLE) AS x
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
    GROUP BY 1
), e AS (
    SELECT s.b, s.x, l.lag, s.b + l.lag AS b2
    FROM s CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
)
SELECT e.lag::BIGINT AS lag, count(*)::BIGINT AS n_pairs,
       floor(corr(e.x, s2.x) * 1e6 + 0.5) / 1e6 AS acf,
       floor(-({_Z975!r} / sqrt(count(*)::DOUBLE)) * 1e6 + 0.5) / 1e6
           AS band_lo,
       floor(({_Z975!r} / sqrt(count(*)::DOUBLE)) * 1e6 + 0.5) / 1e6
           AS band_hi
FROM e JOIN s s2 ON e.b2 = s2.b
GROUP BY e.lag
"""


def q_mutual_information_events(spark, sf_dir):
    """Discrete mutual information (functions/stats.py::
    mutual_information): how informative is the event type about the
    user's activity band? MI + the √(H·H)-normalized coefficient —
    the dependence measure that, unlike the chi-square p, stays
    interpretable at corpus row counts. Empty cells contribute 0 (the
    correct MI convention; contrast the chi-square fix)."""
    from dask_ml_spark.functions.stats import mutual_information

    ev = _t(spark, sf_dir, "events")
    banded = ev.withColumn(
        "value_band", F.floor(F.col("value") / 25.0).cast("long"))
    out = mutual_information(banded, "event_type", "value_band")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(r6(F.col("mi")).alias("mi"),
                      r6(F.col("mi_normalized")).alias("mi_normalized"),
                      "n")


SQL_MUTUAL_INFORMATION_EVENTS = """
WITH c AS (
    SELECT event_type AS a,
           CAST(floor(value / 25.0) AS BIGINT)::VARCHAR AS b,
           count(*)::DOUBLE AS o
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
), m AS (
    SELECT o,
           sum(o) OVER (PARTITION BY a) AS ra,
           sum(o) OVER (PARTITION BY b) AS cb,
           sum(o) OVER () AS n
    FROM c
), s AS (
    SELECT sum((o/n) * ln((o/n) / ((ra/n) * (cb/n)))) AS mi,
           max(n) AS n
    FROM m
), ha AS (
    SELECT -sum(p * ln(p)) AS h FROM (
        SELECT sum(o) / (SELECT max(n) FROM m) AS p FROM c GROUP BY a)
), hb AS (
    SELECT -sum(p * ln(p)) AS h FROM (
        SELECT sum(o) / (SELECT max(n) FROM m) AS p FROM c GROUP BY b)
)
SELECT floor(mi * 1e6 + 0.5) / 1e6 AS mi,
       floor(mi / sqrt((SELECT h FROM ha) * (SELECT h FROM hb))
             * 1e6 + 0.5) / 1e6 AS mi_normalized,
       n::BIGINT AS n
FROM s
"""


def q_feature_corr_matrix(spark, sf_dir):
    """All-pairs Pearson correlations (functions/stats.py::
    corr_matrix) over the four lineitem measures in ONE aggregate pass
    — d(d+1)/2 streaming co-moment aggregates share a single scan with
    map-side merge (the d²-passes naive form never touches the data
    more than once here)."""
    from dask_ml_spark.functions.stats import corr_matrix

    li = _t(spark, sf_dir, "lineitem")
    out = corr_matrix(li, ["l_quantity", "l_extendedprice",
                           "l_discount", "l_tax"])
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("col_a", "col_b", r6(F.col("corr")).alias("corr"))


SQL_FEATURE_CORR_MATRIX = """
WITH pairs AS (
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           corr(l_quantity, l_extendedprice) AS corr FROM lineitem
    UNION ALL SELECT 'l_quantity', 'l_discount',
           corr(l_quantity, l_discount) FROM lineitem
    UNION ALL SELECT 'l_quantity', 'l_tax',
           corr(l_quantity, l_tax) FROM lineitem
    UNION ALL SELECT 'l_extendedprice', 'l_discount',
           corr(l_extendedprice, l_discount) FROM lineitem
    UNION ALL SELECT 'l_extendedprice', 'l_tax',
           corr(l_extendedprice, l_tax) FROM lineitem
    UNION ALL SELECT 'l_discount', 'l_tax',
           corr(l_discount, l_tax) FROM lineitem
)
SELECT col_a, col_b, floor(corr * 1e6 + 0.5) / 1e6 AS corr
FROM pairs ORDER BY col_a, col_b
"""


def q_kaplan_meier_conversion(spark, sf_dir):
    """Kaplan–Meier time-to-purchase curve (functions/stats.py::
    kaplan_meier) over the event log: per user, duration = days from
    their first event to their first purchase; users who never
    purchase are right-censored at their last event. The
    product-limit curve runs as groupBy(duration) + three two-phase
    prefix sums — no per-user or keyless window."""
    from dask_ml_spark.functions.stats import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    d = F.to_date(F.col("ts").cast("timestamp"))
    per = ev.groupBy("user_id").agg(
        F.min(d).alias("first_d"),
        F.max(d).alias("last_d"),
        F.min(F.when(F.col("event_type") == "purchase", d))
        .alias("purch_d"))
    dur = F.when(F.col("purch_d").isNotNull(),
                 F.datediff(F.col("purch_d"), F.col("first_d"))
                 ).otherwise(F.datediff(F.col("last_d"), F.col("first_d")))
    subj = per.select(dur.cast("double").alias("duration"),
                      F.col("purch_d").isNotNull().cast("int")
                      .alias("event"))
    out = kaplan_meier(subj, "duration", "event")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(F.col("duration").cast("long").alias("duration"),
                      "n_risk", "n_events", "n_censored",
                      r6(F.col("survival")).alias("survival"))


SQL_KAPLAN_MEIER_CONVERSION = """
WITH per AS (
    SELECT user_id,
           min(CAST(ts AS DATE)) AS first_d,
           max(CAST(ts AS DATE)) AS last_d,
           min(CASE WHEN event_type = 'purchase'
                    THEN CAST(ts AS DATE) END) AS purch_d
    FROM events GROUP BY user_id
), subj AS (
    SELECT CASE WHEN purch_d IS NOT NULL
                THEN date_diff('day', first_d, purch_d)
                ELSE date_diff('day', first_d, last_d) END::DOUBLE AS t,
           CASE WHEN purch_d IS NOT NULL THEN 1.0 ELSE 0.0 END AS e
    FROM per
), g AS (
    SELECT t, sum(e) AS d, sum(1.0 - e) AS c, count(*)::DOUBLE AS n
    FROM subj GROUP BY t
), r AS (
    SELECT t, d, c,
           (SELECT sum(n) FROM g)
               - (sum(n) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) - n) AS nr
    FROM g
), f AS (
    SELECT t, d, c, nr,
           CASE WHEN 1.0 - d/nr > 0.0 THEN ln(1.0 - d/nr)
                ELSE 0.0 END AS lnf,
           CASE WHEN 1.0 - d/nr <= 0.0 THEN 1.0 ELSE 0.0 END AS zf
    FROM r
), s AS (
    SELECT t, d, c, nr,
           CASE WHEN sum(zf) OVER w > 0.0 THEN 0.0
                ELSE exp(sum(lnf) OVER w) END AS surv
    FROM f
    WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
)
SELECT t::BIGINT AS duration, nr::BIGINT AS n_risk,
       d::BIGINT AS n_events, c::BIGINT AS n_censored,
       floor(surv * 1e6 + 0.5) / 1e6 AS survival
FROM s
"""


HOEFFD_BINS = 128


def q_hoeffding_price_quantity(spark, sf_dir):
    """Hoeffding's D independence test, binned scale path (functions/
    stats.py::hoeffding_d) — the NON-monotone dependence screen:
    Pearson/Spearman/Kendall all measure monotone association and
    return ~0 on a V-shaped or sign-symmetric coupling; D estimates
    30·∫(F₁₂ − F₁F₂)²dF₁₂, nonzero for ANY dependence. Same plan
    shape as kendall_tau_binned: one min/max aggregate + ONE
    groupBy(bucket_a, bucket_b) count ≤K² cells, then an O(K²)
    exact-bignum prefix sweep assembles the three Hoeffding sums from
    quarter-tie bivariate ranks. The oracle replays the cell grid
    with dense-grid HUGEINT window cumsums — bit-for-bit up to the
    final float divisions; p is the documented Blum–Kiefer–Rosenblatt
    dominant-eigenvalue tail, identical literal constants in both
    engines."""
    from dask_ml_spark.functions.stats import hoeffding_d

    li = _t(spark, sf_dir, "lineitem")
    out = hoeffding_d(li, "l_extendedprice", "l_quantity",
                      bins=HOEFFD_BINS)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", r6(F.col("d")).alias("d"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_hoeffding_price_quantity() -> str:
    from dask_ml_spark.functions.stats import (
        _HOEFFD_C0, _HOEFFD_LAM1, duckdb_sql, normal_sf)

    K = HOEFFD_BINS
    sf = duckdb_sql(normal_sf, "sqrt((x + 1.0/36.0) / {lam})".format(
        lam=repr(_HOEFFD_LAM1)))
    return f"""
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS a, l_quantity::DOUBLE AS b
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
      AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
), lim AS (
    SELECT min(a) AS la, max(a) AS ha, min(b) AS lb, max(b) AS hb FROM k
), w AS (
    SELECT la, lb,
           CASE WHEN ha = la THEN 1.0 ELSE ha - la END AS wa,
           CASE WHEN hb = lb THEN 1.0 ELSE hb - lb END AS wb
    FROM lim
), cells AS (
    SELECT CAST(least({K - 1}, floor((a - (SELECT la FROM w))
                                     / (SELECT wa FROM w) * {K}))
                AS BIGINT) AS ba,
           CAST(least({K - 1}, floor((b - (SELECT lb FROM w))
                                     / (SELECT wb FROM w) * {K}))
                AS BIGINT) AS bb,
           count(*)::HUGEINT AS c
    FROM k GROUP BY 1, 2
), grid AS (
    SELECT ga.range AS gi, gb.range AS gj
    FROM range({K}) ga CROSS JOIN range({K}) gb
), dense AS (
    SELECT gi, gj, coalesce(cells.c, 0::HUGEINT) AS c
    FROM grid LEFT JOIN cells ON cells.ba = gi AND cells.bb = gj
), rowcum AS (
    SELECT gi, gj,
           sum(c) OVER (PARTITION BY gi ORDER BY gj
                        ROWS UNBOUNDED PRECEDING) AS rc
    FROM dense
), pref AS (
    -- P(gi, gj) = sum of cells with ba <= gi AND bb <= gj
    SELECT gi, gj,
           sum(rc) OVER (PARTITION BY gj ORDER BY gi
                         ROWS UNBOUNDED PRECEDING) AS p2
    FROM rowcum
), amarg AS (
    -- doubled tie-averaged mid-rank per a-bucket: 2R = 2·cuminc − t + 1
    SELECT ba, 2 * sum(t) OVER (ORDER BY ba ROWS UNBOUNDED PRECEDING)
               - t + 1 AS r2
    FROM (SELECT ba, sum(c) AS t FROM cells GROUP BY ba)
), bmarg AS (
    SELECT bb, 2 * sum(u) OVER (ORDER BY bb ROWS UNBOUNDED PRECEDING)
               - u + 1 AS s2
    FROM (SELECT bb, sum(u2.c) AS u FROM cells u2 GROUP BY bb)
), percell AS (
    -- quadrupled quarter-tie bivariate rank:
    -- 4Q = 4 + 4·P(strict both) + 2·(rowBelow + colBelow) + (c − 1)
    --    = 3 + c + 2·(pref(ba−1, bb) + pref(ba, bb−1))   [algebra]
    SELECT x.c, am.r2, bm.s2,
           3 + x.c + 2 * (coalesce(plj.p2, 0::HUGEINT)
                          + coalesce(pjl.p2, 0::HUGEINT)) AS q4
    FROM cells x
    JOIN amarg am ON am.ba = x.ba
    JOIN bmarg bm ON bm.bb = x.bb
    LEFT JOIN pref plj ON plj.gi = x.ba - 1 AND plj.gj = x.bb
    LEFT JOIN pref pjl ON pjl.gi = x.ba AND pjl.gj = x.bb - 1
), sums AS (
    SELECT sum(c * (q4 - 4) * (q4 - 8)) AS n1,
           sum(c * (r2 - 2) * (r2 - 4) * (s2 - 2) * (s2 - 4)) AS n2,
           sum(c * (r2 - 4) * (s2 - 4) * (q4 - 4)) AS n3,
           sum(c) AS n
    FROM percell
), dd AS (
    SELECT n,
           (30 * ((n - 2) * (n - 3) * n1 + n2 - 2 * (n - 2) * n3))::DOUBLE
           / (16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4))::DOUBLE AS d
    FROM sums
), st AS (
    SELECT n, d, n::DOUBLE * d / 30.0 AS x FROM dd
)
SELECT n::BIGINT AS n,
       floor(d * 1e6 + 0.5) / 1e6 AS d,
       floor(CASE WHEN x + 1.0/36.0 <= 0.0 THEN 1.0
                  ELSE least(1.0, {repr(_HOEFFD_C0)} * 2.0 * {sf})
             END * 1e6 + 0.5) / 1e6 AS p_value
FROM st
"""



def q_log_rank_conversion(spark, sf_dir):
    """Two-group log-rank test (functions/stats.py::log_rank — the
    survival-family hypothesis test next to kaplan_meier): do users
    whose FIRST event was a click convert (first purchase) on a
    different time-to-event distribution than everyone else, under
    right-censoring at each user's last event? Cohorting is one
    struct-min aggregate (deterministic (ts, event_id) tie-break, no
    per-user window); the test is ONE groupBy(duration) with
    per-group at-t / event-at-t counts, driver-side ascending-t
    O/E/V assembly (integer counts -> bit-reproducible float terms).
    The oracle replays the per-user cohorting with a row_number
    window, the risk-set suffix counts via a window cumsum, and the
    hypergeometric O/E/V sums."""
    from dask_ml_spark.functions.stats import log_rank

    ev = _t(spark, sf_dir, "events")
    d = F.to_date(F.col("ts").cast("timestamp"))
    per = ev.groupBy("user_id").agg(
        F.min(d).alias("first_d"),
        F.max(d).alias("last_d"),
        F.min(F.when(F.col("event_type") == "purchase", d))
        .alias("purch_d"),
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"]
        .alias("ft"))
    dur = F.when(F.col("purch_d").isNotNull(),
                 F.datediff(F.col("purch_d"), F.col("first_d"))
                 ).otherwise(F.datediff(F.col("last_d"),
                                        F.col("first_d")))
    subj = per.select(
        dur.cast("double").alias("duration"),
        F.col("purch_d").isNotNull().cast("int").alias("event"),
        F.when(F.col("ft") == "click", F.lit("click_first"))
        .otherwise(F.lit("other_first")).alias("grp"))
    out = log_rank(subj, "duration", "event", "grp")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        "n1", "n2",
        r6(F.col("observed1")).alias("observed1"),
        r6(F.col("expected1")).alias("expected1"),
        r6(F.col("z")).alias("z"),
        r6(F.col("chi2")).alias("chi2"),
        r6(F.col("p_value")).alias("p_value"))


def q_log_rank_gehan(spark, sf_dir):
    """Gehan–Breslow–Wilcoxon weighted log-rank (weights='wilcoxon'
    on functions/stats.py::log_rank): every hypergeometric term is
    weighted by the pooled risk-set size, so EARLY conversion
    differences dominate — the right chart when hazards cross. Same
    cohorting and plan as log_rank_conversion; the oracle carries the
    n_t / n_t² weights through the O/E/V replay."""
    from dask_ml_spark.functions.stats import log_rank

    ev = _t(spark, sf_dir, "events")
    d = F.to_date(F.col("ts").cast("timestamp"))
    per = ev.groupBy("user_id").agg(
        F.min(d).alias("first_d"),
        F.max(d).alias("last_d"),
        F.min(F.when(F.col("event_type") == "purchase", d))
        .alias("purch_d"),
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"]
        .alias("ft"))
    dur = F.when(F.col("purch_d").isNotNull(),
                 F.datediff(F.col("purch_d"), F.col("first_d"))
                 ).otherwise(F.datediff(F.col("last_d"),
                                        F.col("first_d")))
    subj = per.select(
        dur.cast("double").alias("duration"),
        F.col("purch_d").isNotNull().cast("int").alias("event"),
        F.when(F.col("ft") == "click", F.lit("click_first"))
        .otherwise(F.lit("other_first")).alias("grp"))
    out = log_rank(subj, "duration", "event", "grp",
                   weights="wilcoxon")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        "n1", "n2",
        r6(F.col("observed1")).alias("observed1"),
        r6(F.col("expected1")).alias("expected1"),
        r6(F.col("z")).alias("z"),
        r6(F.col("chi2")).alias("chi2"),
        r6(F.col("p_value")).alias("p_value"))


def _sql_log_rank_conversion(weighted: bool = False) -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "z")
    # Gehan weights: w_t = pooled risk-set size (1.0 for log-rank);
    # the engine multiplies w (and w^2 into vv) INSIDE each term in
    # the same order
    w = "(r1 + r2)" if weighted else "1.0"
    return f"""
WITH per AS (
    SELECT user_id,
           min(CAST(ts AS DATE)) AS first_d,
           max(CAST(ts AS DATE)) AS last_d,
           min(CASE WHEN event_type = 'purchase'
                    THEN CAST(ts AS DATE) END) AS purch_d
    FROM events GROUP BY user_id
), ranked AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn
    FROM events
), firsts AS (
    SELECT user_id, event_type AS ft FROM ranked WHERE rn = 1
), subj AS (
    -- group 1 = 'click_first' (log_rank sorts the two labels)
    SELECT CASE WHEN purch_d IS NOT NULL
                THEN date_diff('day', first_d, purch_d)
                ELSE date_diff('day', first_d, last_d) END::DOUBLE AS t,
           CASE WHEN purch_d IS NOT NULL THEN 1.0 ELSE 0.0 END AS e,
           CASE WHEN f.ft = 'click' THEN 0.0 ELSE 1.0 END AS is2
    FROM per JOIN firsts f USING (user_id)
), g AS (
    SELECT t, sum(1.0 - is2) AS n1, sum(is2) AS n2,
           sum((1.0 - is2) * e) AS d1, sum(is2 * e) AS d2
    FROM subj GROUP BY t
), c AS (
    SELECT *,
           (SELECT sum(n1) FROM g)
             - coalesce(sum(n1) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0.0) AS r1,
           (SELECT sum(n2) FROM g)
             - coalesce(sum(n2) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0.0) AS r2
    FROM g
), terms AS (
    SELECT CASE WHEN d1 + d2 > 0 THEN {w} * d1 ELSE 0.0 END AS o,
           CASE WHEN d1 + d2 > 0 AND r1 + r2 > 0
                THEN {w} * ((d1 + d2) * (r1 / (r1 + r2)))
                ELSE 0.0 END AS ee,
           CASE WHEN d1 + d2 > 0 AND r1 + r2 >= 2
                THEN {w} * {w} * (d1 + d2) * (r1 / (r1 + r2))
                     * (r2 / (r1 + r2))
                     * ((r1 + r2) - (d1 + d2)) / ((r1 + r2) - 1.0)
                ELSE 0.0 END AS vv
    FROM c
), s AS (
    SELECT (SELECT sum(n1) FROM g)::BIGINT AS n1,
           (SELECT sum(n2) FROM g)::BIGINT AS n2,
           sum(o) AS o1, sum(ee) AS e1, sum(vv) AS v
    FROM terms
), zz AS (
    SELECT *, CASE WHEN v > 0.0 THEN (o1 - e1) / sqrt(v)
                   ELSE 0.0 END AS z
    FROM s
)
SELECT n1, n2,
       floor(o1 * 1e6 + 0.5) / 1e6 AS observed1,
       floor(e1 * 1e6 + 0.5) / 1e6 AS expected1,
       floor(z * 1e6 + 0.5) / 1e6 AS z,
       floor(z * z * 1e6 + 0.5) / 1e6 AS chi2,
       floor(CASE WHEN v > 0.0 THEN {p2}
                  ELSE 1.0 END * 1e6 + 0.5) / 1e6 AS p_value
FROM zz
"""



def q_cohens_d_price(spark, sf_dir):
    """Standardized effect size (functions/stats.py::cohens_d) for the
    returned-vs-kept price difference the welch_ttest_price query
    tests: at corpus n everything is significant, d answers whether
    the gap MATTERS (Cohen bands 0.2/0.5/0.8). Same ONE conditional-
    sum aggregate as welch, stateless projection, no collect. The
    oracle replays pooled variance, d, and the Hedges J correction."""
    from dask_ml_spark.functions.stats import cohens_d

    li = _t(spark, sf_dir, "lineitem")
    out = cohens_d(li, "l_extendedprice", "l_returnflag",
                   groups=("N", "R"))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        "n1", "n2",
        r6(F.col("mean_diff")).alias("mean_diff"),
        r6(F.col("pooled_sd")).alias("pooled_sd"),
        (F.floor(F.col("d") * 1e9 + F.lit(0.5)) / 1e9).alias("d"),
        (F.floor(F.col("hedges_g") * 1e9 + F.lit(0.5)) / 1e9)
        .alias("hedges_g"))


SQL_COHENS_D_PRICE = """
WITH k AS (
    SELECT l_extendedprice::DOUBLE AS v,
           CASE WHEN l_returnflag = 'N' THEN 1.0 ELSE 0.0 END AS one,
           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS two
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
      AND NOT isnan(l_extendedprice::DOUBLE)
      AND l_returnflag IN ('N', 'R')
), a AS (
    SELECT sum(one) AS n1, sum(two) AS n2,
           sum(one * v) AS s1, sum(two * v) AS s2,
           sum(one * v * v) AS q1, sum(two * v * v) AS q2
    FROM k
), m AS (
    SELECT n1, n2, s1/n1 - s2/n2 AS diff,
           ((n1 - 1.0) * ((q1 - n1 * (s1/n1) * (s1/n1)) / (n1 - 1.0))
            + (n2 - 1.0) * ((q2 - n2 * (s2/n2) * (s2/n2)) / (n2 - 1.0)))
           / (n1 + n2 - 2.0) AS sp2
    FROM a
), d AS (
    SELECT n1, n2, diff,
           CASE WHEN n1 >= 2 AND n2 >= 2 AND sp2 > 0.0
                THEN sqrt(sp2) END AS sp
    FROM m
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       floor(diff * 1e6 + 0.5) / 1e6 AS mean_diff,
       floor(sp * 1e6 + 0.5) / 1e6 AS pooled_sd,
       floor((diff / sp) * 1e9 + 0.5) / 1e9 AS d,
       floor((diff / sp) * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))
             * 1e9 + 0.5) / 1e9 AS hedges_g
FROM d
"""



def q_nelson_aalen_conversion(spark, sf_dir):
    """Nelson–Aalen cumulative conversion hazard (functions/stats.py::
    nelson_aalen — kaplan_meier's additive twin over the same per-user
    time-to-purchase frame): the curve's slope is the conversion rate,
    so knees localize when purchases stall. Same groupBy(duration) +
    ascending-t cumsum skeleton; the oracle replays risk sets and both
    running sums with window cumsums."""
    from dask_ml_spark.functions.stats import nelson_aalen

    ev = _t(spark, sf_dir, "events")
    d = F.to_date(F.col("ts").cast("timestamp"))
    per = ev.groupBy("user_id").agg(
        F.min(d).alias("first_d"),
        F.max(d).alias("last_d"),
        F.min(F.when(F.col("event_type") == "purchase", d))
        .alias("purch_d"))
    dur = F.when(F.col("purch_d").isNotNull(),
                 F.datediff(F.col("purch_d"), F.col("first_d"))
                 ).otherwise(F.datediff(F.col("last_d"),
                                        F.col("first_d")))
    subj = per.select(dur.cast("double").alias("duration"),
                      F.col("purch_d").isNotNull().cast("int")
                      .alias("event"))
    out = nelson_aalen(subj, "duration", "event")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(F.col("duration").cast("long").alias("duration"),
                      "n_risk", "n_events", "n_censored",
                      r6(F.col("cum_hazard")).alias("cum_hazard"),
                      r6(F.col("se")).alias("se"),
                      r6(F.col("ci_lo")).alias("ci_lo"),
                      r6(F.col("ci_hi")).alias("ci_hi"))


SQL_NELSON_AALEN_CONVERSION = """
WITH per AS (
    SELECT user_id,
           min(CAST(ts AS DATE)) AS first_d,
           max(CAST(ts AS DATE)) AS last_d,
           min(CASE WHEN event_type = 'purchase'
                    THEN CAST(ts AS DATE) END) AS purch_d
    FROM events GROUP BY user_id
), subj AS (
    SELECT CASE WHEN purch_d IS NOT NULL
                THEN date_diff('day', first_d, purch_d)
                ELSE date_diff('day', first_d, last_d) END::DOUBLE AS t,
           CASE WHEN purch_d IS NOT NULL THEN 1.0 ELSE 0.0 END AS e
    FROM per
), g AS (
    SELECT t, sum(e) AS d, sum(1.0 - e) AS c, count(*)::DOUBLE AS n
    FROM subj GROUP BY t
), r AS (
    SELECT t, d, c,
           (SELECT sum(n) FROM g)
               - (sum(n) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) - n) AS nr
    FROM g
), s AS (
    SELECT t, d, c, nr,
           sum(d / nr) OVER w AS h,
           sqrt(sum(d / (nr * nr)) OVER w) AS se
    FROM r
    WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
)
SELECT t::BIGINT AS duration, nr::BIGINT AS n_risk,
       d::BIGINT AS n_events, c::BIGINT AS n_censored,
       floor(h * 1e6 + 0.5) / 1e6 AS cum_hazard,
       floor(se * 1e6 + 0.5) / 1e6 AS se,
       floor(greatest(0.0, h - 1.96 * se) * 1e6 + 0.5) / 1e6 AS ci_lo,
       floor((h + 1.96 * se) * 1e6 + 0.5) / 1e6 AS ci_hi
FROM s
"""



def q_mood_median_price(spark, sf_dir):
    """Mood's median test (functions/stats.py::mood_median): are
    returned lineitems' prices above the POOLED price median more
    often than kept ones? The one-bit-per-row robust location screen
    — corrupted extremes can flip Welch but move this by at most
    their count. Exact pooled median (the Winsorizer percentile
    convention) + one conditional-count aggregate; the oracle replays
    the median with quantile_cont and the 2x2 chi2."""
    from dask_ml_spark.functions.stats import mood_median

    li = _t(spark, sf_dir, "lineitem")
    out = mood_median(li, "l_extendedprice", "l_returnflag",
                      groups=("N", "R"))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n1", "n2",
                      r6(F.col("grand_median")).alias("grand_median"),
                      "above1", "above2",
                      r6(F.col("chi2")).alias("chi2"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_mood_median_price() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "sqrt(chi2)")
    return f"""
WITH kept AS (
    SELECT l_extendedprice::DOUBLE AS v, l_returnflag AS g
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
      AND NOT isnan(l_extendedprice::DOUBLE)
      AND l_returnflag IN ('N', 'R')
), med AS (
    SELECT quantile_cont(v, 0.5) AS m FROM kept
), cnt AS (
    SELECT sum(CASE WHEN g = 'N' THEN 1.0 ELSE 0.0 END) AS n1,
           sum(CASE WHEN g = 'R' THEN 1.0 ELSE 0.0 END) AS n2,
           sum(CASE WHEN g = 'N' AND v > (SELECT m FROM med)
                    THEN 1.0 ELSE 0.0 END) AS a1,
           sum(CASE WHEN g = 'R' AND v > (SELECT m FROM med)
                    THEN 1.0 ELSE 0.0 END) AS a2
    FROM kept
), x AS (
    SELECT n1, n2, a1, a2, (SELECT m FROM med) AS m,
           CASE WHEN (a1 + a2) * ((n1 - a1) + (n2 - a2)) * n1 * n2
                     > 0.0
                THEN (n1 + n2)
                     * (a1 * (n2 - a2) - a2 * (n1 - a1))
                     * (a1 * (n2 - a2) - a2 * (n1 - a1))
                     / ((a1 + a2) * ((n1 - a1) + (n2 - a2)) * n1 * n2)
                ELSE 0.0 END AS chi2
    FROM cnt
)
SELECT n1::BIGINT AS n1, n2::BIGINT AS n2,
       floor(m * 1e6 + 0.5) / 1e6 AS grand_median,
       a1::BIGINT AS above1, a2::BIGINT AS above2,
       floor(chi2 * 1e6 + 0.5) / 1e6 AS chi2,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value
FROM x
"""


def q_exponential_fit_conversion(spark, sf_dir):
    """Censored-exponential conversion-rate fit (functions/stats.py::
    exponential_survival_fit) over the same per-user time-to-purchase
    frame the KM/Nelson-Aalen queries describe: the one-parameter
    constant-hazard summary (daily conversion rate, mean days to
    convert, log-scale CI) a capacity plan consumes. ONE aggregate,
    stateless projection; the oracle replays D/T and the
    exp(±z/√D) interval."""
    from dask_ml_spark.functions.stats import exponential_survival_fit

    ev = _t(spark, sf_dir, "events")
    d = F.to_date(F.col("ts").cast("timestamp"))
    per = ev.groupBy("user_id").agg(
        F.min(d).alias("first_d"),
        F.max(d).alias("last_d"),
        F.min(F.when(F.col("event_type") == "purchase", d))
        .alias("purch_d"))
    dur = F.when(F.col("purch_d").isNotNull(),
                 F.datediff(F.col("purch_d"), F.col("first_d"))
                 ).otherwise(F.datediff(F.col("last_d"),
                                        F.col("first_d")))
    # +0.5 day so same-day conversions contribute half a day of
    # exposure instead of zero (the standard mid-day convention)
    subj = per.select((dur.cast("double") + F.lit(0.5))
                      .alias("duration"),
                      F.col("purch_d").isNotNull().cast("int")
                      .alias("event"))
    out = exponential_survival_fit(subj, "duration", "event")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", "n_events",
                      r6(F.col("total_time")).alias("total_time"),
                      r6(F.col("rate")).alias("rate"),
                      r6(F.col("rate_lo")).alias("rate_lo"),
                      r6(F.col("rate_hi")).alias("rate_hi"),
                      r6(F.col("mean_lifetime")).alias("mean_lifetime"))


SQL_EXPONENTIAL_FIT_CONVERSION = """
WITH per AS (
    SELECT user_id,
           min(CAST(ts AS DATE)) AS first_d,
           max(CAST(ts AS DATE)) AS last_d,
           min(CASE WHEN event_type = 'purchase'
                    THEN CAST(ts AS DATE) END) AS purch_d
    FROM events GROUP BY user_id
), subj AS (
    SELECT (CASE WHEN purch_d IS NOT NULL
                 THEN date_diff('day', first_d, purch_d)
                 ELSE date_diff('day', first_d, last_d)
            END::DOUBLE + 0.5) AS t,
           CASE WHEN purch_d IS NOT NULL THEN 1.0 ELSE 0.0 END AS e
    FROM per
), a AS (
    SELECT count(*)::BIGINT AS n, sum(e) AS d, sum(t) AS tt
    FROM subj WHERE t >= 0.0
)
SELECT n, d::BIGINT AS n_events,
       floor(tt * 1e6 + 0.5) / 1e6 AS total_time,
       floor((d / tt) * 1e6 + 0.5) / 1e6 AS rate,
       floor((d / tt) / exp(1.96 / sqrt(d)) * 1e6 + 0.5) / 1e6
           AS rate_lo,
       floor((d / tt) * exp(1.96 / sqrt(d)) * 1e6 + 0.5) / 1e6
           AS rate_hi,
       floor((1.0 / (d / tt)) * 1e6 + 0.5) / 1e6 AS mean_lifetime
FROM a
"""



def q_jarque_bera_value(spark, sf_dir):
    """Jarque–Bera normality screen (functions/stats.py::jarque_bera)
    on the event value column: ONE four-moment aggregate, exact chi2_2
    tail e^(−JB/2). The uniform-ish value column fails normality
    hugely (platykurtic, K ≈ 1.8) — skew/kurtosis carry the decision
    at corpus n, which is why they are returned as effect sizes."""
    from dask_ml_spark.functions.stats import jarque_bera

    ev = _t(spark, sf_dir, "events")
    out = jarque_bera(ev, "value")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n", r6(F.col("mean")).alias("mean"),
                      r6(F.col("variance")).alias("variance"),
                      r6(F.col("skewness")).alias("skewness"),
                      r6(F.col("kurtosis")).alias("kurtosis"),
                      r6(F.col("jb")).alias("jb"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_jarque_bera_value() -> str:
    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    return f"""
WITH k AS (
    SELECT value::DOUBLE AS v FROM events
    WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
), a AS (
    SELECT count(*)::DOUBLE AS n, sum(v) AS s1, sum(v * v) AS s2,
           sum(v * v * v) AS s3, sum(v * v * v * v) AS s4
    FROM k
), m AS (
    SELECT n, s1 / n AS m, s2 / n - (s1 / n) * (s1 / n) AS m2,
           (s3 - 3.0 * (s1 / n) * s2
            + 2.0 * n * (s1 / n) * (s1 / n) * (s1 / n)) / n AS m3,
           (s4 - 4.0 * (s1 / n) * s3
            + 6.0 * (s1 / n) * (s1 / n) * s2
            - 3.0 * n * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n)) / n
               AS m4
    FROM a
), j AS (
    SELECT n, m, m2, m3 / (m2 * sqrt(m2)) AS skew,
           m4 / (m2 * m2) AS kurt
    FROM m
), jb AS (
    SELECT n, m, m2, skew, kurt,
           n / 6.0 * (skew * skew
                      + (kurt - 3.0) * (kurt - 3.0) / 4.0) AS jb
    FROM j
)
SELECT n::BIGINT AS n,
       floor(m * 1e6 + 0.5) / 1e6 AS mean,
       floor(m2 * 1e6 + 0.5) / 1e6 AS variance,
       floor(skew * 1e6 + 0.5) / 1e6 AS skewness,
       floor(kurt * 1e6 + 0.5) / 1e6 AS kurtosis,
       floor(jb * 1e6 + 0.5) / 1e6 AS jb,
       floor({duckdb_sql(chi2_sf, "jb", 2)} * 1e6 + 0.5) / 1e6 AS p_value
FROM jb
"""


def q_welch_anova_event_value(spark, sf_dir):
    """Welch's heteroscedastic one-way ANOVA (functions/stats.py::
    welch_anova) of event value across the 5 event types — the
    unequal-variance k-group test next to the pooled anova_event_value
    (one noisy source breaks the pooled assumption; Welch stays
    honest). Same ONE groupBy(group) aggregate + bounded driver
    assembly; k−1 = 4 is even so the chi2 tail replays exactly."""
    from dask_ml_spark.functions.stats import welch_anova

    ev = _t(spark, sf_dir, "events")
    out = welch_anova(ev, "value", "event_type")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("k", "n", r6(F.col("f_stat")).alias("f_stat"),
                      "df_between",
                      r6(F.col("df_within_welch")).alias("dof2"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_welch_anova_event_value() -> str:
    from dask_ml_spark.functions.stats import chi2_sf, duckdb_sql

    p = duckdb_sql(chi2_sf, "(4.0 * f)", 4)
    return f"""
WITH k AS (
    SELECT value::DOUBLE AS v, event_type AS g FROM events
    WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
      AND event_type IS NOT NULL
), gg AS (
    SELECT g, count(*)::DOUBLE AS n, sum(v) AS s, sum(v * v) AS q
    FROM k GROUP BY g
), st AS (
    SELECT g, n, s / n AS m,
           n / ((q - n * (s / n) * (s / n)) / (n - 1.0)) AS w
    FROM gg
), tot AS (
    SELECT count(*)::BIGINT AS kk, sum(n) AS nn, sum(w) AS wt,
           sum(w * m) / sum(w) AS xstar
    FROM st
), lam AS (
    SELECT sum((1.0 - w / (SELECT wt FROM tot))
               * (1.0 - w / (SELECT wt FROM tot)) / (n - 1.0)) AS l,
           sum(w * (m - (SELECT xstar FROM tot))
                 * (m - (SELECT xstar FROM tot))) AS ssb
    FROM st
), f AS (
    SELECT (SELECT kk FROM tot) AS kk, (SELECT nn FROM tot) AS nn,
           (ssb / ((SELECT kk FROM tot) - 1.0))
           / (1.0 + 2.0 * ((SELECT kk FROM tot) - 2.0)
              / ((SELECT kk FROM tot) * (SELECT kk FROM tot) - 1.0)
              * l) AS f,
           ((SELECT kk FROM tot) * (SELECT kk FROM tot) - 1.0)
           / (3.0 * l) AS dof2
    FROM lam
)
SELECT kk AS k, nn::BIGINT AS n,
       floor(f * 1e6 + 0.5) / 1e6 AS f_stat,
       (kk - 1)::BIGINT AS df_between,
       floor(dof2 * 1e6 + 0.5) / 1e6 AS dof2,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value
FROM f
"""



def q_ansari_bradley_price(spark, sf_dir):
    """Ansari–Bradley rank scale test (functions/stats.py::
    ansari_bradley — mood_median's dispersion twin): do returned and
    kept lineitems' prices SPREAD differently? Runs on the DOCUMENTED
    scale path — AB over the dyadic width-16 price bucket (the
    quality_drift FP-exact bucketing convention): raw prices are
    distinct≈rows (583k at sf0.1, past the driver cap), the bucket
    axis is bounded by the fixed TPC-H price range (~6.6k values at
    ANY scale) and the midrank machinery absorbs the within-bucket
    ties. Rank scores fold from both ends (min(r, N+1−r)); ONE
    groupBy(bucket) + exact-integer block score sums driver-side. The
    oracle replays the fold with the same two-arithmetic-series
    closed form over window cumsums."""
    from dask_ml_spark.functions.stats import ansari_bradley

    li = (_t(spark, sf_dir, "lineitem")
          .withColumn("__pb", F.floor(F.col("l_extendedprice") / 16.0)))
    out = ansari_bradley(li, "__pb", "l_returnflag",
                         groups=("N", "R"))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n1", "n2",
                      r6(F.col("w_stat")).alias("w_stat"),
                      r6(F.col("z")).alias("z"),
                      r6(F.col("p_value")).alias("p_value"))


def _sql_ansari_bradley_price() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "z")
    return f"""
WITH kept AS (
    SELECT floor(l_extendedprice::DOUBLE / 16.0) AS v,
           CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS one,
           CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS two
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL
      AND NOT isnan(floor(l_extendedprice::DOUBLE / 16.0))
      AND l_returnflag IN ('N', 'R')
), g AS (
    SELECT v, sum(one)::BIGINT AS c1, sum(two)::BIGINT AS c2
    FROM kept GROUP BY v
), tot AS (
    SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
           sum(c1 + c2)::BIGINT AS n
    FROM g
), r AS (
    SELECT c1, c1 + c2 AS c,
           coalesce(sum(c1 + c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0)::BIGINT + 1 AS a,
           (sum(c1 + c2) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW))::BIGINT AS b,
           (SELECT n FROM tot) AS n
    FROM g
), blk AS (
    -- exact Σ min(r, n+1−r) over the block's ranks [a, b]: two
    -- arithmetic series split at the fold (n+1)//2 — the engine's
    -- _ab_block_score_sum closed form
    SELECT c1, c,
           (CASE WHEN a <= least(b, (n + 1) // 2)
                 THEN (a + least(b, (n + 1) // 2))
                      * (least(b, (n + 1) // 2) - a + 1) // 2
                 ELSE 0 END
            + CASE WHEN greatest(a, (n + 1) // 2 + 1) <= b
                   THEN ((n + 1 - greatest(a, (n + 1) // 2 + 1))
                         + (n + 1 - b))
                        * ((n + 1 - greatest(a, (n + 1) // 2 + 1))
                           - (n + 1 - b) + 1) // 2
                   ELSE 0 END)::BIGINT AS blk
    FROM r
), agg AS (
    SELECT sum(c1 * (blk::DOUBLE / c)) AS w,
           sum(blk)::DOUBLE AS s,
           sum(c * (blk::DOUBLE / c) * (blk::DOUBLE / c)) AS ss
    FROM blk
), z AS (
    SELECT (SELECT n1 FROM tot) AS n1, (SELECT n2 FROM tot) AS n2,
           w,
           CASE WHEN (SELECT n1 FROM tot) * (SELECT n2 FROM tot)
                     * ((SELECT n FROM tot) * ss - s * s) > 0.0
                THEN (w - (SELECT n1 FROM tot) * s
                            / (SELECT n FROM tot))
                     / sqrt((SELECT n1 FROM tot) * (SELECT n2 FROM tot)
                            * ((SELECT n FROM tot) * ss - s * s)
                            / ((SELECT n FROM tot)::DOUBLE
                               * (SELECT n FROM tot)
                               * ((SELECT n FROM tot) - 1.0)))
                ELSE 0.0 END AS z
    FROM agg
)
SELECT n1, n2,
       floor(w * 1e6 + 0.5) / 1e6 AS w_stat,
       floor(z * 1e6 + 0.5) / 1e6 AS z,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value
FROM z
"""


def catalog_queries():
    """This family's queries() entries (order preserved by __init__)."""
    return {
        "ks_price_test": q_ks_price_test,
        "ks_price_test_binned": q_ks_price_test_binned,
        "mann_whitney_discount": q_mann_whitney_discount,
        "hl_shift_price": q_hl_shift_price,
        "wilcoxon_user_value": q_wilcoxon_user_value,
        "friedman_user_event_value": q_friedman_user_event_value,
        "benford_price": q_benford_price,
        "chi2_independence_flags": q_chi2_independence_flags,
        "welch_ttest_price": q_welch_ttest_price,
        "welch_bh_by_month": q_welch_bh_by_month,
        "bootstrap_price_ci": q_bootstrap_price_ci,
        "bootstrap_ci_by_flag": q_bootstrap_ci_by_flag,
        "prop_ztest_discount": q_prop_ztest_discount,
        "anova_event_value": q_anova_event_value,
        "pairwise_welch_events": q_pairwise_welch_events,
        "spearman_price_quantity": q_spearman_price_quantity,
        "spearman_price_quantity_exact": q_spearman_price_quantity_exact,
        "kendall_price_quantity": q_kendall_price_quantity,
        "hoeffding_price_quantity": q_hoeffding_price_quantity,
        "kruskal_wallis_quantity": q_kruskal_wallis_quantity,
        "jonckheere_priority_price": q_jonckheere_priority_price,
        "brown_forsythe_price": q_brown_forsythe_price,
        "isotonic_price_curve": q_isotonic_price_curve,
        "changepoint_event_value": q_changepoint_event_value,
        "trend_event_value": q_trend_event_value,
        "acf_daily_value": q_acf_daily_value,
        "seasonal_decompose_daily": q_seasonal_decompose_daily,
        "partial_corr_price_quantity": q_partial_corr_price_quantity,
        "mutual_information_events": q_mutual_information_events,
        "feature_corr_matrix": q_feature_corr_matrix,
        "kaplan_meier_conversion": q_kaplan_meier_conversion,
        "nelson_aalen_conversion": q_nelson_aalen_conversion,
        "exponential_fit_conversion": q_exponential_fit_conversion,
        "mood_median_price": q_mood_median_price,
        "ansari_bradley_price": q_ansari_bradley_price,
        "jarque_bera_value": q_jarque_bera_value,
        "welch_anova_event_value": q_welch_anova_event_value,
        "log_rank_conversion": q_log_rank_conversion,
        "log_rank_gehan": q_log_rank_gehan,
        "cohens_d_price": q_cohens_d_price,
    }


def catalog_oracles():
    """This family's oracle_sql() entries — built lazily at call time,
    exactly as the original build_catalog did."""
    return {
        "ks_price_test": _sql_ks_price_test(),
        "ks_price_test_binned": _sql_ks_price_test_binned(),
        "mann_whitney_discount": _sql_mann_whitney_discount(),
        "hl_shift_price": _sql_hl_shift_price(),
        "wilcoxon_user_value": _sql_wilcoxon_user_value(),
        "friedman_user_event_value": _sql_friedman_user_event_value(),
        "benford_price": _sql_benford_price(),
        "chi2_independence_flags": _sql_chi2_independence_flags(),
        "welch_ttest_price": _sql_welch_ttest_price(),
        "welch_bh_by_month": _sql_welch_bh_by_month(),
        "bootstrap_price_ci": _sql_bootstrap_price_ci(),
        "bootstrap_ci_by_flag": _sql_bootstrap_ci_by_flag(),
        "prop_ztest_discount": _sql_prop_ztest_discount(),
        "anova_event_value": _sql_anova_event_value(),
        "pairwise_welch_events": _sql_pairwise_welch_events(),
        "spearman_price_quantity": _sql_spearman_price_quantity(),
        "spearman_price_quantity_exact": _sql_spearman_price_quantity_exact(),
        "kendall_price_quantity": _sql_kendall_price_quantity(),
        "hoeffding_price_quantity": _sql_hoeffding_price_quantity(),
        "kruskal_wallis_quantity": _sql_kruskal_wallis_quantity(),
        "jonckheere_priority_price": _sql_jonckheere_priority_price(),
        "brown_forsythe_price": _sql_brown_forsythe_price(),
        "isotonic_price_curve": _sql_isotonic_price_curve(),
        "changepoint_event_value": _sql_changepoint_event_value(),
        "trend_event_value": _sql_trend_event_value(),
        "acf_daily_value": _sql_acf_daily_value(),
        "seasonal_decompose_daily": _sql_seasonal_decompose_daily(),
        "partial_corr_price_quantity": _sql_partial_corr_price_quantity(),
        "mutual_information_events": SQL_MUTUAL_INFORMATION_EVENTS,
        "feature_corr_matrix": SQL_FEATURE_CORR_MATRIX,
        "kaplan_meier_conversion": SQL_KAPLAN_MEIER_CONVERSION,
        "nelson_aalen_conversion": SQL_NELSON_AALEN_CONVERSION,
        "exponential_fit_conversion": SQL_EXPONENTIAL_FIT_CONVERSION,
        "mood_median_price": _sql_mood_median_price(),
        "ansari_bradley_price": _sql_ansari_bradley_price(),
        "jarque_bera_value": _sql_jarque_bera_value(),
        "welch_anova_event_value": _sql_welch_anova_event_value(),
        "log_rank_conversion": _sql_log_rank_conversion(),
        "log_rank_gehan": _sql_log_rank_conversion(weighted=True),
        "cohens_d_price": SQL_COHENS_D_PRICE,
    }
