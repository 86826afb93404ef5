"""Windowed drift-monitor catalog queries (streaming/drift.py).

Split out of the single-file plans/queries.py in round 13 (maintainability:
251+ builders in one 12k-line module); composed by catalog/__init__.py.
Conventions (canonical fixed-point aggregation, oracle alignment) are
documented in catalog/_shared.py.
"""
from __future__ import annotations
from pyspark.sql import functions as F
from dask_ml_spark.utils import local_frame
from ._shared import _t  # noqa: F401

def q_quality_drift(spark, sf_dir):
    """Distribution drift (datapipe/profiling.py::distribution_drift):
    PSI / KL / total-variation of the doc-length distribution between
    the en and de sub-corpora, over 16 fixed dyadic-width bins (width
    128 — FP-exact bucketing in both engines). The standard gate before
    a new shard joins training; the oracle replays histogram,
    smoothing, and the log sums."""
    from dask_ml_spark.datapipe.profiling import distribution_drift

    docs = _t(spark, sf_dir, "documents")
    d = distribution_drift(docs.where(F.col("lang") == "en"),
                           docs.where(F.col("lang") == "de"),
                           "n_chars", bins=16, lo=0.0, hi=2048.0)
    return local_frame(
        spark,
        [(round(d["psi"], 6), round(d["kl"], 6), round(d["tvd"], 6),
          d["n_a"], d["n_b"])],
        "psi double, kl double, tvd double, n_a long, n_b long")


SQL_QUALITY_DRIFT = """
WITH ha AS (
    SELECT least(greatest(CAST(floor(n_chars / 128.0) AS BIGINT), 0), 15)
               AS bin, count(*) AS cnt
    FROM documents WHERE lang = 'en' AND n_chars IS NOT NULL
    GROUP BY 1
), hb AS (
    SELECT least(greatest(CAST(floor(n_chars / 128.0) AS BIGINT), 0), 15)
               AS bin, count(*) AS cnt
    FROM documents WHERE lang = 'de' AND n_chars IS NOT NULL
    GROUP BY 1
), tot AS (
    SELECT (SELECT sum(cnt) FROM ha)::DOUBLE AS na,
           (SELECT sum(cnt) FROM hb)::DOUBLE AS nb
), j AS (
    SELECT i.bin, coalesce(ha.cnt, 0)::DOUBLE AS ca,
           coalesce(hb.cnt, 0)::DOUBLE AS cb
    FROM (SELECT unnest(range(0, 16)) AS bin) i
    LEFT JOIN ha ON ha.bin = i.bin LEFT JOIN hb ON hb.bin = i.bin
)
SELECT
    round(sum(((ca + 0.5) / (na + 8) - (cb + 0.5) / (nb + 8))
              * ln(((ca + 0.5) / (na + 8)) / ((cb + 0.5) / (nb + 8)))), 6)
        AS psi,
    round(sum(((ca + 0.5) / (na + 8))
              * ln(((ca + 0.5) / (na + 8)) / ((cb + 0.5) / (nb + 8)))), 6)
        AS kl,
    round(0.5 * sum(abs(ca / na - cb / nb)), 6) AS tvd,
    max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b
FROM j CROSS JOIN tot
"""


def q_embedding_drift_labels(spark, sf_dir):
    """Per-dimension embedding-space drift (datapipe/profiling.py::
    embedding_drift — the multivariate drift screen): posexplode fans
    vectors into (dim, value) rows, ONE conditional-sum groupBy(dim)
    computes all 64 Welch tests, BH controls the family. The oracle
    replays the explode with a lateral unnest(range(length)) and the
    sweep with the welch_bh window template."""
    from dask_ml_spark.datapipe.profiling import embedding_drift

    em = _t(spark, sf_dir, "embeddings")
    out = embedding_drift(em, "embedding", "label", (0, 1))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        "dim", "n1", "n2",
        r6(F.col("mean_diff")).alias("mean_diff"),
        r6(F.col("t_stat")).alias("t_stat"),
        r6(F.col("p_value")).alias("p_value"),
        r6(F.col("q_value")).alias("q_value"),
        "reject", "valid")


def _sql_embedding_drift_labels() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "t")
    return f"""
WITH k AS (
    SELECT t.i AS dim, embedding[t.i + 1]::DOUBLE AS v,
           CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS one,
           CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END AS two
    FROM embeddings, unnest(range(length(embedding))) AS t(i)
    WHERE label IN (0, 1)
      AND embedding[t.i + 1] IS NOT NULL
      AND NOT isnan(embedding[t.i + 1]::DOUBLE)
), a AS (
    SELECT dim, sum(one) AS n1, sum(two) AS n2,
           sum(one * v) AS s1, sum(two * v) AS s2,
           sum(one * v * v) AS q1, sum(two * v * v) AS q2
    FROM k GROUP BY dim
), m AS (
    SELECT dim, n1, n2, s1/n1 AS m1, s2/n2 AS m2,
           (q1 - n1 * (s1/n1) * (s1/n1)) / (n1 - 1.0) AS v1,
           (q2 - n2 * (s2/n2) * (s2/n2)) / (n2 - 1.0) AS v2
    FROM a
), t AS (
    SELECT dim, n1, n2, m1 - m2 AS diff,
           CASE WHEN n1 >= 2 AND n2 >= 2
                     AND v1/n1 + v2/n2 > 0.0
                THEN (m1 - m2) / sqrt(v1/n1 + v2/n2) END AS t,
           (n1 >= 2 AND n2 >= 2
            AND coalesce(v1/n1 + v2/n2, -1.0) > 0.0) AS valid
    FROM m
), p AS (
    SELECT dim, n1, n2, diff, t, valid,
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
SELECT p.dim::BIGINT AS dim, p.n1::BIGINT AS n1, p.n2::BIGINT AS n2,
       floor(p.diff * 1e6 + 0.5) / 1e6 AS mean_diff,
       floor(p.t * 1e6 + 0.5) / 1e6 AS t_stat,
       floor(p.p * 1e6 + 0.5) / 1e6 AS p_value,
       floor(adj.q * 1e6 + 0.5) / 1e6 AS q_value,
       CASE WHEN adj.q IS NOT NULL THEN adj.q <= 0.05 END AS reject,
       p.valid AS valid
FROM p LEFT JOIN adj ON p.dim = adj.dim
"""


DRIFT_BINS = 24


DRIFT_REF_END = "2024-01-08"


def q_ks_drift_daily(spark, sf_dir):
    """Windowed distribution-drift monitor (streaming/drift.py::
    ks_drift — the stats family made continuous): fit a reference
    histogram on the first week of events, then a one-sample binned KS
    of EVERY daily window against it — ONE groupBy(window) aggregation
    whose K−1 ECDF points are conditional sums (no cumsum, so the
    identical code path is append-mode-streaming legal; the
    stream-vs-batch parity test pins that). The oracle recomputes the
    reference and replays every window's D and Kolmogorov-tail p."""
    from dask_ml_spark.streaming.drift import ks_drift, reference_histogram

    ev = _t(spark, sf_dir, "events")
    ref = reference_histogram(
        ev.where(F.col("ts") < F.lit(DRIFT_REF_END)), "value",
        bins=DRIFT_BINS)
    out = ks_drift(ev, "value", "ts", ref, window="1 day")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "n", r6(F.col("d_stat")).alias("d_stat"),
        r6(F.col("p_value")).alias("p_value"))


def _sql_ks_drift_daily() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, ks_p

    K = DRIFT_BINS
    p = duckdb_sql(ks_p, "(d * sqrt(n::DOUBLE))")
    les = ",\n           ".join(
        f"sum(CASE WHEN bkt <= {k} THEN 1.0 ELSE 0.0 END) AS le{k}"
        for k in range(K - 1))
    ref_les = ", ".join(
        f"sum(CASE WHEN bkt <= {k} THEN 1.0 ELSE 0.0 END) AS rle{k}"
        for k in range(K - 1))
    dterms = ", ".join(
        f"abs(le{k} / n::DOUBLE - (SELECT rle{k} / rn FROM refcum))"
        for k in range(K - 1))
    return f"""
WITH kept AS (
    SELECT ts, value::DOUBLE AS v FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
), lim AS (
    SELECT min(v) AS lo, max(v) AS hi FROM kept
    WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), w AS (SELECT lo, CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS wd
         FROM lim),
bk AS (
    SELECT ts, greatest(0, least({K - 1},
               CAST(floor((v - (SELECT lo FROM w))
                          / (SELECT wd FROM w) * {K}) AS INTEGER)))
               AS bkt
    FROM kept
), refcum AS (
    SELECT count(*)::DOUBLE AS rn, {ref_les}
    FROM bk WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), win AS (
    SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS n,
           {les}
    FROM bk GROUP BY 1
), d AS (
    SELECT day, n, greatest({dterms}) AS d
    FROM win
)
SELECT strftime(day, '%Y-%m-%d') AS day, n,
       floor(d * 1e6 + 0.5) / 1e6 AS d_stat,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value
FROM d
"""


def q_addrift_daily(spark, sf_dir):
    """Anderson–Darling drift per daily window (streaming/drift.py::
    ad_drift — the tail-sensitive shape monitor: each squared ECDF gap
    is divided by F₀(1−F₀), amplifying exactly the tail moves KS's
    uniform sup-norm barely sees). Same one-windowed-aggregation shape
    as ks_drift (K−1 conditional sums + a stateless array-HOF
    projection), so it inherits append-mode streaming legality. The
    oracle recomputes the reference CDF and replays every window's
    grid quadrature and the Marsaglia two-branch tail."""
    from dask_ml_spark.streaming.drift import ad_drift, reference_histogram

    ev = _t(spark, sf_dir, "events")
    ref = reference_histogram(
        ev.where(F.col("ts") < F.lit(DRIFT_REF_END)), "value",
        bins=DRIFT_BINS)
    out = ad_drift(ev, "value", "ts", ref, window="1 day")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "n", r6(F.col("a2")).alias("a2"),
        r6(F.col("p_value")).alias("p_value"))


def _sql_addrift_daily() -> str:
    from dask_ml_spark.functions.stats import ad_p, duckdb_sql

    K = DRIFT_BINS
    les = ",\n           ".join(
        f"sum(CASE WHEN bkt <= {k} THEN 1.0 ELSE 0.0 END) AS le{k}"
        for k in range(K - 1))
    ref_les = ", ".join(
        f"sum(CASE WHEN bkt <= {k} THEN 1.0 ELSE 0.0 END) AS rle{k}"
        for k in range(K - 1))
    # rc{k}: the reference CDF edge value, exactly the engine's
    # Python literal (same counts/n division)
    rcs = ", ".join(f"rle{k} / rn AS rc{k}" for k in range(K - 1))

    def rc(k):
        if k < 0:
            return "0.0"
        if k > K - 2:
            return "1.0"
        return f"(SELECT rc{k} FROM refq)"

    # mirror the engine fold: diff² first, then · g, summed in
    # ascending-k order from a 0.0 seed, finally · n
    terms = " + ".join(
        f"""CASE WHEN {rc(k)} > 0.0 AND {rc(k)} < 1.0
             THEN ((le{k} / n::DOUBLE - {rc(k)})
                   * (le{k} / n::DOUBLE - {rc(k)}))
                  * (({rc(k + 1)} - {rc(k - 1)}) * 0.5
                     / ({rc(k)} * (1.0 - {rc(k)})))
             ELSE 0.0 END"""
        for k in range(K - 1))
    p = duckdb_sql(ad_p, "a2")
    return f"""
WITH kept AS (
    SELECT ts, value::DOUBLE AS v FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
), lim AS (
    SELECT min(v) AS lo, max(v) AS hi FROM kept
    WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), w AS (SELECT lo, CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS wd
         FROM lim),
bk AS (
    SELECT ts, greatest(0, least({K - 1},
               CAST(floor((v - (SELECT lo FROM w))
                          / (SELECT wd FROM w) * {K}) AS INTEGER)))
               AS bkt
    FROM kept
), refcum AS MATERIALIZED (
    SELECT count(*)::DOUBLE AS rn, {ref_les}
    FROM bk WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), refq AS MATERIALIZED (
    SELECT {rcs} FROM refcum
), win AS (
    SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS n,
           {les}
    FROM bk GROUP BY 1
), a AS MATERIALIZED (
    SELECT day, n, n::DOUBLE * (0.0 + {terms}) AS a2
    FROM win
)
SELECT strftime(day, '%Y-%m-%d') AS day, n,
       floor(a2 * 1e6 + 0.5) / 1e6 AS a2,
       floor({p} * 1e6 + 0.5) / 1e6 AS p_value
FROM a
"""


def q_psi_drift_daily(spark, sf_dir):
    """Population Stability Index per daily window (streaming/
    drift.py::psi_drift — the model-monitoring industry's standard
    drift score, same one-windowed-aggregation shape as ks_drift so it
    inherits append-mode streaming legality): K per-bucket conditional
    sums per window, Laplace half-count smoothing on both sides so
    empty buckets stay defined, Σ(p−q)·ln(p/q) as a stateless
    projection. The oracle recomputes the reference histogram and
    replays every window's smoothed PSI."""
    from dask_ml_spark.streaming.drift import psi_drift, reference_histogram

    ev = _t(spark, sf_dir, "events")
    ref = reference_histogram(
        ev.where(F.col("ts") < F.lit(DRIFT_REF_END)), "value",
        bins=DRIFT_BINS)
    out = psi_drift(ev, "value", "ts", ref, window="1 day")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "n", r6(F.col("psi")).alias("psi"))


def _sql_psi_drift_daily() -> str:
    K = DRIFT_BINS
    half_k = float(K) / 2.0
    ref_cs = ", ".join(
        f"sum(CASE WHEN bkt = {k} THEN 1.0 ELSE 0.0 END) AS rc{k}"
        for k in range(K))
    win_cs = ",\n           ".join(
        f"sum(CASE WHEN bkt = {k} THEN 1.0 ELSE 0.0 END) AS c{k}"
        for k in range(K))
    # q_k is computed once (refq CTE) exactly as the engine's Python
    # literal; the per-window terms mirror (p - q) * ln(p / q)
    qk = ", ".join(f"(rc{k} + 0.5) / (rn + {half_k!r}) AS q{k}"
                   for k in range(K))
    terms = " + ".join(
        f"(((c{k} + 0.5) / (n::DOUBLE + {half_k!r}))"
        f" - (SELECT q{k} FROM refq))"
        f" * ln(((c{k} + 0.5) / (n::DOUBLE + {half_k!r}))"
        f" / (SELECT q{k} FROM refq))"
        for k in range(K))
    return f"""
WITH kept AS (
    SELECT ts, value::DOUBLE AS v FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
), lim AS (
    SELECT min(v) AS lo, max(v) AS hi FROM kept
    WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), w AS (SELECT lo, CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS wd
         FROM lim),
bk AS (
    SELECT ts, greatest(0, least({K - 1},
               CAST(floor((v - (SELECT lo FROM w))
                          / (SELECT wd FROM w) * {K}) AS INTEGER)))
               AS bkt
    FROM kept
), refc AS (
    SELECT count(*)::DOUBLE AS rn, {ref_cs}
    FROM bk WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), refq AS (
    SELECT {qk} FROM refc
), win AS (
    SELECT date_trunc('day', ts) AS day, count(*)::BIGINT AS n,
           {win_cs}
    FROM bk GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS day, n,
       floor((0.0 + {terms}) * 1e6 + 0.5) / 1e6 AS psi
FROM win
"""


def q_catdrift_daily(spark, sf_dir):
    """Categorical-mix drift per daily window (streaming/drift.py::
    categorical_drift — psi_drift for string columns, with an OTHER
    bucket absorbing categories unseen at fit time): one conditional
    sum per reference category per window, Laplace half-count
    smoothing, stateless PSI projection — the event-type mix monitor.
    The oracle replays the reference fit and every window's PSI via a
    days × categories join."""
    from dask_ml_spark.streaming.drift import (categorical_drift,
                                               reference_categories)

    ev = _t(spark, sf_dir, "events")
    ref = reference_categories(
        ev.where(F.col("ts") < F.lit(DRIFT_REF_END)), "event_type")
    out = categorical_drift(ev, "event_type", "ts", ref, window="1 day")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "n", r6(F.col("psi")).alias("psi"),
        r6(F.col("other_frac")).alias("other_frac"))


def _sql_catdrift_daily() -> str:
    return f"""
WITH kept AS (
    SELECT ts, event_type::VARCHAR AS c FROM events
    WHERE event_type IS NOT NULL
), refc AS (
    SELECT c, count(*)::DOUBLE AS rc FROM kept
    WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00' GROUP BY c
), refn AS (
    SELECT sum(rc) AS rn, (count(*) + 1)::DOUBLE / 2.0 AS hk FROM refc
), win AS (
    SELECT date_trunc('day', ts) AS day, c, count(*)::DOUBLE AS cnt
    FROM kept GROUP BY 1, 2
), wn AS (
    SELECT day, sum(cnt) AS n FROM win GROUP BY day
), terms AS (
    -- every (day, reference category) pair, zero-filled: a category
    -- MISSING from a window still contributes its smoothed term
    SELECT d.day, r.rc, coalesce(w.cnt, 0.0) AS cnt
    FROM (SELECT DISTINCT day FROM win) d
    CROSS JOIN refc r
    LEFT JOIN win w ON w.day = d.day AND w.c = r.c
), seen_psi AS (
    SELECT t.day,
           sum(((t.cnt + 0.5) / (wn.n + (SELECT hk FROM refn))
                - (t.rc + 0.5) / ((SELECT rn FROM refn)
                                  + (SELECT hk FROM refn)))
               * ln(((t.cnt + 0.5) / (wn.n + (SELECT hk FROM refn)))
                    / ((t.rc + 0.5) / ((SELECT rn FROM refn)
                                       + (SELECT hk FROM refn)))))
               AS s,
           sum(t.cnt) AS seen_cnt
    FROM terms t JOIN wn ON t.day = wn.day
    GROUP BY t.day
), full_psi AS (
    SELECT sp.day, wn.n,
           sp.s + ((wn.n - sp.seen_cnt + 0.5)
                   / (wn.n + (SELECT hk FROM refn))
                   - 0.5 / ((SELECT rn FROM refn)
                            + (SELECT hk FROM refn)))
                  * ln(((wn.n - sp.seen_cnt + 0.5)
                        / (wn.n + (SELECT hk FROM refn)))
                       / (0.5 / ((SELECT rn FROM refn)
                                 + (SELECT hk FROM refn)))) AS psi,
           (wn.n - sp.seen_cnt) / wn.n AS other_frac
    FROM seen_psi sp JOIN wn ON sp.day = wn.day
)
SELECT strftime(day, '%Y-%m-%d') AS day, n::BIGINT AS n,
       floor(psi * 1e6 + 0.5) / 1e6 AS psi,
       floor(other_frac * 1e6 + 0.5) / 1e6 AS other_frac
FROM full_psi
"""


def q_zdrift_daily(spark, sf_dir):
    """Mean/variance drift per daily window (streaming/drift.py::
    z_drift — the first-moment companion to ks/psi): ONE
    groupBy(window) of (n, Σx, Σx²) against a fixed reference's
    (μ, σ²), z = (mean_w − μ)/√(σ²/n_w) with a two-sided normal p and
    the window/reference variance ratio. Streaming-legal by the same
    conditional-sum argument; the oracle recomputes the reference
    moments and replays every window."""
    from dask_ml_spark.streaming.drift import reference_moments, z_drift

    ev = _t(spark, sf_dir, "events")
    ref = reference_moments(
        ev.where(F.col("ts") < F.lit(DRIFT_REF_END)), "value")
    out = z_drift(ev, "value", "ts", ref, window="1 day")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "n", r6(F.col("mean")).alias("mean"),
        r6(F.col("z_mean")).alias("z_mean"),
        r6(F.col("p_value")).alias("p_value"),
        r6(F.col("var_ratio")).alias("var_ratio"))


def _sql_zdrift_daily() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "z")
    return f"""
WITH kept AS (
    SELECT ts, value::DOUBLE AS v FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
), ref AS (
    SELECT count(*)::DOUBLE AS rn, sum(v) AS rs, sum(v * v) AS rq
    FROM kept WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), m AS (
    -- identical op order as reference_moments: mu = s/n first, then
    -- var = (q - n*mu*mu) / (n - 1.0)
    SELECT rs / rn AS mu,
           (rq - rn * (rs / rn) * (rs / rn)) / (rn - 1.0) AS var0
    FROM ref
), win AS (
    SELECT date_trunc('day', ts) AS day, count(*)::DOUBLE AS n,
           sum(v) AS s, sum(v * v) AS q
    FROM kept GROUP BY 1
), z AS MATERIALIZED (
    SELECT day, n, s / n AS mean,
           (s / n - (SELECT mu FROM m))
               / sqrt((SELECT var0 FROM m) / n) AS z,
           CASE WHEN n >= 2.0 THEN
               ((q - n * (s / n) * (s / n)) / (n - 1.0))
                   / (SELECT var0 FROM m)
           END AS var_ratio
    FROM win
)
SELECT strftime(day, '%Y-%m-%d') AS day, n::BIGINT AS n,
       floor(mean * 1e6 + 0.5) / 1e6 AS mean,
       floor(z * 1e6 + 0.5) / 1e6 AS z_mean,
       floor({p2} * 1e6 + 0.5) / 1e6 AS p_value,
       floor(var_ratio * 1e6 + 0.5) / 1e6 AS var_ratio
FROM z
"""


CORR_REF_END = "1996-01-01"


def q_quantile_drift_daily(spark, sf_dir):
    """Windowed tail-quantile drift (streaming/drift.py::
    quantile_drift — "did p99 move?", which the mean-based z_drift
    can't see and KS/PSI don't localize): per daily window the
    p50/p90/p99 read off the binned CDF built from the SAME K
    conditional sums as ks_drift (one windowed aggregation,
    streaming-legal), each with its delta vs the reference's own
    binned quantile. The oracle replays every crossing + interpolation
    from the identical integer counts. Accuracy contract (pinned in
    tests/test_streaming_drift.py::test_quantile_drift_accuracy_bound):
    |q̂ − q_true| ≤ (hi − lo)/bins whenever the window's true quantile
    is inside the reference support; out-of-support tails saturate at
    the edge (delta becomes a sign-correct lower bound — see the
    quantile_drift docstring)."""
    from dask_ml_spark.streaming.drift import (quantile_drift,
                                               reference_histogram)

    ev = _t(spark, sf_dir, "events")
    ref = reference_histogram(
        ev.where(F.col("ts") < F.lit(DRIFT_REF_END)), "value",
        bins=DRIFT_BINS)
    out = quantile_drift(ev, "value", "ts", ref, window="1 day",
                         probes=(0.5, 0.9, 0.99))
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"), "n",
        *[r6(F.col(c)).alias(c)
          for c in ("q50", "d50", "q90", "d90", "q99", "d99")])


def _sql_quantile_drift_daily() -> str:
    K = DRIFT_BINS
    # relational replay (the wide CASE-chain form exceeded DuckDB's
    # parser tree depth): per-(day, bucket) counts + a window cumsum
    # give (prev, cum) per present bucket; exactly one bucket crosses
    # each probe target, so a conditional sum selects its
    # interpolation. Counts are exact integers, the interpolation is
    # the engine's literal arithmetic.
    unit = f"((SELECT wd FROM w) / {K})"
    lo = "(SELECT lo FROM w)"

    def interp(t):
        return (f"{lo} + (bkt + ({t} - prev) / (cum - prev)) * {unit}")

    win_cols = []
    ref_scalars = []
    for q, lbl in ((0.5, "50"), (0.9, "90"), (0.99, "99")):
        t = f"({q!r} * n)"
        rt = f"({q!r} * (SELECT rn FROM rtot))"
        win_cols.append(
            f"sum(CASE WHEN prev < {t} AND cum >= {t} "
            f"THEN {interp(t)} ELSE 0.0 END) AS q{lbl}")
        ref_scalars.append(
            f"(SELECT {interp(rt)} FROM rcc "
            f"WHERE prev < {rt} AND cum >= {rt} "
            f"ORDER BY bkt LIMIT 1) AS rq{lbl}")
    wcols = ",\n           ".join(win_cols)
    rcols = ", ".join(ref_scalars)
    return f"""
WITH kept AS (
    SELECT ts, value::DOUBLE AS v FROM events
    WHERE value IS NOT NULL AND NOT isnan(value)
), lim AS (
    SELECT min(v) AS lo, max(v) AS hi FROM kept
    WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), w AS (SELECT lo, CASE WHEN hi = lo THEN 1.0 ELSE hi - lo END AS wd
         FROM lim),
bk AS (
    SELECT ts, greatest(0, least({K - 1},
               CAST(floor((v - (SELECT lo FROM w))
                          / (SELECT wd FROM w) * {K}) AS INTEGER)))
               AS bkt
    FROM kept
), rc AS (
    SELECT bkt, count(*)::DOUBLE AS c FROM bk
    WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00' GROUP BY bkt
), rtot AS (SELECT sum(c) AS rn FROM rc),
rcc AS (
    SELECT bkt, sum(c) OVER (ORDER BY bkt) AS cum,
           sum(c) OVER (ORDER BY bkt) - c AS prev
    FROM rc
), rq AS (SELECT {rcols}),
wc AS (
    SELECT date_trunc('day', ts) AS day, bkt, count(*)::DOUBLE AS c
    FROM bk GROUP BY 1, 2
), cc AS (
    SELECT day, bkt, c,
           sum(c) OVER (PARTITION BY day ORDER BY bkt) AS cum,
           sum(c) OVER (PARTITION BY day ORDER BY bkt) - c AS prev,
           sum(c) OVER (PARTITION BY day) AS n
    FROM wc
), qv AS (
    SELECT day, max(n) AS n,
           {wcols}
    FROM cc GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, n::BIGINT AS n,
       floor(q50 * 1e6 + 0.5) / 1e6 AS q50,
       floor((q50 - (SELECT rq50 FROM rq)) * 1e6 + 0.5) / 1e6 AS d50,
       floor(q90 * 1e6 + 0.5) / 1e6 AS q90,
       floor((q90 - (SELECT rq90 FROM rq)) * 1e6 + 0.5) / 1e6 AS d90,
       floor(q99 * 1e6 + 0.5) / 1e6 AS q99,
       floor((q99 - (SELECT rq99 FROM rq)) * 1e6 + 0.5) / 1e6 AS d99
FROM qv
"""


def q_corrdrift_monthly(spark, sf_dir):
    """Feature-relationship drift (streaming/drift.py::corr_drift —
    the drift family member marginal monitors can't see): per 30-day
    ship window the Pearson r between price and quantity, Fisher-
    transformed against a fixed reference r. ONE groupBy(window)
    co-moment aggregate; streaming-legal. The oracle recomputes the
    reference and replays every window (Spark's tumbling windows are
    1970-epoch aligned, which the SQL mirrors with integer epoch
    division)."""
    from dask_ml_spark.streaming.drift import (corr_drift,
                                               reference_correlation)

    li = _t(spark, sf_dir, "lineitem")
    ref = reference_correlation(
        li.where(F.col("l_shipdate") < F.lit(CORR_REF_END)),
        "l_extendedprice", "l_quantity")
    out = corr_drift(li, "l_extendedprice", "l_quantity", "l_shipdate",
                     ref, window="30 days")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("win"),
        "n", r6(F.col("corr")).alias("corr"),
        r6(F.col("z")).alias("z"),
        r6(F.col("p_value")).alias("p_value"))


def _sql_corrdrift_monthly() -> str:
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "z")
    w = 30 * 86400
    return f"""
WITH kept AS (
    SELECT l_shipdate AS ts, l_extendedprice::DOUBLE AS a,
           l_quantity::DOUBLE AS b
    FROM lineitem
    WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)
      AND l_quantity IS NOT NULL AND NOT isnan(l_quantity)
), ref AS (
    SELECT 0.5 * ln((1.0 + corr(a, b)) / (1.0 - corr(a, b))) AS z0
    FROM kept WHERE ts < TIMESTAMP '{CORR_REF_END} 00:00:00'
), win AS (
    -- Spark tumbling windows align to the 1970 epoch
    SELECT to_timestamp((epoch(ts)::BIGINT // {w}) * {w}) AS ws,
           count(*)::BIGINT AS n, corr(a, b) AS r
    FROM kept GROUP BY 1
), z AS MATERIALIZED (
    SELECT ws, n, r,
           CASE WHEN n >= 4 AND r IS NOT NULL AND abs(r) < 1.0
                THEN (0.5 * ln((1.0 + r) / (1.0 - r))
                      - (SELECT z0 FROM ref)) * sqrt(n - 3.0)
           END AS z
    FROM win
)
SELECT strftime(ws, '%Y-%m-%d') AS win, n,
       floor(r * 1e6 + 0.5) / 1e6 AS corr,
       floor(z * 1e6 + 0.5) / 1e6 AS z,
       floor(CASE WHEN z IS NULL THEN NULL
                  ELSE {p2} END * 1e6 + 0.5) / 1e6
           AS p_value
FROM z
"""


COV_COLS = ["l_extendedprice", "l_quantity", "l_discount", "l_tax"]


def q_covdrift_monthly(spark, sf_dir):
    """Covariance-structure drift (streaming/drift.py::cov_drift — the
    multivariate drift-family member: ALL d(d−1)/2 pairwise Pearson
    correlations per 30-day ship window, each Fisher-compared to a
    fixed reference, with an in-row Benjamini–Hochberg step-up over
    the window's pair family plus max|z| / Frobenius-delta family
    scalars). ONE groupBy(window) aggregation of the 6 corr
    aggregates + a stateless array-HOF projection; streaming-legal.
    The oracle recomputes the reference, replays every window's
    Fisher z and p, and reproduces the BH q via the partitioned
    suffix-min window (tied p's share the largest-rank q — exactly
    the engine's min over {p_(k) ≥ p} of p_(k)·m/k)."""
    from dask_ml_spark.streaming.drift import (cov_drift,
                                               reference_comoments)

    li = _t(spark, sf_dir, "lineitem")
    ref = reference_comoments(
        li.where(F.col("l_shipdate") < F.lit(CORR_REF_END)), COV_COLS)
    out = cov_drift(li, COV_COLS, "l_shipdate", ref, window="30 days")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("win"),
        "col_a", "col_b", "n",
        r6(F.col("corr")).alias("corr"),
        r6(F.col("z")).alias("z"),
        r6(F.col("p_value")).alias("p_value"),
        r6(F.col("q_value")).alias("q_value"),
        "reject",
        r6(F.col("max_abs_z")).alias("max_abs_z"),
        r6(F.col("frob_delta")).alias("frob_delta"),
        "valid")


def _covdrift_sql(cols, w: int, kept_sql: str, ref_where: str) -> str:
    """Shared cov-drift oracle body (the Fisher-z + BH + family-scalar
    replay of streaming/drift.py::cov_drift). ``kept_sql`` must be a
    CTE definition chain whose LAST CTE is kept(ts, x0..x{d-1}), with
    x_i mapping to ``cols[i]``; ``ref_where`` selects the reference
    slice out of kept. ``w`` is the tumbling-window width in seconds."""
    from dask_ml_spark.functions.stats import duckdb_sql, normal_p2

    p2 = duckdb_sql(normal_p2, "z")
    d = len(cols)
    pairs = [(i, j) for i in range(d) for j in range(i + 1, d)]
    ref_cols = ", ".join(
        f"corr(x{i}, x{j}) AS r{k}" for k, (i, j) in enumerate(pairs))
    win_cols = ", ".join(
        f"corr(x{i}, x{j}) AS c{k}" for k, (i, j) in enumerate(pairs))
    z_cols = ", ".join(
        f"""CASE WHEN n >= 4 AND c{k} IS NOT NULL AND abs(c{k}) < 1.0
             THEN (0.5 * ln((1.0 + c{k}) / (1.0 - c{k}))
                   - (SELECT 0.5 * ln((1.0 + r{k}) / (1.0 - r{k}))
                      FROM ref)) * sqrt(n - 3.0) END AS z{k}"""
        for k in range(len(pairs)))
    # frob: left-to-right addition in pair index order (the engine's
    # Python-loop order) so the double sum is bit-reproducible
    frob_terms = " + ".join(
        f"""CASE WHEN z{k} IS NOT NULL
             THEN (c{k} - (SELECT r{k} FROM ref))
                  * (c{k} - (SELECT r{k} FROM ref)) ELSE 0.0 END"""
        for k in range(len(pairs)))
    any_valid = " OR ".join(
        f"z{k} IS NOT NULL" for k in range(len(pairs)))
    branches = "\n    UNION ALL\n".join(
        f"""    SELECT ws, n, '{cols[i]}' AS col_a,
           '{cols[j]}' AS col_b, c{k} AS r, z{k} AS z, frob
    FROM zf""" for k, (i, j) in enumerate(pairs))
    return f"""
WITH {kept_sql}, ref AS MATERIALIZED (
    SELECT {ref_cols}
    FROM kept WHERE {ref_where}
), win AS MATERIALIZED (
    -- Spark tumbling windows align to the 1970 epoch
    SELECT to_timestamp((epoch(ts)::BIGINT // {w}) * {w}) AS ws,
           count(*)::BIGINT AS n, {win_cols}
    FROM kept GROUP BY 1
), z AS MATERIALIZED (
    SELECT *, {z_cols}
    FROM win
), zf AS MATERIALIZED (
    SELECT *, CASE WHEN {any_valid}
                   THEN sqrt(0.0 + {frob_terms}) END AS frob
    FROM z
), pairs AS MATERIALIZED (
{branches}
), p AS (
    SELECT *, CASE WHEN z IS NOT NULL
                   THEN {p2} END AS p
    FROM pairs
), fam AS (
    SELECT ws, p, row_number() OVER (PARTITION BY ws ORDER BY p) AS rn,
           count(*) OVER (PARTITION BY ws) AS mm
    FROM p WHERE p IS NOT NULL
), adj AS (
    SELECT ws, p,
           least(1.0, min(p * mm / rn)
                 OVER (PARTITION BY ws ORDER BY rn
                       ROWS BETWEEN CURRENT ROW
                       AND UNBOUNDED FOLLOWING)) AS q
    FROM fam
), adj_d AS (
    -- tied p's share one q (largest-rank suffix min) — dedup so the
    -- join back stays 1:1
    SELECT ws, p, min(q) AS q FROM adj GROUP BY ws, p
), mz AS (
    SELECT ws, max(abs(z)) AS maxz FROM pairs GROUP BY ws
)
SELECT strftime(p.ws, '%Y-%m-%d') AS win, p.col_a, p.col_b, p.n,
       floor(p.r * 1e6 + 0.5) / 1e6 AS corr,
       floor(p.z * 1e6 + 0.5) / 1e6 AS z,
       floor(p.p * 1e6 + 0.5) / 1e6 AS p_value,
       floor(adj_d.q * 1e6 + 0.5) / 1e6 AS q_value,
       CASE WHEN adj_d.q IS NOT NULL THEN adj_d.q <= 0.05 END AS reject,
       floor(mz.maxz * 1e6 + 0.5) / 1e6 AS max_abs_z,
       floor(p.frob * 1e6 + 0.5) / 1e6 AS frob_delta,
       p.z IS NOT NULL AS valid
FROM p
LEFT JOIN adj_d ON p.ws = adj_d.ws AND p.p = adj_d.p
LEFT JOIN mz ON p.ws = mz.ws
"""


def _sql_covdrift_monthly() -> str:
    kept_where = " AND ".join(
        f"{c} IS NOT NULL AND NOT isnan({c}::DOUBLE)" for c in COV_COLS)
    kept_sel = ", ".join(
        f"{c}::DOUBLE AS x{i}" for i, c in enumerate(COV_COLS))
    kept = f"""kept AS (
    SELECT l_shipdate AS ts, {kept_sel}
    FROM lineitem
    WHERE {kept_where}
)"""
    return _covdrift_sql(COV_COLS, 30 * 86400, kept,
                         f"ts < TIMESTAMP '{CORR_REF_END} 00:00:00'")


# covdrift_projected: the documented d>30 escape for cov_drift
# (streaming/drift.py::reference_comoments caps d at 30 because the
# monitor generates 1 + d(d-1)/2 aggregate columns) — project first,
# then monitor the projected block. With d=64 and k=8 the Achlioptas
# density is 1/sqrt(64) = 1/8, so the sparse scale sqrt(1/density)/
# sqrt(k) is EXACTLY 1.0: every projection weight is 0 or ±1.0 and the
# oracle inlines them as exact literals (no float-parse hazard). The
# projection fit needs NO data pass (seeded matrix), so both engines
# share the same weights by construction.
RP_K = 8
RP_SEED = 0
RP_D = 64
RP_EPOCH0 = 820454400       # 1996-01-01 00:00:00 UTC, day-aligned
RP_REF_DAYS = 150           # reference slice: first 150 synthetic days
RP_WINDOW_DAYS = 60
# the synthetic day index folds at 100k days (~274 years): scaled
# copies of the table shift vec_id by huge key strides (sf1 benchdata
# uses 1e8), and an unfolded vec_id*86400 overflows the max timestamp
# — caught by the r13 sf1 audit. Identity below 100k ids, so the
# sf0.01/sf0.1 oracle hashes are unchanged; at larger scales the
# shifted copies share the day range (more vectors per window).
RP_DAY_FOLD = 100_000


def _rp_components():
    from dask_ml_spark.operators.random_projection import \
        SparseRandomProjection

    return SparseRandomProjection(
        n_components=RP_K, random_state=RP_SEED)._make_components(RP_D)


def q_covdrift_projected(spark, sf_dir):
    """Covariance-structure drift on a PROJECTED wide block — the
    recipe reference_comoments' d<=30 cap points at: 64-dim embeddings
    -> SparseRandomProjection(k=8, seed 0) -> cov_drift over the 8
    projected coordinates (28 pairs instead of 2016). The projection
    folds into 8 narrow JVM column expressions (~8 ±1.0 terms each, no
    UDF, no shuffle); the monitor is then the standard ONE
    groupBy(window) + in-row BH. Time axis: one vector per synthetic
    day (vec_id), 60-day tumbling windows, reference = first 150 days.
    The oracle replays the ±1.0-weight projection inline and the full
    Fisher-z / BH / family-scalar pipeline on the projected columns."""
    from dask_ml_spark.operators.random_projection import \
        SparseRandomProjection
    from dask_ml_spark.streaming.drift import (cov_drift,
                                               reference_comoments)

    em = _t(spark, sf_dir, "embeddings")
    ecols = [f"e{j}" for j in range(RP_D)]
    wide = em.select(
        F.timestamp_seconds(
            F.lit(RP_EPOCH0)
            + (F.col("vec_id") % RP_DAY_FOLD) * 86400).alias("ts"),
        *[F.col("embedding")[j].alias(c) for j, c in enumerate(ecols)])
    rp = SparseRandomProjection(n_components=RP_K, random_state=RP_SEED)
    proj = rp.fit(wide, columns=ecols).transform(wide)
    pcols = [f"rp{k}" for k in range(RP_K)]
    ref = reference_comoments(
        proj.where(F.col("ts") < F.timestamp_seconds(
            F.lit(RP_EPOCH0 + RP_REF_DAYS * 86400))), pcols)
    out = cov_drift(proj, pcols, "ts", ref,
                    window=f"{RP_WINDOW_DAYS} days")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("win"),
        "col_a", "col_b", "n",
        r6(F.col("corr")).alias("corr"),
        r6(F.col("z")).alias("z"),
        r6(F.col("p_value")).alias("p_value"),
        r6(F.col("q_value")).alias("q_value"),
        "reject",
        r6(F.col("max_abs_z")).alias("max_abs_z"),
        r6(F.col("frob_delta")).alias("frob_delta"),
        "valid")


def _sql_covdrift_projected() -> str:
    comp = _rp_components()
    # replicate SparseRandomProjection.transform's fold exactly:
    # seed 0.0, then + embedding[j]::DOUBLE * w in ascending-j order,
    # skipping zero weights (left-assoc additions = same float bits)
    proj_sel = []
    for k in range(RP_K):
        terms = "".join(
            f" + embedding[{j + 1}]::DOUBLE * {float(w)!r}"
            for j, w in enumerate(comp[k]) if w != 0.0)
        proj_sel.append(f"0.0{terms} AS x{k}")
    kept_where = " AND ".join(
        f"x{k} IS NOT NULL AND NOT isnan(x{k})" for k in range(RP_K))
    kept = f"""kept0 AS (
    SELECT to_timestamp({RP_EPOCH0}
                        + (vec_id % {RP_DAY_FOLD}) * 86400) AS ts,
           {", ".join(proj_sel)}
    FROM embeddings
), kept AS (
    SELECT * FROM kept0 WHERE {kept_where}
)"""
    ref_end = RP_EPOCH0 + RP_REF_DAYS * 86400
    return _covdrift_sql([f"rp{k}" for k in range(RP_K)],
                         RP_WINDOW_DAYS * 86400, kept,
                         f"ts < to_timestamp({ref_end})")



EWMA_LAM = 0.2


def q_ewmadrift_daily(spark, sf_dir):
    """EWMA control chart on daily value means (streaming/drift.py::
    ewma_drift — the small-shift accumulator: z_drift tests windows in
    isolation, the EWMA pools a persistent creep across days until it
    crosses 3 sigma). ONE groupBy(window) aggregate + the exact
    ascending recursion over ≤max_windows driver rows; the oracle
    replays E_t and the exact variance recursion with a RECURSIVE
    CTE, term-for-term in the same float order."""
    from dask_ml_spark.streaming.drift import ewma_drift, reference_moments

    ev = _t(spark, sf_dir, "events")
    ref = reference_moments(
        ev.where(F.col("ts") < F.lit(DRIFT_REF_END)), "value")
    out = ewma_drift(ev, "value", "ts", ref, window="1 day",
                     lam=EWMA_LAM)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "n", r6(F.col("mean")).alias("mean"),
        r6(F.col("ewma")).alias("ewma"),
        r6(F.col("z")).alias("z"), "signal")


def _sql_ewmadrift_daily() -> str:
    lam = EWMA_LAM
    one_m = 1.0 - lam           # the engine's Python literals, inlined
    one_m2 = (1.0 - lam) ** 2
    lam2 = lam * lam
    return f"""
WITH RECURSIVE kept AS (
    SELECT ts, value::DOUBLE AS v FROM events
    WHERE value IS NOT NULL AND NOT isnan(value::DOUBLE)
), ref AS MATERIALIZED (
    SELECT avg(v) AS mu,
           (sum(v * v) - count(*) * (sum(v) / count(*))
                * (sum(v) / count(*))) / (count(*) - 1.0) AS var
    FROM kept WHERE ts < TIMESTAMP '{DRIFT_REF_END} 00:00:00'
), win AS (
    SELECT date_trunc('day', ts) AS ws, count(*)::DOUBLE AS n,
           sum(v) AS s
    FROM kept GROUP BY 1
), ord AS MATERIALIZED (
    SELECT ws, n, s, row_number() OVER (ORDER BY ws) AS rn FROM win
), e AS (
    SELECT rn, ws, n, s / n AS xbar,
           {lam!r} * (s / n) + {one_m!r} * (SELECT mu FROM ref)
               AS ewma,
           {one_m2!r} * 0.0
               + {lam2!r} * (SELECT var FROM ref) / n AS vv
    FROM ord WHERE rn = 1
    UNION ALL
    SELECT o.rn, o.ws, o.n, o.s / o.n,
           {lam!r} * (o.s / o.n) + {one_m!r} * e.ewma,
           {one_m2!r} * e.vv
               + {lam2!r} * (SELECT var FROM ref) / o.n
    FROM e JOIN ord o ON o.rn = e.rn + 1
)
SELECT strftime(ws, '%Y-%m-%d') AS day, n::BIGINT AS n,
       floor(xbar * 1e6 + 0.5) / 1e6 AS mean,
       floor(ewma * 1e6 + 0.5) / 1e6 AS ewma,
       floor((ewma - (SELECT mu FROM ref)) / sqrt(vv) * 1e6 + 0.5)
           / 1e6 AS z,
       abs((ewma - (SELECT mu FROM ref)) / sqrt(vv)) > 3.0 AS signal
FROM e
"""


def catalog_queries():
    """This family's queries() entries (order preserved by __init__)."""
    return {
        "quality_drift": q_quality_drift,
        "ks_drift_daily": q_ks_drift_daily,
        "addrift_daily": q_addrift_daily,
        "psi_drift_daily": q_psi_drift_daily,
        "catdrift_daily": q_catdrift_daily,
        "zdrift_daily": q_zdrift_daily,
        "ewmadrift_daily": q_ewmadrift_daily,
        "corrdrift_monthly": q_corrdrift_monthly,
        "covdrift_monthly": q_covdrift_monthly,
        "covdrift_projected": q_covdrift_projected,
        "quantile_drift_daily": q_quantile_drift_daily,
        "embedding_drift_labels": q_embedding_drift_labels,
    }


def catalog_oracles():
    """This family's oracle_sql() entries — built lazily at call time,
    exactly as the original build_catalog did."""
    return {
        "quality_drift": SQL_QUALITY_DRIFT,
        "ks_drift_daily": _sql_ks_drift_daily(),
        "addrift_daily": _sql_addrift_daily(),
        "psi_drift_daily": _sql_psi_drift_daily(),
        "catdrift_daily": _sql_catdrift_daily(),
        "zdrift_daily": _sql_zdrift_daily(),
        "ewmadrift_daily": _sql_ewmadrift_daily(),
        "corrdrift_monthly": _sql_corrdrift_monthly(),
        "covdrift_monthly": _sql_covdrift_monthly(),
        "covdrift_projected": _sql_covdrift_projected(),
        "quantile_drift_daily": _sql_quantile_drift_daily(),
        "embedding_drift_labels": _sql_embedding_drift_labels(),
    }
