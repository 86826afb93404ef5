"""Windowed drift monitors (beyond-reference).

The r9/r10 stats family answers "did the distribution move?" for
batch corpora; a 100 TB ingest pipeline wants the same answer PER
ARRIVAL WINDOW, continuously, for every way a feed can rot:

- ``ks_drift``     — distribution SHAPE vs a reference histogram
- ``ad_drift``     — distribution TAILS: the Anderson–Darling-weighted
  quadratic ECDF distance, which amplifies the shape gaps KS's
  uniform sup-norm barely sees (clipping bugs, outlier influx)
- ``psi_drift``    — distribution MASS (the PSI score, numeric)
- ``ewma_drift``   — small persistent LEVEL creep: the EWMA control
  chart pools evidence across windows (batch/backfill cadence only —
  sequential by nature, the one non-streaming member, documented)
- ``categorical_drift`` — category MIX, with an OTHER bucket for
  categories unseen at fit time
- ``z_drift``      — LEVEL and SPREAD vs reference moments
- ``corr_drift``   — feature RELATIONSHIP (Fisher-z vs a reference r),
  which every marginal monitor above is blind to
- ``cov_drift``    — COVARIANCE STRUCTURE: all d(d−1)/2 pairwise
  correlations vs a reference co-moment fit, with an in-row BH
  step-up and family-level max|z| / Frobenius-delta scalars — the
  multivariate member that catches a whole feature block
  decorrelating at once (corr_drift watches one pair)

Each is ONE built-in windowed aggregation — the per-window statistics
are conditional sums (the ECDF point at edge k is Σ[bucket ≤ k], a PSI
bucket count is Σ[bucket = k], the co-moments are plain sums), so all
of them EXCEPT ewma_drift are legal in append-mode Structured
Streaming with a watermark, with NO cumsum, NO custom state
(ewma_drift's cross-window recursion is the documented exception —
it raises on a stream and runs on the batch cadence). The identical code path
serves batch frames (same Catalyst expressions, batch source) — which
is what the SQL oracles replay and what the stream-vs-batch parity
tests pin. Fit functions (reference_histogram / reference_categories /
reference_moments / reference_correlation) are bounded one-aggregate
passes over a reference slice.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.utils import collect_capped


def reference_histogram(df: DataFrame, value_col: str,
                        bins: int = 32) -> dict:
    """Fit the fixed reference for ks_drift / psi_drift: (lo, hi) from
    one min/max aggregate, then the reference CDF at the K−1 interior
    bucket edges via the SAME conditional-sum shape the monitors use
    (one more aggregate — counts are exact integers, so the cum
    fractions are engine-reproducible doubles). Returns
    {"lo", "hi", "bins", "n", "cum": [K-1 fractions],
    "counts": [K per-bucket counts]} — cum feeds ks_drift, counts
    feeds psi_drift."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    v = F.col(value_col).cast("double")
    kept = df.where(v.isNotNull() & ~F.isnan(v)).select(v.alias("__v"))
    lohi = kept.agg(F.min("__v").alias("lo"),
                    F.max("__v").alias("hi")).collect()[0]
    if lohi["lo"] is None:
        raise ValueError("reference_histogram: no non-null values")
    lo, hi = float(lohi["lo"]), float(lohi["hi"])
    width = (hi - lo) or 1.0
    row = kept.agg(
        F.count(F.lit(1)).alias("n"),
        *_le_sum_cols("`__v`", lo, width, bins, stem="le")).collect()[0]
    n = float(row["n"])
    le = [row[f"le{k}"] for k in range(bins - 1)] + [n]
    counts = [le[0]] + [le[k] - le[k - 1] for k in range(1, bins)]
    return {"lo": lo, "hi": hi, "bins": bins, "n": n,
            "cum": [le[k] / n for k in range(bins - 1)],
            "counts": counts}


def _window_agg(kept: DataFrame, ts_col: str, window: str,
                watermark: str | None, aggs) -> DataFrame:
    """The shared monitor skeleton: (optional) watermark → ONE
    groupBy(window(ts)) aggregation with a leading row count. Every
    monitor in this module is this one aggregation plus a stateless
    projection — extracting it here keeps the window/watermark
    handling identical across the family (and makes monitor #N ~40
    lines instead of ~90)."""
    if watermark is not None:
        kept = kept.withWatermark(ts_col, watermark)
    return (kept.groupBy(F.window(ts_col, window).alias("__w"))
            .agg(F.count(F.lit(1)).alias("n"), *aggs))


def _emit(agg: DataFrame, *cols) -> DataFrame:
    """The shared projection head: (window_start, n, monitor cols...)."""
    return agg.select(F.col("__w.start").alias("window_start"),
                      F.col("n").cast("long").alias("n"), *cols)


def _numeric_kept(df: DataFrame, value_col: str):
    """Complete-case numeric input: the cast column + filtered frame."""
    v = F.col(value_col).cast("double")
    return v, df.where(v.isNotNull() & ~F.isnan(v))


def _bucket_expr(v, lo: float, width: float, bins: int):
    """Clamped equal-width bucket — identical literal arithmetic in the
    fit, the monitor, and the SQL oracle. Values outside the reference
    range clamp into the edge buckets (a drifted stream legitimately
    escapes the reference support; the edge mass then shows up as
    ECDF disagreement, which is the point)."""
    return F.greatest(
        F.lit(0),
        F.least(F.lit(bins - 1),
                F.floor((v - F.lit(lo)) / F.lit(width) * F.lit(bins))
                .cast("int")))


# --- single-parse SQL twins of the Column builders -----------------------
#
# Each aggregate list below was built with per-element Column ops —
# ~4 py4j round trips per bin/category/pair, ~100-400 per monitor
# (measured build-dominated: ks_drift 1.87 s build vs 0.62 s exec at
# sf0.1). These emit the SAME trees as ONE SQL string per output column
# (casts/literals typed exactly as F.col().cast('double') / F.lit —
# the guide §7.3 conversion the ANN/bootstrap/pairwise builders got),
# so plans and results are bit-identical.

def _qcol_sql(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _vcast_sql(value_col: str) -> str:
    """CAST(`col` AS DOUBLE) — the _numeric_kept value expression."""
    return f"CAST({_qcol_sql(value_col)} AS DOUBLE)"


def _bucket_sql(v_sql: str, lo: float, width: float, bins: int) -> str:
    """The _bucket_expr tree as SQL (INT literals for 0/bins-1/bins,
    DOUBLE via repr+D for lo/width — F.lit's exact typing)."""
    from dask_ml_spark.utils import sql_scalar_lit
    lo_l, w_l = sql_scalar_lit(float(lo)), sql_scalar_lit(float(width))
    return (f"GREATEST(0, LEAST({bins - 1}, "
            f"CAST(FLOOR(({v_sql} - {lo_l}) / {w_l} * {bins}) AS INT)))")


def _le_sum_cols(v_sql: str, lo: float, width: float, bins: int,
                 stem: str = "__le"):
    """The K−1 ECDF conditional sums Σ[bucket ≤ k] as one parsed
    expression per column (SUM(CAST((b <= k) AS DOUBLE)))."""
    b = _bucket_sql(v_sql, lo, width, bins)
    return [F.expr(f"SUM(CAST(({b} <= {k}) AS DOUBLE))").alias(f"{stem}{k}")
            for k in range(bins - 1)]


def _col_array_expr(names) -> "F.Column":
    """array(`c0`, `c1`, …) in one parse."""
    return F.expr("array(" + ", ".join(_qcol_sql(c) for c in names) + ")")


def ks_drift(df: DataFrame, value_col: str, ts_col: str, ref: dict,
             window: str = "1 hour",
             watermark: str | None = None) -> DataFrame:
    """One-sample binned KS drift per tumbling window against ``ref``
    (a reference_histogram result): D = max_k |ECDF_window(edge_k) −
    ref.cum[k]|, p = the asymptotic Kolmogorov tail at λ = D·√n.

    Works unchanged on a batch frame or a readStream (pass
    ``watermark`` for append-mode streaming); either way it is ONE
    groupBy(window(ts)) aggregation — the K−1 ECDF points are
    conditional sums, the D/p arithmetic is a stateless projection.
    Returns (window_start, n, d_stat, p_value) per window.
    """
    from dask_ml_spark.functions.stats import ks_p, spark_sql

    bins = int(ref["bins"])
    cum = list(ref["cum"])
    lo = float(ref["lo"])
    width = (float(ref["hi"]) - lo) or 1.0
    from dask_ml_spark.utils import sql_scalar_lit

    v, kept = _numeric_kept(df, value_col)
    agg = _window_agg(kept, ts_col, window, watermark,
                      _le_sum_cols(_vcast_sql(value_col), lo, width, bins))
    n = F.col("n").cast("double")
    # bins=2 leaves exactly one ECDF edge: GREATEST needs >= 2 args;
    # one parsed expression for D (same ABS/GREATEST tree as before)
    t_sqls = [f"ABS(`__le{k}` / CAST(`n` AS DOUBLE) - "
              f"{sql_scalar_lit(float(cum[k]))})"
              for k in range(bins - 1)]
    d = F.expr(t_sqls[0] if len(t_sqls) == 1
               else "GREATEST(" + ", ".join(t_sqls) + ")")
    return _emit(agg.withColumn("__d", d)
                 .withColumn("__lam", F.col("__d") * F.sqrt(n)),
                 F.col("__d").alias("d_stat"),
                 F.expr(spark_sql(ks_p, "__lam")).alias("p_value"))


def ad_drift(df: DataFrame, value_col: str, ts_col: str, ref: dict,
             window: str = "1 hour",
             watermark: str | None = None) -> DataFrame:
    """One-sample binned ANDERSON–DARLING drift per tumbling window
    against ``ref`` (a reference_histogram fit) — the tail-sensitive
    member of the shape family: KS weights every ECDF gap equally, so
    a pure tail shift (the top/bottom percentile fattening while the
    bulk holds — exactly what a clipping bug or an outlier influx
    looks like) barely moves D; AD divides each squared gap by
    F₀(1−F₀), amplifying the tails where that product vanishes.

    Statistic (the grouped-data quadrature of n·∫(Fn−F₀)²/(F₀(1−F₀))
    dF₀ on the reference grid): at each interior bucket edge k with
    reference CDF c_k ∈ (0,1),
      A² = n · Σ_k (Fn_k − c_k)² · g_k,
      g_k = (c_{k+1} − c_{k−1})·0.5 / (c_k·(1 − c_k))
    with c_0 = 0, c_K = 1 (centered dF₀ mass attribution); edges
    where c_k ∉ (0,1) (empty reference edge buckets) contribute 0 —
    their mass reappears at the first interior edge, the clamped-
    bucket convention every monitor here shares. Like binned KS the
    grid quadrature converges to the exact A² as K grows on smooth
    references (pytest-pinned against the continuous formula on
    uniform data); p = the Marsaglia 2004 elementary two-branch tail
    (functions/stats.py::ad_p — exact for the FIXED-reference
    case 0 null, which is precisely this monitor's setting).

    Same scale shape as ks_drift: ONE groupBy(window(ts)) of K−1
    conditional sums, then a stateless projection — the Fn/constant
    arrays fold via zip_with/aggregate (constant expression-tree
    depth in K, the categorical_drift 512-cap lesson), append-mode
    streaming legal with a watermark, identical code path on batch
    (what the SQL oracle replays). Returns
    (window_start, n, a2, p_value) per window.
    """
    from dask_ml_spark.functions.stats import ad_p, spark_sql

    bins = int(ref["bins"])
    cum = [float(c) for c in ref["cum"]]
    lo = float(ref["lo"])
    width = (float(ref["hi"]) - lo) or 1.0
    # g_k precomputed as ONE literal per edge (engine-reproducible:
    # the oracle replays this exact arithmetic from its own cum)
    full = [0.0] + cum + [1.0]
    g = [((full[k + 2] - full[k]) * 0.5 / (c * (1.0 - c))
          if 0.0 < c < 1.0 else 0.0)
         for k, c in enumerate(cum)]
    from dask_ml_spark.utils import lit_array

    v, kept = _numeric_kept(df, value_col)
    agg = _window_agg(kept, ts_col, window, watermark,
                      _le_sum_cols(_vcast_sql(value_col), lo, width, bins))
    n = F.col("n").cast("double")
    le_arr = _col_array_expr([f"__le{k}" for k in range(bins - 1)])
    cum_arr = lit_array([float(c) for c in cum])
    g_arr = lit_array([float(x) for x in g])
    d2 = F.zip_with(le_arr, cum_arr,
                    lambda le, c: (le / n - c) * (le / n - c))
    terms = F.zip_with(d2, g_arr, lambda x, gk: x * gk)
    a2 = n * F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    return _emit(agg.withColumn("__a2", a2),
                 F.col("__a2").alias("a2"),
                 F.expr(spark_sql(ad_p, "__a2")).alias("p_value"))


def psi_drift(df: DataFrame, value_col: str, ts_col: str, ref: dict,
              window: str = "1 hour",
              watermark: str | None = None) -> DataFrame:
    """Population Stability Index per tumbling window against ``ref``
    (a reference_histogram result): PSI = Σ_k (p_k − q_k)·ln(p_k/q_k)
    over the SAME K clamped equal-width buckets — the model-monitoring
    industry's standard drift score (rule of thumb: < 0.1 stable,
    0.1–0.25 moderate shift, > 0.25 action). Same shape as ks_drift:
    ONE groupBy(window(ts)) aggregation whose K per-bucket counts are
    conditional sums, then a stateless projection — append-mode
    streaming legal with a watermark, identical code path on batch
    (what the SQL oracle replays).

    Zero-count buckets are handled by the deterministic additive
    smoothing p_k = (c_k + 0.5)/(n + K/2) on BOTH sides (the Laplace
    half-count; engine-replayable, unlike an eps clamp whose eps is a
    tuning knob). Returns (window_start, n, psi) per window.
    """
    bins = int(ref["bins"])
    if "counts" not in ref:
        raise ValueError("psi_drift needs a reference_histogram fit "
                         "with per-bucket counts (refit — older dicts "
                         "carried only the CDF)")
    rc = [float(c) for c in ref["counts"]]
    rn = float(ref["n"])
    lo = float(ref["lo"])
    width = (float(ref["hi"]) - lo) or 1.0
    from dask_ml_spark.utils import lit_array

    v, kept = _numeric_kept(df, value_col)
    b = _bucket_sql(_vcast_sql(value_col), lo, width, bins)
    agg = _window_agg(kept, ts_col, window, watermark,
                      [F.expr(f"SUM(CAST(({b} = {k}) AS DOUBLE))")
                       .alias(f"__c{k}") for k in range(bins)])
    n = F.col("n").cast("double")
    half_k = float(bins) / 2.0
    # flat zip_with/aggregate, not a bins-deep chained add — constant
    # expression-tree depth at any bin count (the categorical_drift
    # 512-cap JVM-stack lesson; reference_histogram has no bins cap),
    # same left-fold float order as the old chain (seed 0.0, bin order)
    carr = _col_array_expr([f"__c{k}" for k in range(bins)])
    qarr = lit_array([(rc[k] + 0.5) / (rn + half_k)
                      for k in range(bins)])
    terms = F.zip_with(
        carr, qarr,
        lambda cnt, q: ((cnt + 0.5) / (n + F.lit(half_k)) - q)
        * F.log(((cnt + 0.5) / (n + F.lit(half_k))) / q))
    psi = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    return _emit(agg.withColumn("__psi", psi),
                 F.col("__psi").alias("psi"))


def ewma_drift(df: DataFrame, value_col: str, ts_col: str, ref: dict,
               window: str = "1 hour", lam: float = 0.2,
               level: float = 3.0,
               max_windows: int = 100_000) -> DataFrame:
    """EWMA control chart over window means — the SMALL-SHIFT
    accumulator the per-window family can't be: z_drift tests each
    window in isolation, so a persistent 0.3σ mean creep needs a huge
    window to ever clear 3σ; the EWMA E_t = λ·x̄_t + (1−λ)·E_{t−1}
    pools evidence across windows and crosses its limit after a
    handful of drifted ones (the classic Roberts/Lucas–Saccucci
    chart, λ ≈ 0.2, L = 3).

    SEQUENTIAL BY NATURE: each window's score depends on the previous
    one, so unlike every other monitor here this is NOT append-mode
    streaming legal — it raises on a streaming frame (watch streams
    with z_drift/ks_drift/ad_drift; run this on the scheduled batch/
    backfill cadence). The recursion steps over the PRESENT windows
    in ascending start order (an empty window has no row and is
    simply skipped, documented).

    Exact variance recursion alongside the mean:
    V_t = (1−λ)²·V_{t−1} + λ²·σ²_ref/n_t (so varying window sizes are
    handled exactly, not by the constant-n closed form), z_t =
    (E_t − μ_ref)/√V_t, signal = |z_t| > level.

    Shape: ONE groupBy(window(ts)) aggregate of (n, Σx) — the
    irreducible pass — then the ≤max_windows window rows (loud cap;
    a year of hourly windows is ~9k rows of driver state) drive the
    exact ascending recursion; the SQL oracle replays it with a
    RECURSIVE CTE term-for-term. Returns
    (window_start, n, mean, ewma, z, signal) per window.
    """
    if df.isStreaming:
        raise ValueError(
            "ewma_drift is sequential across windows and cannot run "
            "append-mode on a stream — use z_drift/ks_drift/ad_drift "
            "for streams and run ewma_drift on the batch cadence")
    if not 0.0 < lam <= 1.0:
        raise ValueError("lam must be in (0, 1]")
    mu = float(ref["mean"])
    var = float(ref["var"])
    v, kept = _numeric_kept(df, value_col)
    agg = _window_agg(kept, ts_col, window, None,
                      [F.sum(v).alias("__s")])
    rows = collect_capped(
        agg.select(F.col("__w.start").alias("ws"), "n", "__s"),
        max_windows,
        f"ewma_drift: more than max_windows={max_windows} windows "
        "— widen the window or shard the time range")
    rows.sort(key=lambda r: r["ws"])
    out = []
    e = mu
    vv = 0.0
    for r in rows:
        n = float(r["n"])
        xbar = r["__s"] / n
        e = lam * xbar + (1.0 - lam) * e
        vv = (1.0 - lam) ** 2 * vv + lam * lam * var / n
        z = (e - mu) / math.sqrt(vv)
        out.append((r["ws"], int(r["n"]), xbar, e, z,
                    abs(z) > level))
    # not utils.local_frame: its Arrow path would read these collected
    # naive datetimes in the session zone, not the process's local zone
    return df.sparkSession.createDataFrame(
        out, "window_start timestamp, n long, mean double, "
             "ewma double, z double, signal boolean")


def reference_moments(df: DataFrame, value_col: str) -> dict:
    """Fit the fixed reference for z_drift: ONE (n, Σx, Σx²) aggregate
    → {"n", "mean", "var"} (sample variance, ddof=1). The moments are
    assembled with the same op order z_drift's oracle uses."""
    v = F.col(value_col).cast("double")
    row = (df.where(v.isNotNull() & ~F.isnan(v))
           .agg(F.count(F.lit(1)).alias("n"), F.sum(v).alias("s"),
                F.sum(v * v).alias("q")).collect()[0])
    n = float(row["n"] or 0)
    if n < 2:
        raise ValueError("reference_moments needs >= 2 non-null values")
    mean = row["s"] / n
    var = (row["q"] - n * mean * mean) / (n - 1.0)
    if var <= 0.0:
        raise ValueError("reference_moments: zero reference variance — "
                         "z_drift is undefined on a constant reference")
    return {"n": n, "mean": float(mean), "var": float(var)}


def z_drift(df: DataFrame, value_col: str, ts_col: str, ref: dict,
            window: str = "1 hour",
            watermark: str | None = None) -> DataFrame:
    """Mean/variance drift per tumbling window against a fixed
    reference (a reference_moments result): the first-moment companion
    to ks_drift/psi_drift — z = (mean_w − μ_ref)/√(σ²_ref/n_w) with a
    two-sided normal p, plus the window-to-reference variance ratio
    (ddof=1 / ddof=1). ONE groupBy(window(ts)) aggregation of
    (n, Σx, Σx²) and a stateless projection — append-mode streaming
    legal with a watermark; identical code path on batch. Returns
    (window_start, n, mean, z_mean, p_value, var_ratio) per window;
    a 1-row window reports NULL var_ratio.
    """
    from dask_ml_spark.functions.stats import normal_p2, spark_sql

    mu = float(ref["mean"])
    var0 = float(ref["var"])
    v, kept = _numeric_kept(df, value_col)
    agg = _window_agg(kept, ts_col, window, watermark,
                      [F.sum(v).alias("__s"), F.sum(v * v).alias("__q")])
    n = F.col("n").cast("double")
    mean = F.col("__s") / n
    z = (mean - F.lit(mu)) / F.sqrt(F.lit(var0) / n)
    var_w = F.when(n >= 2.0,
                   (F.col("__q") - n * mean * mean) / (n - 1.0))
    return _emit(agg.withColumn("__m", mean).withColumn("__z", z),
                 F.col("__m").alias("mean"),
                 F.col("__z").alias("z_mean"),
                 F.expr(spark_sql(normal_p2, "__z")).alias("p_value"),
                 (var_w / F.lit(var0)).alias("var_ratio"))


def reference_categories(df: DataFrame, cat_col: str,
                         max_categories: int = 1024) -> dict:
    """Fit the fixed reference for categorical_drift: one
    groupBy(category) count with a bounded collect (max_categories —
    the max_cells precedent), categories sorted so the monitor's
    conditional-sum order is content-deterministic. Returns
    {"cats": [sorted category strings], "counts": [...], "n"}."""
    c = F.col(cat_col).cast("string")
    rows = collect_capped(
        df.where(c.isNotNull()).groupBy(c.alias("__c"))
        .agg(F.count(F.lit(1)).alias("__n")),
        max_categories,
        f"reference_categories: more than {max_categories} "
        "distinct categories — bucket or top-K the column first")
    if not rows:
        raise ValueError("reference_categories: no non-null categories")
    rows.sort(key=lambda r: r["__c"])
    return {"cats": [r["__c"] for r in rows],
            "counts": [float(r["__n"]) for r in rows],
            "n": float(sum(r["__n"] for r in rows))}


def categorical_drift(df: DataFrame, cat_col: str, ts_col: str,
                      ref: dict, window: str = "1 hour",
                      watermark: str | None = None) -> DataFrame:
    """Categorical-mix drift per tumbling window — the psi_drift
    companion for string columns (language mix, source mix, event-type
    mix): PSI over the reference's categories plus one OTHER bucket
    that absorbs categories unseen at fit time (a new language
    APPEARING is exactly the drift this monitor must flag, so unseen
    mass is aggregated, not dropped). Same scale shape as the numeric
    monitors: ONE groupBy(window(ts)) aggregation with one conditional
    sum per reference category (+ OTHER), Laplace half-count smoothing
    on both sides, stateless projection — append-mode streaming legal.
    Returns (window_start, n, psi, other_frac) per window; other_frac
    is the unseen-category mass, worth alerting on by itself.
    """
    cats = list(ref["cats"])
    if len(cats) > 512:
        # one conditional-sum column per category: past ~512 the
        # generated aggregate blows the whole-stage-codegen method
        # budget (the bootstrap_ci 2·B-columns lesson) — top-K the
        # column at fit time instead
        raise ValueError(
            f"categorical_drift: {len(cats)} reference categories — "
            "cap the fit (reference_categories over a top-K or "
            "bucketed column) at <= 512")
    rc = [float(x) for x in ref["counts"]]
    rn = float(ref["n"])
    k_all = len(cats) + 1  # + OTHER
    from dask_ml_spark.utils import lit_array, sql_scalar_lit

    c = F.col(cat_col).cast("string")
    c_sql = f"CAST({_qcol_sql(cat_col)} AS STRING)"
    kept = df.where(c.isNotNull())
    agg = _window_agg(kept, ts_col, window, watermark,
                      [F.expr(f"SUM(CAST(({c_sql} = "
                              f"{sql_scalar_lit(str(cat))}) AS DOUBLE))")
                       .alias(f"__c{i}") for i, cat in enumerate(cats)])
    n = F.col("n").cast("double")
    half_k = float(k_all) / 2.0
    # FLAT array shapes, not K-deep chained adds: a chained
    # `t0 + t1 + ... + t511` Column nests one node per term, and at the
    # 512-category cap the nested `seen`-inside-`psi` tree overflowed
    # the JVM stack during Column->expression conversion (found by the
    # strict-codegen pin in test_plan_shapes). array()/zip_with keep
    # the tree depth CONSTANT in K while F.aggregate's left-fold keeps
    # the float summation order identical to the old chain (seed 0.0,
    # category order, OTHER last) — same bits, same oracle.
    carr = _col_array_expr([f"__c{i}" for i in range(len(cats))])
    qarr = lit_array([(rc[i] + 0.5) / (rn + half_k)
                      for i in range(len(cats))])
    seen = F.aggregate(carr, F.lit(0.0), lambda acc, x: acc + x)
    other = n - seen
    terms = F.zip_with(
        carr, qarr,
        lambda cnt, q: ((cnt + 0.5) / (n + F.lit(half_k)) - q)
        * F.log(((cnt + 0.5) / (n + F.lit(half_k))) / q))
    psi = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    p_oth = (other + F.lit(0.5)) / (n + F.lit(half_k))
    q_oth = F.lit(0.5 / (rn + half_k))  # reference saw zero OTHER
    psi = psi + (p_oth - q_oth) * F.log(p_oth / q_oth)
    return _emit(agg.withColumn("__psi", psi)
                 .withColumn("__oth", other / n),
                 F.col("__psi").alias("psi"),
                 F.col("__oth").alias("other_frac"))


def reference_correlation(df: DataFrame, col_a: str,
                          col_b: str) -> dict:
    """Fit the fixed reference for corr_drift: ONE (n, Pearson r)
    aggregate over the reference slice. Returns {"n", "corr"}."""
    a = F.col(col_a).cast("double")
    b = F.col(col_b).cast("double")
    row = (df.where(a.isNotNull() & ~F.isnan(a)
                    & b.isNotNull() & ~F.isnan(b))
           .agg(F.count(F.lit(1)).alias("n"),
                F.corr(a, b).alias("r")).collect()[0])
    if not row["n"] or row["n"] < 4:
        raise ValueError("reference_correlation needs >= 4 "
                         "complete-case rows")
    r = row["r"]
    if r is None or abs(r) >= 1.0:
        raise ValueError("reference_correlation: reference r is "
                         "undefined or degenerate (|r| = 1)")
    return {"n": float(row["n"]), "corr": float(r)}


def corr_drift(df: DataFrame, col_a: str, col_b: str, ts_col: str,
               ref: dict, window: str = "1 hour",
               watermark: str | None = None) -> DataFrame:
    """Feature-RELATIONSHIP drift per tumbling window — the family
    member the level (z_drift), distribution (ks/psi), mix
    (categorical) and trend (Mann–Kendall) monitors can't see: two
    features can keep their marginals while their joint structure
    breaks (an upstream join bug, a schema drift that decouples
    columns). Per window the Pearson r over the pair, compared to a
    fixed reference r through the Fisher transform: z = (atanh(r_w) −
    atanh(r_ref))·√(n_w − 3), two-sided normal p. ONE
    groupBy(window(ts)) aggregation of the six co-moment sums —
    streaming-legal, identical code path on batch (what the oracle
    replays). Returns (window_start, n, corr, z, p_value); windows
    with n < 4 or a degenerate r report NULL z/p.
    """
    from dask_ml_spark.functions.stats import normal_p2, spark_sql

    r0 = float(ref["corr"])
    z0 = 0.5 * math.log((1.0 + r0) / (1.0 - r0))  # atanh, replayable
    a = F.col(col_a).cast("double")
    b = F.col(col_b).cast("double")
    kept = df.where(a.isNotNull() & ~F.isnan(a)
                    & b.isNotNull() & ~F.isnan(b))
    agg = _window_agg(kept, ts_col, window, watermark,
                      [F.corr(a, b).alias("__r")])
    n = F.col("n").cast("double")
    r = F.col("__r")
    ok = (n >= 4.0) & r.isNotNull() & (F.abs(r) < 1.0)
    fisher = 0.5 * F.log((1.0 + r) / (1.0 - r))
    z = F.when(ok, (fisher - F.lit(z0)) * F.sqrt(n - 3.0))
    return _emit(agg.withColumn("__z", z),
                 r.alias("corr"),
                 F.col("__z").alias("z"),
                 F.when(F.col("__z").isNotNull(),
                        F.expr(spark_sql(normal_p2, "__z")))
                 .alias("p_value"))


def reference_comoments(df: DataFrame, cols) -> dict:
    """Fit the fixed reference for cov_drift: ONE aggregate of the
    d(d−1)/2 pairwise Pearson correlations over the COMPLETE-CASE
    reference slice (rows where every column is non-null/non-NaN —
    one shared n keeps the co-moment matrix consistent, the standard
    listwise convention). Returns {"n", "cols", "corr": [r per pair
    in (i < j) index order]}. Loud errors on < 4 complete rows or any
    degenerate pair (|r| = 1 — a duplicated/constant column, which
    the caller should drop rather than monitor)."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("reference_comoments needs >= 2 columns")
    if len(cols) > 30:
        # 1 + d(d-1)/2 aggregate columns in the monitor: past d=30 the
        # generated aggregate nears the whole-stage-codegen method
        # budget (the categorical_drift 512-column precedent)
        raise ValueError(
            f"reference_comoments: {len(cols)} columns — a pairwise "
            "screen past d=30 wants a projection (PCA / random "
            "projection) first")
    cs = [F.col(c).cast("double") for c in cols]
    cs_sql = [f"CAST({_qcol_sql(c)} AS DOUBLE)" for c in cols]
    pred = cs[0].isNotNull() & ~F.isnan(cs[0])
    for c in cs[1:]:
        pred = pred & c.isNotNull() & ~F.isnan(c)
    pairs = [(i, j) for i in range(len(cols))
             for j in range(i + 1, len(cols))]
    row = (df.where(pred)
           .agg(F.count(F.lit(1)).alias("n"),
                *[F.expr(f"CORR({cs_sql[i]}, {cs_sql[j]})")
                  .alias(f"r{i}_{j}") for i, j in pairs]).collect()[0])
    if not row["n"] or row["n"] < 4:
        raise ValueError("reference_comoments needs >= 4 complete-case "
                         "rows")
    corr = []
    for i, j in pairs:
        r = row[f"r{i}_{j}"]
        if r is None or abs(r) >= 1.0:
            raise ValueError(
                f"reference_comoments: reference r for ({cols[i]}, "
                f"{cols[j]}) is undefined or degenerate (|r| = 1) — "
                "drop the constant/duplicated column")
        corr.append(float(r))
    return {"n": float(row["n"]), "cols": cols, "corr": corr}


def cov_drift(df: DataFrame, cols, ts_col: str, ref: dict,
              window: str = "1 hour", alpha: float = 0.05,
              watermark: str | None = None) -> DataFrame:
    """Windowed COVARIANCE-STRUCTURE drift — the multivariate member
    the per-column family (ks/psi/z/quantile), the mix monitor
    (categorical) and the single-pair corr_drift can't see: an
    upstream join bug or schema drift that decorrelates a whole
    feature block keeps every marginal AND may keep any one watched
    pair, but breaks MANY pairs at once. Per tumbling window, ALL
    d(d−1)/2 pairwise Pearson correlations over the complete-case
    rows, each Fisher-compared to its fixed reference
    (a reference_comoments fit): z_ij = (atanh(r_ij) −
    atanh(r_ref,ij))·√(n−3), two-sided normal p, plus
    Benjamini–Hochberg q over the window's valid-pair family and two
    family-level scalars — max_abs_z and the Frobenius delta
    ‖R_w − R_ref‖_F = √Σ_ij (r_ij − r_ref,ij)² over valid pairs.

    Scale shape: ONE groupBy(window(ts)) aggregation of the d(d−1)/2
    corr aggregates (bounded — d ≤ 30 by the fit), then a STATELESS
    projection: per-pair p's and the BH step-up run inside the row
    via array HOFs over the pair arrays (sort the ≤435 valid p's,
    suffix-min each — q_ij = min_{p_(k) ≥ p_ij} p_(k)·m/k, the
    tied-block-largest-rank convention benjamini_hochberg uses; HOF
    lambda bodies compile ONCE, where per-pair expression unrolling
    blew the 64 KB whole-stage-codegen method limit at d≈12 —
    measured), and the long per-pair format is ONE posexplode with
    element_at lookups. No second aggregation, no join — append-mode
    streaming legal with a watermark; identical code path on batch
    (what the SQL oracle replays). Codegen holds through the d = 30
    cap; note the d(d−1)/2 aggregate tree makes PLANNING (not data)
    the cost at the cap — ~1 min one-time at d = 30, seconds at the
    d ≤ 12 a drift screen typically watches. Returns one row per (window, pair): (window_start, n,
    col_a, col_b, corr, z, p_value, q_value, reject, max_abs_z,
    frob_delta, valid); pairs with n < 4 or degenerate r report NULL
    statistics and valid=false, excluded from the BH family and the
    family scalars.
    """
    from dask_ml_spark.functions.stats import normal_p2, spark_sql

    cols = list(cols)
    if cols != list(ref["cols"]):
        raise ValueError(
            f"cov_drift: cols {cols} do not match the reference fit's "
            f"{list(ref['cols'])} — refit reference_comoments")
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    from dask_ml_spark.utils import lit_array, sql_scalar_lit

    d = len(cols)
    pairs = [(i, j) for i in range(d) for j in range(i + 1, d)]
    z0 = [0.5 * math.log((1.0 + r) / (1.0 - r)) for r in ref["corr"]]
    cs = [F.col(c).cast("double") for c in cols]
    cs_sql = [f"CAST({_qcol_sql(c)} AS DOUBLE)" for c in cols]
    pred = cs[0].isNotNull() & ~F.isnan(cs[0])
    for c in cs[1:]:
        pred = pred & c.isNotNull() & ~F.isnan(c)
    agg = _window_agg(df.where(pred), ts_col, window, watermark,
                      [F.expr(f"CORR({cs_sql[i]}, {cs_sql[j]})")
                       .alias(f"__r{k}")
                       for k, (i, j) in enumerate(pairs)])
    n = F.col("n").cast("double")
    # bind per-pair z and p to columns FIRST (the ks_2sample lesson),
    # all in one select — the BH and family scalars below re-read each
    # p several times. One parsed CASE per pair (same tree as the old
    # F.when chain: left-assoc AND, 0.5·LN Fisher, √(n−3)).
    n_sql = "CAST(`n` AS DOUBLE)"
    zp = []
    for k in range(len(pairs)):
        r = f"`__r{k}`"
        ok = (f"(({n_sql} >= 4.0D) AND ({r} IS NOT NULL)) "
              f"AND (ABS({r}) < 1.0D)")
        # operand order matches the old Column tree (PySpark __radd__/
        # __rmul__ put the Column first: r + 1.0, ln(...) * 0.5)
        fisher = f"LN(({r} + 1.0D) / (1.0D - {r})) * 0.5D"
        zp.append(F.expr(
            f"CASE WHEN {ok} THEN ({fisher} - "
            f"{sql_scalar_lit(z0[k])}) * SQRT({n_sql} - 3.0D) END")
            .alias(f"__z{k}"))
    agg = agg.select("*", *zp)
    # per-pair p's via ONE transform over the z-array: the A&S normal
    # tail is a large polynomial — unrolling it per pair is what blew
    # the 64 KB whole-stage-codegen method limit (measured at d=12,
    # interpreted fallback, 25× slower); a HOF lambda body compiles
    # once regardless of the pair count
    agg = agg.withColumn(
        "__zsarr", _col_array_expr([f"__z{k}"
                                    for k in range(len(pairs))]))
    agg = agg.withColumn("__psarr", F.expr(
        "transform(__zsarr, z -> CASE WHEN z IS NOT NULL THEN "
        f"{spark_sql(normal_p2, 'z')} END)"))
    # the window's BH family: sorted valid p's, in-row (array_sort
    # drops nothing; F.filter drops the invalid pairs' NULLs first)
    agg = agg.withColumn(
        "__sp", F.array_sort(F.filter(F.col("__psarr"),
                                      lambda x: x.isNotNull())))
    msize = F.size("__sp")
    md = msize.cast("double")
    # ALL q's in ONE transform over the p-array (same codegen
    # argument). q = min over ranks k with p_(k) >= p of p_(k)·m/k —
    # the suffix-min step-up; p itself is in __sp, so m >= 1 whenever
    # p is non-null (sequence(1, m) is never the 0-length trap).
    agg = agg.withColumn("__qs", F.transform(
        F.col("__psarr"),
        lambda p: F.when(p.isNotNull(), F.least(
            F.lit(1.0), F.aggregate(
                F.sequence(F.lit(1), msize), F.lit(float("inf")),
                lambda acc, j: F.when(
                    F.element_at(F.col("__sp"), j) >= p,
                    F.least(acc, F.element_at(F.col("__sp"), j)
                            * md / j.cast("double"))).otherwise(acc))))))

    # family scalars and the per-pair long format all run over the
    # pair ARRAYS (one posexplode + element_at lookups against small
    # literal arrays) — the per-pair struct unroll this replaces
    # multiplied generated code by the pair count and re-blew the
    # 64 KB codegen limit at large d. The frob aggregate adds in pair
    # index order with a 0.0 seed — the exact left-to-right chain the
    # engine documented and the SQL oracle replays.
    agg = agg.withColumn(
        "__rsarr", _col_array_expr([f"__r{k}"
                                    for k in range(len(pairs))]))
    r0arr = lit_array([float(r) for r in ref["corr"]])
    frob = F.aggregate(
        F.sequence(F.lit(1), F.lit(len(pairs))), F.lit(0.0),
        lambda acc, k: acc + F.when(
            F.element_at(F.col("__zsarr"), k).isNotNull(),
            (F.element_at(F.col("__rsarr"), k) - F.element_at(r0arr, k))
            * (F.element_at(F.col("__rsarr"), k)
               - F.element_at(r0arr, k))).otherwise(0.0))
    max_z = F.array_max(F.transform(
        F.filter(F.col("__zsarr"), lambda z: z.isNotNull()),
        lambda z: F.abs(z)))
    names_a = lit_array([cols[i] for i, _ in pairs])
    names_b = lit_array([cols[j] for _, j in pairs])
    agg = (agg.withColumn("__maxz", max_z)
           .withColumn("__frob", F.when(msize > 0, F.sqrt(frob)))
           .select("__w", "n", "__zsarr", "__psarr", "__qs",
                   "__maxz", "__frob",
                   F.posexplode("__rsarr").alias("__k", "__corr")))
    idx = F.col("__k") + 1
    z = F.element_at(F.col("__zsarr"), idx)
    p = F.element_at(F.col("__psarr"), idx)
    q = F.element_at(F.col("__qs"), idx)
    return _emit(agg,
                 F.element_at(names_a, idx).alias("col_a"),
                 F.element_at(names_b, idx).alias("col_b"),
                 F.col("__corr").alias("corr"),
                 z.alias("z"),
                 p.alias("p_value"),
                 q.alias("q_value"),
                 F.when(q.isNotNull(), q <= F.lit(alpha))
                 .alias("reject"),
                 F.col("__maxz").alias("max_abs_z"),
                 F.col("__frob").alias("frob_delta"),
                 z.isNotNull().alias("valid"))


def _probe_label(q: float) -> str:
    """0.5 → '50', 0.999 → '99_9' — the q<label>/d<label> column stem."""
    label = repr(round(q * 100, 4)).rstrip("0").rstrip(".")
    return label.replace(".", "_")


def _ref_quantile(ref: dict, q: float) -> float:
    """Driver-side twin of quantile_drift's column arithmetic: the
    binned-CDF inverse at probe q over the reference's own counts —
    identical crossing rule and interpolation, so the reported deltas
    are self-consistent."""
    bins = int(ref["bins"])
    lo = float(ref["lo"])
    width = (float(ref["hi"]) - lo) or 1.0
    counts = [float(c) for c in ref["counts"]]
    n = float(ref["n"])
    target = q * n
    cum = 0.0
    for k in range(bins):
        prev = cum
        cum += counts[k]
        if cum >= target and prev < target:
            frac = (target - prev) / counts[k]
            return lo + (k + frac) * (width / bins)
    return lo + width  # q = 1 edge


def quantile_drift(df: DataFrame, value_col: str, ts_col: str,
                   ref: dict, window: str = "1 hour",
                   probes=(0.5, 0.9, 0.99),
                   watermark: str | None = None) -> DataFrame:
    """Windowed QUANTILE drift — the tail monitor ("did p99 document
    length move?") the mean-based z_drift can't see and the
    whole-distribution KS/PSI scores don't localize. Per tumbling
    window, each probe quantile is read off the binned CDF built from
    the SAME K conditional sums as ks_drift/psi_drift (ONE windowed
    aggregation, append-mode streaming legal): the crossing bucket k
    (cum_{k-1} < q·n ≤ cum_k) with linear interpolation inside it —
    resolution O(range/K), the family's standard price for never
    sorting rows. The same rule applied to the reference's own counts
    gives the baselines, so each probe also reports its delta.

    Deterministic (counts are exact integers; the crossing arithmetic
    is literal) — the SQL oracle replays every window. Returns
    (window_start, n, q<P>, d<P> per probe), e.g. q50/d50, q90/d90,
    q99/d99; a probe label is int(p·100) (use probes like 0.999 via
    q99_9 → label replaces '.' with '_').

    ACCURACY CONTRACT (pytest-pinned vs exact percentile on the same
    windows): whenever the window's true probe quantile lies inside
    the reference support [lo, hi], the binned estimate is within ONE
    bucket width, |q̂ − q_true| ≤ (hi − lo)/bins — the estimate and
    the true order statistic share the crossing bucket, and the
    interpolation stays inside it. The bound is the user's sizing
    rule: a p99 alert threshold of δ needs bins ≥ (hi − lo)/δ. When
    the true quantile ESCAPES the reference support (a drifted tail —
    e.g. p99 of a shifted heavy-tail length distribution), the clamp
    pins the estimate to the edge bucket, so q̂ saturates at hi (or
    lo): the reported delta is then a LOWER bound on the true move,
    still sign-correct and still alerting — but downstream consumers
    must not read a saturated q̂ as the literal tail value. Callers
    needing out-of-support tail VALUES should refit the reference or
    use percentile_approx on the flagged windows (the GK sketch; not
    windowed-streaming-legal, which is why it isn't the monitor).
    """
    bins = int(ref["bins"])
    if "counts" not in ref:
        raise ValueError("quantile_drift needs a reference_histogram "
                         "fit with per-bucket counts")
    lo = float(ref["lo"])
    width = (float(ref["hi"]) - lo) or 1.0
    for q in probes:
        if not 0.0 < q < 1.0:
            raise ValueError("probes must be in (0, 1)")
    fmt = [_probe_label(q) for q in probes]
    if len(set(fmt)) != len(fmt):
        # duplicate probes (or label collisions after formatting)
        # would silently overwrite q/d output columns via withColumn
        raise ValueError(
            f"quantile_drift: duplicate probe labels {sorted(fmt)} — "
            "probes must be distinct after label formatting")
    v, kept = _numeric_kept(df, value_col)
    agg = _window_agg(kept, ts_col, window, watermark,
                      _le_sum_cols(_vcast_sql(value_col), lo, width, bins))
    n = F.col("n").cast("double")
    unit = width / bins
    # ONE array of the K cumulative counts, probed with HOFs: the
    # K-branch CASE chain this replaces recompiled whole-stage codegen
    # on every call (fresh expr ids — the bootstrap 2·B-columns
    # lesson) and measured 3-5s; the array form is a tiny tree.
    # k = #cums strictly below target = the crossing bucket (cums are
    # nondecreasing); prev/cur read off the array, same arithmetic.
    agg = agg.withColumn(
        "__cums", F.expr("array(" + ", ".join(
            [f"`__le{k}`" for k in range(bins - 1)]
            + ["CAST(`n` AS DOUBLE)"]) + ")"))
    labels = []
    for q in probes:
        label = _probe_label(q)
        labels.append((q, label))
        target = F.lit(q) * n
        k = F.size(F.filter("__cums", lambda c: c < target))
        prev = F.when(k == 0, F.lit(0.0)).otherwise(
            F.element_at("__cums", k))
        cur = F.element_at("__cums", k + F.lit(1))
        agg = agg.withColumn(
            f"q{label}",
            F.lit(lo) + (k.cast("double")
                         + (target - prev) / (cur - prev)) * F.lit(unit))
    cols = []
    for q, label in labels:
        rq = _ref_quantile(ref, q)
        cols.append(F.col(f"q{label}"))
        cols.append((F.col(f"q{label}") - F.lit(rq)).alias(f"d{label}"))
    return _emit(agg, *cols)
