"""Distributed hypothesis tests, effect sizes, and survival analysis.

Beyond the reference (dask-ml defers hypothesis testing to single-node
scipy; a corpus-scale engine needs the comparisons that gate data
experiments — did the new scrape change the quality-score
distribution? which segments differ, by how much, with what error
bars? — and the survival curve that describes time-to-event behavior
in event logs).

The family: two-sample KS (exact + binned), Mann–Whitney U, Welch t
(single, per-stratum sweep, and pairwise post-hoc with BH FDR),
Hoeffding's D (binned — the non-monotone dependence screen),
two-proportion z, one-way ANOVA with η² and an exact incomplete-beta
F tail, Brown–Forsythe, Spearman ρ (exact tie-averaged + binned scale
path), Mann–Kendall trend with Theil–Sen slope, binned mean-shift
changepoint, autocorrelation with white-noise bands, χ² independence
+ Cramér's V, mutual information, Kaplan–Meier, correlation matrices,
Benjamini–Hochberg, and Poisson-bootstrap CIs (global + per-group).

The shared scale shapes, in preference order: (1) ONE bounded-group
aggregate straight over the raw rows (ANOVA ≤max_groups, binned
KS/changepoint/trend ≤K buckets, Spearman-binned ≤K² cells, bootstrap
≤B or ≤G·B replicate groups) with the statistic assembled driver-side
from that bounded state; (2) one row per DISTINCT VALUE via a hash
groupBy with map-side combine, then cumulative pieces over the small
frame — driver-side below the one driver-row cap
utils.MAX_DRIVER_ROWS (utils.bounded_head; set it to 0 to force every
dual path distributed), else datapipe.packing.prefix_sum, the
range-partitioned two-phase cumsum. Loud caps (max_groups, max_cells,
...) collect through utils.collect_capped.
No keyless Window.partitionBy() anywhere, so no single-task
serialization of the full corpus.

p-values use explicit literal-coefficient approximations (the
asymptotic Kolmogorov series; Abramowitz & Stegun 26.2.17 for the
normal CDF, |error| < 7.5e-8), each written ONCE as plain Python
arithmetic: a float argument gives the driver-side value, and
spark_sql/duckdb_sql render the same formula as SQL, so all engines
share one operation order by construction (both get DOUBLE literals:
DuckDB types a bare decimal literal as DECIMAL). Each dual-path
test's per-row terms and final assembly (and Welch's t) are written
once the same way: the driver fast path calls the formula on floats,
the distributed path renders it with spark_sql; only the
accumulation (driver loop or prefix_sum) and the guards differ. Exact
small-sample tails (even-dof χ²; the F and Student-t tails via the
incomplete-beta continued fraction) are driver-side scalars behind
the large-dof defaults.

EXACT-TAIL POLICY — when to flip ``tail="exact"``: the normal/χ²
defaults are the corpus convention (they are what the SQL oracles
replay, and at dof ≥ ~200 the normal-vs-t gap is < 2e-3 in p — ~3%
relative at p ≈ 0.05, decision-irrelevant for screening; it drops
below the 1e-6 hash grid only at corpus dof ~10⁶). Flip to
``tail="exact"`` whenever the SMALLEST stratum the statistic
touches is thin: pairwise_welch/welch_sweep over high-cardinality
group columns where a minority stratum can have dof < ~200 (one
20-row group in an otherwise-huge sweep makes that pair's normal p
overconfident — at dof 10 the normal tail reads p = 0.026 where the
exact two-sided p is 0.050, overconfident by 2×),
anova_oneway/brown_forsythe with small k·(n−1)
within-dof, or any screening step whose BH family mixes thin and fat
strata (BH ranks by p, so one overconfident thin-stratum p steals
rejections from the rest of the family). The flip is a driver-side
scalar swap — same aggregate, same plan, same cost — so when in
doubt at small n, exact is free; it is not the default only because
the oracle replay and the corpus-scale convention pin the normal
form. The divergence and the agreement are both pytest-pinned
(tests/test_stats.py::test_exact_tail_policy_thin_stratum).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.utils import (bounded_head, collect_capped,
                                 ensure_min_partitions, local_frame,
                                 sql_scalar_lit)

SQRT_TWO_PI = 2.5066282746310002  # sqrt(2*pi), literal-folded


class _Sql:
    """SQL text a formula builds when called on it: every binary op is
    parenthesized, so Python's evaluation order is the rendered order.
    ``lit`` writes a float in the target dialect."""

    __slots__ = ("text", "lit")

    def __init__(self, text: str, lit):
        self.text, self.lit = text, lit

    def __bool__(self):
        raise TypeError("branch on a SQL expression with _where")

    def sql(self, v) -> str:
        return v.text if isinstance(v, _Sql) else self.lit(v)

    def _bin(self, op, a, b):
        return _Sql(f"({self.sql(a)} {op} {self.sql(b)})", self.lit)

    def __add__(self, o): return self._bin("+", self, o)
    def __radd__(self, o): return self._bin("+", o, self)
    def __sub__(self, o): return self._bin("-", self, o)
    def __rsub__(self, o): return self._bin("-", o, self)
    def __mul__(self, o): return self._bin("*", self, o)
    def __rmul__(self, o): return self._bin("*", o, self)
    def __truediv__(self, o): return self._bin("/", self, o)
    def __rtruediv__(self, o): return self._bin("/", o, self)
    def __lt__(self, o): return self._bin("<", self, o)
    def __le__(self, o): return self._bin("<=", self, o)
    def __gt__(self, o): return self._bin(">", self, o)
    def __ge__(self, o): return self._bin(">=", self, o)

    def __neg__(self):
        return _Sql(f"(- {self.text})", self.lit)

    def __abs__(self):
        return _Sql(f"abs({self.text})", self.lit)


def _duckdb_lit(v) -> str:
    r = repr(float(v))
    return r if "e" in r else r + "e0"


def _render(formula, args, lit) -> str:
    def arg(a):
        if not isinstance(a, str):
            return a
        return _Sql(a if a.replace("_", "").isalnum() else f"({a})", lit)
    return formula(*map(arg, args)).text


def spark_sql(formula, *args) -> str:
    """``formula`` as Spark SQL text, parsed by ONE ``F.expr`` (a
    Column built term by term costs a py4j round trip per node). Each
    ``str`` argument is a Spark SQL expression; any other value passes
    through as a Python value. The text repeats an argument at every
    use (25× in ks_p), so bind a compound argument to a column first."""
    return _render(formula, args, lambda v: sql_scalar_lit(float(v)))


def duckdb_sql(formula, *args) -> str:
    """``formula`` over DuckDB expressions, as oracle SQL."""
    return _render(formula, args, _duckdb_lit)


def _call(name, py):
    def f(*args):
        node = next((a for a in args if isinstance(a, _Sql)), None)
        if node is None:
            return py(*args)
        return _Sql(f"{name}({', '.join(map(node.sql, args))})",
                    node.lit)
    return f


_exp = _call("exp", math.exp)
_sqrt = _call("sqrt", math.sqrt)
_least = _call("least", min)
_greatest = _call("greatest", max)
_ln = _call("ln", math.log)
# Java's Math.signum: ±0 and NaN map to themselves
_signum = _call("signum", lambda x: (x if x == 0.0 or x != x
                                     else math.copysign(1.0, x)))


def _where(cond, then, other):
    """then() if cond else other(); the branches are thunks so Python
    never evaluates the untaken one (e.g. sqrt of a negative)."""
    if isinstance(cond, _Sql):
        return _Sql(f"CASE WHEN {cond.text} THEN {cond.sql(then())} "
                    f"ELSE {cond.sql(other())} END", cond.lit)
    return then() if cond else other()


# Abramowitz & Stegun 26.2.17 rational tail coefficients
_AS_B = (0.319381530, -0.356563782, 1.781477937,
         -1.821255978, 1.330274429)
_AS_K = 0.2316419


def normal_sf(z):
    """P(Z > z) for z >= 0 — A&S 26.2.17 (|error| < 7.5e-8): a
    five-term polynomial in k = 1/(1 + 0.2316419 z) (repeated
    multiply, 0.0+ accumulation), times the normal density."""
    k = 1.0 / (1.0 + _AS_K * z)
    poly = 0.0
    for i, b in enumerate(_AS_B):
        p = k
        for _ in range(i):
            p = p * k
        poly = poly + b * p
    phi = _exp(-(z * z) / 2.0) / SQRT_TWO_PI
    return phi * poly


def normal_p2(z):
    """Two-sided normal p: min(1, 2·normal_sf(|z|))."""
    return _least(1.0, 2.0 * normal_sf(abs(z)))


_KS_TERMS = 25  # e^(-2 k^2 λ^2) underflows far earlier for any λ of note


def ks_p(lam):
    """Asymptotic Kolmogorov tail Q(λ) = 2 Σ_{k≥1} (−1)^{k−1} e^{−2k²λ²},
    truncated at 25 terms (the k=25 term is e^{−1250·λ²} — below double
    epsilon for any λ > 0.17) and clamped to [0, 1] (the series is only
    asymptotically a probability)."""
    s = 0.0
    for k in range(1, _KS_TERMS + 1):
        term = _exp(-2.0 * k * k * lam * lam)
        s = s + term if k % 2 == 1 else s - term
    return _least(1.0, _greatest(0.0, 2.0 * s))


# Marsaglia & Marsaglia (2004), "Evaluating the Anderson-Darling
# distribution": adinf(z) approximates the limiting CDF of A² for a
# FULLY SPECIFIED null (case 0 — exactly the fixed-reference monitor
# setting) to ~6-7 digits with two elementary literal-coefficient
# branches, so every engine replays it like the A&S normal form.
_AD_LO = (2.00012, 0.247105, -0.0649821, 0.0347962, -0.011672,
          0.00168691)
_AD_HI = (1.0776, -2.30695, 0.43424, -0.082433, 0.008056, -0.0003146)


def _horner(z, coefs):
    acc = coefs[-1]
    for c in reversed(coefs[:-1]):
        acc = c + acc * z
    return acc


def ad_p(a2):
    """Upper tail P(A² > a2) = 1 − adinf(a2), Marsaglia 2004 form:
    z < 2:  adinf = z^{−1/2}·e^{−1.2337141/z}·P_lo(z)
    z ≥ 2:  adinf = exp(−exp(P_hi(z)))
    clamped to [0, 1]; a2 ≤ 0 → p = 1."""
    def lo():
        return (_exp(-1.2337141 / a2) / _sqrt(a2)
                * _horner(a2, _AD_LO))

    def hi():
        return _exp(-_exp(_horner(a2, _AD_HI)))

    cdf = _where(a2 <= 0.0, lambda: 0.0,
                 lambda: _where(a2 < 2.0, lo, hi))
    return _least(1.0, _greatest(0.0, 1.0 - cdf))


# Poisson(1) inverse-CDF thresholds: F(k) = e^{-1} Σ_{j<=k} 1/j!; the
# k=9 cap truncates 1.1e-8 of the mass.
_POIS1_CDF = tuple(
    math.exp(-1.0) * sum(1.0 / math.factorial(j) for j in range(k + 1))
    for k in range(9))


def pois1_weight(u):
    """Poisson(1) draw from a uniform u in [0,1) via the inverse CDF,
    branch-free: w = Σ_k [u ≥ F(k)] (the count of CDF thresholds below
    u). The indicator renders as CAST((u >= c) AS DOUBLE), not CASE:
    9 compare-adds keep B replicates inside whole-stage codegen where
    B nested CASEs blew the generated-method budget."""
    w = 0.0
    for c in _POIS1_CDF:
        w = w + (_Sql(f"CAST({(u >= c).text} AS DOUBLE)", u.lit)
                 if isinstance(u, _Sql) else float(u >= c))
    return w


def _two_group_kept(df: DataFrame, value_col: str, group_col: str,
                    groups, by=()) -> tuple[DataFrame, object, object]:
    """The filtered two-sample frame — (__v double, __g, *by) rows with
    NULL/NaN values dropped and only the two groups kept (a narrow
    projection; downstream aggregates push both the filter and the
    narrow ReadSchema to the scan). groups=(a, b) names the two
    samples; None infers them (a bounded 3-row collect that raises
    unless exactly two)."""
    if groups is None:
        # NULL is not a group: (col == NULL) is three-valued NULL and
        # would zero both counts — infer over non-null values only
        vals = [r[0] for r in (df.select(group_col)
                               .where(F.col(group_col).isNotNull())
                               .distinct()
                               .orderBy(group_col).limit(3).collect())]
        if len(vals) != 2:
            raise ValueError(
                f"{group_col} must have exactly 2 non-null groups for a "
                f"two-sample test; found {vals} (pass groups=(a, b) to "
                "select two)")
        groups = tuple(vals)
    g1, g2 = groups
    v = F.col(value_col).cast("double")
    kept = (df.where(v.isNotNull() & ~F.isnan(v)
                     & F.col(group_col).isin([g1, g2]))
            .select(v.alias("__v"), F.col(group_col).alias("__g"), *by))
    return kept, g1, g2


def _two_group_counts(df: DataFrame, value_col: str, group_col: str,
                      groups) -> tuple[DataFrame, object, object]:
    """One row per distinct value with per-group counts — the shared
    first pass of the exact (prefix-sum) test paths."""
    kept, g1, g2 = _two_group_kept(df, value_col, group_col, groups)
    g = (kept.groupBy("__v")
         .agg(F.sum((F.col("__g") == g1).cast("double")).alias("__c1"),
              F.sum((F.col("__g") == g2).cast("double")).alias("__c2")))
    return g, g1, g2


def _nonempty_guard(n1: Column, n2: Column, passthrough: Column,
                    what: str,
                    msg: str = ("a group matched no rows — check the "
                                "group values (NULL groups are "
                                "excluded)")) -> Column:
    """raise_error instead of the silent NULL/NaN cascade a zero-row
    group produces (a typo'd group name would otherwise flow a NULL
    p-value into whatever gate consumes it). Must wrap EVERY output
    statistic column, not just one: Spark prunes unselected columns,
    so a guard on d_stat alone never fires for
    .select('p_value')-shaped consumers (review-caught)."""
    return F.when(
        (n1 <= 0) | (n2 <= 0) | n1.isNull() | n2.isNull(),
        F.raise_error(F.lit(f"{what}: {msg}"))
    ).otherwise(passthrough)


def _ks_gap(f1, f2, n1, n2):
    """|F1 − F2| at one value, from the inclusive cumulative counts."""
    return abs(f1 / n1 - f2 / n2)


def _ks_lambda(d, n1, n2):
    """The Kolmogorov tail's argument λ = D·√(n1·n2/(n1+n2))."""
    return d * _sqrt(n1 * n2 / (n1 + n2))


def ks_2sample(df: DataFrame, value_col: str, group_col: str,
               groups=None, bins: int | None = None) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test, distributed.

    D = max_x |F1(x) − F2(x)| over the pooled distinct values
    (both ECDFs evaluated inclusively — right-continuous — at each
    value, which is where the sup of the step-function difference is
    attained), p = the asymptotic Kolmogorov tail at
    λ = D·√(n1·n2/(n1+n2)).

    Returns one row: (n1, n2, d_stat, p_value). Shape: one groupBy of
    the raw rows, ONE multi-column prefix pass over the distinct-value
    frame (both ECDF cumsums batched), one final aggregate.

    ``bins=K`` is the 100 TB scale path (the roc_auc_binned pattern):
    two narrow scans of the raw rows — one (min, max, n1, n2)
    aggregate for the bounds, then one groupBy over ≤K equal-width
    buckets — and the driver-side cumsum over ≤K rows. NO groupBy over
    distinct raw values anywhere (continuous data makes the exact
    path's distinct-value frame row-count-sized, a sort-sized
    shuffle); the only wide op is the ≤K-group hash aggregate, whose
    map-side combine reduces each partition to ≤K rows. The binned D
    evaluates the ECDF difference at bin RIGHT edges only, so
    |D_binned − D_exact| ≤ the largest within-bin probability mass —
    O(1/K) for smooth distributions, and D_binned ≤ D_exact (the test
    gets conservative, never anti-conservative on smooth data).
    Deterministic, so the binned variant oracles too.
    """
    from dask_ml_spark.datapipe.packing import prefix_sum

    if bins is not None:
        if bins < 2:
            raise ValueError("bins must be >= 2")
        kept, g1, g2 = _two_group_kept(df, value_col, group_col, groups)
        one = (F.col("__g") == g1).cast("double")
        two = (F.col("__g") == g2).cast("double")
        # bounds AND group sizes in ONE raw-row aggregate
        st = kept.agg(F.min("__v").alias("lo"), F.max("__v").alias("hi"),
                      F.sum(one).alias("n1"),
                      F.sum(two).alias("n2")).collect()[0]
        n1 = float(st["n1"] or 0.0)
        n2 = float(st["n2"] or 0.0)
        if st["lo"] is None or not n1 or not n2:
            # same contract as the exact path's guard (a typo'd group
            # name must not surface as a bare TypeError on NULL min)
            raise ValueError(
                "ks_2sample: a group matched no rows — check the group "
                "values (NULL groups are excluded)")
        lo, hi = float(st["lo"]), float(st["hi"])
        width = (hi - lo) or 1.0
        bucket = F.least(
            F.lit(bins - 1),
            F.floor((F.col("__v") - F.lit(lo)) / F.lit(width)
                    * F.lit(bins))).cast("int")
        # the only wide op: a ≤K-group aggregate straight over raw rows
        rows = (kept.groupBy(bucket.alias("__b"))
                .agg(F.sum(one).alias("__c1"),
                     F.sum(two).alias("__c2"))
                .collect())
        rows.sort(key=lambda r: r["__b"])
        return _ks_driver_row(df.sparkSession, rows, n1, n2)
    # exact path: one distinct-value groupBy — the irreducible pass —
    # then the ECDF cumsums. A distinct-value frame that fits
    # MAX_DRIVER_ROWS (bounded limit-collect, the kaplan_meier
    # pattern) cumsums driver-side: counts are integers, so D is
    # bit-identical to the prefix-machine result, and two distributed
    # passes collapse into one small collect.
    g, _, _ = _two_group_counts(df, value_col, group_col, groups)
    g, head = bounded_head(g)
    if head is not None:
        head.sort(key=lambda r: r["__v"])
        n1 = sum(r["__c1"] for r in head)
        n2 = sum(r["__c2"] for r in head)
        if not n1 or not n2:
            raise ValueError(
                "ks_2sample: a group matched no rows — check the "
                "group values (NULL groups are excluded)")
        return _ks_driver_row(df.sparkSession, head, n1, n2)
    # the prefix machine's subtotal collect already accumulated the
    # grand totals — reading them as literals saves the second cumsum
    # pass (and its Python boundary) a totals aggregate + cross join
    # forced (r13 optimization; counts are integer-valued doubles, so
    # the value is bit-identical to the old F.sum over the output)
    g, (n1_t, n2_t) = prefix_sum(g, "__v", ["__c1", "__c2"],
                                 ["__b1", "__b2"], with_totals=True)
    diff = F.expr(spark_sql(_ks_gap, "__b1 + __c1", "__b2 + __c2",
                            n1_t, n2_t))
    agg = (g.agg(F.max(diff).alias("d_stat"))
           .withColumn("n1_d", F.lit(n1_t))
           .withColumn("n2_d", F.lit(n2_t)))
    lam = F.expr(spark_sql(_ks_lambda, "d_stat", "n1_d", "n2_d"))
    def grd(c):
        return _nonempty_guard(F.col("n1_d"), F.col("n2_d"), c,
                               "ks_2sample")

    return (agg.withColumn("__lam", lam)
            .select(
                F.col("n1_d").cast("long").alias("n1"),
                F.col("n2_d").cast("long").alias("n2"),
                grd(F.col("d_stat")).alias("d_stat"),
                grd(F.expr(spark_sql(ks_p, "__lam"))).alias("p_value")))


def _ks_driver_row(spark, rows, n1: float, n2: float) -> DataFrame:
    """ks_2sample's driver fast path: D over (__c1, __c2) count rows
    in ascending value order, p = ks_p(λ), as the 1-row result."""
    f1 = f2 = 0.0
    d = 0.0
    for r in rows:
        f1 += r["__c1"]
        f2 += r["__c2"]
        d = max(d, _ks_gap(f1, f2, n1, n2))
    lam = _ks_lambda(d, n1, n2)
    return local_frame(spark, [(int(n1), int(n2), float(d), float(ks_p(lam)))],
                       "n1 long, n2 long, d_stat double, p_value double")


def _rank_z(stat, moments, *aggs):
    """Continuity-corrected normal z of a rank statistic whose null
    (mean, variance) is ``moments(*aggs)``: |stat − mean| shrinks by
    0.5 (not past zero); a variance ≤ 0 (all tied) gives z = 0."""
    mu, var = moments(*aggs)
    d = stat - mu
    return _where(var <= 0.0, lambda: 0.0,
                  lambda: (_signum(d) * _greatest(0.0, abs(d) - 0.5)
                           / _sqrt(var)))


def _rank_p(z, moments, *aggs):
    """Two-sided normal p of _rank_z's z; a variance ≤ 0 gives 1."""
    return _where(moments(*aggs)[1] <= 0.0, lambda: 1.0,
                  lambda: normal_p2(z))


def _mwu_moments(n1, n2, ties):
    """U's null mean n1·n2/2 and tie-corrected variance."""
    n = n1 + n2
    return (n1 * n2 / 2.0,
            n1 * n2 / 12.0 * ((n + 1.0) - ties / (n * (n - 1.0))))


def _rank_biserial(u, n1, n2):
    return 2.0 * u / (n1 * n2) - 1.0


def mann_whitney_u(df: DataFrame, value_col: str, group_col: str,
                   groups=None) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum), distributed.

    U (for the first group) via the tie-averaged rank-sum identity
    U1 = Σ_x c1(x)·(below2(x) + ½·c2(x)) — the same machinery as the
    exact ROC-AUC, which equals U/(n1·n2). The normal approximation is
    tie-corrected (σ² = n1n2/12·[(n+1) − Σ(t³−t)/(n(n−1))]) and
    continuity-corrected (±0.5 toward the mean); p is two-sided via
    the A&S 26.2.17 normal tail. All-tied data (σ = 0) reports z = 0,
    p = 1.

    Precision: both engines evaluate the identical operation order, so
    u/z/p stay bit-comparable at any scale. The DRIVER fast path (the
    common case — distinct values under MAX_DRIVER_ROWS) accumulates
    u and the tie term Σ(t³−t) in exact bignum integers, so it never
    rounds: it is exact even past the 2^53 threshold the float form
    crosses once a single tied value holds ~2.1M rows (plausible at
    sf≥1 on low-cardinality columns). The distributed fallback and the
    SQL oracles share double sums beyond that point (~1e-16 relative,
    identical order in both engines, so still bit-comparable).

    Returns one row: (n1, n2, u_stat, z, p_value, rank_biserial) —
    the rank-biserial correlation r = 2U/(n1·n2) − 1 (= 2·AUC − 1) is
    the effect size: at corpus n EVERYTHING is significant, r says
    whether group membership actually moves the ranks (the eta²
    convention of anova_oneway, for the rank world). Shape: one
    groupBy, one prefix sum over distinct values, one final aggregate.
    """
    from dask_ml_spark.datapipe.packing import prefix_sum

    g, _, _ = _two_group_counts(df, value_col, group_col, groups)
    # bounded driver path (kaplan_meier pattern): u / ties are sums of
    # integer products < 2^53, so the driver cumsum is bit-identical
    # to the prefix-machine result
    g, head = bounded_head(g)
    if head is not None:
        head.sort(key=lambda r: r["__v"])
        n1 = sum(r["__c1"] for r in head)
        n2 = sum(r["__c2"] for r in head)
        if not n1 or not n2:
            raise ValueError(
                "mann_whitney_u: a group matched no rows — check "
                "the group values (NULL groups are excluded)")
        # exact bignum integers: the doubled rank-sum u2 = Σ c1·
        # (2·below2 + c2) and the tie term Σ t³ − t never round,
        # so the driver path stays EXACT past the 2^53 threshold
        # the float form crosses once a single tied value holds
        # ~2.1M rows (the documented sf≥1 regime); below 2^53 the
        # values are bit-identical to the distributed float path
        # (integer doubles — parity-pinned)
        b2 = 0
        u2 = 0
        ties = 0
        for r in head:
            c1, c2 = int(r["__c1"]), int(r["__c2"])
            u2 += c1 * (2 * b2 + c2)
            b2 += c2
            tt = c1 + c2
            ties += tt * tt * tt - tt
        u = u2 / 2.0  # halving an exactly-converted double is exact
        z_v = _rank_z(u, _mwu_moments, n1, n2, ties)
        return local_frame(
            df.sparkSession,
            [(int(n1), int(n2), float(u), float(z_v),
              float(_rank_p(z_v, _mwu_moments, n1, n2, ties)),
              float(_rank_biserial(u, n1, n2)))],
            "n1 long, n2 long, u_stat double, z double, p_value double, "
            "rank_biserial double")
    g = prefix_sum(g, "__v", "__c2", "__b2")
    t = F.col("__c1") + F.col("__c2")
    agg = g.agg(
        F.sum(F.col("__c1")
              * (F.col("__b2") + 0.5 * F.col("__c2"))).alias("u_d"),
        F.sum("__c1").alias("n1_d"),
        F.sum("__c2").alias("n2_d"),
        F.sum(t * t * t - t).alias("ties_d"))
    n1, n2 = F.col("n1_d"), F.col("n2_d")
    aggs = ("n1_d", "n2_d", "ties_d")
    agg = agg.withColumn(
        "__z", F.expr(spark_sql(_rank_z, "u_d", _mwu_moments, *aggs)))

    def grd(c):
        return _nonempty_guard(n1, n2, c, "mann_whitney_u")

    return agg.select(
        n1.cast("long").alias("n1"), n2.cast("long").alias("n2"),
        grd(F.col("u_d")).alias("u_stat"), grd(F.col("__z")).alias("z"),
        grd(F.expr(spark_sql(_rank_p, "__z", _mwu_moments, *aggs)))
        .alias("p_value"),
        grd(F.expr(spark_sql(_rank_biserial, "u_d", "n1_d", "n2_d")))
        .alias("rank_biserial"))


def _wsr_moments(n, ties):
    """W⁺'s null mean n(n+1)/4 and tie-corrected variance."""
    return (n * (n + 1.0) / 4.0,
            (n * (n + 1.0) * (2.0 * n + 1.0)) / 24.0 - ties / 48.0)


def wilcoxon_signed_rank(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Wilcoxon signed-rank test for PAIRED samples — the within-pair
    companion of mann_whitney_u ("did each unit's A differ from ITS
    OWN B?"), the nonparametric paired t-test. d = a − b per
    complete-case row; zero differences are DISCARDED (the classic
    Wilcoxon convention — they carry no sign information; n reports
    the nonzero count); |d| gets tie-averaged ranks and W⁺ sums the
    ranks of the positive differences.

    Shape: the mann_whitney machinery on the |d| axis — ONE
    groupBy(|d|) with a conditional positive count, then the bounded
    driver path (distinct |d| under MAX_DRIVER_ROWS: exact bignum
    doubled-rank sums, never rounds) or the distributed prefix-sum
    fallback. z is tie-corrected (σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48)
    and continuity-corrected (±0.5 toward μ = n(n+1)/4); p two-sided
    via the shared A&S normal tail. All-tied data (σ = 0) reports
    z = 0, p = 1. Returns one row: (n, w_plus, z, p_value).
    """
    from dask_ml_spark.datapipe.packing import prefix_sum

    a = F.col(col_a).cast("double")
    b = F.col(col_b).cast("double")
    d = a - b
    # ~isnan(d) matters even with non-NaN inputs: same-signed
    # infinities give d = inf − inf = NaN, which passes (d != 0.0)
    # and would corrupt the rank map (review-caught)
    kept = (df.where(a.isNotNull() & ~F.isnan(a)
                     & b.isNotNull() & ~F.isnan(b)
                     & ~F.isnan(d) & (d != 0.0))
            .select(F.abs(d).alias("__v"),
                    (d > 0.0).cast("long").alias("__pos")))
    g = (kept.groupBy("__v")
         .agg(F.count(F.lit(1)).alias("__c"),
              F.sum("__pos").alias("__cp")))
    g, head = bounded_head(g)
    if head is not None:
        if not head:
            raise ValueError("wilcoxon_signed_rank: no nonzero "
                             "complete-case differences")
        head.sort(key=lambda r: r["__v"])
        # exact bignum doubled ranks: 2·rank = 2·cum_before + c + 1
        cum = 0
        w2 = 0
        ties = 0
        n = 0
        for r in head:
            c, cp = int(r["__c"]), int(r["__cp"])
            w2 += cp * (2 * cum + c + 1)
            cum += c
            n += c
            ties += c * c * c - c
        # w2 is exact (Python bignum); this true-division rounds
        # it to the nearest double, which is lossy once
        # w2 > 2^53 — n ≳ 1e8 nonzero diffs (w2 ~ n²/2), the same
        # documented boundary class as mann_whitney's distributed
        # tie sums. z/p assembly is float either way, so results
        # stay bit-comparable cross-engine.
        w = w2 / 2.0
        z_v = _rank_z(w, _wsr_moments, n, ties)
        p_v = _rank_p(z_v, _wsr_moments, n, ties)
        return local_frame(
            df.sparkSession, [(int(n), float(w), float(z_v), float(p_v))],
            "n long, w_plus double, z double, p_value double")
    g = prefix_sum(g, "__v", "__c", "__b")
    agg = g.agg(
        F.sum(F.col("__cp")
              * (F.col("__b") + (F.col("__c") + 1.0) / 2.0))
        .alias("w_d"),
        F.sum("__c").alias("n_d"),
        F.sum(F.col("__c") * F.col("__c") * F.col("__c")
              - F.col("__c")).alias("ties_d"))
    n = F.col("n_d")
    agg = agg.withColumn("__z", F.expr(
        spark_sql(_rank_z, "w_d", _wsr_moments, "n_d", "ties_d")))
    p = F.expr(spark_sql(_rank_p, "__z", _wsr_moments, "n_d", "ties_d"))
    guard = F.when(
        n.isNull() | (n < 1),
        F.raise_error(F.lit("wilcoxon_signed_rank: no nonzero "
                            "complete-case differences")))
    # n is guarded too: a .select("n") consumer prunes the other
    # columns, and an unguarded n would return NULL silently instead
    # of the loud error (the _nonempty_guard pruning rule)
    return agg.select(
        F.coalesce(guard.cast("long"), n.cast("long")).alias("n"),
        F.coalesce(guard, F.col("w_d")).alias("w_plus"),
        F.coalesce(guard, F.col("__z")).alias("z"),
        F.coalesce(guard, p).alias("p_value"))


def _welch(n1, s1, q1, n2, s2, q2):
    """Welch's two-sample t from each group's (n, Σx, Σx²):
    (mean_diff, se², t, dof), with the sample variances
    (q − n·m²)/(n − 1) and the Welch–Satterthwaite dof. t and dof read
    0 where se² ≤ 0: every caller reports that case, like a group
    under 2 rows, as invalid."""
    m1, m2 = s1 / n1, s2 / n2
    v1 = (q1 - n1 * m1 * m1) / (n1 - 1.0)
    v2 = (q2 - n2 * m2 * m2) / (n2 - 1.0)
    se2 = v1 / n1 + v2 / n2
    t = _where(se2 > 0.0, lambda: (m1 - m2) / _sqrt(se2), lambda: 0.0)
    dof = _where(se2 > 0.0, lambda: (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1.0)
        + (v2 / n2) * (v2 / n2) / (n2 - 1.0)), lambda: 0.0)
    return m1 - m2, se2, t, dof


def _welch_sums(df: DataFrame, value_col: str, group_col: str, groups,
                by=()) -> tuple[DataFrame, object, object]:
    """The Welch family's one conditional-sum aggregate: each group's
    (n, Σx, Σx²) as (n1_d, s1, q1, n2_d, s2, q2) per ``by`` stratum —
    one global row for by=()."""
    kept, g1, g2 = _two_group_kept(df, value_col, group_col, groups, by)
    one = (F.col("__g") == g1).cast("double")
    two = (F.col("__g") == g2).cast("double")
    v = F.col("__v")
    agg = kept.groupBy(*by).agg(
        F.sum(one).alias("n1_d"), F.sum(two).alias("n2_d"),
        F.sum(one * v).alias("s1"), F.sum(two * v).alias("s2"),
        F.sum(one * v * v).alias("q1"), F.sum(two * v * v).alias("q2"))
    return agg, g1, g2


_ZERO_VAR = ("welch_ttest: zero variance in both groups — t is "
             "undefined on constant samples")


def welch_ttest(df: DataFrame, value_col: str, group_col: str,
                groups=None, tail: str = "normal") -> DataFrame:
    """Welch's unequal-variance two-sample t-test, one aggregate pass.

    t = (m1 − m2) / √(v1/n1 + v2/n2) with sample variances, and the
    Welch–Satterthwaite dof. The two-sided p uses the NORMAL
    approximation to the t distribution by default (at the corpus
    scales this engine targets dof is in the thousands, where
    |t − normal| < 1e-4 — documented, and the dof is returned).
    ``tail="exact"`` evaluates the exact Student-t upper tail via the
    driver-side incomplete-beta continued fraction (t_sf — the f_sf
    pattern): the single aggregate row collects either way, so this
    is a driver-side scalar swap with no plan change; the SQL oracles
    replay the normal default. Returns one row:
    (n1, n2, mean_diff, t_stat, dof, p_value).
    """
    if tail not in ("normal", "exact"):
        raise ValueError("tail must be 'normal' or 'exact'")
    out = welch_ttest_by(df, value_col, group_col, groups, ())
    if tail == "exact":
        # driver-side scalar swap, no plan change: the same single
        # aggregate row, with the exact t tail applied in Python
        row = out.collect()[0]
        if not row["n1"] or not row["n2"]:
            # behavior parity with the normal-tail _nonempty_guard
            raise ValueError(
                "welch_ttest: a group matched no rows — check the "
                "group values (NULL groups are excluded)")
        if row["n1"] < 2 or row["n2"] < 2:
            raise ValueError("welch_ttest: each group needs >= 2 rows")
        if not row["valid"]:
            raise ValueError(_ZERO_VAR)
        return local_frame(
            df.sparkSession,
            [(row["n1"], row["n2"], row["mean_diff"], row["t_stat"],
              row["dof"],
              float(min(1.0, 2.0 * t_sf(abs(row["t_stat"]),
                                        row["dof"]))))],
            "n1 long, n2 long, mean_diff double, t_stat double, "
            "dof double, p_value double")
    n1, n2 = F.col("n1"), F.col("n2")

    def grd(c):
        # both failure modes guarded on EVERY output column: < 2 rows
        # in a group (variance undefined) and zero pooled variance
        # (t undefined — constant values in both groups); the size
        # check wraps OUTERMOST so an undersized group reports itself,
        # not a NULL-variance artifact
        zerovar = F.when(~F.col("valid"), F.raise_error(F.lit(_ZERO_VAR))
                         ).otherwise(F.col(c))
        return _nonempty_guard(n1 - 1, n2 - 1, zerovar, "welch_ttest",
                               msg="each group needs >= 2 rows").alias(c)

    return out.select(n1, n2, *map(grd, ("mean_diff", "t_stat", "dof",
                                         "p_value")))


def welch_ttest_by(df: DataFrame, value_col: str, group_col: str,
                   groups, by) -> DataFrame:
    """Welch's t-test PER STRATUM — the corpus-scale hypothesis sweep
    (did returned items ship at different prices... in EVERY month?):
    one groupBy(by) conditional-sum aggregate computes every stratum's
    test in a single pass over the raw rows, exactly welch_ttest's
    arithmetic per group. Feeds benjamini_hochberg for
    multiple-testing control.

    Unlike the single-test API (which raises on undersized/constant
    groups — a caller error there), a sweep must not die on one thin
    stratum: strata with < 2 rows in either sample or zero pooled
    variance report NULL t/dof/p and valid=false, and
    benjamini_hochberg excludes them (documented there).

    Returns one row per stratum:
    (by..., n1, n2, mean_diff, t_stat, dof, p_value, valid).
    """
    by = [by] if isinstance(by, str) else list(by)
    agg, _, _ = _welch_sums(df, value_col, group_col, groups, by)
    # (mean_diff, se², t, dof): one F.expr per output of _welch
    agg = agg.select("*", *(
        F.expr(spark_sql(lambda *a, i=i: _welch(*a)[i],
                         "n1_d", "s1", "q1", "n2_d", "s2", "q2")).alias(c)
        for i, c in enumerate(("__diff", "__se2", "__t", "__dof"))))
    n1, n2, se2 = F.col("n1_d"), F.col("n2_d"), F.col("__se2")
    valid = (n1 >= 2.0) & (n2 >= 2.0) & se2.isNotNull() & (se2 > 0.0)

    def opt(c):
        return F.when(valid, c)

    return agg.select(
        *by,
        n1.cast("long").alias("n1"), n2.cast("long").alias("n2"),
        opt(F.col("__diff")).alias("mean_diff"),
        opt(F.col("__t")).alias("t_stat"),
        opt(F.col("__dof")).alias("dof"),
        opt(F.expr(spark_sql(normal_p2, "__t"))).alias("p_value"),
        valid.alias("valid"))


def benjamini_hochberg(df: DataFrame, p_col: str = "p_value",
                       alpha: float = 0.05,
                       max_tests: int = 100_000) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control over a family of tests
    (the multiple-testing companion of welch_ttest_by: at corpus scale
    EVERY per-stratum sweep needs it — with thousands of strata,
    uncontrolled 0.05-level tests guarantee false discoveries).

    q(i) = min_{j ≥ i} (p(j) · m / j) over the p-sorted family
    (suffix-min, so tied p-values share one q); reject ⇔ q ≤ alpha —
    equivalent to the classic step-up rule.

    Scale shape: the family is bounded (max_tests, the max_cells
    precedent — a million-hypothesis family wants a different method
    anyway), so the sorted p-list computes q driver-side from ONE
    bounded collect of the DISTINCT p values + per-p counts (ranks
    need multiplicity, not rows), and the (p → q) map joins back as a
    broadcast — input rows never move. NULL p rows (welch_ttest_by's
    invalid strata) are NOT part of the family: they get NULL
    q/reject and don't inflate m (documented; dropping them from m is
    the standard complete-case convention).

    Returns df plus (q_value double, reject boolean).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    # checkpoint the (bounded-by-contract) test family ONCE: the
    # q-map collect and the join back must see the SAME p doubles —
    # re-executing a sweep whose aggregates could re-associate between
    # jobs would make the eqNullSafe join silently miss (review-caught);
    # lazy — the family collect below materializes it
    df = df.localCheckpoint(eager=False)
    pc = F.col(p_col).cast("double")
    fam = (df.where(pc.isNotNull() & ~F.isnan(pc))
           .groupBy(pc.alias("__p"))
           .agg(F.count(F.lit(1)).alias("__c")))
    rows = collect_capped(
        fam, max_tests,
        f"benjamini_hochberg: family exceeds max_tests={max_tests} "
        "distinct p-values — a family that size wants a "
        "storey/empirical-null method, not BH")
    if not rows:
        raise ValueError("benjamini_hochberg: no non-null p-values")
    rows.sort(key=lambda r: r["__p"])
    m = sum(r["__c"] for r in rows)
    # walk DESCENDING p carrying the suffix min; a tied block's q uses
    # its LARGEST rank (the suffix min from the block's first rank
    # includes the block's own smallest p·m/j at j = last rank)
    out_rows = []
    suffix = float("inf")
    seen = m
    for r in reversed(rows):
        q = min(suffix, r["__p"] * m / seen)
        suffix = q
        out_rows.append((float(r["__p"]), float(min(1.0, q))))
        seen -= r["__c"]
    spark = df.sparkSession
    qmap = local_frame(spark, out_rows, "__p double, q_value double")
    joined = df.join(F.broadcast(qmap), pc.eqNullSafe(F.col("__p")),
                     "left").drop("__p")
    return joined.withColumn(
        "reject", F.when(F.col("q_value").isNotNull(),
                         F.col("q_value") <= alpha))


def pairwise_welch(df: DataFrame, value_col: str, group_col: str,
                   alpha: float = 0.05,
                   max_groups: int = 1024,
                   tail: str = "normal") -> DataFrame:
    """Post-hoc pairwise comparisons after anova_oneway — the question
    a significant F immediately raises ("WHICH groups differ?"), as
    all k(k−1)/2 Welch unequal-variance t-tests with Benjamini–
    Hochberg FDR across the pair family (Games–Howell's test built
    from the same (n, m, v) triples, with BH in place of the studentized
    range — the FDR convention this family already uses).

    Scale shape: ONE groupBy(group) pass of (n, Σx, Σx²) — the same
    single aggregate anova_oneway runs — then every pair statistic
    assembles driver-side from k rows of bounded state (max_groups;
    the pair loop is k²/2 scalar ops, trivial for any k a post-hoc
    makes sense for). No second data pass, no pairwise join of raw
    rows. A pair with a group under 2 rows or zero pooled variance
    reports valid=false with NULL statistics and is EXCLUDED from the
    BH family m (the welch_ttest_by convention). p is the large-sample
    normal tail of Welch's t by default (dof returned; the documented
    corpus convention, what the SQL oracle replays); ``tail="exact"``
    swaps in the exact Student-t tail (t_sf, driver-side — every pair
    statistic already assembles on the driver, so this costs nothing)
    — the honest choice on THIN strata, which are exactly where a
    post-hoc pairwise sweep gets used. Returns one row per pair
    (group_a < group_b by string sort): (group_a, group_b, n_a, n_b,
    mean_diff, t_stat, dof, p_value, q_value, reject, valid), ordered
    by (group_a, group_b).
    """
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if tail not in ("normal", "exact"):
        raise ValueError("tail must be 'normal' or 'exact'")
    v = F.col(value_col).cast("double")
    rows = collect_capped(
        df.where(v.isNotNull() & ~F.isnan(v)
                 & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).cast("string").alias("__g"))
        .agg(F.count(F.lit(1)).cast("double").alias("__n"),
             F.sum(v).alias("__s"),
             F.sum(v * v).alias("__q")),
        max_groups,
        f"pairwise_welch: more than max_groups={max_groups} groups "
        "— a pairwise sweep that size wants bucketing first")
    rows.sort(key=lambda r: r["__g"])
    if len(rows) < 2:
        raise ValueError("pairwise_welch needs >= 2 groups")
    pairs = []
    for i, a in enumerate(rows):
        for b in rows[i + 1:]:
            na, nb = a["__n"], b["__n"]
            rec = {"group_a": a["__g"], "group_b": b["__g"],
                   "n_a": int(na), "n_b": int(nb),
                   "mean_diff": None, "t_stat": None, "dof": None,
                   "p_value": None, "q_value": None, "reject": None,
                   "valid": False}
            if na >= 2.0 and nb >= 2.0:
                diff, se2, t, dof = _welch(na, a["__s"], a["__q"],
                                           nb, b["__s"], b["__q"])
                if se2 > 0.0:
                    p = (t_sf(abs(t), dof) if tail == "exact"
                         else normal_sf(abs(t)))
                    rec.update(
                        mean_diff=float(diff), t_stat=float(t),
                        dof=float(dof),
                        p_value=float(min(1.0, 2.0 * p)),
                        valid=True)
            pairs.append(rec)
    # BH step-up over the VALID pair family (suffix min from the
    # largest rank — benjamini_hochberg's walk, positional ranks with
    # a deterministic (p, group_a, group_b) tie-break)
    fam = [p for p in pairs if p["valid"]]
    fam.sort(key=lambda p: (p["p_value"], p["group_a"], p["group_b"]))
    m_tests = len(fam)
    suffix = float("inf")
    for rank in range(m_tests, 0, -1):
        p = fam[rank - 1]
        q = min(suffix, p["p_value"] * m_tests / rank)
        suffix = q
        p["q_value"] = float(min(1.0, q))
        p["reject"] = p["q_value"] <= alpha
    return local_frame(
        df.sparkSession,
        [(p["group_a"], p["group_b"], p["n_a"], p["n_b"],
          p["mean_diff"], p["t_stat"], p["dof"], p["p_value"],
          p["q_value"], p["reject"], p["valid"]) for p in pairs],
        "group_a string, group_b string, n_a long, n_b long, "
        "mean_diff double, t_stat double, dof double, p_value double, "
        "q_value double, reject boolean, valid boolean").orderBy(
            "group_a", "group_b")


def _replicates(sel: DataFrame, n_boot: int):
    """``sel`` (keyed by the chain state ``__k0``) fanned out over the
    replicate constants (b, a = M^{b+1} mod P), with each row's uniform
    ``__u`` bound for the Poisson(1) weight w, which reads it 9 times.
    Returns (frame, w). The constants array is ONE parsed SQL
    expression — the per-element F.lit/F.struct form paid ~3·B py4j
    round trips per call (~1 s at B=50; the ANN literal-table
    precedent). Values are < 2^31 so the unsuffixed SQL literals type
    as INT exactly like F.lit did; M odd -> invertible."""
    P = 1 << 31
    M = 2654435761
    arr = F.expr("array(" + ", ".join(
        f"named_struct('b', {b}, 'a', {pow(M, b + 1, P)})"
        for b in range(n_boot)) + ")")
    u = (F.pmod((F.col("__k0") + 1 + F.col("c.b")) * F.col("c.a"),
                F.lit(P))
         .cast("double") / F.lit(float(P)))
    return (sel.select("*", F.explode(arr).alias("c")).withColumn("__u", u),
            F.expr(spark_sql(pois1_weight, "__u")))


def bootstrap_ci(df: DataFrame, value_col: str, key_cols,
                 n_boot: int = 200, alpha: float = 0.05,
                 salt: int = 0, grid: int | None = None) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean — THE
    bootstrap that survives 100 TB: classic resampling needs n draws
    per replicate from a materialized population; the Poisson
    bootstrap instead gives every row an independent Poisson(1)
    multiplicity per replicate (for large n, Binomial(n, 1/n) →
    Poisson(1)), so ALL n_boot replicates reduce in ONE Spark job over
    the raw rows — a broadcast constants join fans each row across the
    B replicates and a ≤B-group hash aggregate (map-side combined)
    collapses them; nothing resampled is ever materialized.

    Determinism: the multiplicity of row r in replicate b is a pure
    function of (key_cols, b, salt) through the engine-portable Knuth
    hash chain (hash_split's) — u = (chain(keys)+1+b)·M^{b+1} mod 2^31
    scaled to [0,1) → inverse-CDF Poisson ladder — so results are
    independent of partitioning, retries, AND engine: a SQL oracle
    replays every draw bit-for-bit. The PER-REPLICATE multiplier
    M^{b+1} matters: adding b into the chain affinely would shift
    every row's u by the same constant between replicates (composed
    affine steps stay affine mod 2^31), making cross-replicate weights
    lattice-correlated and the CI width biased; one multiplicative
    step per replicate stride-mixes each ladder interval across the
    whole range instead.

    CI: nearest-rank percentiles of the B replicate means
    (k_lo = ceil(alpha/2·B), k_hi = ceil((1−alpha/2)·B), 1-indexed) —
    no interpolation, so engine FP drift in a replicate mean can't
    move the selected RANK. An EMPTY replicate (every row drew w=0 —
    only possible at tiny n) raises rather than silently re-ranking
    over fewer replicates, because an oracle that selects fixed ranks
    over the non-empty replicates would diverge from a bb-based
    re-rank. Returns one row: (n, mean, ci_lo, ci_hi, n_boot).

    ``grid``: decimal digits of exact fixed-point accumulation for the
    value sums (the catalog _dsum convention — r10). With grid=4,
    Σw·v and Σv accumulate as int64 1e-4 units (w is a small integer,
    so w·v stays ON the grid): integer addition is exact and
    associative, so no plan-shape change can move the replicate means
    or the headline mean — the raw-double default leaves ~3e-8
    association-order drift on price-scale means, only ~30× of margin
    to a 1e-6 output grid (the r9 salted-join flap class). Exact while
    |Σ| < 2^63 units; the int64 → double conversion at the end is
    IEEE-deterministic in both engines. Default None keeps raw double
    sums for values not on a known grid.
    """
    from dask_ml_spark.plans.model_selection import _hash_bucket_expr

    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if n_boot < 2:
        raise ValueError("n_boot must be >= 2")
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    P = 1 << 31
    v = F.col(value_col).cast("double")
    kept = df.where(v.isNotNull() & ~F.isnan(v))
    # base chain over the row key ONCE (k in [0, P) — _hash_bucket_expr
    # with n_buckets=P leaves the full chain state); per replicate only
    # two int ops + the branch-free ladder. The replicates ride a
    # broadcast (b, M^{b+1} mod P) constants join + ONE groupBy(b) with
    # two aggregates — NOT 2·B aggregate columns, whose fresh expr ids
    # forced a multi-second whole-stage codegen recompile per call (and
    # whose construction paid thousands of py4j round-trips).
    k0 = _hash_bucket_expr(key_cols, P, salt, df=df)
    if grid is not None:
        # exact fixed-point units (int64): w·v_units stays integral
        scale = float(10 ** grid)
        vq = F.floor(v * F.lit(scale) + F.lit(0.5)).cast("long")
        sel = kept.select(vq.alias("__vq"), k0.alias("__k0"))
    else:
        scale = None
        sel = kept.select(v.alias("__v"), k0.alias("__k0"))
    # spread the NARROW (value, key-hash) projection before the B-way
    # fan-out: a small parquet input scans as 1-3 partitions, so the
    # B·n generate + ladder + partial aggregate — the query's entire
    # compute — would run in ONE task (measured 32-core-idle at sf0.1).
    # The shuffle moves ~16 bytes/row once; at corpus scale inputs
    # already carry enough partitions and this is a no-op (guide §2).
    sel = ensure_min_partitions(sel)
    # replicate constants fan out via an inline array explode — a
    # whole-stage-codegen generator, measured faster than the broadcast
    # crossJoin it replaces (BroadcastNestedLoopJoin materializes B·n
    # JoinedRows)
    fanned, w = _replicates(sel, n_boot)
    # the plain sum/count ride in the same job: every b group sees all
    # rows, so (s, n) is identical in each — read it off the first
    if grid is not None:
        wx_agg = F.sum(F.col("__vq") * w.cast("long")).alias("wx")
        sw_agg = F.sum(w.cast("long")).alias("sw")
        s_agg = F.sum("__vq").alias("s")
    else:
        wx_agg = F.sum(w * F.col("__v")).alias("wx")
        sw_agg = F.sum(w).alias("sw")
        s_agg = F.sum("__v").alias("s")
    reps = (fanned.groupBy("c.b")
            .agg(wx_agg, sw_agg, s_agg,
                 F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("__k0").isNull().cast("long"))
                 .alias("nullk")))
    rep_rows = reps.collect()
    if not rep_rows or not rep_rows[0]["n"]:
        raise ValueError("bootstrap_ci: no non-null values")
    row = rep_rows[0]
    if row["nullk"]:
        # a NULL key hashes to a NULL u -> NULL weight: the row would
        # stay in mean/n but silently vanish from EVERY replicate,
        # biasing the CI (the Incremental __fold NULL-guard precedent)
        raise ValueError(
            f"bootstrap_ci: key_cols={key_cols} contain NULLs in "
            f"{row['nullk']} rows — drop or fill them first")
    n_empty = sum(1 for r in rep_rows if not r["sw"])
    if n_empty:
        # re-ranking over the non-empty replicates would silently
        # diverge from any oracle selecting fixed ranks — fail loudly
        raise ValueError(
            f"bootstrap_ci: {n_empty}/{n_boot} replicates drew zero "
            "total weight — n too small for the Poisson bootstrap")
    if grid is not None:
        # (int64 units → double) / scale / sw — the exact op order the
        # SQL oracle replays: each step is IEEE-deterministic
        means = sorted((r["wx"] / scale) / r["sw"] for r in rep_rows)
        mean = (row["s"] / scale) / row["n"]
    else:
        means = sorted(r["wx"] / r["sw"] for r in rep_rows)
        mean = row["s"] / row["n"]
    bb = len(means)
    k_lo = max(1, math.ceil(alpha / 2.0 * bb))
    k_hi = min(bb, math.ceil((1.0 - alpha / 2.0) * bb))
    return local_frame(
        df.sparkSession,
        [(int(row["n"]), float(mean),
          float(means[k_lo - 1]), float(means[k_hi - 1]), int(n_boot))],
        "n long, mean double, ci_lo double, ci_hi double, n_boot long")


def bootstrap_ci_by(df: DataFrame, value_col: str, key_cols, by,
                    n_boot: int = 200, alpha: float = 0.05,
                    salt: int = 0, grid: int | None = None,
                    max_groups: int = 256) -> DataFrame:
    """Per-GROUP Poisson-bootstrap CIs — the corpus-report sweep
    ("mean quality per source, with error bars") in ONE Spark job:
    bootstrap_ci's hash-deterministic per-(row, replicate) draws,
    aggregated by (group, replicate) instead of replicate — still one
    raw-row pass, ≤G·B aggregate groups, nothing materialized. The
    driver state is the bounded (max_groups·n_boot)-row replicate
    table (the max_cells precedent).

    Unlike the single-population API (which raises on an empty
    replicate — a caller error there), a sweep must not die on one
    thin group: groups where ANY replicate drew zero weight report
    NULL mean/ci and valid=false (the welch_ttest_by convention).
    ``grid`` as in bootstrap_ci — the catalog uses grid=4 for
    bit-stable price-scale sums. Returns one row per group, ordered by
    the by-columns: (by..., n, mean, ci_lo, ci_hi, n_boot, valid).
    """
    from dask_ml_spark.plans.model_selection import _hash_bucket_expr

    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    if n_boot < 2:
        raise ValueError("n_boot must be >= 2")
    by = [by] if isinstance(by, str) else list(by)
    key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    P = 1 << 31
    v = F.col(value_col).cast("double")
    kept = df.where(v.isNotNull() & ~F.isnan(v))
    for c in by:
        kept = kept.where(F.col(c).isNotNull())
    k0 = _hash_bucket_expr(key_cols, P, salt, df=df)
    if grid is not None:
        scale = float(10 ** grid)
        vq = F.floor(v * F.lit(scale) + F.lit(0.5)).cast("long")
        sel = kept.select(*[F.col(c).cast("string").alias(f"__g{i}")
                            for i, c in enumerate(by)],
                          vq.alias("__vq"), k0.alias("__k0"))
        wx_of = lambda w: F.sum(F.col("__vq") * w.cast("long"))  # noqa
        sw_of = lambda w: F.sum(w.cast("long"))  # noqa: E731
        s_agg = F.sum("__vq").alias("__s")
    else:
        scale = None
        sel = kept.select(*[F.col(c).cast("string").alias(f"__g{i}")
                            for i, c in enumerate(by)],
                          v.alias("__v"), k0.alias("__k0"))
        wx_of = lambda w: F.sum(w * F.col("__v"))  # noqa: E731
        sw_of = lambda w: F.sum(w)  # noqa: E731
        s_agg = F.sum("__v").alias("__s")
    # same 1-partition-scan guard as bootstrap_ci: the B-way fan-out is
    # the whole compute and must not ride a single scan task
    sel = ensure_min_partitions(sel)
    fanned, w = _replicates(sel, n_boot)
    gcols = [f"__g{i}" for i in range(len(by))]
    reps = (fanned.groupBy(*gcols, F.col("c.b").alias("__b"))
            .agg(wx_of(w).alias("__wx"), sw_of(w).alias("__sw"),
                 s_agg, F.count(F.lit(1)).alias("__n"),
                 F.sum(F.col("__k0").isNull().cast("long"))
                 .alias("__nullk")))
    rep_rows = collect_capped(
        reps, max_groups * n_boot,
        f"bootstrap_ci_by: more than max_groups={max_groups} "
        "groups — bucket or top-K the by-columns first")
    if any(r["__nullk"] for r in rep_rows):
        raise ValueError(
            f"bootstrap_ci_by: key_cols={key_cols} contain NULLs — "
            "drop or fill them first (a NULL key silently vanishes "
            "from every replicate)")
    groups: dict = {}
    for r in rep_rows:
        groups.setdefault(tuple(r[c] for c in gcols), []).append(r)
    out = []
    for gkey in sorted(groups):
        rs = groups[gkey]
        row0 = rs[0]
        n = int(row0["__n"])
        if len(rs) < n_boot or any(not r["__sw"] for r in rs):
            # a replicate drew zero weight (tiny group): no honest CI
            out.append((*gkey, n, None, None, None, int(n_boot), False))
            continue
        if grid is not None:
            means = sorted((r["__wx"] / scale) / r["__sw"] for r in rs)
            mean = (row0["__s"] / scale) / row0["__n"]
        else:
            means = sorted(r["__wx"] / r["__sw"] for r in rs)
            mean = row0["__s"] / row0["__n"]
        k_lo = max(1, math.ceil(alpha / 2.0 * n_boot))
        k_hi = min(n_boot, math.ceil((1.0 - alpha / 2.0) * n_boot))
        out.append((*gkey, n, float(mean), float(means[k_lo - 1]),
                    float(means[k_hi - 1]), int(n_boot), True))
    by_schema = ", ".join(f"{c} string" for c in by)
    return local_frame(
        df.sparkSession,
        out, f"{by_schema}, n long, mean double, ci_lo double, "
        "ci_hi double, n_boot long, valid boolean").orderBy(*by)


def prop_ztest(df: DataFrame, success, group_col: str,
               groups) -> DataFrame:
    """Two-sample proportion z-test — the most common corpus A/B gate
    (did the new scrape change the fraction of toxic/english/dup
    docs?): ONE conditional-sum aggregate (n, successes per group),
    pooled-variance z, two-sided p via the shared A&S 26.2.17 normal
    tail. ``success`` is a boolean Column (or column name). Returns
    one row: (n1, n2, p1, p2, z, p_value); all-equal proportions with
    zero pooled variance report z = 0, p = 1.
    """
    if isinstance(success, str):
        success = F.col(success)
    g1, g2 = groups
    s = success.cast("double")
    kept = df.where(s.isNotNull() & F.col(group_col).isin([g1, g2]))
    one = (F.col(group_col) == g1).cast("double")
    two = (F.col(group_col) == g2).cast("double")
    agg = kept.agg(F.sum(one).alias("n1_d"), F.sum(two).alias("n2_d"),
                   F.sum(one * s).alias("s1"), F.sum(two * s).alias("s2"))
    n1, n2 = F.col("n1_d"), F.col("n2_d")
    p1, p2 = F.col("s1") / n1, F.col("s2") / n2
    pp = (F.col("s1") + F.col("s2")) / (n1 + n2)
    var = pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)
    z = F.when(var <= 0.0, F.lit(0.0)).otherwise((p1 - p2) / F.sqrt(var))
    agg, z = agg.withColumn("__z", z), F.col("__z")
    p = F.when(var <= 0.0, F.lit(1.0)).otherwise(
        F.expr(spark_sql(normal_p2, "__z")))
    def grd(c):
        return _nonempty_guard(n1, n2, c, "prop_ztest")

    return agg.select(
        n1.cast("long").alias("n1"), n2.cast("long").alias("n2"),
        grd(p1).alias("p1"), grd(p2).alias("p2"),
        grd(z).alias("z"), grd(p).alias("p_value"))


def anova_oneway(df: DataFrame, value_col: str, group_col: str,
                 max_groups: int = 65536,
                 tail: str = "chi2") -> DataFrame:
    """One-way ANOVA across ALL groups of ``group_col`` — the k-group
    generalization of welch_ttest (equal-variance classical F; the
    per-feature scorer sibling is feature_selection.f_classif, which
    this cross-checks against in tests). ONE groupBy(group) pass
    collects (n, Σx, Σx²) per group; F and the partition of variance
    assemble driver-side from k rows of state.

    p-value: ``tail="chi2"`` (default) uses k·F → χ²_k as the within
    dof → ∞ (at corpus scale df_within is ~rows, where the F and χ²
    tails agree to ~1/df_within; this is what the SQL oracles replay).
    ``tail="exact"`` evaluates the exact F upper tail via the
    driver-side incomplete-beta continued fraction (f_sf) — a
    driver-side scalar swap, no plan change — for small-sample
    callers; df_between/df_within are returned either way. Returns one
    row: (k, n, f_stat, df_between, df_within, p_value, eta_squared) —
    η² = SS_between/SS_total, the effect size a corpus-scale caller
    actually needs (at 10⁶ rows EVERYTHING is significant; η² says
    whether the group structure explains 0.01% or 30% of the
    variance). A self-normalizing ratio of the same driver sums.
    """
    if tail not in ("chi2", "exact"):
        raise ValueError("tail must be 'chi2' or 'exact'")
    v = F.col(value_col).cast("double")
    rows = collect_capped(
        df.where(v.isNotNull() & ~F.isnan(v)
                 & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("double").alias("__n"),
             F.sum(v).alias("__s"),
             F.sum(v * v).alias("__q")),
        max_groups,
        f"anova_oneway: more than max_groups={max_groups} groups — "
        "a family that size wants bucketing first")
    # sorted group order: the driver-side sums are content-deterministic
    rows.sort(key=lambda r: str(r[group_col]))
    k = len(rows)
    if k < 2:
        raise ValueError("anova_oneway needs >= 2 groups")
    n = sum(r["__n"] for r in rows)
    if n <= k:
        raise ValueError("anova_oneway needs n > k rows")
    tot_s = sum(r["__s"] for r in rows)
    grand = tot_s / n
    ss_between = sum(r["__n"] * (r["__s"] / r["__n"] - grand) ** 2
                     for r in rows)
    ss_within = sum(r["__q"] - r["__n"] * (r["__s"] / r["__n"]) ** 2
                    for r in rows)
    dfb, dfw = k - 1, int(n) - k
    if ss_within <= 0.0:
        raise ValueError("anova_oneway: zero within-group variance — "
                         "F is undefined on constant groups")
    f_stat = (ss_between / dfb) / (ss_within / dfw)
    p = (f_sf(f_stat, float(dfb), float(dfw)) if tail == "exact"
         else chi2_sf(dfb * f_stat, dfb))
    eta2 = ss_between / (ss_between + ss_within)
    return local_frame(
        df.sparkSession,
        [(k, int(n), float(f_stat), dfb, dfw, float(p), float(eta2))],
        "k long, n long, f_stat double, df_between long, "
        "df_within long, p_value double, eta_squared double")


#: z for a two-sided 95% normal interval — Phi^{-1}(0.975), the
#: standard white-noise ACF band constant (written as a literal so the
#: SQL oracles replay it bit-for-bit)
_Z975 = 1.959963984540054


def autocorrelation(df: DataFrame, value_col: str, order_col: str,
                    lags: int = 14, step: float = 1.0,
                    conf: bool = True) -> DataFrame:
    """Lag correlation (ACF) of the bucket-aggregated series: bucket
    ``order_col`` by ``step`` (mean of ``value_col`` per bucket — the
    irreducible raw-row pass), then for every lag 1..K the Pearson
    correlation between the series and its lag-shifted self.

    Shape: ONE explode(sequence(1, K)) over the (small) bucket series
    + ONE equi-join on the shifted bucket index + ONE groupBy(lag) of
    streaming co-moment aggregates — no keyless window, no K separate
    joins, and the join keys are integers so pairing is exact. This is
    the per-lag-mean Pearson convention (each lag's correlation uses
    its own pair means — cross-engine replayable; the
    statsmodels-style global-mean ACF differs at the series edges,
    documented). Returns (lag, n_pairs, acf[, band_lo, band_hi])
    ordered by lag; a lag with < 2 pairs or zero variance reports NULL
    acf.

    ``conf`` (default True) adds the ±z₀.₉₇₅/√n_pairs white-noise 95%
    band per lag — the Bartlett large-sample null band for "is this
    lag's correlation distinguishable from noise?", which is the
    question the operator exists to answer. A literal column
    expression (no extra pass); an acf outside [band_lo, band_hi]
    rejects the white-noise null at 5% for that lag (per-lag, not
    family-corrected — scan K lags and Bonferroni yourself if you need
    a family guarantee).
    """
    if lags < 1:
        raise ValueError("lags must be >= 1")
    if not step > 0:
        raise ValueError("step must be > 0")
    o = F.col(order_col).cast("double")
    v = F.col(value_col).cast("double")
    series = (df.where(o.isNotNull() & ~F.isnan(o)
                       & v.isNotNull() & ~F.isnan(v))
              .groupBy(F.floor(o / F.lit(step)).cast("long").alias("__b"))
              .agg(F.avg(v).alias("__x")))
    e = (series
         .select("__b", "__x",
                 F.explode(F.sequence(F.lit(1), F.lit(lags)))
                 .alias("lag"))
         .withColumn("__b2", F.col("__b") + F.col("lag")))
    right = series.select(F.col("__b").alias("__b2"),
                          F.col("__x").alias("__y"))
    pairs = e.join(right, "__b2")
    agg = (pairs.groupBy("lag")
           .agg(F.count(F.lit(1)).alias("n_pairs"),
                F.corr("__x", "__y").alias("acf")))
    cols = [F.col("lag").cast("long").alias("lag"), F.col("n_pairs"),
            F.col("acf")]
    if conf:
        band = F.lit(_Z975) / F.sqrt(F.col("n_pairs").cast("double"))
        cols += [(-band).alias("band_lo"), band.alias("band_hi")]
    return agg.select(*cols).orderBy("lag")


def changepoint_mean(df: DataFrame, value_col: str, order_col: str,
                     bins: int = 64) -> DataFrame:
    """Single mean-shift changepoint over an ordered axis — the
    corpus-drift monitor ("did the stream's quality score move, and
    WHEN?"): the ks_2sample(bins=K) skeleton. Two narrow scans — one
    (min, max) aggregate over the order column, then one ≤K-group
    bucket aggregate of (n, Σx, Σx²) — and a driver-side scan of the
    K−1 split points maximizing the two-sample pooled-variance |t|
    between [lo, s] and (s, hi]. Resolution is one bucket width
    (O(range/K)), the price of never sorting the rows.

    p-value: two-sided normal tail of max|t|, Bonferroni-corrected
    ×(K−1) splits (conservative — max-|t| scan statistics need it;
    documented, and the uncorrected t is returned for effect-size
    reading). Ties in |t| break toward the SMALLEST split bucket, so
    the reported split is content-deterministic. Returns one row:
    (split_value, t_stat, p_value, n_before, n_after, mean_before,
    mean_after).
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    o = F.col(order_col).cast("double")
    v = F.col(value_col).cast("double")
    kept = (df.where(o.isNotNull() & ~F.isnan(o)
                     & v.isNotNull() & ~F.isnan(v))
            .select(o.alias("__o"), v.alias("__v")))
    lohi = kept.agg(F.min("__o").alias("lo"),
                    F.max("__o").alias("hi")).collect()[0]
    if lohi["lo"] is None:
        raise ValueError("changepoint_mean: no complete-case rows")
    lo, hi = float(lohi["lo"]), float(lohi["hi"])
    width = (hi - lo) or 1.0
    bucket = F.least(F.lit(bins - 1),
                     F.floor((F.col("__o") - F.lit(lo)) / F.lit(width)
                             * F.lit(bins))).cast("int")
    rows = (kept.groupBy(bucket.alias("__b"))
            .agg(F.count(F.lit(1)).cast("double").alias("__n"),
                 F.sum("__v").alias("__s"),
                 F.sum(F.col("__v") * F.col("__v")).alias("__q"))
            .collect())
    rows.sort(key=lambda r: r["__b"])
    tot_n = sum(r["__n"] for r in rows)
    tot_s = sum(r["__s"] for r in rows)
    tot_q = sum(r["__q"] for r in rows)
    if tot_n < 4:
        raise ValueError("changepoint_mean needs >= 4 rows")
    best = None  # (abs_t, split_bucket, t, n1, n2, m1, m2)
    n1 = s1 = q1 = 0.0
    for r in rows[:-1]:
        n1 += r["__n"]
        s1 += r["__s"]
        q1 += r["__q"]
        n2 = tot_n - n1
        if n1 < 2 or n2 < 2:
            continue
        s2, q2 = tot_s - s1, tot_q - q1
        m1, m2 = s1 / n1, s2 / n2
        # pooled two-sample t
        sp2 = ((q1 - n1 * m1 * m1) + (q2 - n2 * m2 * m2)) / (tot_n - 2.0)
        se2 = sp2 * (1.0 / n1 + 1.0 / n2)
        if se2 <= 0.0:
            continue
        t = (m1 - m2) / math.sqrt(se2)
        key = (abs(t), -r["__b"])  # ties -> smallest split bucket
        if best is None or key > best[0]:
            best = (key, r["__b"], t, n1, n2, m1, m2)
    if best is None:
        raise ValueError("changepoint_mean: no valid split (constant "
                         "values or too few rows per side)")
    _, sb, t, bn1, bn2, m1, m2 = best
    # split_value = the RIGHT edge of the split bucket
    split_value = lo + (sb + 1) * (width / bins)
    p = min(1.0, (bins - 1) * (2.0 * normal_sf(abs(t))))
    return local_frame(
        df.sparkSession,
        [(float(split_value), float(t), float(p), int(bn1), int(bn2),
          float(m1), float(m2))],
        "split_value double, t_stat double, p_value double, "
        "n_before long, n_after long, mean_before double, "
        "mean_after double")


def trend_test(df: DataFrame, value_col: str, order_col: str,
               bins: int = 64, grid: int | None = None) -> DataFrame:
    """Mann–Kendall monotone-trend test + Theil–Sen slope over an
    ordered axis — the drift monitor changepoint_mean can't be ("is
    quality SLOWLY eroding?" has no single split point): the
    ks-binned skeleton again. Two narrow scans — one (min, max)
    aggregate over the order column, one ≤K-group bucket aggregate of
    (n, Σv) — then the K-point bucket-MEAN series drives both
    statistics driver-side: S = Σ_{i<j} sign(m_j − m_i) with the
    tie-corrected variance n(n−1)(2n+5)/18 − Σt(t−1)(2t+5)/18 and a
    continuity-corrected two-sided normal p, and the Theil–Sen slope =
    median of the C(K,2) pairwise slopes against bucket midpoints (per
    order unit). Applying MK to the bucket means rather than raw rows
    is the scale adaptation: resolution is one bucket (O(range/K)),
    the price of never sorting rows — same trade as changepoint_mean.

    ``grid``: like bootstrap_ci — with grid=g the bucket sums
    accumulate as exact int64 10^-g units in BOTH engines, making
    every bucket mean (and therefore every sign comparison in S)
    bit-stable under plan-shape changes; sign flips between two
    near-equal bucket means are exactly the r9 flap class, so the
    catalog uses grid=4. Returns one row: (n, n_buckets, s_stat, z,
    p_value, sen_slope).
    """
    if bins < 3:
        raise ValueError("bins must be >= 3")
    if bins > 1024:
        # C(K,2) pairwise slopes sort driver-side: 1024 → ~524k
        # scalars, the bounded ceiling (the spearman_rho_binned cap)
        raise ValueError("bins > 1024 — the C(K,2) driver slope state "
                         "stops being bounded")
    o = F.col(order_col).cast("double")
    v = F.col(value_col).cast("double")
    kept = (df.where(o.isNotNull() & ~F.isnan(o)
                     & v.isNotNull() & ~F.isnan(v))
            .select(o.alias("__o"), v.alias("__v")))
    lohi = kept.agg(F.min("__o").alias("lo"),
                    F.max("__o").alias("hi")).collect()[0]
    if lohi["lo"] is None:
        raise ValueError("trend_test: no complete-case rows")
    lo, hi = float(lohi["lo"]), float(lohi["hi"])
    width = (hi - lo) or 1.0
    bucket = F.least(F.lit(bins - 1),
                     F.floor((F.col("__o") - F.lit(lo)) / F.lit(width)
                             * F.lit(bins))).cast("int")
    if grid is not None:
        scale = float(10 ** grid)
        vs = F.sum(F.floor(F.col("__v") * F.lit(scale) + F.lit(0.5))
                   .cast("long")).alias("__s")
    else:
        scale = None
        vs = F.sum("__v").alias("__s")
    rows = (kept.groupBy(bucket.alias("__b"))
            .agg(F.count(F.lit(1)).alias("__n"), vs)
            .collect())
    rows.sort(key=lambda r: r["__b"])
    if len(rows) < 3:
        raise ValueError("trend_test: fewer than 3 non-empty buckets — "
                         "widen the order range or lower bins")
    n_rows = sum(r["__n"] for r in rows)
    # bucket means and midpoints, in the exact op order the SQL replays
    if grid is not None:
        means = [(r["__s"] / scale) / r["__n"] for r in rows]
    else:
        means = [r["__s"] / r["__n"] for r in rows]
    mids = [lo + (r["__b"] + 0.5) * (width / bins) for r in rows]
    b = len(means)
    s = 0
    slopes = []
    for i in range(b):
        for j in range(i + 1, b):
            d = means[j] - means[i]
            s += (d > 0) - (d < 0)
            slopes.append(d / (mids[j] - mids[i]))
    # tie correction over equal bucket means
    tie: dict = {}
    for m in means:
        tie[m] = tie.get(m, 0) + 1
    var = (b * (b - 1) * (2 * b + 5)
           - sum(t * (t - 1) * (2 * t + 5)
                 for t in tie.values() if t > 1)) / 18.0
    if var <= 0.0:
        z = 0.0
        p = 1.0
    else:
        if s > 0:
            z = (s - 1) / math.sqrt(var)
        elif s < 0:
            z = (s + 1) / math.sqrt(var)
        else:
            z = 0.0
        p = normal_p2(z)
    slopes.sort()
    cnt = len(slopes)
    s_lo, s_hi = slopes[(cnt - 1) // 2], slopes[cnt // 2]
    sen = s_lo + (s_hi - s_lo) / 2.0  # the oracle replays this form
    return local_frame(
        df.sparkSession,
        [(int(n_rows), b, int(s), float(z), float(p), float(sen))],
        "n long, n_buckets long, s_stat long, z double, "
        "p_value double, sen_slope double")


def isotonic_fit_binned(df: DataFrame, x_col: str, y_col: str,
                        bins: int = 64, increasing: bool = True,
                        grid: int | None = None) -> DataFrame:
    """Isotonic (monotone) regression of y on x at corpus scale — the
    calibration-curve fitter (quality-classifier score → empirical
    label rate must be monotone before thresholding trusts it), and
    the shape-constrained alternative to a parametric fit. The classic
    PAV pools adjacent row-level violators — a sequential sort-shaped
    algorithm; here the 100 TB form is the family's standard binning
    trade: one (min, max) pass on x, ONE ≤K-bucket aggregate of
    (n, Σy), then the monotone fit over the K weighted bucket means
    driver-side, at O(range/K) resolution.

    The driver solve uses the MINIMAX characterization
    y*_i = max_{j≤i} min_{k≥i} mean(y over buckets j..k) — identical
    results to PAV (pytest-pinned), chosen because a SQL oracle can
    replay it relationally (pair means from window cumsums + two
    grouped extremes) with bit-identical arithmetic, where PAV's
    data-dependent pooling order cannot be mirrored op-for-op. O(K²)
    via per-j suffix mins — trivial driver work at K ≤ 1024.

    ``increasing=False`` fits a decreasing curve by negating y
    (means are computed on the negated values and negated back —
    document the double sign flip when replaying). ``grid`` as in
    bootstrap_ci: exact int64 fixed-point Σy for plan-shape-proof
    bucket means (the catalog convention). Returns one row per
    NON-EMPTY bucket, ordered: (bucket, x_lo, x_hi, n, y_mean, y_fit);
    y_fit is nondecreasing (nonincreasing) in x by construction.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if bins > 1024:
        raise ValueError("bins > 1024 — the O(K²) driver solve stops "
                         "being bounded")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    sign = 1.0 if increasing else -1.0
    kept = (df.where(x.isNotNull() & ~F.isnan(x)
                     & y.isNotNull() & ~F.isnan(y))
            .select(x.alias("__x"), (y * F.lit(sign)).alias("__y")))
    lohi = kept.agg(F.min("__x").alias("lo"),
                    F.max("__x").alias("hi")).collect()[0]
    if lohi["lo"] is None:
        raise ValueError("isotonic_fit_binned: no complete-case rows")
    lo, hi = float(lohi["lo"]), float(lohi["hi"])
    width = (hi - lo) or 1.0
    bucket = F.least(F.lit(bins - 1),
                     F.floor((F.col("__x") - F.lit(lo)) / F.lit(width)
                             * F.lit(bins))).cast("int")
    if grid is not None:
        scale = float(10 ** grid)
        ysum = F.sum(F.floor(F.col("__y") * F.lit(scale) + F.lit(0.5))
                     .cast("long")).alias("__s")
    else:
        scale = None
        ysum = F.sum("__y").alias("__s")
    rows = (kept.groupBy(bucket.alias("__b"))
            .agg(F.count(F.lit(1)).alias("__n"), ysum)
            .collect())
    rows.sort(key=lambda r: r["__b"])
    k_n = len(rows)
    # inclusive cumulative (count, y-sum) with a leading zero — the
    # exact ints/doubles the SQL window cumsums produce
    cn = [0]
    cs = [0 if grid is not None else 0.0]
    for r in rows:
        cn.append(cn[-1] + r["__n"])
        cs.append(cs[-1] + r["__s"])

    def mean(j: int, k: int) -> float:
        # mean of y over buckets j..k (0-based indices into rows),
        # the exact op order the oracle replays
        if grid is not None:
            return ((cs[k + 1] - cs[j]) / scale) / (cn[k + 1] - cn[j])
        return (cs[k + 1] - cs[j]) / (cn[k + 1] - cn[j])

    # minimax via per-j suffix mins: smin_j[i] = min_{k>=i} mean(j,k)
    fit = [float("-inf")] * k_n
    for j in range(k_n):
        smin = float("inf")
        for k in range(k_n - 1, j - 1, -1):
            smin = min(smin, mean(j, k))
            if smin > fit[k]:  # max over j<=k of smin_j[k]
                fit[k] = smin
    unit = width / bins
    out = []
    for idx, r in enumerate(rows):
        b = int(r["__b"])
        out.append((b, lo + b * unit, lo + (b + 1) * unit,
                    int(r["__n"]), float(sign * mean(idx, idx)),
                    float(sign * fit[idx])))
    return local_frame(
        df.sparkSession, out, "bucket long, x_lo double, x_hi double, n long, "
        "y_mean double, y_fit double").orderBy("bucket")


def brown_forsythe(df: DataFrame, value_col: str, group_col: str,
                   approximate: bool = True,
                   accuracy: int = 10_000,
                   tail: str = "chi2") -> DataFrame:
    """Brown–Forsythe test of variance homogeneity across k groups —
    the robust Levene variant (deviations from the group MEDIAN, not
    the mean), the standard pre-check before pooling strata or
    trusting an equal-variance ANOVA. Two passes: one groupBy(group)
    median aggregate (percentile_approx by default — the bounded
    100 TB sketch; ``approximate=False`` uses exact percentile for
    oracle replay, the winsorized_prices convention — exact per-group
    percentile state is O(group size)), broadcast the k medians back,
    then one-way ANOVA on z = |x − med_g| (anova_oneway's single
    (n, Σz, Σz²) pass; p via the same large-within-dof χ² limit of
    k·W by default, or the exact F tail with ``tail="exact"`` — see
    anova_oneway). Returns one row (anova_oneway's widened schema):
    (k, n, f_stat, df_between, df_within, p_value, eta_squared) —
    eta² here is the variance-explained of the |x − med_g|
    deviations, i.e. how much of the spread-of-spreads the grouping
    accounts for.
    """
    v = F.col(value_col).cast("double")
    kept = df.where(v.isNotNull() & ~F.isnan(v)
                    & F.col(group_col).isNotNull())
    med = (F.percentile_approx(v, 0.5, accuracy) if approximate
           else F.percentile(v, F.lit(0.5)))
    meds = (kept.groupBy(group_col).agg(med.alias("__med"))
            .withColumnRenamed(group_col, "__g"))
    z = F.abs(v - F.col("__med"))
    joined = (kept.join(F.broadcast(meds),
                        F.col(group_col) == F.col("__g"))
              .select(F.col(group_col).alias("__grp"), z.alias("__z")))
    return anova_oneway(joined, "__z", "__grp", tail=tail)


def spearman_rho(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """EXACT Spearman rank correlation, distributed with tie-averaged
    ranks: per column rank(v) = (# below) + (count+1)/2 over the
    distinct values, joined back to the complete-case rows, then ONE
    Pearson co-moment aggregate over the rank pair — the standard
    tie-corrected Spearman. No keyless window, no row-count-sized
    sort — BUT the rank map groups by distinct value, so on a
    CONTINUOUS column (distinct ≈ N) this is a row-count-sized sort
    in disguise. For continuous columns prefer ``spearman_rho_binned``
    (the documented default since r12: ONE ≤K²-cell aggregate,
    |ρ_b − ρ| = O(1/K), 5× faster at sf0.1 and flat at 10× rows);
    keep this exact path for genuinely low-cardinality columns and as
    the parity witness.

    Rank-map construction follows the kaplan_meier pattern, for BOTH
    columns in ONE tagged pass (r14 — the two per-column passes each
    paid the full bounded-probe + prefix-machinery job chain): one
    in-row explode tags every value ('a'|'b'), one distinct-count
    aggregate covers both columns, one bounded limit-collect probes
    the combined cardinality. Under ``utils.MAX_DRIVER_ROWS`` the
    cumsums run driver-side per tag and the maps join back as explicit
    BROADCASTs (counts are integers, so the driver cumsum is
    bit-identical to the distributed one); above it, ONE grouped
    two-phase prefix pass (group_col = the tag) ranks both columns in
    the same range shuffle.

    The large-sample two-sided p uses z = ρ·√(n−1) against the shared
    A&S normal tail (documented; exact for the corpus-scale n this
    engine targets). Returns one row: (n, rho, p_value).
    """
    from dask_ml_spark.datapipe.packing import prefix_sum

    va = F.col(col_a).cast("double")
    vb = F.col(col_b).cast("double")
    kept = (df.where(va.isNotNull() & ~F.isnan(va)
                     & vb.isNotNull() & ~F.isnan(vb))
            .select(va.alias("__a"), vb.alias("__b")))
    spark = df.sparkSession
    g = (kept.select(F.explode(F.array(
            F.struct(F.lit("a").alias("__t"), F.col("__a").alias("__v")),
            F.struct(F.lit("b").alias("__t"), F.col("__b").alias("__v"))))
         .alias("__e"))
         .select("__e.__t", "__e.__v")
         .groupBy("__t", "__v")
         .agg(F.count(F.lit(1)).cast("double").alias("__c")))
    g, head = bounded_head(g)
    if head is not None:
        rank_rows = {"a": [], "b": []}
        cums = {"a": 0.0, "b": 0.0}
        head.sort(key=lambda r: (r["__t"], r["__v"]))
        for r in head:
            t = r["__t"]
            rank_rows[t].append((r["__v"], cums[t] + (r["__c"] + 1.0) / 2.0))
            cums[t] += r["__c"]
        rank_frames = {
            t: F.broadcast(local_frame(
                spark, rank_rows[t], f"__{t} double, __r{t} double"))
            for t in ("a", "b")}
    else:
        g = prefix_sum(g, "__v", "__c", "__before", group_col="__t")
        # cut before the per-tag split: both rank frames read one
        # materialized cumsum instead of each re-running its Python pass
        ranked = g.select(
            "__t", "__v",
            (F.col("__before") + (F.col("__c") + 1.0) / 2.0).alias("__r")
        ).localCheckpoint(eager=False)
        rank_frames = {
            t: ranked.where(F.col("__t") == t)
                     .select(F.col("__v").alias(f"__{t}"),
                             F.col("__r").alias(f"__r{t}"))
            for t in ("a", "b")}
    kept = kept.join(rank_frames["a"], "__a").join(rank_frames["b"], "__b")
    agg = kept.agg(F.corr("__ra", "__rb").alias("rho_d"),
                   F.count(F.lit(1)).cast("double").alias("n_d"))
    n, rho = F.col("n_d"), F.col("rho_d")
    def grd(c):
        return _nonempty_guard(n - 1.0, n - 1.0, c, "spearman_rho",
                               msg="needs >= 2 complete-case rows")

    return agg.withColumn("__z", F.abs(rho) * F.sqrt(n - 1.0)).select(
        n.cast("long").alias("n"),
        grd(rho).alias("rho"),
        grd(F.when(rho.isNull(), F.lit(1.0)).otherwise(
            F.expr(spark_sql(normal_p2, "__z"))))
        .alias("p_value"))


def spearman_rho_binned(df: DataFrame, col_a: str, col_b: str,
                        bins: int = 256) -> DataFrame:
    """Spearman's scale path for CONTINUOUS columns — the ks_2sample
    bins=K treatment applied to rank correlation. The exact
    spearman_rho ranks every distinct value: on a continuous column
    distinct ≈ N, so its rank map is a row-count-sized sort in
    disguise — the one plan shape that hurts at 100 TB. Here each
    column is bucketed into K equal-width bins first (ties WITHIN a
    bucket share that bucket's tie-averaged rank), which turns the
    whole statistic into:

      pass 1: ONE (min_a, max_a, min_b, max_b) aggregate;
      pass 2: ONE groupBy(bucket_a, bucket_b) count — ≤K² cells;
      driver: marginal cumsums → tie-averaged bucket ranks → weighted
              Pearson over the cells, in exact INTEGER arithmetic.

    Bias: binning coarsens ranks by at most one bucket width, so
    |ρ_binned − ρ_exact| = O(1/K) for distributions without atoms
    heavier than a bucket (K=256 ⇒ ~0.004 on smooth data; the parity
    test pins 2.5/K empirically — bump bins if you need tighter).
    Deterministic and engine-replayable: bucket ids are pure floor
    arithmetic on IEEE doubles, cell counts are integers, and the
    driver assembles ρ from Python bignum sums of half-integer ranks
    (doubled to stay integral), so the only float ops are the final
    two divisions. Returns one row: (n, rho, p_value) — the exact
    path's schema; the large-sample p uses the same z = |ρ|·√(n−1)
    normal tail.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if bins > 1024:
        # K² cells is the driver state: 1024² ≈ 1M rows is the ceiling
        # of 'bounded' (the MAX_DRIVER_ROWS precedent); the O(1/K) bias
        # at K=1024 is already below any decision threshold
        raise ValueError("bins > 1024 — the ≤K² driver cell state "
                         "stops being bounded; use spearman_rho")
    va = F.col(col_a).cast("double")
    vb = F.col(col_b).cast("double")
    kept = (df.where(va.isNotNull() & ~F.isnan(va)
                     & vb.isNotNull() & ~F.isnan(vb))
            .select(va.alias("__a"), vb.alias("__b")))
    lim = kept.agg(F.min("__a").alias("la"), F.max("__a").alias("ha"),
                   F.min("__b").alias("lb"),
                   F.max("__b").alias("hb")).collect()[0]
    if lim["la"] is None:
        raise ValueError("spearman_rho_binned: no complete-case rows")
    la, ha = float(lim["la"]), float(lim["ha"])
    lb, hb = float(lim["lb"]), float(lim["hb"])
    wa = (ha - la) or 1.0
    wb = (hb - lb) or 1.0

    def bucket(c, lo, width):
        return F.least(F.lit(bins - 1),
                       F.floor((c - F.lit(lo)) / F.lit(width)
                               * F.lit(bins))).cast("int")

    cells = (kept.groupBy(bucket(F.col("__a"), la, wa).alias("__ba"),
                          bucket(F.col("__b"), lb, wb).alias("__bb"))
             .agg(F.count(F.lit(1)).alias("__w"))
             .collect())
    cells.sort(key=lambda r: (r["__ba"], r["__bb"]))
    # marginal counts -> tie-averaged bucket ranks, DOUBLED to stay
    # integral (rank = cum_before + (c+1)/2; 2·rank = 2·cum + c + 1)
    ca: dict = {}
    cb: dict = {}
    for r in cells:
        ca[r["__ba"]] = ca.get(r["__ba"], 0) + r["__w"]
        cb[r["__bb"]] = cb.get(r["__bb"], 0) + r["__w"]

    def ranks2(marg: dict) -> dict:
        out, cum = {}, 0
        for k in sorted(marg):
            out[k] = 2 * cum + marg[k] + 1
            cum += marg[k]
        return out

    ra2, rb2 = ranks2(ca), ranks2(cb)
    # weighted Pearson over cells in exact bignum integer arithmetic:
    # the 2x rank scaling cancels (numerator carries 4, denominator
    # sqrt(4·)·sqrt(4·) carries 4)
    n = sx = sy = sxx = syy = sxy = 0
    for r in cells:
        w, x, y = r["__w"], ra2[r["__ba"]], rb2[r["__bb"]]
        n += w
        sx += w * x
        sy += w * y
        sxx += w * x * x
        syy += w * y * y
        sxy += w * x * y
    if n < 2:
        raise ValueError("spearman_rho_binned needs >= 2 complete-case "
                         "rows")
    num = n * sxy - sx * sy
    d1, d2 = n * sxx - sx * sx, n * syy - sy * sy
    if d1 <= 0 or d2 <= 0:
        raise ValueError("spearman_rho_binned: a column is constant "
                         "(or collapses to one bucket) — rho undefined")
    rho = float(num) / math.sqrt(float(d1) * float(d2))
    p = normal_p2(abs(rho) * math.sqrt(n - 1.0))
    return local_frame(
        df.sparkSession, [(int(n), float(rho), float(p))],
        "n long, rho double, p_value double")


def kendall_tau_binned(df: DataFrame, col_a: str, col_b: str,
                       bins: int = 256) -> DataFrame:
    """Kendall's τ-b rank correlation, the binned scale path — the
    spearman_rho_binned treatment applied to the OTHER classical rank
    statistic (τ weights each discordant PAIR equally, so it is less
    sensitive to a few extreme ranks than ρ and is the usual choice
    for heavy-tailed monotone association). Exact τ needs all n(n−1)/2
    pair orientations — quadratic, hopeless at scale. Binned:

      pass 1: ONE (min, max) aggregate per column;
      pass 2: ONE groupBy(bucket_a, bucket_b) count — ≤K² cells;
      driver: 2-D prefix sums over the cell grid give the concordant/
              discordant pair totals in O(K²) exact bignum integer
              ops; within-bucket pairs become TIES, which is exactly
              what τ-b's tie correction is for.

    τ_b = (C − D)/√((n₀ − n₁)(n₀ − n₂)) with n₀ = n(n−1)/2 and
    n₁/n₂ the same-bucket pair counts per column; the large-sample p
    uses the tie-corrected normal variance of (C − D)
    (Kendall 1970 §4; the standard formula with the three v-terms).
    Every sum is an exact Python bignum — the only float ops are the
    final divisions, so a SQL oracle replays bit-for-bit in HUGEINT
    (dense-grid 2-D window cumsums). Bias: binning moves a pair's
    orientation only when the pair shares a bucket on some axis
    (those become ties), so |τ_binned − τ_exact| = O(1/K) on smooth
    data, and binned ≡ exact when every distinct value owns a bucket
    (parity-pinned both ways). Returns one row: (n, tau, p_value).
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if bins > 1024:
        raise ValueError("bins > 1024 — the ≤K² driver cell state "
                         "stops being bounded")
    va = F.col(col_a).cast("double")
    vb = F.col(col_b).cast("double")
    kept = (df.where(va.isNotNull() & ~F.isnan(va)
                     & vb.isNotNull() & ~F.isnan(vb))
            .select(va.alias("__a"), vb.alias("__b")))
    lim = kept.agg(F.min("__a").alias("la"), F.max("__a").alias("ha"),
                   F.min("__b").alias("lb"),
                   F.max("__b").alias("hb")).collect()[0]
    if lim["la"] is None:
        raise ValueError("kendall_tau_binned: no complete-case rows")
    la, ha = float(lim["la"]), float(lim["ha"])
    lb, hb = float(lim["lb"]), float(lim["hb"])
    wa = (ha - la) or 1.0
    wb = (hb - lb) or 1.0

    def bucket(c, lo, width):
        return F.least(F.lit(bins - 1),
                       F.floor((c - F.lit(lo)) / F.lit(width)
                               * F.lit(bins))).cast("int")

    cells = (kept.groupBy(bucket(F.col("__a"), la, wa).alias("__ba"),
                          bucket(F.col("__b"), lb, wb).alias("__bb"))
             .agg(F.count(F.lit(1)).alias("__w"))
             .collect())
    n, tau, z = _kendall_cell_stats(
        [(r["__ba"], r["__bb"], r["__w"]) for r in cells], bins,
        "kendall_tau_binned")
    p = normal_p2(z)
    return local_frame(
        df.sparkSession, [(int(n), float(tau), float(p))],
        "n long, tau double, p_value double")


def _kendall_cell_stats(cells, bins: int, what: str):
    """The exact-integer core shared by kendall_tau_binned and
    jonckheere_terpstra: given (a_bucket, b_bucket, count) cells,
    return (n, τ_b, tie-corrected z) via 2-D prefix sums — O(K²)
    bignum ops, floats only in the final divisions."""
    # group cells by a-bucket, ascending; within each, b ascending
    by_a: dict = {}
    for ba, bb, w in cells:
        by_a.setdefault(ba, {})[bb] = w
    n = sum(w for _, _, w in cells)
    if n < 2:
        raise ValueError(f"{what} needs >= 2 complete-case rows")
    # one ascending sweep over a-buckets: `below` holds the per-b
    # counts of all STRICTLY smaller a-buckets; its prefix sums give
    # each cell's concordant (i'<i, j'<j) and discordant (i'<i, j'>j)
    # partners in O(K²) exact integer ops, each unordered pair counted
    # once from its larger-a member
    below = [0] * bins           # counts per b-bucket, a' < current a
    below_total = 0
    conc = disc = 0
    for a_key in sorted(by_a):
        row = by_a[a_key]
        prefix = [0] * (bins + 1)  # prefix[j] = sum(below[:j])
        for j in range(bins):
            prefix[j + 1] = prefix[j] + below[j]
        for b_key, w in row.items():
            conc += w * prefix[b_key]                    # j' < j
            disc += w * (below_total - prefix[b_key + 1])  # j' > j
        for b_key, w in row.items():
            below[b_key] += w
            below_total += w
    # tie structure (within-bucket pairs per axis)
    ta: dict = {}
    tb: dict = {}
    for ba, bb, w in cells:
        ta[ba] = ta.get(ba, 0) + w
        tb[bb] = tb.get(bb, 0) + w
    n0 = n * (n - 1) // 2
    n1 = sum(t * (t - 1) // 2 for t in ta.values())
    n2 = sum(u * (u - 1) // 2 for u in tb.values())
    if n0 == n1 or n0 == n2:
        raise ValueError(f"{what}: a column is constant "
                         "(or collapses to one bucket) — the statistic "
                         "is undefined")
    tau = float(conc - disc) / math.sqrt(float(n0 - n1)
                                         * float(n0 - n2))
    # tie-corrected large-sample variance of (C − D), Kendall 1970:
    # every term an exact bignum; float only at the final assembly
    v0 = n * (n - 1) * (2 * n + 5)
    vt = sum(t * (t - 1) * (2 * t + 5) for t in ta.values())
    vu = sum(u * (u - 1) * (2 * u + 5) for u in tb.values())
    s_t1 = sum(t * (t - 1) for t in ta.values())
    s_u1 = sum(u * (u - 1) for u in tb.values())
    s_t2 = sum(t * (t - 1) * (t - 2) for t in ta.values())
    s_u2 = sum(u * (u - 1) * (u - 2) for u in tb.values())
    var = (float(v0 - vt - vu) / 18.0
           + float(s_t1) * float(s_u1) / (2.0 * n * (n - 1.0)))
    if n > 2:
        var = var + (float(s_t2) * float(s_u2)
                     / (9.0 * n * (n - 1.0) * (n - 2.0)))
    if not var > 0.0:
        raise ValueError(f"{what}: degenerate tie structure — the "
                         "variance of (C - D) is zero")
    z = float(conc - disc) / math.sqrt(var)
    return n, tau, z


def jonckheere_terpstra(df: DataFrame, value_col: str, group_col: str,
                        order, bins: int = 256) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative across k
    groups — the dose-response question kruskal_wallis can't pose
    (KW asks "do the groups differ AT ALL?"; JT asks "do the values
    TREND with the group order?", and has far more power when the
    alternative really is monotone). ``order`` is the hypothesized
    group sequence (the test is ABOUT that order — it must be given,
    not inferred).

    Implementation: the JT statistic's centered form is EXACTLY
    Kendall's S = C − D between the group ordinal and the value
    (textbook equivalence: JT = Σ_{i<j} U_ij and
    S = 2·JT − Σ_{i<j} n_i n_j), so this reuses the binned Kendall
    core: map each group to its ordinal (an exact bucket — equal-width
    binning of integers 0..k−1 with K ≥ k buckets is injective and
    monotone, so the pair orientation structure is preserved
    exactly), bin the value axis into ≤K buckets, ONE
    groupBy(ordinal, value_bucket) count, then the same O(K²)
    exact-integer 2-D prefix sweep and the same tie-corrected normal
    z — the tie term on the ordinal axis IS the within-group pair
    count JT's variance must remove. Within-value-bucket pairs become
    ties (the family's O(1/K) convention). Returns one row:
    (n, k, tau, z, p_value) — tau (τ_b between ordinal and value) is
    the effect size; z > 0 means values INCREASE along ``order``.
    """
    order = list(order)
    if len(order) < 2:
        raise ValueError("jonckheere_terpstra needs >= 2 ordered "
                         "groups")
    if len(set(order)) != len(order):
        raise ValueError("jonckheere_terpstra: duplicate groups in "
                         "order")
    if bins < len(order):
        raise ValueError("bins must be >= the number of groups")
    if bins > 1024:
        raise ValueError("bins > 1024 — the ≤K² driver cell state "
                         "stops being bounded")
    v = F.col(value_col).cast("double")
    g = F.col(group_col).cast("string")
    ord_expr = F.lit(None).cast("int")
    for i, label in enumerate(order):
        ord_expr = F.when(g == F.lit(str(label)), F.lit(i)) \
            .otherwise(ord_expr)
    kept = (df.where(v.isNotNull() & ~F.isnan(v)
                     & g.isin([str(x) for x in order]))
            .select(ord_expr.alias("__o"), v.alias("__v")))
    lim = kept.agg(F.min("__v").alias("lv"),
                   F.max("__v").alias("hv")).collect()[0]
    if lim["lv"] is None:
        raise ValueError("jonckheere_terpstra: no complete-case rows "
                         "in the ordered groups")
    lv, hv = float(lim["lv"]), float(lim["hv"])
    wv = (hv - lv) or 1.0
    vbucket = F.least(F.lit(bins - 1),
                      F.floor((F.col("__v") - F.lit(lv)) / F.lit(wv)
                              * F.lit(bins))).cast("int")
    cells = (kept.groupBy(F.col("__o").alias("__ba"),
                          vbucket.alias("__bb"))
             .agg(F.count(F.lit(1)).alias("__w"))
             .collect())
    present = {int(r["__ba"]) for r in cells}
    missing = [order[i] for i in range(len(order)) if i not in present]
    if missing:
        # silently testing fewer groups than `order` names would
        # report a valid-looking k-group trend over a typo'd subset
        # (the mann_whitney loud-error convention — review-caught)
        raise ValueError(
            f"jonckheere_terpstra: groups {missing} matched no rows — "
            "check the order labels (NULL groups are excluded)")
    n, tau, z = _kendall_cell_stats(
        [(r["__ba"], r["__bb"], r["__w"]) for r in cells],
        max(bins, len(order)), "jonckheere_terpstra")
    p = normal_p2(z)
    return local_frame(
        df.sparkSession,
        [(int(n), len(order), float(tau), float(z), float(p))],
        "n long, k long, tau double, z double, p_value double")


# Blum–Kiefer–Rosenblatt limit-law tail constants for hoeffding_d:
# under independence n·D/30 → L = Σ_{j,k≥1} λ_jk (Z²_jk − 1) with
# λ_jk = 1/(π⁴ j² k²) (the Brownian-pillow eigenvalues of the
# independence empirical process). Dominant-eigenvalue (Zolotarev)
# tail: P(L > x) ≈ c₀ · 2Φ̄(√((x + μ)/λ₁)) with λ₁ = 1/π⁴,
# μ = E Σλ_jk Z² = (Σ1/j²)²/π⁴ = 1/36, and
# c₀ = Π_{(j,k)≠(1,1)} (1 − λ_jk/λ₁)^{−1/2} = 2.4565542645301655
# (computed once from the 400×400 truncation; converged at 1e-12).
# Monte-Carlo-pinned accuracy (tests): within ±25% relative for
# p ∈ [1e-4, 0.1], asymptotically exact as p → 0 — the regime that
# matters at corpus n, where any real dependence drives p ≈ 0.
_HOEFFD_LAM1 = 0.010265982254684338   # 1/pi^4
_HOEFFD_MU = 1.0 / 36.0
_HOEFFD_C0 = 2.4565542645301655


def hoeffding_d(df: DataFrame, col_a: str, col_b: str,
                bins: int = 256) -> DataFrame:
    """Hoeffding's D test of INDEPENDENCE, binned scale path — the
    non-monotone dependence screen the rank family can't provide.
    Pearson/Spearman/Kendall (and cov_drift's correlation structure)
    all measure (near-)monotone association: a V-shaped, sign-
    symmetric, or periodic coupling has ρ ≈ τ ≈ 0 and is invisible to
    every one of them. D estimates 30·∫(F₁₂ − F₁F₂)² dF₁₂ — nonzero
    for ANY dependence — so it is the family's catch-all screen
    (run it when the monotone tests come back null but you still
    suspect structure).

    Exact D needs every point's bivariate rank — quadratic. Binned
    (the spearman_rho_binned / kendall_tau_binned treatment):

      pass 1: ONE (min, max) aggregate per column;
      pass 2: ONE groupBy(bucket_a, bucket_b) count — ≤K² cells;
      driver: marginal cumsums give tie-averaged bucket mid-ranks
              (doubled to stay integral); one ascending 2-D prefix
              sweep gives each cell's strict-below count, same-row /
              same-column below counts, and within-cell ties — the
              quarter-tie bivariate rank Q (quadrupled to stay
              integral: 4Q = 4 + 4·P + 2·(rowBelow + colBelow) +
              (w − 1), the Hollander & Wolfe ties convention); D is
              assembled from the three classical sums
              D₁ = Σ(Q−1)(Q−2), D₂ = Σ(R−1)(R−2)(S−1)(S−2),
              D₃ = Σ(R−2)(S−2)(Q−1) in exact Python bignum integers
              (numerators carry 16× from the rank doubling /
              quadrupling; the 16s cancel in the final ratio
              D = 30·((n−2)(n−3)D₁ + D₂ − 2(n−2)D₃)
                    / (n(n−1)(n−2)(n−3)(n−4))).

    Floats appear only in the final division and the p-value, so a
    SQL oracle replays bit-for-bit in HUGEINT (dense-grid window
    cumsums; sums reach ~n⁵ — HUGEINT holds to n ≈ 2e7; the Python
    side is bignum-exact at any n). Within-bucket pairs become TIES
    (the family's O(1/K) convention — parity-pinned: binned ≡ exact
    when every distinct value owns a bucket). D ∈ [−0.5, 1]; under
    independence E[D] = 0; p is the documented BKR dominant-
    eigenvalue tail of n·D/30 (see _HOEFFD_C0 above). Needs n ≥ 5.
    Returns one row: (n, d, p_value).
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if bins > 1024:
        raise ValueError("bins > 1024 — the ≤K² driver cell state "
                         "stops being bounded")
    va = F.col(col_a).cast("double")
    vb = F.col(col_b).cast("double")
    kept = (df.where(va.isNotNull() & ~F.isnan(va)
                     & vb.isNotNull() & ~F.isnan(vb))
            .select(va.alias("__a"), vb.alias("__b")))
    lim = kept.agg(F.min("__a").alias("la"), F.max("__a").alias("ha"),
                   F.min("__b").alias("lb"),
                   F.max("__b").alias("hb")).collect()[0]
    if lim["la"] is None:
        raise ValueError("hoeffding_d: no complete-case rows")
    la, ha = float(lim["la"]), float(lim["ha"])
    lb, hb = float(lim["lb"]), float(lim["hb"])
    wa = (ha - la) or 1.0
    wb = (hb - lb) or 1.0

    def bucket(c, lo, width):
        return F.least(F.lit(bins - 1),
                       F.floor((c - F.lit(lo)) / F.lit(width)
                               * F.lit(bins))).cast("int")

    cells = (kept.groupBy(bucket(F.col("__a"), la, wa).alias("__ba"),
                          bucket(F.col("__b"), lb, wb).alias("__bb"))
             .agg(F.count(F.lit(1)).alias("__w"))
             .collect())
    n, d = _hoeffding_cell_stats(
        [(r["__ba"], r["__bb"], r["__w"]) for r in cells], bins)
    x = n * d / 30.0  # the BKR statistic; → L under independence
    if x + _HOEFFD_MU <= 0.0:
        p = 1.0
    else:
        p = min(1.0, _HOEFFD_C0 * 2.0 * normal_sf(
            math.sqrt((x + _HOEFFD_MU) / _HOEFFD_LAM1)))
    return local_frame(
        df.sparkSession, [(int(n), float(d), float(p))],
        "n long, d double, p_value double")


def _hoeffding_cell_stats(cells, bins: int):
    """Exact-integer core of hoeffding_d: given (a_bucket, b_bucket,
    count) cells, return (n, D) via one ascending 2-D prefix sweep —
    O(K²) bignum ops, floats only in the final division."""
    by_a: dict = {}
    for ba, bb, w in cells:
        by_a.setdefault(ba, {})[bb] = w
    n = sum(w for _, _, w in cells)
    if n < 5:
        raise ValueError("hoeffding_d needs >= 5 complete-case rows")
    ca: dict = {}
    cb: dict = {}
    for ba, bb, w in cells:
        ca[ba] = ca.get(ba, 0) + w
        cb[bb] = cb.get(bb, 0) + w
    if len(ca) < 2 or len(cb) < 2:
        raise ValueError("hoeffding_d: a column is constant (or "
                         "collapses to one bucket) — D is undefined")
    # doubled tie-averaged bucket mid-ranks (2R = 2·cum_before + c + 1)
    r2: dict = {}
    cum = 0
    for k in sorted(ca):
        r2[k] = 2 * cum + ca[k] + 1
        cum += ca[k]
    s2: dict = {}
    cum = 0
    for k in sorted(cb):
        s2[k] = 2 * cum + cb[k] + 1
        cum += cb[k]
    # ascending-a sweep (the _kendall_cell_stats shape): `below` holds
    # per-b counts of strictly smaller a-buckets, so for a cell (a, b)
    #   strict P  = Σ_{b'<b} below[b']   (smaller on BOTH axes)
    #   colBelow  = below[b]             (tied a-axis? no — strictly
    #                                     smaller a, same b bucket)
    #   rowBelow  = running count within this a-row over b' < b
    below = [0] * bins
    n1 = n2 = n3 = 0  # 16·D1, 16·D2, 16·D3 (exact bignums)
    for a_key in sorted(by_a):
        row = by_a[a_key]
        prefix = [0] * (bins + 1)
        for j in range(bins):
            prefix[j + 1] = prefix[j] + below[j]
        rowcum = 0
        for b_key in sorted(row):
            w = row[b_key]
            q4 = (4 + 4 * prefix[b_key]
                  + 2 * (rowcum + below[b_key]) + (w - 1))
            rr, ss = r2[a_key], s2[b_key]
            n1 += w * (q4 - 4) * (q4 - 8)
            n2 += w * (rr - 2) * (rr - 4) * (ss - 2) * (ss - 4)
            n3 += w * (rr - 4) * (ss - 4) * (q4 - 4)
            rowcum += w
        for b_key, w in row.items():
            below[b_key] += w
    num = 30 * ((n - 2) * (n - 3) * n1 + n2 - 2 * (n - 2) * n3)
    den = 16 * n * (n - 1) * (n - 2) * (n - 3) * (n - 4)
    return n, float(num) / float(den)


def kruskal_wallis(df: DataFrame, value_col: str, group_col: str,
                   max_cells: int = 65536) -> DataFrame:
    """Kruskal–Wallis rank ANOVA across k groups — the k-group
    generalization of mann_whitney_u (and the rank-based companion of
    anova_oneway: same question, no normality assumption). H is a
    pure function of the per-(value, group) contingency: ONE
    groupBy(value, group) count is the only raw-row pass (the
    chi2_independence shape), then the driver builds global
    tie-averaged ranks from the value marginals and assembles H from
    k rank sums — bounded state (max_cells, loud error), exact
    integer rank arithmetic (doubled ranks stay integral; the only
    float ops are the final assembly, mirrored in the SQL oracle).

    H = 12/(n(n+1)) Σ_g R_g²/n_g − 3(n+1), divided by the tie
    correction 1 − Σ(t³−t)/(n³−n); p from the χ²_{k−1} upper tail
    (chi2_sf — exact closed form at even dof). Returns one row:
    (k, n, h_stat, dof, tie_correction, p_value).
    """
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    cells = (df.where(v.isNotNull() & ~F.isnan(v) & g.isNotNull())
             .groupBy(v.alias("__v"),
                      g.cast("string").alias("__g"))
             .agg(F.count(F.lit(1)).alias("__c")))
    rows = collect_capped(
        cells, max_cells,
        f"kruskal_wallis: more than max_cells={max_cells} "
        "(value, group) cells — bin the value column first")
    if not rows:
        raise ValueError("kruskal_wallis: no complete-case rows")
    # global tie-averaged ranks over the value marginals, doubled to
    # stay integral: 2·rank(v) = 2·(count below) + count(v) + 1
    vc: dict = {}
    for r in rows:
        vc[r["__v"]] = vc.get(r["__v"], 0) + r["__c"]
    r2: dict = {}
    cum = 0
    for val in sorted(vc):
        r2[val] = 2 * cum + vc[val] + 1
        cum += vc[val]
    n = cum
    groups: dict = {}
    for r in rows:
        ng, rg = groups.get(r["__g"], (0, 0))
        groups[r["__g"]] = (ng + r["__c"], rg + r["__c"] * r2[r["__v"]])
    k = len(groups)
    if k < 2:
        raise ValueError("kruskal_wallis needs >= 2 groups")
    if n <= k:
        raise ValueError("kruskal_wallis needs n > k rows")
    tie_sum = sum(t * t * t - t for t in vc.values())
    corr = 1.0 - float(tie_sum) / float(n * n * n - n)
    if not corr > 0.0:
        raise ValueError("kruskal_wallis: all values identical — H is "
                         "undefined")
    # Σ R_g²/n_g with doubled ranks: R_g = R2_g/2 ⇒ R_g² = R2_g²/4.
    # Each TERM is bit-identical cross-engine (exact-int → double →
    # two divisions); the SUM over the ≤k terms is the one
    # order-sensitive op — the engine sums in sorted-group order, the
    # SQL oracle in engine-internal order. Reassociating ≤1024 terms
    # moves H by ≲1e-8 (ulp-scale per term after the /4n(n+1)
    # normalization) — documented headroom to the 1e-6 output grid,
    # the anova per-group-sums precedent.
    s4 = 0.0
    for key in sorted(groups):
        ng, rg2 = groups[key]
        s4 += float(rg2 * rg2) / (4.0 * ng)
    h = 12.0 * s4 / (n * (n + 1.0)) - 3.0 * (n + 1.0)
    h_c = h / corr
    dof = k - 1
    p = chi2_sf(h_c, dof)
    return local_frame(
        df.sparkSession,
        [(int(k), int(n), float(h_c), int(dof), float(corr),
          float(p))],
        "k long, n long, h_stat double, dof long, "
        "tie_correction double, p_value double")


def friedman_test(df: DataFrame, value_col: str, block_col: str,
                  treatment_col: str,
                  max_treatments: int = 64) -> DataFrame:
    """Friedman test — the BLOCKED rank ANOVA (k treatments judged
    within each of b blocks), completing the family square:
    mann_whitney → kruskal_wallis is the unpaired axis, and
    wilcoxon_signed_rank → friedman_test is this paired one ("did
    users rank the five event types differently?", each user being
    their own control). Multiple observations per (block, treatment)
    cell are averaged first (document: pre-aggregate on a fixed-point
    grid if you need bit-stable cross-engine ranks — the catalog
    query does); blocks missing any treatment are DROPPED (the
    standard complete-block requirement).

    Shape: ONE groupBy(block, treatment) mean is the only raw-row
    pass; per-block ranks are computed IN-ROW over each block's ≤k
    element array (collect_list + O(k²) HOF comparisons — k is
    bounded by max_treatments, so the 'sort' never touches the
    shuffle); ONE groupBy(treatment) then sums the doubled
    tie-averaged ranks, and the driver assembles Q from k integers.
    Q = 12/(bk(k+1))·ΣR_j² − 3b(k+1), divided by the tie correction
    C = 1 − Σ_blocks Σ(t³−t)/(bk(k²−1)); p from the χ²_{k−1} tail.
    Returns one row: (k, b, q_stat, dof, tie_correction, p_value).
    """
    v = F.col(value_col).cast("double")
    blk = F.col(block_col)
    trt = F.col(treatment_col)
    cells = (df.where(v.isNotNull() & ~F.isnan(v) & blk.isNotNull()
                      & trt.isNotNull())
             .groupBy(blk.alias("__b"),
                      trt.cast("string").alias("__t"))
             .agg(F.avg(v).alias("__v")))
    tre = collect_capped(
        cells.select("__t").distinct(), max_treatments,
        f"friedman_test: more than max_treatments={max_treatments} "
        "treatments — the in-row rank is O(k²) per block")
    k = len(tre)
    if k < 2:
        raise ValueError("friedman_test needs >= 2 treatments")
    packed = (cells.groupBy("__b")
              .agg(F.collect_list(F.struct(F.col("__t").alias("t"),
                                           F.col("__v").alias("v")))
                   .alias("__arr"))
              .where(F.size("__arr") == k))
    e = F.col("__e")
    arr = F.col("__arr")
    smaller = F.size(F.filter(arr, lambda x: x["v"] < e["v"]))
    equal = F.size(F.filter(arr, lambda x: x["v"] == e["v"]))
    rows = (packed.select(F.explode(arr).alias("__e"), arr)
            .select(e["t"].alias("__t"),
                    (2 * smaller + equal + 1).cast("long").alias("__r2"),
                    (equal * equal - 1).cast("long").alias("__tie"))
            .groupBy("__t")
            .agg(F.sum("__r2").alias("__rs"),
                 F.count(F.lit(1)).alias("__n"),
                 F.sum("__tie").alias("__ts"))
            .collect())
    if not rows:
        raise ValueError("friedman_test: no complete blocks (every "
                         "block is missing some treatment)")
    bs = {int(r["__n"]) for r in rows}
    if len(rows) != k or len(bs) != 1:
        raise ValueError(
            "friedman_test: a treatment appears only in incomplete "
            "blocks — treatment sets differ across blocks")
    b = bs.pop()
    if b < 2:
        raise ValueError("friedman_test needs >= 2 complete blocks")
    ssq = sum(int(r["__rs"]) * int(r["__rs"]) for r in rows)
    ties = sum(int(r["__ts"]) for r in rows)
    corr = 1.0 - ties / float(b * k * (k * k - 1))
    if not corr > 0.0:
        raise ValueError("friedman_test: all values tied within every "
                         "block — Q is undefined")
    q = 12.0 * float(ssq) / (4.0 * b * k * (k + 1.0)) \
        - 3.0 * b * (k + 1.0)
    q_c = q / corr
    dof = k - 1
    p = chi2_sf(q_c, dof)
    return local_frame(
        df.sparkSession,
        [(int(k), int(b), float(q_c), int(dof), float(corr),
          float(p))],
        "k long, b long, q_stat double, dof long, "
        "tie_correction double, p_value double")


def hodges_lehmann_shift(df: DataFrame, value_col: str,
                         group_col: str, groups=None,
                         bins: int = 512,
                         clip=None,
                         accuracy: int = 10_000) -> DataFrame:
    """Hodges–Lehmann two-sample location shift — the ROBUST effect
    size that completes the Mann–Whitney story (mann_whitney_u says
    whether the groups differ and rank_biserial how strongly; Δ̂ =
    median over all n1·n2 cross-pair differences says BY HOW MUCH, in
    the value's own units, immune to the outliers that drag a mean
    difference). Exact Δ̂ is a quadratic pair scan; binned: both
    groups bucket onto ONE shared equal-width grid (one min/max pass
    + ONE groupBy(bucket, group) count, ≤2K rows), then the
    cross-difference distribution comes from an O(K²) exact-integer
    convolution driver-side — diff index d carries weight
    Σ_i c₁[i]·c₂[i−d] — and Δ̂ is the weighted LOWER MEDIAN diff
    index × bucket width (nearest-rank selection, the bootstrap_ci
    convention: integer rank arithmetic an oracle replays exactly;
    resolution O(range/K), the family's standard price). Returns one
    row: (n1, n2, shift).

    HEAVY-TAIL CAVEAT: the default grid spans min..max, so a single
    extreme outlier dilates the bucket width and destroys the
    resolution (the equal-width family's known failure mode — ironic
    for a robust estimator, so it is surfaced here). Pass
    ``clip=(0.005, 0.995)`` (any quantile pair) to anchor the grid on
    the central mass instead: lo/hi come from percentile_approx (the
    bounded GK sketch) and values OUTSIDE clamp into the edge
    buckets — they still carry their full weight in the pair-median,
    so Δ̂ is unaffected unless the clipped mass itself straddles the
    median. ``accuracy`` is the GK knob.
    """
    if bins < 2:
        raise ValueError("bins must be >= 2")
    if bins > 1024:
        raise ValueError("bins > 1024 — the ≤K² convolution driver "
                         "state stops being bounded")
    v = F.col(value_col).cast("double")
    if groups is None:
        # the welch/mann_whitney group-inference convention
        _, g1, g2 = _two_group_kept(df, value_col, group_col, None)
    else:
        g1, g2 = groups
    kept = (df.where(v.isNotNull() & ~F.isnan(v)
                     & F.col(group_col).isin([g1, g2]))
            .select(v.alias("__v"),
                    (F.col(group_col) == g1).alias("__is1")))
    if clip is None:
        lim = kept.agg(F.min("__v").alias("lo"),
                       F.max("__v").alias("hi")).collect()[0]
    else:
        p_lo, p_hi = clip
        if not 0.0 <= p_lo < p_hi <= 1.0:
            raise ValueError("clip must be (p_lo, p_hi) with "
                             "0 <= p_lo < p_hi <= 1")
        lim = kept.agg(
            F.percentile_approx("__v", p_lo, accuracy).alias("lo"),
            F.percentile_approx("__v", p_hi, accuracy).alias("hi")
        ).collect()[0]
    if lim["lo"] is None:
        raise ValueError("hodges_lehmann_shift: no complete-case rows")
    lo, hi = float(lim["lo"]), float(lim["hi"])
    width = (hi - lo) or 1.0
    unit = width / bins
    b = F.greatest(F.lit(0), F.least(
        F.lit(bins - 1),
        F.floor((F.col("__v") - F.lit(lo)) / F.lit(width)
                * F.lit(bins)).cast("int")))
    cells = (kept.groupBy(b.alias("__b"), F.col("__is1"))
             .agg(F.count(F.lit(1)).alias("__c")).collect())
    c1 = {}
    c2 = {}
    for r in cells:
        (c1 if r["__is1"] else c2)[int(r["__b"])] = int(r["__c"])
    n1, n2 = sum(c1.values()), sum(c2.values())
    if not n1 or not n2:
        raise ValueError(
            "hodges_lehmann_shift: a group matched no rows — check "
            "the group values (NULL groups are excluded)")
    # exact integer convolution over diff index d = i - j
    conv: dict = {}
    for i, a in c1.items():
        for j, bcount in c2.items():
            d = i - j
            conv[d] = conv.get(d, 0) + a * bcount
    total = n1 * n2
    target = (total + 1) // 2  # lower median, nearest-rank
    cum = 0
    d_med = None
    for d in sorted(conv):
        cum += conv[d]
        if cum >= target:
            d_med = d
            break
    shift = d_med * unit
    return local_frame(
        df.sparkSession, [(int(n1), int(n2), float(shift))],
        "n1 long, n2 long, shift double")


def partial_correlation(df: DataFrame, col_a: str, col_b: str,
                        controls, tail: str = "exact") -> DataFrame:
    """Partial Pearson correlation of (a, b) CONTROLLING for g other
    columns — the confounder killer ("price correlates with quantity…
    or do both just follow order size?"): r_ab·C from the precision
    (inverse correlation) matrix, ρ = −P_ab/√(P_aa·P_bb), which
    reduces to the textbook (r_ab − r_ac·r_bc)/√((1−r_ac²)(1−r_bc²))
    for one control. ONE aggregate of the (g+2)(g+1)/2 pairwise
    Pearson correlations over complete-case rows (the cov_drift /
    corr_matrix single-scan shape, g + 2 ≤ 30), then a driver-side
    numpy inverse of the bounded matrix. The two-sided p uses the
    EXACT Student-t tail (t_sf, in-tree) with dof = n − 2 − g by
    default; ``tail="normal"`` swaps the large-dof normal limit (what
    the SQL oracle replays — at corpus dof the two agree far below
    any decision threshold, the welch convention). Loud errors on a
    singular correlation matrix (collinear controls) or |ρ| = 1.
    Returns one row: (n, g_controls, r, t_stat, dof, p_value).
    """
    import numpy as np

    if tail not in ("exact", "normal"):
        raise ValueError("tail must be 'exact' or 'normal'")
    controls = list(controls)
    cols = [col_a, col_b] + controls
    if len(set(cols)) != len(cols):
        raise ValueError("partial_correlation: duplicate columns")
    if len(cols) > 30:
        raise ValueError("partial_correlation: more than 28 controls "
                         "— fit a model instead")
    g = len(controls)
    cs = [F.col(c).cast("double") for c in cols]
    pred = cs[0].isNotNull() & ~F.isnan(cs[0])
    for c in cs[1:]:
        pred = pred & c.isNotNull() & ~F.isnan(c)
    pairs = [(i, j) for i in range(len(cols))
             for j in range(i + 1, len(cols))]
    row = (df.where(pred)
           .agg(F.count(F.lit(1)).alias("n"),
                *[F.corr(cs[i], cs[j]).alias(f"r{i}_{j}")
                  for i, j in pairs]).collect()[0])
    n = int(row["n"] or 0)
    if n < g + 4:
        raise ValueError("partial_correlation needs >= g + 4 "
                         "complete-case rows")
    k = len(cols)
    R = np.eye(k)
    for i, j in pairs:
        r = row[f"r{i}_{j}"]
        if r is None:
            raise ValueError(
                f"partial_correlation: corr({cols[i]}, {cols[j]}) is "
                "undefined — a constant column")
        R[i, j] = R[j, i] = float(r)
    try:
        P = np.linalg.inv(R)
    except np.linalg.LinAlgError:
        raise ValueError("partial_correlation: singular correlation "
                         "matrix — collinear controls")
    if abs(P[0, 0]) < 1e-12 or abs(P[1, 1]) < 1e-12 or \
            not np.isfinite(P).all():
        raise ValueError("partial_correlation: near-singular "
                         "correlation matrix — collinear controls")
    r_p = float(-P[0, 1] / math.sqrt(P[0, 0] * P[1, 1]))
    dof = n - 2 - g
    if abs(r_p) >= 1.0:
        raise ValueError("partial_correlation: |r| = 1 after "
                         "partialling — exact collinearity")
    t = r_p * math.sqrt(dof / (1.0 - r_p * r_p))
    p = min(1.0, 2.0 * (t_sf(abs(t), float(dof)) if tail == "exact"
                        else normal_sf(abs(t))))
    return local_frame(
        df.sparkSession, [(n, g, float(r_p), float(t), int(dof), float(p))],
        "n long, g_controls long, r double, t_stat double, dof long, "
        "p_value double")


def seasonal_decompose(df: DataFrame, value_col: str, order_col: str,
                       period: int, step: float = 1.0,
                       max_buckets: int = 65536) -> DataFrame:
    """Classical additive seasonal decomposition of the
    bucket-aggregated series — the time-series family's "what is this
    metric actually doing?" view (trend + seasonal + residual; the
    residual is what changepoint/z-drift should be watching once a
    known weekly cycle is removed). The autocorrelation shape: bucket
    ``order_col`` by ``step`` (mean of ``value_col`` per bucket — the
    only raw-row pass), then the decomposition runs driver-side over
    the ≤max_buckets bucket series (bounded, loud error):

    - trend: centered moving average over one period (odd period:
      plain (2h+1)-window mean; even: the standard 2×MA split-end
      weights ½,1,…,1,½ over period+1 points). A window touching a
      MISSING grid bucket or the series edge reports NULL trend (and
      NULL seasonal/resid) — gaps are surfaced, not interpolated
      (use time_fill first if you want filling).
    - seasonal: mean of (x − trend) per bucket-index-mod-period
      position, centered to sum ~0 (subtract the position-mean mean);
      positions anchor at the GRID (bucket index mod period), so the
      phase is content-deterministic.
    - resid = x − trend − seasonal.

    Deterministic driver arithmetic (per-window sums accumulate in
    index order); the SQL oracle replays the same windows/means with
    the documented ulp-scale reassociation headroom. Returns
    (bucket, n, x, trend, seasonal, resid) ordered by bucket —
    missing grid buckets appear with n = 0 and NULL x.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    if not step > 0:
        raise ValueError("step must be > 0")
    o = F.col(order_col).cast("double")
    v = F.col(value_col).cast("double")
    rows = collect_capped(
        df.where(o.isNotNull() & ~F.isnan(o)
                 & v.isNotNull() & ~F.isnan(v))
        .groupBy(F.floor(o / F.lit(step)).cast("long").alias("__b"))
        .agg(F.count(F.lit(1)).alias("__n"),
             F.avg(v).alias("__x")),
        max_buckets,
        f"seasonal_decompose: more than max_buckets={max_buckets} "
        "buckets — raise step")
    if len(rows) < 2 * period:
        raise ValueError("seasonal_decompose needs >= 2 full periods "
                         "of buckets")
    rows.sort(key=lambda r: r["__b"])
    lo_b = rows[0]["__b"]
    hi_b = rows[-1]["__b"]
    series: dict = {int(r["__b"]): (int(r["__n"]), float(r["__x"]))
                    for r in rows}
    n_grid = int(hi_b - lo_b + 1)
    if n_grid > max_buckets:
        raise ValueError(
            f"seasonal_decompose: the bucket GRID spans {n_grid} > "
            f"max_buckets={max_buckets} slots — raise step")
    xs = [series.get(lo_b + i, (0, None))[1] for i in range(n_grid)]
    ns = [series.get(lo_b + i, (0, None))[0] for i in range(n_grid)]
    half = period // 2
    trend: list = [None] * n_grid
    for i in range(n_grid):
        if i - half < 0 or i + half >= n_grid:
            continue
        if period % 2 == 1:
            win = xs[i - half:i + half + 1]
            if any(x is None for x in win):
                continue
            s = 0.0
            for x in win:
                s += x
            trend[i] = s / float(period)
        else:
            win = xs[i - half:i + half + 1]  # period+1 points
            if any(x is None for x in win):
                continue
            s = 0.5 * win[0]
            for x in win[1:-1]:
                s += x
            s += 0.5 * win[-1]
            trend[i] = s / float(period)
    pos_sum = [0.0] * period
    pos_cnt = [0] * period
    for i in range(n_grid):
        if trend[i] is not None and xs[i] is not None:
            p = (lo_b + i) % period
            pos_sum[p] += xs[i] - trend[i]
            pos_cnt[p] += 1
    if not any(pos_cnt):
        raise ValueError("seasonal_decompose: no complete trend "
                         "windows — series too gappy")
    pos_mean = [pos_sum[p] / pos_cnt[p] if pos_cnt[p] else None
                for p in range(period)]
    present = [m for m in pos_mean if m is not None]
    center = 0.0
    for m in present:
        center += m
    center /= float(len(present))
    seasonal = [None if m is None else m - center for m in pos_mean]
    out = []
    for i in range(n_grid):
        b = lo_b + i
        s = seasonal[b % period]
        t = trend[i]
        x = xs[i]
        resid = (x - t - s) if (x is not None and t is not None
                               and s is not None) else None
        # seasonal is periodic — report it wherever its position has
        # a mean, even at edges where trend is NULL
        out.append((int(b), int(ns[i]), x, t, s, resid))
    return local_frame(
        df.sparkSession, out, "bucket long, n long, x double, trend double, "
        "seasonal double, resid double").orderBy("bucket")


def benford_test(df: DataFrame, value_col: str,
                 grid: int = 2) -> DataFrame:
    """Benford first-significant-digit screen — the classic
    fabricated-/synthetic-data smell test (real-world multiplicative
    quantities follow P(d) = log₁₀(1 + 1/d); invented, truncated, or
    template-generated numbers rarely do): χ²₈ against the Benford
    expectation plus the MAD (mean absolute deviation of the nine
    digit shares — Nigrini's decision number: < 0.006 close
    conformity, > 0.015 nonconformity; unlike χ², MAD doesn't grow
    with n, so it stays interpretable at corpus scale where χ²
    rejects everything).

    The first digit is extracted on the exact fixed-point grid
    (|v|·10^grid rounded to int64, leading digit of its DECIMAL
    rendering) — pure integer/string arithmetic both engines render
    identically, with none of the log₁₀-ulp boundary hazard of the
    floating extraction. Values rounding to 0 on the grid are
    excluded (they have no significant digit at that resolution;
    raise the grid for sub-grid data). ONE groupBy(digit) count of ≤9
    rows; χ²/MAD assemble driver-side in digit order (the SQL replays
    the same in-order float chain). Returns one row:
    (n, chi2, p_value, mad).
    """
    v = F.col(value_col).cast("double")
    cents = F.floor(F.abs(v) * F.lit(float(10 ** grid))
                    + F.lit(0.5)).cast("long")
    kept = (df.where(v.isNotNull() & ~F.isnan(v))
            .select(cents.alias("__c"))
            .where(F.col("__c") >= 1))
    d = F.substring(F.col("__c").cast("string"), 1, 1).cast("int")
    rows = (kept.groupBy(d.alias("__d"))
            .agg(F.count(F.lit(1)).alias("__n")).collect())
    counts = {int(r["__d"]): int(r["__n"]) for r in rows}
    n = sum(counts.values())
    if n == 0:
        raise ValueError("benford_test: no nonzero values on the "
                         f"10^-{grid} grid — raise grid")
    chi2 = 0.0
    mad = 0.0
    for dd in range(1, 10):
        p = math.log10(1.0 + 1.0 / dd)
        o = counts.get(dd, 0)
        e = n * p
        chi2 += (o - e) * (o - e) / e
        mad += abs(o / float(n) - p)
    mad /= 9.0
    return local_frame(
        df.sparkSession,
        [(int(n), float(chi2), float(chi2_sf(chi2, 8)), float(mad))],
        "n long, chi2 double, p_value double, mad double")


def _contingency_rows(df: DataFrame, col_a: str, col_b: str,
                      max_cells: int, what: str):
    """Shared contingency collection for chi2_independence /
    mutual_information: one distributed groupBy(a,b) count (the only
    raw-row pass), bounded driver collect, sorted cells, marginals.
    max_cells bounds BOTH the observed cells and the full r×c product
    (the chi-square iterates the product, so sparse tables with small
    observed counts but huge marginal dimensions must also fail fast).
    Returns (rows sorted by (a, b), row_tot, col_tot, n)."""
    a, b = F.col(col_a), F.col(col_b)
    cells = (df.where(a.isNotNull() & b.isNotNull())
             .groupBy(a.cast("string").alias("__a"),
                      b.cast("string").alias("__b"))
             .agg(F.count(F.lit(1)).cast("double").alias("__o")))
    rows = collect_capped(
        cells, max_cells,
        f"{what}: contingency exceeds max_cells={max_cells}; "
        "bucket the columns first")
    rows.sort(key=lambda r: (r["__a"], r["__b"]))
    row_tot: dict = {}
    col_tot: dict = {}
    n = 0.0
    for r in rows:
        row_tot[r["__a"]] = row_tot.get(r["__a"], 0.0) + r["__o"]
        col_tot[r["__b"]] = col_tot.get(r["__b"], 0.0) + r["__o"]
        n += r["__o"]
    if n <= 0:
        raise ValueError(f"{what}: no non-null rows")
    if len(row_tot) * len(col_tot) > max_cells:
        raise ValueError(
            f"{what}: the full {len(row_tot)}x{len(col_tot)} "
            f"row-by-column product exceeds max_cells={max_cells}; "
            "bucket the columns first")
    return rows, row_tot, col_tot, n


def mutual_information(df: DataFrame, col_a: str, col_b: str,
                       max_cells: int = 10_000) -> DataFrame:
    """Discrete mutual information I(A;B) = Σ p(a,b)·ln(p(a,b)/(p(a)p(b)))
    in NATS, plus the normalized variant I/√(H(A)·H(B)). One
    distributed groupBy(a,b) pass; the bounded contingency (max_cells)
    aggregates driver-side in sorted cell order (empty cells contribute
    0 — correct for MI, unlike the chi-square). Returns one row:
    (mi, mi_normalized, n).
    """
    rows, row_tot, col_tot, n = _contingency_rows(
        df, col_a, col_b, max_cells, "mutual_information")
    mi = 0.0
    for r in rows:
        p_ab = r["__o"] / n
        mi += p_ab * math.log(
            p_ab / (row_tot[r["__a"]] / n * (col_tot[r["__b"]] / n)))
    ha = -sum((c / n) * math.log(c / n) for c in
              sorted(row_tot.values(), reverse=True))
    hb = -sum((c / n) * math.log(c / n) for c in
              sorted(col_tot.values(), reverse=True))
    denom = math.sqrt(ha * hb)
    return local_frame(
        df.sparkSession,
        [(float(mi), float(mi / denom) if denom > 0 else 0.0, int(n))],
        "mi double, mi_normalized double, n long")


def corr_matrix(df: DataFrame, cols) -> DataFrame:
    """All-pairs Pearson correlation in ONE aggregate pass: the
    d(d+1)/2 F.corr aggregates run in a single scan with map-side
    partial merge (Spark's corr is a streaming co-moment aggregate) —
    never d² passes. Returns long form (col_a, col_b, corr) for
    col_a < col_b, ordered."""
    cols = list(cols)
    if len(cols) < 2:
        raise ValueError("corr_matrix needs >= 2 columns")
    # positional aliases: embedding column NAMES in the alias is
    # ambiguous for names containing '__' (['a','b__c'] vs
    # ['a__b','c'] would collide) — map back to pairs by index
    pairs = [(ca, cb) for i, ca in enumerate(cols) for cb in cols[i + 1:]]
    aggs = [F.corr(F.col(ca).cast("double"), F.col(cb).cast("double"))
            .alias(f"__p{k}") for k, (ca, cb) in enumerate(pairs)]
    row = df.agg(*aggs)
    stacked = F.explode(F.array(*[
        F.struct(F.lit(ca).alias("col_a"), F.lit(cb).alias("col_b"),
                 F.col(f"__p{k}").alias("corr"))
        for k, (ca, cb) in enumerate(pairs)]))
    return (row.select(stacked.alias("__s"))
            .select("__s.col_a", "__s.col_b", "__s.corr")
            .orderBy("col_a", "col_b"))


def chi2_sf(x, dof: int):
    """Upper-tail chi-square probability, scipy-free.

    Even dof uses the EXACT closed form
    Q(x; 2m) = e^{−x/2} Σ_{j<m} (x/2)^j / j! (ascending-j sum, each
    term the previous one times (x/2)/j); odd dof uses the
    Wilson–Hilferty cube-root normal approximation (|error| ~1e-3 in
    p — fine for gating, documented), driver-side only: the SQL
    renderings refuse odd dof."""
    if dof % 2:
        if isinstance(x, _Sql):
            raise ValueError("SQL replay is provided for even dof only")
        if x <= 0.0:
            return 1.0
        z = (((x / dof) ** (1.0 / 3.0)) - (1.0 - 2.0 / (9.0 * dof))) \
            / math.sqrt(2.0 / (9.0 * dof))
        return min(1.0, max(0.0, 0.5 * math.erfc(z / math.sqrt(2.0))))
    h = x / 2.0
    term, s = 1.0, 1.0
    for j in range(1, dof // 2):
        term = term * h / j
        s = s + term
    return _where(x <= 0.0, lambda: 1.0,
                  lambda: _least(1.0, _greatest(0.0, _exp(-h) * s)))


def _beta_cf(a: float, b: float, x: float) -> float:
    """Continued fraction for the regularized incomplete beta, by the
    modified Lentz method (Lentz 1976; the textbook evaluation of the
    standard even/odd coefficient recurrence d_{2m} = m(b−m)x/((a+2m−1)
    (a+2m)), d_{2m+1} = −(a+m)(a+b+m)x/((a+2m)(a+2m+1))). Converges in
    O(√(a+b)) iterations for x below the (a+1)/(a+b+2) split that
    betainc_reg applies before calling."""
    max_iter, eps, fpmin = 300, 3e-15, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c = 1.0
    d = 1.0 - qab * x / qap
    if abs(d) < fpmin:
        d = fpmin
    d = 1.0 / d
    h = d
    for m in range(1, max_iter + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < fpmin:
            d = fpmin
        c = 1.0 + aa / c
        if abs(c) < fpmin:
            c = fpmin
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < eps:
            return h
    raise ArithmeticError(f"_beta_cf failed to converge (a={a}, b={b}, "
                          f"x={x})")


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) — driver-side, scipy-free,
    engine-free (pure math module): the exact tail every classical
    small-sample distribution (t, F, binomial) reduces to. Uses the
    continued fraction on whichever side of x = (a+1)/(a+b+2)
    converges fast, with the symmetry I_x(a,b) = 1 − I_{1−x}(b,a)."""
    if not (a > 0.0 and b > 0.0):
        raise ValueError("betainc_reg needs a > 0 and b > 0")
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                + a * math.log(x) + b * math.log(1.0 - x))
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def f_sf(x: float, d1: float, d2: float) -> float:
    """EXACT upper-tail F probability P(F_{d1,d2} > x) =
    I_{d2/(d2+d1·x)}(d2/2, d1/2) — the small-sample tail behind
    anova_oneway/brown_forsythe's ``tail="exact"`` mode (their default
    stays the large-within-dof χ² limit of k·F, which is what the SQL
    oracles replay; this driver-side scalar exists so a 20-row-
    per-group caller gets an honest p instead of a documented caveat).
    Agrees with the χ² limit as d2 → ∞ and with the closed forms at
    d1 = 2 / d2 = 2 (pytest-pinned)."""
    if x <= 0.0:
        return 1.0
    return min(1.0, max(0.0, betainc_reg(d2 / 2.0, d1 / 2.0,
                                         d2 / (d2 + d1 * x))))


def t_sf(x: float, dof: float) -> float:
    """EXACT upper-tail Student-t probability P(T_ν > x) =
    I_{ν/(ν+x²)}(ν/2, 1/2)/2 for x ≥ 0 (symmetry below zero) — the
    small-sample tail behind welch_ttest/pairwise_welch's
    ``tail="exact"`` mode (their default stays the large-dof normal
    limit, which is what the SQL oracles replay; this driver-side
    scalar exists so a thin-stratum post-hoc gets an honest p instead
    of a documented caveat — the same pattern as f_sf for ANOVA).
    Agrees with the Cauchy (ν=1) and ν=2 closed forms to 1e-14 and
    with the normal limit as ν → ∞ (pytest-pinned)."""
    if dof <= 0.0:
        raise ValueError("t_sf needs dof > 0")
    ib = betainc_reg(dof / 2.0, 0.5, dof / (dof + x * x))
    return ib / 2.0 if x >= 0.0 else 1.0 - ib / 2.0


def chi2_independence(df: DataFrame, col_a: str, col_b: str,
                      max_cells: int = 10_000) -> DataFrame:
    """Pearson chi-square test of independence for two categorical
    columns: one groupBy(a, b) count aggregate (the only pass over the
    raw rows), the bounded contingency table to the driver (raise
    above max_cells — a chi-square over more cells than that has
    degenerate expected counts anyway), expected counts from the
    marginals, Q from chi2_sf. Returns one row:
    (chi2, dof, p_value, cramers_v). Cells are summed in sorted (a, b)
    order so the statistic is content-deterministic. max_cells bounds
    the full r×c product, not just the observed cells (the statistic
    iterates the product)."""
    rows, row_tot, col_tot, n = _contingency_rows(
        df, col_a, col_b, max_cells, "chi2_independence")
    obs = {(r["__a"], r["__b"]): r["__o"] for r in rows}
    # the FULL row x column product, not just observed cells: a
    # structurally empty cell contributes (0 - e)^2 / e = e to the
    # Pearson statistic — skipping it understates chi2 (review-caught;
    # the oracle shared the omission, so only a zero-cell hand test
    # could see it)
    chi2 = 0.0
    for a in sorted(row_tot):
        for b_ in sorted(col_tot):
            e = row_tot[a] * col_tot[b_] / n
            d = obs.get((a, b_), 0.0) - e
            chi2 += d * d / e
    dof = (len(row_tot) - 1) * (len(col_tot) - 1)
    if dof < 1:
        raise ValueError("chi2_independence needs >= 2 categories per "
                         "column")
    # Cramér's V effect size: sqrt(chi2 / (n * min(r-1, c-1))) — the
    # p-value saturates at corpus scale (everything is "significant"
    # at n=10^9); V stays interpretable
    vdenom = n * min(len(row_tot) - 1, len(col_tot) - 1)
    return local_frame(
        df.sparkSession, [(float(chi2), int(dof), float(chi2_sf(chi2, dof)),
                           float(math.sqrt(chi2 / vdenom)))],
        "chi2 double, dof long, p_value double, cramers_v double")


def _km_factor(d, n_risk):
    """One duration's product-limit factor 1 − d/n_risk as (log
    factor, zero flag): a factor ≤ 0 (everyone at risk dies) adds 0 to
    the log sum and 1 to the zero count."""
    f = 1.0 - d / n_risk
    return (_where(f > 0.0, lambda: _ln(f), lambda: 0.0),
            _where(f <= 0.0, lambda: 1.0, lambda: 0.0))


def _km_survival(zeros, cum_ln):
    return _where(zeros > 0.0, lambda: 0.0, lambda: _exp(cum_ln))


def kaplan_meier(df: DataFrame, duration_col: str,
                 event_col: str) -> DataFrame:
    """Kaplan–Meier product-limit survival curve, distributed.

    One output row per distinct duration t:
      n_risk(t)   = subjects with duration ≥ t
      n_events(t) = events at exactly t (event_col truthy)
      n_censored(t) = censorings at exactly t
      survival(t) = Π_{t' ≤ t} (1 − d(t')/n_risk(t'))

    The product is exp(Σ ln(1 − d/n)) with an explicit zero-factor
    carry (once any factor hits 0 — everyone at risk dies — survival
    is exactly 0.0 from there on, rather than exp(−inf) edge cases).

    Shape: ONE groupBy(duration) over the raw rows — the irreducible
    data pass. The cumulative pieces (risk-set suffix count, log-factor
    and zero-flag prefix sums) run over the distinct-duration frame,
    which for day/bucket-granularity durations is tiny (hundreds of
    rows) — so, the ks_2sample(bins=K) pattern: when that frame fits
    ``utils.MAX_DRIVER_ROWS`` (checked with a bounded limit-collect, no
    extra count job) the cumsums run driver-side in sorted order,
    replacing two distributed prefix machines (each a range shuffle +
    checkpoint + subtotal job) with one small collect. Truly continuous
    durations blow the cap and fall through to the fully distributed
    TWO chained prefix passes — n_risk first (the log factors need
    it), then the log-factor and zero-flag cumsums batched into one
    multi-column pass. Both paths compute the identical ascending-t arithmetic.
    """
    from dask_ml_spark.datapipe.packing import prefix_sum

    # NULL event flags are dropped WITH their subject (like NULL
    # durations): counting them in n_risk but in neither n_events nor
    # n_censored would silently unbalance the per-duration counts
    ev = F.col(event_col).cast("double")
    g = (df.where(F.col(duration_col).isNotNull()
                  & F.col(event_col).isNotNull())
         .groupBy(F.col(duration_col).cast("double").alias("__t"))
         .agg(F.sum((ev != 0).cast("double")).alias("__d"),
              F.sum((ev == 0).cast("double")).alias("__c"),
              F.count(F.lit(1)).cast("double").alias("__n")))
    out_schema = ("duration double, n_risk long, n_events long, "
                  "n_censored long, survival double")
    g, head = bounded_head(g)
    if head is not None:
        head.sort(key=lambda r: r["__t"])
        ntot = sum(r["__n"] for r in head)
        before = cumln = zeros = 0.0
        rows = []
        for r in head:
            nr = ntot - before
            lnf, zf = _km_factor(r["__d"], nr)
            cumln += lnf
            zeros += zf
            rows.append((float(r["__t"]), int(nr), int(r["__d"]),
                         int(r["__c"]), _km_survival(zeros, cumln)))
            before += r["__n"]
        return local_frame(df.sparkSession, rows, out_schema)
    # over the cap: fall through (one wasted bounded collect on a
    # frame we now know is prefix-machine-sized — the rare case)
    # grand total from the prefix machine's own subtotal collect —
    # integer counts, so the literal is bit-identical to the old
    # F.sum-over-output aggregate it replaces, and the cumsum pass
    # runs once instead of twice (r13 optimization)
    g, (ntot_t,) = prefix_sum(g, "__t", "__n", "__before",
                              with_totals=True)
    j = g.select("__t", "__d", "__c",
                 (F.lit(ntot_t) - F.col("__before")).alias("__nr"))
    j = j.select("*", *(
        F.expr(spark_sql(lambda *a, i=i: _km_factor(*a)[i],
                         "__d", "__nr")).alias(c)
        for i, c in enumerate(("__lnf", "__zf"))))
    j = prefix_sum(j, "__t", ["__lnf", "__zf"], ["__cumln", "__cumzf"])
    survival = F.expr(spark_sql(_km_survival, "__cumzf + __zf",
                                "__cumln + __lnf"))
    return j.select(
        F.col("__t").alias("duration"),
        F.col("__nr").cast("long").alias("n_risk"),
        F.col("__d").cast("long").alias("n_events"),
        F.col("__c").cast("long").alias("n_censored"),
        survival.alias("survival"))


def _log_rank_terms(d1, d2, r1, r2, wilcoxon):
    """One duration's (O₁, E₁, V) terms from the at-t event counts d
    and risk-set sizes r: w·d₁, w·d·n₁/n and the hypergeometric
    w²·d·(n₁/n)(n₂/n)(n − d)/(n − 1), with w = n under Gehan weights.
    A duration without events adds zeros, and V skips n < 2."""
    nt, dt = r1 + r2, d1 + d2
    w = nt if wilcoxon else 1.0
    return (w * d1, w * (dt * (r1 / nt)),
            _where(nt >= 2.0, lambda: (w * w * dt * (r1 / nt) * (r2 / nt)
                                       * (nt - dt) / (nt - 1.0)),
                   lambda: 0.0))


def log_rank(df: DataFrame, duration_col: str, event_col: str,
             group_col: str, groups=None,
             weights: str = "logrank") -> DataFrame:
    """Two-group log-rank (Mantel–Cox) test — the survival-family
    hypothesis test next to kaplan_meier: do two cohorts share a
    time-to-event distribution under right-censoring? (The question
    every conversion/retention comparison actually asks; a Welch t on
    raw durations is wrong under censoring because censored subjects
    contribute "at least this long", not "exactly this long".)

    At each distinct pooled EVENT time t with d_t ≥ 1 events:
    n_it = subjects of group i at risk (duration ≥ t), d_it = events
    of group i at t. O₁ = Σ d_1t, E₁ = Σ d_t·n_1t/n_t (the
    hypergeometric mean), V = Σ d_t·(n_1t/n_t)·(n_2t/n_t)·
    (n_t − d_t)/(n_t − 1) (skipping n_t < 2), z = (O₁ − E₁)/√V,
    chi2 = z², p = the χ²₁ tail = 2·Φ̄(|z|) — elementary, the same
    A&S normal form every engine replays bit-comparably.

    Shape (the kaplan_meier skeleton): ONE groupBy(duration) over the
    raw rows with per-group at-t and event-at-t conditional counts —
    the irreducible pass; the risk-set suffix counts and the O/E/V
    sums then run over the distinct-duration frame, driver-side in
    ascending-t order when it fits ``utils.MAX_DRIVER_ROWS`` (bounded
    limit-collect, integer counts → the float term sums are
    bit-reproducible and SQL-replayable), else via the two-phase
    prefix machine with the totals read off the LAST cumulative row
    (prefix order is deterministic, so the distributed path sums in
    the same ascending-t order — no nondeterministic double
    reduction). Returns one row:
    (n1, n2, observed1, expected1, z, chi2, p_value).

    ``weights="wilcoxon"`` gives the Gehan–Breslow–Wilcoxon variant:
    every term is weighted by the pooled risk-set size n_t, so EARLY
    differences dominate (the right sensitivity when hazards cross —
    an onboarding change that speeds up early conversion but washes
    out later is invisible to the equal-weight log-rank). Same plan,
    same O/E/V machinery with w_t = n_t and w²_t in the variance;
    observed1/expected1 are then WEIGHTED sums.
    """
    from dask_ml_spark.datapipe.packing import prefix_sum

    if weights not in ("logrank", "wilcoxon"):
        raise ValueError("weights must be 'logrank' or 'wilcoxon'")
    _, g1, g2 = _two_group_kept(df, duration_col, group_col, groups)
    ev = F.col(event_col).cast("double")
    kept = df.where(F.col(duration_col).isNotNull()
                    & F.col(event_col).isNotNull()
                    & F.col(group_col).isin([g1, g2]))
    one = (F.col(group_col) == g1).cast("double")
    two = (F.col(group_col) == g2).cast("double")
    died = (ev != 0).cast("double")
    g = (kept.groupBy(F.col(duration_col).cast("double").alias("__t"))
         .agg(F.sum(one).alias("__n1"), F.sum(two).alias("__n2"),
              F.sum(one * died).alias("__d1"),
              F.sum(two * died).alias("__d2")))

    def _emit_row(spark, n1t, n2t, o1, e1, v):
        if not n1t or not n2t:
            raise ValueError(
                "log_rank: a group matched no rows — check the group "
                "values (NULL groups are excluded)")
        if v > 0.0:
            z_v = (o1 - e1) / math.sqrt(v)
            p_v = normal_p2(z_v)
        else:
            z_v, p_v = 0.0, 1.0
        return local_frame(
            spark, [(int(n1t), int(n2t), float(o1), float(e1), float(z_v),
                     float(z_v * z_v), float(p_v))],
            "n1 long, n2 long, observed1 double, expected1 double, "
            "z double, chi2 double, p_value double")

    g, head = bounded_head(g)
    if head is not None:
        head.sort(key=lambda r: r["__t"])
        tot1 = sum(int(r["__n1"]) for r in head)
        tot2 = sum(int(r["__n2"]) for r in head)
        b1 = b2 = 0
        o1 = e1 = v = 0.0
        for r in head:
            o, e, vt = _log_rank_terms(
                r["__d1"], r["__d2"], float(tot1 - b1), float(tot2 - b2),
                weights == "wilcoxon")
            o1 += o
            e1 += e
            v += vt
            b1 += int(r["__n1"])
            b2 += int(r["__n2"])
        return _emit_row(df.sparkSession, tot1, tot2, o1, e1, v)
    # distributed fallback: prefix the at-t counts, derive risk sets,
    # prefix the O/E/V terms in the same ascending-t order, and read
    # the totals off the max-t row (sum order stays deterministic)
    # totals via the prefix machine's subtotal collect (integer counts
    # — bit-identical to the old F.sum aggregate; one cumsum pass, no
    # cross join; r13 optimization)
    g, (t1_t, t2_t) = prefix_sum(g, "__t", ["__n1", "__n2"],
                                 ["__b1", "__b2"], with_totals=True)
    j = g.select("__t", "__d1", "__d2",
                 (F.lit(t1_t) - F.col("__b1")).alias("__r1"),
                 (F.lit(t2_t) - F.col("__b2")).alias("__r2"))
    j = j.select("__t", *(
        F.expr(spark_sql(lambda *a, i=i: _log_rank_terms(*a)[i],
                         "__d1", "__d2", "__r1", "__r2",
                         weights == "wilcoxon")).alias(c)
        for i, c in enumerate(("__o", "__e", "__v"))))
    j = prefix_sum(j, "__t", ["__o", "__e", "__v"],
                   ["__co", "__ce", "__cv"])
    last = (j.orderBy(F.col("__t").desc()).limit(1)
            .select((F.col("__co") + F.col("__o")).alias("o1"),
                    (F.col("__ce") + F.col("__e")).alias("e1"),
                    (F.col("__cv") + F.col("__v")).alias("v"))
            .collect()[0])
    return _emit_row(df.sparkSession, int(t1_t), int(t2_t),
                     float(last["o1"]), float(last["e1"]),
                     float(last["v"]))


def cohens_d(df: DataFrame, value_col: str, group_col: str,
             groups=None) -> DataFrame:
    """Standardized two-group effect size — the magnitude companion
    every welch_ttest/BH sweep needs at corpus scale, where n makes
    EVERYTHING significant and the decision question becomes "is the
    difference big enough to matter?" (The established rank-side
    analogue here is rank_biserial on U; this is the parametric one.)

    d = (m1 − m2) / s_p with the pooled SD
    s_p = √(((n1−1)v1 + (n2−1)v2)/(n1 + n2 − 2)), and Hedges'
    small-sample correction g = d·J, J = 1 − 3/(4(n1+n2) − 9).
    Rule-of-thumb bands (Cohen 1988): 0.2 small / 0.5 medium /
    0.8 large.

    Shape: the welch_ttest aggregate — ONE conditional-sum pass over
    the raw rows — followed by a stateless projection (no collect, no
    second job). Returns one row:
    (n1, n2, mean_diff, pooled_sd, d, hedges_g).
    """
    agg, _, _ = _welch_sums(df, value_col, group_col, groups)
    n1, n2 = F.col("n1_d"), F.col("n2_d")
    m1, m2 = F.col("s1") / n1, F.col("s2") / n2
    v1 = (F.col("q1") - n1 * m1 * m1) / (n1 - 1.0)
    v2 = (F.col("q2") - n2 * m2 * m2) / (n2 - 1.0)
    sp2 = ((n1 - 1.0) * v1 + (n2 - 1.0) * v2) / (n1 + n2 - 2.0)
    ok = (n1 >= 2.0) & (n2 >= 2.0) & (sp2 > 0.0)
    sp = F.when(ok, F.sqrt(sp2))
    d = (m1 - m2) / sp
    j = 1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)

    def grd(c):
        return _nonempty_guard(n1, n2, c, "cohens_d")

    return agg.select(
        n1.cast("long").alias("n1"), n2.cast("long").alias("n2"),
        grd(m1 - m2).alias("mean_diff"),
        grd(sp).alias("pooled_sd"),
        grd(d).alias("d"),
        grd(d * j).alias("hedges_g"))


def _na_terms(d, n_risk):
    """One duration's hazard increment d/n_risk and its Poisson
    variance term d/n_risk²."""
    return d / n_risk, d / (n_risk * n_risk)


def _na_band(h, var, z):
    """(se, ci_lo, ci_hi) of the cumulative hazard h: se = √var and the
    linear ±z·se interval, clamped at 0."""
    se = _sqrt(var)
    return se, _greatest(0.0, h - z * se), h + z * se


def nelson_aalen(df: DataFrame, duration_col: str, event_col: str,
                 z: float = 1.96) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator — kaplan_meier's
    additive twin: H(t) = Σ_{t' ≤ t} d(t')/n_risk(t'). Where the KM
    curve answers "what fraction survives past t", the hazard curve
    answers "how fast do events arrive at t" — its SLOPE is the event
    rate, so plateaus/knees localize when conversion stalls, and
    ln-hazard differences feed proportional-hazards eyeballing.
    Variance is the Poisson/Aalen form Var = Σ d/n_risk², with the
    plain ±z·se interval clamped at 0 (documented choice — the
    log-transformed interval exists but the linear one is what the
    SQL oracle replays term-for-term; z defaults to the 95% 1.96).

    Shape: identical to kaplan_meier (the shared survival skeleton) —
    ONE groupBy(duration), driver-side ascending-t cumsums under
    ``utils.MAX_DRIVER_ROWS``, else the two-phase prefix machine
    computing the same arithmetic. Returns one row per distinct duration:
    (duration, n_risk, n_events, n_censored, cum_hazard, se,
    ci_lo, ci_hi).
    """
    from dask_ml_spark.datapipe.packing import prefix_sum

    ev = F.col(event_col).cast("double")
    g = (df.where(F.col(duration_col).isNotNull()
                  & F.col(event_col).isNotNull())
         .groupBy(F.col(duration_col).cast("double").alias("__t"))
         .agg(F.sum((ev != 0).cast("double")).alias("__d"),
              F.sum((ev == 0).cast("double")).alias("__c"),
              F.count(F.lit(1)).cast("double").alias("__n")))
    out_schema = ("duration double, n_risk long, n_events long, "
                  "n_censored long, cum_hazard double, se double, "
                  "ci_lo double, ci_hi double")
    g, head = bounded_head(g)
    if head is not None:
        head.sort(key=lambda r: r["__t"])
        ntot = sum(r["__n"] for r in head)
        before = 0.0
        h = var = 0.0
        rows = []
        for r in head:
            nr = ntot - before
            ht, vt = _na_terms(r["__d"], nr)
            h += ht
            var += vt
            rows.append((float(r["__t"]), int(nr), int(r["__d"]),
                         int(r["__c"]), h, *_na_band(h, var, z)))
            before += r["__n"]
        return local_frame(df.sparkSession, rows, out_schema)
    # totals via the prefix machine's subtotal collect (integer counts
    # — bit-identical; one cumsum pass, no cross join; r13 optimization)
    g, (ntot_t,) = prefix_sum(g, "__t", "__n", "__before",
                              with_totals=True)
    j = g.select("__t", "__d", "__c",
                 (F.lit(ntot_t) - F.col("__before")).alias("__nr"))
    j = j.select("*", *(
        F.expr(spark_sql(lambda *a, i=i: _na_terms(*a)[i],
                         "__d", "__nr")).alias(c)
        for i, c in enumerate(("__ht", "__vt"))))
    j = prefix_sum(j, "__t", ["__ht", "__vt"], ["__bh", "__bv"])
    h = F.col("__bh") + F.col("__ht")
    return j.select(
        F.col("__t").alias("duration"),
        F.col("__nr").cast("long").alias("n_risk"),
        F.col("__d").cast("long").alias("n_events"),
        F.col("__c").cast("long").alias("n_censored"),
        h.alias("cum_hazard"), *(
            F.expr(spark_sql(lambda *a, i=i: _na_band(*a)[i],
                             "__bh + __ht", "__bv + __vt", z)).alias(c)
            for i, c in enumerate(("se", "ci_lo", "ci_hi"))))


def mood_median(df: DataFrame, value_col: str, group_col: str,
                groups=None, approximate: bool = False) -> DataFrame:
    """Mood's median test — the robust two-group location screen when
    even ranks are suspect: it reduces each observation to one bit
    (above the POOLED median or not), so a handful of corrupted
    extreme values can flip Welch and still shift Mann–Whitney, but
    cannot move this test by more than their count.

    Pooled median via exact F.percentile by default (the Winsorizer
    convention — what the SQL oracle replays with quantile_cont);
    ``approximate=True`` swaps the Greenwald–Khanna sketch for the
    100 TB path. Ties at the median count as "not above" (scipy's
    ties='below'). χ² is the 2×2 Pearson form from exact integer
    counts, dof 1, p = 2·Φ̄(√χ²) — elementary, no correction
    (documented; at screen scale the Yates correction is noise).

    Shape: one percentile aggregate + one conditional-count aggregate
    joined by a 1-row broadcast — all JVM, no driver round-trip.
    Returns one row:
    (n1, n2, grand_median, above1, above2, chi2, p_value).
    """
    v = F.col(value_col).cast("double")
    if groups is None:
        _, g1, g2 = _two_group_kept(df, value_col, group_col, None)
    else:
        g1, g2 = groups
    kept = df.where(v.isNotNull() & ~F.isnan(v)
                    & F.col(group_col).isin([g1, g2]))
    pct = F.percentile_approx if approximate else F.percentile
    med = kept.agg(pct(v, F.lit(0.5)).alias("__m"))
    one = (F.col(group_col) == g1).cast("double")
    two = (F.col(group_col) == g2).cast("double")
    above = (v > F.col("__m")).cast("double")
    agg = (kept.crossJoin(F.broadcast(med))
           .agg(F.sum(one).alias("n1_d"), F.sum(two).alias("n2_d"),
                F.sum(one * above).alias("a1"),
                F.sum(two * above).alias("a2"),
                F.first("__m").alias("m")))
    n1, n2 = F.col("n1_d"), F.col("n2_d")
    a1, a2 = F.col("a1"), F.col("a2")
    b1, b2 = n1 - a1, n2 - a2
    n = n1 + n2
    det = a1 * b2 - a2 * b1
    denom = (a1 + a2) * (b1 + b2) * n1 * n2
    chi2 = F.when(denom > 0.0, n * det * det / denom).otherwise(0.0)

    def grd(c):
        return _nonempty_guard(n1, n2, c, "mood_median")

    return (agg.withColumn("__chi2", chi2)
            .withColumn("__z", F.sqrt("__chi2"))
            .select(
                n1.cast("long").alias("n1"),
                n2.cast("long").alias("n2"),
                grd(F.col("m")).alias("grand_median"),
                a1.cast("long").alias("above1"),
                a2.cast("long").alias("above2"),
                grd(F.col("__chi2")).alias("chi2"),
                grd(F.expr(spark_sql(normal_p2, "__z"))).alias("p_value")))


def exponential_survival_fit(df: DataFrame, duration_col: str,
                             event_col: str,
                             z: float = 1.96) -> DataFrame:
    """Censored-exponential MLE — the one-parameter summary of the
    survival family (kaplan_meier/nelson_aalen describe the curve;
    this fits the constant-hazard model a capacity plan or an SLA
    actually consumes): rate λ̂ = D / T with D = events and T = total
    observed time (events AND censored both contribute their full
    duration — the standard censored-likelihood estimator), mean
    lifetime 1/λ̂, and the log-scale normal interval
    λ̂·exp(∓z/√D) (se(ln λ̂) = 1/√D).

    ONE aggregate over the raw rows, stateless projection. Zero
    events or zero observed time raise loudly (no silent NULL rate).
    Returns one row:
    (n, n_events, total_time, rate, rate_lo, rate_hi, mean_lifetime).
    """
    ev = F.col(event_col).cast("double")
    t = F.col(duration_col).cast("double")
    kept = df.where(t.isNotNull() & ~F.isnan(t) & (t >= 0.0)
                    & F.col(event_col).isNotNull())
    agg = kept.agg(F.count(F.lit(1)).alias("n_d"),
                   F.sum((ev != 0).cast("double")).alias("d_d"),
                   F.sum(t).alias("t_d"))
    d, tt = F.col("d_d"), F.col("t_d")
    bad = d.isNull() | (d <= 0.0) | (tt <= 0.0)
    guard = F.when(bad, F.raise_error(F.lit(
        "exponential_survival_fit: needs >= 1 event and positive "
        "total time")).cast("double"))
    rate = F.coalesce(guard, d / tt)
    half = F.exp(F.lit(z) / F.sqrt(d))
    return agg.select(
        F.col("n_d").cast("long").alias("n"),
        d.cast("long").alias("n_events"),
        F.coalesce(guard, tt).alias("total_time"),
        rate.alias("rate"),
        (rate / half).alias("rate_lo"),
        (rate * half).alias("rate_hi"),
        (1.0 / rate).alias("mean_lifetime"))


def jarque_bera(df: DataFrame, value_col: str) -> DataFrame:
    """Jarque–Bera normality screen — the one-aggregate answer to
    "can I hand this column to a z-score/Gaussian gate?": JB =
    n/6·(S² + (K−3)²/4) from sample skewness S and kurtosis K, with
    the EXACT χ²₂ tail p = e^{−JB/2} (the one chi-square whose tail
    is a single elementary term — every engine replays it
    bit-comparably). At corpus n the test rejects for microscopic
    departures, so S and K are returned as the effect sizes that
    actually carry the decision (the η² convention).

    ONE aggregate of the first four raw moments; central moments
    assemble driver-side via the standard expansions (same
    raw-moment shape as welch/anova — adequate for the |skew| ≲ 10³
    screens this serves; a column whose mean dwarfs its spread wants
    centering upstream, documented). Returns one row:
    (n, mean, variance, skewness, kurtosis, jb, p_value).
    """
    v = F.col(value_col).cast("double")
    kept = df.where(v.isNotNull() & ~F.isnan(v))
    row = kept.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(v).alias("s1"), F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4")).collect()[0]
    n = float(row["n"] or 0.0)
    if n < 4:
        raise ValueError("jarque_bera needs >= 4 non-null rows")
    m = row["s1"] / n
    m2 = row["s2"] / n - m * m
    if m2 <= 0.0:
        raise ValueError("jarque_bera: zero variance — the screen is "
                         "undefined on a constant column")
    m3 = (row["s3"] - 3.0 * m * row["s2"] + 2.0 * n * m ** 3) / n
    m4 = (row["s4"] - 4.0 * m * row["s3"] + 6.0 * m * m * row["s2"]
          - 3.0 * n * m ** 4) / n
    skew = m3 / m2 ** 1.5
    kurt = m4 / (m2 * m2)
    jb = n / 6.0 * (skew * skew + (kurt - 3.0) ** 2 / 4.0)
    p = chi2_sf(jb, 2)
    return local_frame(
        df.sparkSession,
        [(int(n), float(m), float(m2), float(skew), float(kurt),
          float(jb), float(p))],
        "n long, mean double, variance double, skewness double, "
        "kurtosis double, jb double, p_value double")


def welch_anova(df: DataFrame, value_col: str, group_col: str,
                max_groups: int = 65536,
                tail: str = "chi2") -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA — the k-group test that
    stays honest when group VARIANCES differ (classical anova_oneway
    pools them; with a 10× variance ratio and unequal n its F is
    badly mis-calibrated — the per-source quality comparison case,
    where one noisy crawl breaks the pooled assumption).

    F* = [Σ wᵢ(x̄ᵢ − x̄*)² / (k−1)] / [1 + 2(k−2)/(k²−1)·Λ] with
    wᵢ = nᵢ/vᵢ, x̄* = Σ wᵢx̄ᵢ/Σ wᵢ, Λ = Σ (1 − wᵢ/W)²/(nᵢ−1), and
    Welch's denominator dof ν₂ = (k²−1)/(3Λ) (Welch 1951). p follows
    the anova_oneway tail convention: ``tail="chi2"`` (default, what
    the SQL oracles replay) uses (k−1)·F* → χ²_{k−1} as ν₂ → ∞;
    ``tail="exact"`` swaps the driver-side f_sf(F*, k−1, ν₂) scalar —
    see the module exact-tail policy.

    Shape: anova_oneway's exactly — ONE groupBy(group) of (n, Σx,
    Σx²), bounded ≤max_groups driver state, sorted-group assembly.
    Returns one row: (k, n, f_stat, df_between, df_within_welch,
    p_value).
    """
    if tail not in ("chi2", "exact"):
        raise ValueError("tail must be 'chi2' or 'exact'")
    v = F.col(value_col).cast("double")
    rows = collect_capped(
        df.where(v.isNotNull() & ~F.isnan(v)
                 & F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).cast("double").alias("__n"),
             F.sum(v).alias("__s"),
             F.sum(v * v).alias("__q")),
        max_groups,
        f"welch_anova: more than max_groups={max_groups} groups — "
        "a family that size wants bucketing first")
    rows.sort(key=lambda r: str(r[group_col]))
    k = len(rows)
    if k < 2:
        raise ValueError("welch_anova needs >= 2 groups")
    for r in rows:
        if r["__n"] < 2:
            raise ValueError("welch_anova needs >= 2 rows per group")
    n = sum(r["__n"] for r in rows)
    stats = []
    for r in rows:
        ni = r["__n"]
        mi = r["__s"] / ni
        vi = (r["__q"] - ni * mi * mi) / (ni - 1.0)
        if vi <= 0.0:
            raise ValueError("welch_anova: zero within-group variance "
                             "— F* is undefined on constant groups")
        stats.append((ni, mi, ni / vi))
    w_tot = sum(w for _, _, w in stats)
    xstar = sum(w * mi for _, mi, w in stats) / w_tot
    num = sum(w * (mi - xstar) ** 2 for _, mi, w in stats) / (k - 1.0)
    lam = sum((1.0 - w / w_tot) ** 2 / (ni - 1.0)
              for ni, _, w in stats)
    f_star = num / (1.0 + 2.0 * (k - 2.0) / (k * k - 1.0) * lam)
    dof2 = (k * k - 1.0) / (3.0 * lam) if lam > 0.0 else float("inf")
    dfb = k - 1
    if tail == "exact" and math.isfinite(dof2):
        p = f_sf(f_star, float(dfb), dof2)
    else:
        p = chi2_sf(dfb * f_star, dfb)
    return local_frame(
        df.sparkSession,
        [(k, int(n), float(f_star), dfb, float(dof2), float(p))],
        "k long, n long, f_stat double, df_between long, "
        "df_within_welch double, p_value double")


# Acklam's rational approximation to the standard normal quantile
# (peter.acklam 2003, the widely republished literal-coefficient
# algorithm; |relative error| < 1.15e-9 over (0, 1)) — driver-side
# only: the power/sample-size planners below need Φ^{-1}, nothing in
# the distributed plans does.
_PPF_A = (-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00)
_PPF_B = (-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01)
_PPF_C = (-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00)
_PPF_D = (7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00)


def normal_ppf(p: float) -> float:
    """Φ^{-1}(p), Acklam's two-region rational approximation refined
    by ONE Halley step against the in-tree normal_sf tail, so the
    quantile and the tail are mutually consistent (the round-trip
    normal_ppf(1 − normal_sf(t)) = t is pinned to ~1e-7).
    Absolute accuracy is therefore bounded by the A&S tail itself
    (~1e-6 in the quantile near the tails) — exactly what a
    sample-size planner needs, deliberately NOT more precise than the
    p-values the rest of the family reports."""
    if not 0.0 < p < 1.0:
        raise ValueError("normal_ppf needs p in (0, 1)")
    p_low = 0.02425
    if p < p_low:
        q = math.sqrt(-2.0 * math.log(p))
        x = ((((((_PPF_C[0] * q + _PPF_C[1]) * q + _PPF_C[2]) * q
                + _PPF_C[3]) * q + _PPF_C[4]) * q + _PPF_C[5])
             / ((((_PPF_D[0] * q + _PPF_D[1]) * q + _PPF_D[2]) * q
                 + _PPF_D[3]) * q + 1.0))
    elif p <= 1.0 - p_low:
        q = p - 0.5
        r = q * q
        x = ((((((_PPF_A[0] * r + _PPF_A[1]) * r + _PPF_A[2]) * r
                + _PPF_A[3]) * r + _PPF_A[4]) * r + _PPF_A[5]) * q
             / (((((_PPF_B[0] * r + _PPF_B[1]) * r + _PPF_B[2]) * r
                  + _PPF_B[3]) * r + _PPF_B[4]) * r + 1.0))
    else:
        q = math.sqrt(-2.0 * math.log(1.0 - p))
        x = -((((((_PPF_C[0] * q + _PPF_C[1]) * q + _PPF_C[2]) * q
                 + _PPF_C[3]) * q + _PPF_C[4]) * q + _PPF_C[5])
              / ((((_PPF_D[0] * q + _PPF_D[1]) * q + _PPF_D[2]) * q
                  + _PPF_D[3]) * q + 1.0))
    # one Halley refinement against the engine's own normal tail
    e = (1.0 - normal_sf(x)) - p if x >= 0.0 \
        else normal_sf(-x) - p
    u = e * math.sqrt(2.0 * math.pi) * math.exp(x * x / 2.0)
    return x - u / (1.0 + x * u / 2.0)


def power_two_sample(effect_size: float, alpha: float = 0.05,
                    power: float = 0.8) -> int:
    """Per-group n for a two-sided two-sample z/t comparison to detect
    standardized effect d (cohens_d units) at the given alpha and
    power: n = 2·((z_{1−α/2} + z_{power})/d)², rounded up — the
    experiment-design closer of the stats family (cohens_d measures
    what WAS; this says how many samples the NEXT experiment needs).
    The normal form; at the n this returns for any d ≤ 1 the t
    correction is < 1 sample (document-grade, like the tail policy).
    """
    if effect_size <= 0.0:
        raise ValueError("effect_size must be > 0")
    if not 0.0 < alpha < 1.0 or not 0.0 < power < 1.0:
        raise ValueError("alpha and power must be in (0, 1)")
    za = normal_ppf(1.0 - alpha / 2.0)
    zb = normal_ppf(power)
    return int(math.ceil(2.0 * ((za + zb) / effect_size) ** 2))


def minimum_detectable_effect(n_per_group: int, alpha: float = 0.05,
                              power: float = 0.8) -> float:
    """The inverse planner: the smallest standardized effect a
    two-sample comparison with ``n_per_group`` rows per arm detects at
    the given alpha/power — d = (z_{1−α/2} + z_{power})·√(2/n). The
    question a fixed-budget experiment actually asks."""
    if n_per_group < 2:
        raise ValueError("n_per_group must be >= 2")
    if not 0.0 < alpha < 1.0 or not 0.0 < power < 1.0:
        raise ValueError("alpha and power must be in (0, 1)")
    za = normal_ppf(1.0 - alpha / 2.0)
    zb = normal_ppf(power)
    return (za + zb) * math.sqrt(2.0 / n_per_group)


def _ab_block_score_sum(a: int, b: int, n: int) -> int:
    """Exact integer Σ_{r=a}^{b} min(r, n+1−r) — the Ansari–Bradley
    scores of a tied block occupying pooled ranks [a, b], as two
    arithmetic series split at the fold point (n+1)//2."""
    tot = 0
    lo_end = min(b, (n + 1) // 2)          # min(r, n+1−r) == r here
    if a <= lo_end:
        tot += (a + lo_end) * (lo_end - a + 1) // 2
    hi_start = max(a, (n + 1) // 2 + 1)    # == n+1−r beyond the fold
    if hi_start <= b:
        c1, c2 = n + 1 - hi_start, n + 1 - b
        tot += (c1 + c2) * (c1 - c2 + 1) // 2
    return tot


def ansari_bradley(df: DataFrame, value_col: str, group_col: str,
                   groups=None,
                   max_driver_rows: int = 65536) -> DataFrame:
    """Ansari–Bradley rank test of SCALE — mood_median's dispersion
    twin: are two groups spread differently around a common center?
    (The question behind "did the new scrape widen the quality-score
    distribution?" when Brown–Forsythe's moment assumptions are shaky
    — ranks survive the heavy tails that inflate variance ratios.)
    Assumes comparable centers (median-align upstream if not —
    documented, the classic AB caveat).

    Scores fold the pooled ranks from both ends: s(r) = min(r, N+1−r)
    — compressed spread concentrates high scores, dilated spread low
    scores. Tied blocks take the block's MEAN score (midrank
    convention). W = Σ_{g1} s, and the tie-robust conditional moments
    give E[W] = n1·S/N, Var[W] = n1·n2·(N·Σs² − S²)/(N²(N−1)),
    z = (W − E)/√Var, two-sided A&S normal p.

    Shape: ONE groupBy(value) with per-group counts (the
    mann_whitney frame), then the ascending-value driver pass where
    each tied block's score sum is an EXACT integer closed form (two
    arithmetic series — no per-rank loop), so W/S/Σs² accumulate from
    integer block sums in deterministic order. Distinct values above
    ``max_driver_rows`` raise loudly — at that cardinality the value
    axis wants binning first (the ks_2sample(bins=K) convention), and
    a binned AB is exactly AB on the bucketed column. Returns one
    row: (n1, n2, w_stat, z, p_value).
    """
    g, g1, g2 = _two_group_counts(df, value_col, group_col, groups)
    g, head = bounded_head(g, max_driver_rows)
    if head is None:
        raise ValueError(
            f"ansari_bradley: more than {max_driver_rows} distinct "
            "values — bin the column first (AB on the bucketed column "
            "is the scale path, the ks_2sample(bins=K) convention)")
    head.sort(key=lambda r: r["__v"])
    n1 = int(sum(r["__c1"] for r in head))
    n2 = int(sum(r["__c2"] for r in head))
    if not n1 or not n2:
        raise ValueError(
            "ansari_bradley: a group matched no rows — check the "
            "group values (NULL groups are excluded)")
    n = n1 + n2
    cum = 0
    w = s_tot = ss_tot = 0.0
    for r in head:
        c1, c2 = int(r["__c1"]), int(r["__c2"])
        c = c1 + c2
        blk = _ab_block_score_sum(cum + 1, cum + c, n)  # exact int
        sbar = blk / c
        w += c1 * sbar
        s_tot += blk
        ss_tot += c * sbar * sbar
        cum += c
    e = n1 * s_tot / n
    var = n1 * n2 * (n * ss_tot - s_tot * s_tot) / (n * n * (n - 1.0))
    if var <= 0.0:
        z_v, p_v = 0.0, 1.0
    else:
        z_v = (w - e) / math.sqrt(var)
        p_v = normal_p2(z_v)
    return local_frame(
        df.sparkSession, [(n1, n2, float(w), float(z_v), float(p_v))],
        "n1 long, n2 long, w_stat double, z double, p_value double")
