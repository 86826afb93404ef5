"""Table profiling (beyond-reference).

Before a 100 TB corpus feeds training, a pipeline profiles it: per-column
null fractions, cardinalities, and numeric moments drive schema checks,
quality gates, and partitioning decisions. The whole profile is ONE wide
aggregate pass (count/min/max/avg/stddev fuse into a single hash-free
global aggregate with map-side partials); only the per-column summary —
#columns rows — reaches the driver.

Cardinality: ``approx_count_distinct`` (HyperLogLog++, mergeable, bounded
memory) is the default; exact distinct counts expand the aggregate per
column and shuffle, so they are opt-in for oracle checks and small data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_ml_spark.utils import collect_capped, is_numeric_field, local_frame

PROFILE_SCHEMA = (
    "column string, n_rows long, n_nulls long, null_frac double, "
    "n_distinct long, min_num double, max_num double, mean double, "
    "stddev double, min_str string, max_str string"
)


def profile_table(df: DataFrame, columns=None, approx_distinct: bool = True,
                  rsd: float = 0.05, check_hll: bool = False) -> DataFrame:
    """Per-column profile: one row per column with
    (n_rows, n_nulls, null_frac, n_distinct, min/max/mean/stddev for
    numerics, min/max for strings). Numeric stats are rounded to 6
    decimals so profiles are engine-comparable.

    ``check_hll=True`` computes BOTH the exact distinct counts and the
    HLL estimates and adds a ``hll_ok`` column:
    |hll − exact| ≤ max(3·rsd·exact, 2). ``n_distinct`` is then the
    exact count, so the whole profile is deterministic and a SQL
    oracle can replay it while the HLL sketch is still exercised and
    bound-checked — the oracle rendering of the approx scale path
    (the pure-HLL default stays the 100 TB setting). The exact counts
    deliberately run as ONE two-phase aggregate PER COLUMN rather
    than fused into the main pass: fusing k count(DISTINCT)s EXPANDs
    the scan k-fold and pushes the wide aggregate out of whole-stage
    codegen (measured 9x slower at sf0.1), while per-column passes
    each prune the columnar scan to a single column and dedup
    map-side."""
    fields = [f for f in df.schema.fields
              if columns is None or f.name in set(columns)]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in fields:
        c, n = F.col(f.name), f.name
        aggs.append(F.count(c).alias(f"nn_{n}"))
        if check_hll:
            aggs.append(F.approx_count_distinct(c, rsd).alias(f"hd_{n}"))
        elif approx_distinct:
            aggs.append(F.approx_count_distinct(c, rsd).alias(f"nd_{n}"))
        else:
            aggs.append(F.count_distinct(c).alias(f"nd_{n}"))
        if is_numeric_field(f):
            aggs += [
                F.round(F.min(c).cast("double"), 6).alias(f"mn_{n}"),
                F.round(F.max(c).cast("double"), 6).alias(f"mx_{n}"),
                F.round(F.avg(c), 6).alias(f"av_{n}"),
                F.round(F.stddev_samp(c), 6).alias(f"sd_{n}"),
            ]
        elif isinstance(f.dataType, T.StringType):
            aggs += [F.min(c).alias(f"ms_{n}"), F.max(c).alias(f"xs_{n}")]
    row = df.agg(*aggs).collect()[0]
    exact_nd = {}
    if check_hll and fields:
        from concurrent.futures import ThreadPoolExecutor

        def _nd(f):
            return f.name, int(
                df.agg(F.count_distinct(F.col(f.name))).collect()[0][0])

        with ThreadPoolExecutor(max_workers=min(8, len(fields))) as pool:
            exact_nd = dict(pool.map(_nd, fields))

    n_rows = int(row["__n"])
    out = []
    for f in fields:
        n = f.name
        nn = int(row[f"nn_{n}"])
        nd = exact_nd[n] if check_hll else int(row[f"nd_{n}"])
        rec = (
            n, n_rows, n_rows - nn,
            round((n_rows - nn) / n_rows, 6) if n_rows else 0.0,
            nd,
            row.asDict().get(f"mn_{n}"), row.asDict().get(f"mx_{n}"),
            row.asDict().get(f"av_{n}"), row.asDict().get(f"sd_{n}"),
            row.asDict().get(f"ms_{n}"), row.asDict().get(f"xs_{n}"),
        )
        if check_hll:
            hll = int(row[f"hd_{n}"])
            rec = rec + (abs(hll - nd) <= max(3.0 * rsd * nd, 2.0),)
        out.append(rec)
    schema = PROFILE_SCHEMA + (", hll_ok boolean" if check_hll else "")
    return local_frame(df.sparkSession, out, schema)


def corpus_manifest(df, group_cols=("source",), text_col: str = "text",
                    id_col: str = "doc_id"):
    """Release manifest for a corpus: per-group document counts, token
    mass, id range, and an ORDER-INSENSITIVE content checksum (bit_xor
    of a 60-bit md5 fold over id + text) — the artifact a reproducible
    data release ships so any consumer can verify a shard set without
    re-reading it in a fixed order.

    One hash aggregate over the corpus; the checksum is engine-portable
    (md5 fold, the repo-wide scheme) and partitioning/retry-invariant
    because xor commutes. At 100 TB this is scan + one small exchange.
    """
    from pyspark.sql import functions as F

    from dask_ml_spark.datapipe.dedup import tokens_expr

    # F.concat, NOT concat_ws: a null id/text must propagate to a null
    # hash (skipped by bit_xor, like the SQL rendering) — concat_ws
    # would silently drop the null field, making (1, NULL) and
    # (NULL, '1') fold to the same string and cancel in the xor
    h = F.conv(F.substring(F.md5(F.concat(
        F.col(id_col).cast("string"), F.lit("\x1f"), F.col(text_col))), 1, 15),
        16, 10).cast("long")
    return (df.withColumn("__h", h)
            .groupBy(*group_cols)
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.size(tokens_expr(F.col(text_col))))
                 .cast("long").alias("n_tokens"),
                 F.min(id_col).alias("min_id"),
                 F.max(id_col).alias("max_id"),
                 F.expr("bit_xor(__h)").alias("content_checksum")))


def corpus_diff(old, new, group_cols=("source",), text_col: str = "text",
                id_col: str = "doc_id"):
    """Release-to-release corpus diff: per-group counts of documents
    added, removed, and retained between two corpus versions, compared
    by CONTENT hash (so a re-ingest that renumbers ids but keeps bytes
    shows zero churn).

    Each side is first reduced to (group, hash, copy-count), so
    duplicated content cannot fan the join out; churn is counted in
    COPY units: added = extra copies in new, removed = copies gone
    from old, retained = min of the two. A doc moving between groups
    counts as removed from the old group and added to the new one.

    Shape at 100 TB: one md5 projection + one aggregate per side, one
    equi full-outer join on the uniform (group, hash) key — no N², no
    skew, #groups output rows. The companion to ``corpus_manifest``
    for verifying what a new drop actually changed.
    """
    from pyspark.sql import functions as F

    gcols = list(group_cols)

    def keyed(df, side):
        return (df.select(*gcols, F.md5(F.col(text_col)).alias("__h"))
                .groupBy(*gcols, "__h")
                .agg(F.count("*").alias(f"n_{side}")))

    j = keyed(old, "old").join(keyed(new, "new"), gcols + ["__h"],
                               "full_outer")
    no = F.coalesce(F.col("n_old"), F.lit(0))
    nn = F.coalesce(F.col("n_new"), F.lit(0))
    return (j.groupBy(*gcols)
            .agg(F.sum(F.greatest(nn - no, F.lit(0))).alias("added"),
                 F.sum(F.greatest(no - nn, F.lit(0))).alias("removed"),
                 F.sum(F.least(no, nn)).alias("retained")))


def _bin_expr(col: str, bins: int, lo: float, hi: float):
    """(not-null-and-not-NaN predicate, clamped bin id) — THE binning
    rule, shared by histogram and distribution_drift so the two can
    never desynchronize (the drift contract depends on bit-identical
    bucketing)."""
    x = F.col(col).cast("double")
    width = (hi - lo) / bins
    b = F.floor((x - F.lit(float(lo))) / F.lit(float(width))).cast("long")
    b = F.least(F.greatest(b, F.lit(0)), F.lit(int(bins - 1)))
    return x.isNotNull() & ~F.isnan(x), b


def histogram(df: DataFrame, col: str, bins: int, lo: float,
              hi: float) -> DataFrame:
    """Fixed-bound histogram: bin = floor((x - lo) / width) clamped to
    [0, bins-1]; NULL/NaN excluded. Explicit (lo, hi) rather than a
    data-derived range keeps two tables' histograms COMPARABLE (the
    drift contract) and the bucketing engine-portable. One narrow
    projection + one groupBy(bin) over at most ``bins`` groups."""
    keep, b = _bin_expr(col, bins, lo, hi)
    return (df.where(keep)
            .select(b.alias("bin")).groupBy("bin")
            .agg(F.count("*").alias("cnt")))


def distribution_drift(df_a: DataFrame, df_b: DataFrame, col: str,
                       bins: int = 16, lo: float = 0.0,
                       hi: float = 1.0) -> dict:
    """Distribution drift between two corpus releases / sources over a
    numeric column — the standard data-quality gate before a new shard
    joins training. Both sides histogram into the SAME fixed bins in
    ONE union-tagged aggregate (a single Spark query, <= 2*bins rows
    to the driver), then:

    - psi  : population stability index, sum (pa-pb) * ln(pa/pb) with
             the usual +0.5 Laplace smoothing (industry rule of thumb:
             > 0.2 = significant shift)
    - kl   : KL(a || b), same smoothing
    - tvd  : total variation distance 0.5 * sum |pa - pb| (exact, no
             smoothing needed)

    Returns {"psi", "kl", "tvd", "n_a", "n_b"}; deterministic given
    (bins, lo, hi), so SQL-replayable.
    """
    import math

    # ONE union-tagged aggregate instead of two separate jobs: both
    # sides share the bucketing expression, so a literal side tag +
    # groupBy(side, bin) histograms them in a single Spark job
    tagged = (df_a.select(F.col(col), F.lit("a").alias("__side"))
              .unionByName(df_b.select(F.col(col), F.lit("b").alias("__side"))))
    keep, b = _bin_expr(col, bins, lo, hi)
    counts = (tagged.where(keep)
              .select("__side", b.alias("bin"))
              .groupBy("__side", "bin").agg(F.count("*").alias("cnt"))
              .collect())
    ca = {r["bin"]: r["cnt"] for r in counts if r["__side"] == "a"}
    cb = {r["bin"]: r["cnt"] for r in counts if r["__side"] == "b"}
    n_a, n_b = sum(ca.values()), sum(cb.values())
    if n_a == 0 or n_b == 0:
        raise ValueError(
            f"distribution_drift needs non-null rows on both sides "
            f"(got n_a={n_a}, n_b={n_b})")
    psi = kl = tvd = 0.0
    for i in range(bins):
        pa = (ca.get(i, 0) + 0.5) / (n_a + 0.5 * bins)
        pb = (cb.get(i, 0) + 0.5) / (n_b + 0.5 * bins)
        psi += (pa - pb) * math.log(pa / pb)
        kl += pa * math.log(pa / pb)
        tvd += abs(ca.get(i, 0) / n_a - cb.get(i, 0) / n_b)
    return {"psi": psi, "kl": kl, "tvd": 0.5 * tvd,
            "n_a": n_a, "n_b": n_b}


def embedding_drift(df: DataFrame, vec_col: str, group_col: str,
                    groups, alpha: float = 0.05) -> DataFrame:
    """Embedding-SPACE drift between two corpus slices (old vs new
    scrape, two encoder versions, two sources): per-DIMENSION Welch
    t-tests with BH FDR across the d dimensions — the multivariate
    sibling of the scalar drift monitors, answering "did the embedding
    distribution move, and along WHICH axes?" before an index rebuild
    or a SemDeDup threshold re-fit.

    Shape: posexplode fans each vector into (dim, value) rows — n·d
    narrow rows whose groupBy(dim) aggregate map-side-combines each
    partition down to d rows — then the existing welch_ttest_by sweep
    (ONE conditional-sum aggregate) and benjamini_hochberg (bounded
    driver q-map, broadcast join-back) do the statistics. No pairwise
    anything, no covariance matrix (a full Hotelling T² wants d×d
    state; per-dim + FDR is the honest 100 TB screen, and the q-ranked
    dims point at WHAT moved). Returns one row per dimension:
    (dim, n1, n2, mean_diff, t_stat, dof, p_value, valid, q_value,
    reject), ordered by dim.
    """
    from dask_ml_spark.functions.stats import (benjamini_hochberg,
                                               welch_ttest_by)

    exploded = df.select(
        F.col(group_col).alias("__grp"),
        F.posexplode(F.col(vec_col)).alias("dim", "__val"))
    sweep = welch_ttest_by(exploded, "__val", "__grp", groups=groups,
                           by="dim")
    return benjamini_hochberg(sweep, alpha=alpha).orderBy("dim")


def concentration_profile(df: DataFrame, group_col: str,
                          weight_col: str | None = None,
                          max_groups: int = 65536) -> DataFrame:
    """Concentration of a corpus across groups (sources, languages,
    domains) — the audit number behind "is this dataset dominated by
    a handful of feeds?": Gini coefficient, Herfindahl–Hirschman
    index, Shannon entropy (nats) + its normalized form, and the
    top-1 share, all from ONE groupBy(group) aggregate (row counts,
    or a weight column such as characters/tokens) and exact driver
    arithmetic over ≤max_groups integer totals.

    Gini uses the discrete form over ascending group totals
    G = 2·Σᵢ i·xᵢ / (k·Σx) − (k+1)/k (i 1-based; ties broken by
    group label ascending — deterministic, and irrelevant to the
    value since tied totals commute); 0 = perfectly even,
    → 1 − 1/k = maximal for one dominant group. HHI = Σ shareᵢ²
    (1/k … 1). Entropy −Σ share·ln(share); normalized by ln(k) (1 =
    even; 0 when k = 1 reports NULL normalized). The weighted form
    (weight_col) accumulates on the exact integer grid when the
    weights are integral (char/token counts are), so every statistic
    is a deterministic function of exact sums — the SQL oracle
    replays the ascending-total Σ i·xᵢ (and hence gini) on the exact
    integers via a window cumsum. The hhi/entropy float sums run in
    ascending-total order here and in engine-internal order in the
    oracle — reassociating ≤max_groups O(1/G)-scale terms moves the
    result by ulp·G ≪ the 1e-6 output grid (the anova
    per-group-sums precedent). Returns one row: (k, total, gini,
    hhi, entropy, entropy_normalized, top1_share).
    """
    g = F.col(group_col)
    kept = df.where(g.isNotNull())
    if weight_col is None:
        agg = F.count(F.lit(1)).alias("__w")
    else:
        # filter on the RAW value, then floor-to-long: a long cast
        # truncates toward zero, so a negative-fractional or NaN
        # weight would pass a post-cast w >= 0 filter here while the
        # oracle's raw-column filter drops it (review-caught); floor
        # matches the oracle's CAST(floor(w) AS BIGINT) exactly for
        # the kept (>= 0) range
        wraw = F.col(weight_col).cast("double")
        kept = kept.where(wraw.isNotNull() & ~F.isnan(wraw)
                          & (wraw >= 0))
        agg = F.sum(F.floor(wraw).cast("long")).alias("__w")
    rows = collect_capped(
        kept.groupBy(g.cast("string").alias("__g")).agg(agg), max_groups,
        f"concentration_profile: more than max_groups="
        f"{max_groups} groups — bucket the column first")
    if not rows:
        raise ValueError("concentration_profile: no non-null groups")
    # ascending totals, ties by label: deterministic and value-neutral
    rows.sort(key=lambda r: (int(r["__w"]), r["__g"]))
    totals = [int(r["__w"]) for r in rows]
    k = len(totals)
    tot = sum(totals)
    if tot <= 0:
        raise ValueError("concentration_profile: zero total weight")
    ixi = sum((i + 1) * x for i, x in enumerate(totals))  # exact
    gini = 2.0 * float(ixi) / (k * float(tot)) - (k + 1.0) / k
    hhi = 0.0
    ent = 0.0
    for x in totals:  # ascending order: deterministic float sums
        s = x / float(tot)
        hhi += s * s
        if x > 0:
            ent += -s * math.log(s)
    top1 = totals[-1] / float(tot)
    ent_norm = (ent / math.log(k)) if k > 1 else None
    return local_frame(
        df.sparkSession,
        [(int(k), int(tot), float(gini), float(hhi), float(ent),
          None if ent_norm is None else float(ent_norm), float(top1))],
        "k long, total long, gini double, hhi double, entropy double, "
        "entropy_normalized double, top1_share double")
