"""Mergeable frequency sketches — EXACT heavy hitters at corpus scale.

The 100 TB question "what are the k most frequent tokens / domains /
licenses in this corpus?" naively shuffles every distinct value's
partial counts (billions of keys for a token vocabulary). The
Misra-Gries summary (Misra & Gries 1982; mergeability per Agarwal et
al. 2012, "Mergeable Summaries") bounds phase one to ``capacity``
counters per partition — and, like the Bloom-prefiltered decontamination
(`datapipe/decontam.py`), the sketch here is a PREFILTER that provably
preserves the exact answer: a second pass recounts only the sketch's
candidate keys, and the Misra-Gries guarantee (any value absent from
every partition summary has total count <= N/(capacity+1)) certifies
the top-k exact whenever the k-th recounted frequency clears that
bound. If the data is too flat for the certificate, the operator falls
back to the plain exact groupBy — the result is exact on EVERY path,
which is what lets the catalog query share the exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.utils import local_frame


def _mg_summaries(df: DataFrame, col: str, capacity: int) -> DataFrame:
    """One capacity-bounded Misra-Gries counter set per partition via
    mapInPandas, plus one sentinel row (value NULL, count = partition's
    non-null row count) so N arrives with the same pass. NULL data
    values are excluded from counting (the sentinel is unambiguous)."""
    import pandas as pd

    vtype = df.schema[col].dataType.simpleString()
    schema = f"value {vtype}, mg_count long"

    def gen(batches):
        counts: dict = {}
        n = 0
        for pdf in batches:
            s = pdf["value"].dropna()
            n += len(s)
            for v, c in s.value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > capacity:
                # batched MG reduction: subtract the (capacity+1)-th
                # largest residual from everyone, drop non-positives.
                # Each reduction retires >= (capacity+1)*t mass, so the
                # total subtracted from any one value is <= n/(capacity+1).
                t = sorted(counts.values(), reverse=True)[capacity]
                counts = {v: c - t for v, c in counts.items() if c > t}
        yield pd.DataFrame({
            "value": pd.Series(list(counts) + [None], dtype=object),
            "mg_count": pd.Series(list(counts.values()) + [n],
                                  dtype="int64"),
        })

    return df.select(F.col(col).alias("value")).mapInPandas(gen, schema)


def heavy_hitters(df: DataFrame, col: str, k: int = 20,
                  capacity: int = 4096,
                  require_sketch: bool = False) -> DataFrame:
    """EXACT top-k most frequent values of ``col`` (ties broken by
    value ascending), computed the scale way:

    1. One narrow pass builds a Misra-Gries summary per partition
       (``capacity`` counters, O(1) memory — never the full vocabulary).
    2. The union of summary keys (<= capacity x partitions, tiny next
       to the corpus) broadcast-semi-joins the corpus; only candidate
       keys are recounted exactly — the one shuffle carries candidate
       rows, not every distinct value's partials.
    3. Certificate: any non-candidate's total count <= N/(capacity+1),
       so if the k-th recounted frequency is strictly above that bound
       the top-k is provably exact. Otherwise (flat distribution,
       capacity too small) fall back to the plain exact groupBy.

    Every path returns the exact answer; the sketch only changes the
    plan. ``require_sketch=True`` raises instead of falling back (used
    by tests to pin that the certificate held). Intended for discrete
    (string / integer) columns; NULLs are never counted.

    Output: (value, freq) — the k most frequent, freq descending.
    """
    capacity = max(capacity, k)
    summ = _mg_summaries(df, col, capacity).localCheckpoint(eager=False)
    n_total = summ.where(F.col("value").isNull()) \
        .agg(F.sum("mg_count")).collect()[0][0] or 0
    cand = summ.where(F.col("value").isNotNull()).select("value").distinct()
    exact = _candidate_recount(df, col, cand, k)
    top = exact.collect()
    bound = n_total / (capacity + 1)
    if len(top) == k and top[-1]["freq"] > bound:
        spark = df.sparkSession
        return local_frame(spark, top, schema=exact.schema)
    if require_sketch:
        raise RuntimeError(
            f"heavy_hitters certificate failed: k-th frequency "
            f"{top[-1]['freq'] if top else 0} <= N/(capacity+1) = "
            f"{bound:.1f}; raise capacity")
    # flat distribution — the certificate cannot exclude a non-candidate,
    # so recount everything (still exact, just the plain plan)
    return _candidate_recount(df, col, None, k)


def _topk_by_freq(counted: DataFrame, k: int) -> DataFrame:
    return (counted.groupBy("value").agg(F.count("*").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("value")).limit(k))


def _candidate_recount(df: DataFrame, col: str, cand, k: int) -> DataFrame:
    """The exact top-k recount plan: corpus semi-joined (broadcast) to
    the candidate keys when a candidate set is given, else the plain
    full recount. Exposed for the plan-shape regression tests."""
    base = (df.select(F.col(col).alias("value"))
            .where(F.col("value").isNotNull()))
    if cand is not None:
        base = base.join(F.broadcast(cand), "value", "left_semi")
    return _topk_by_freq(base, k)
