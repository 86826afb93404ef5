"""Deterministic sampling / selection operators for curation pipelines.

Beyond-reference (the reference has no sampling surface beyond
train_test_split, model_selection/_split.py:361-520): large-scale
training-data pipelines re-balance corpora by stratum (language, source,
quality band) and keep only the best documents per group. Both ops here
are pure column expressions — no UDF, no shuffle for the sample, one
window shuffle for the top-k — and both are *content-deterministic*:
re-running on a repartitioned / recovered cluster selects the SAME rows,
which is what makes 100 TB pipeline retries idempotent.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_ml_spark.plans.model_selection import _hash_bucket_expr
from dask_ml_spark.utils import local_frame


def stratified_sample(df: DataFrame, strata_col: str, fractions,
                      key_cols, n_buckets: int = 10_000,
                      salt: int = 0) -> DataFrame:
    """Keep a per-stratum fraction of rows, chosen by content hash.

    ``fractions``: scalar fraction for every stratum, or dict
    {stratum_value: fraction} — strata absent from the dict are dropped
    (the corpus-rebalancing contract: unlisted languages are excluded).
    Selection = Knuth-hash(key) bucket < fraction·n_buckets, the same
    engine-portable arithmetic as hash_split, so the oracle can verify
    the sample's CONTENT, and ``df.sampleBy``'s partition-order
    sensitivity is avoided entirely. Rows with equal keys are kept or
    dropped together (group-leakage-safe).
    """
    bucket = _hash_bucket_expr(key_cols, n_buckets, salt, df=df)
    if isinstance(fractions, dict):
        cut = None
        for value, frac in fractions.items():
            lit = F.lit(int(round(frac * n_buckets)))
            cond = F.col(strata_col) == F.lit(value)
            cut = F.when(cond, lit) if cut is None else cut.when(cond, lit)
        cut = cut.otherwise(F.lit(0))
    else:
        cut = F.lit(int(round(float(fractions) * n_buckets)))
    return df.where(bucket < cut)


def _mixture_rates(totals: dict, weights: dict, token_budget: int,
                   n_buckets: int) -> dict:
    """Shared rate derivation for the mixture family: per-source rate
    = min(1, share·budget / token-mass), floor-quantized to the bucket
    grid (floor, unlike round-half, has no cross-engine tie hazard, so
    the selection stays oracle-reproducible). Sources absent from
    ``weights`` are dropped."""
    import math

    wsum = float(sum(weights.values()))
    rates = {}
    for s, tot in totals.items():
        w = weights.get(s)
        if w is None:
            continue
        target = w / wsum * token_budget
        rate = min(1.0, target / max(int(tot or 0), 1))
        rates[s] = math.floor(rate * n_buckets) / n_buckets
    return rates


def _count_and_totals(docs: DataFrame, source_col: str, text_col: str,
                      token_count_col: str):
    from dask_ml_spark.datapipe.dedup import tokens_expr

    counted = docs.withColumn(token_count_col,
                              F.size(tokens_expr(F.col(text_col))))
    totals = {
        r[source_col]: int(r["tot"] or 0)
        for r in counted.groupBy(source_col)
        .agg(F.sum(token_count_col).alias("tot")).collect()
    }
    return counted, totals


def mixture_by_token_budget(docs: DataFrame, weights: dict, token_budget: int,
                            source_col: str = "source", text_col: str = "text",
                            key_cols="doc_id", n_buckets: int = 10_000,
                            salt: int = 0, token_count_col: str = "n_tokens") -> DataFrame:
    """Plan and apply a training-data mixture: targets are TOKEN shares.

    Given relative ``weights`` per source and a total ``token_budget``,
    derive each source's sampling rate from its ACTUAL token mass (one
    aggregate pass; only #sources rows reach the driver) and select
    documents content-deterministically via ``stratified_sample``:

        rate_s = min(1, (w_s / Σw · budget) / tokens_s)

    Over-represented sources are downsampled to their share;
    under-represented ones cap at keeping everything (upsampling /
    epoch repetition is a separate scheduling concern). Sources absent
    from ``weights`` are dropped — the explicit-mixture contract.
    Returns the sampled docs with a ``token_count_col`` column.
    """
    counted, totals = _count_and_totals(docs, source_col, text_col,
                                        token_count_col)
    rates = _mixture_rates(totals, weights, token_budget, n_buckets)
    return stratified_sample(counted, source_col, rates, key_cols=key_cols,
                             n_buckets=n_buckets, salt=salt)


def topk_per_group(df: DataFrame, group_cols, order_cols, k: int,
                   rank_col: str = "rank") -> DataFrame:
    """Deterministic top-k rows per group (quality selection: "best k
    documents per language/source"). ``order_cols``: list of (col,
    ascending) pairs or plain names (descending by default, the quality
    convention); callers should end with a unique tie-break column so
    the selection is engine-stable. One hash-partitioned window — at
    scale this shuffles each group once, and skew lives only in groups
    with >> k rows (pre-filtering with an approximate per-group
    threshold is the escalation path)."""
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    ordering = []
    for oc in order_cols:
        if isinstance(oc, tuple):
            name, asc = oc
            ordering.append(F.asc(name) if asc else F.desc(name))
        else:
            ordering.append(F.desc(oc))
    w = Window.partitionBy(*group_cols).orderBy(*ordering)
    return (df.withColumn(rank_col, F.row_number().over(w))
            .where(F.col(rank_col) <= k))


def token_quota(docs: DataFrame, quota: int, source_col: str = "source",
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-source token budget, batch rendering: keep each source's
    documents in id order until the cumulative token count would
    exceed `quota` (the streaming rendering is
    streaming/stateful.py::token_quota_stream — one long of state per
    source; the two renderings agree by the prefix rule).

    Scale shape: the per-source running sum is a GROUPED distributed
    prefix sum (packing.py::prefix_sum with group_col) — range-
    partitioned on (source, id), local cumsum, per-(partition, source)
    subtotal longs through the driver. A
    ``Window.partitionBy(source)`` would hash every row of a hot
    source into ONE task, serializing the whole pass on a skewed
    corpus (one source holding 90% of 100 TB is the common case);
    range partitioning splits that source across as many contiguous
    slices as its row share demands. Output adds n_tokens and
    tokens_before (cumulative count before this doc).
    """
    from dask_ml_spark.datapipe.packing import prefix_sum
    from dask_ml_spark.datapipe.text_stats import token_count

    tagged = docs.withColumn(
        "n_tokens", token_count(F.col(text_col)).cast("long"))
    summed = prefix_sum(tagged, id_col, "n_tokens",
                        out_col="__before", group_col=source_col)
    return (summed
            .where(F.col("__before") + F.col("n_tokens") <= quota)
            .withColumn("tokens_before", F.col("__before").cast("long"))
            .drop("__before"))


def temperature_mixture(docs: DataFrame, token_budget: int,
                        alpha: float = 0.5, source_col: str = "source",
                        text_col: str = "text", key_cols="doc_id",
                        n_buckets: int = 10_000, salt: int = 0,
                        token_count_col: str = "n_tokens") -> DataFrame:
    """Temperature-weighted domain mixture: target token shares are
    proportional to (source token mass)^alpha — the standard
    multilingual/multi-domain re-balancing rule (alpha=1 keeps natural
    proportions, alpha→0 approaches uniform across sources, the usual
    range is 0.3–0.7). Unlike ``mixture_by_token_budget`` (explicit
    per-source weights) the weights here DERIVE from the data in the
    same single aggregate pass:

        w_s = tot_s^alpha / Σ_t tot_t^alpha
        rate_s = min(1, w_s · budget / tot_s)

    Selection stays content-deterministic (Knuth-hash buckets, rates
    floor-quantized to the bucket grid) so the sampled CONTENT is
    engine-reproducible and oracle-checkable. Only #sources rows reach
    the driver. Shares the counting/rate scaffolding with
    ``mixture_by_token_budget`` — the only difference IS the weight
    rule."""
    counted, totals = _count_and_totals(docs, source_col, text_col,
                                        token_count_col)
    a = float(alpha)
    weights = {s: float(t) ** a for s, t in totals.items()}
    rates = _mixture_rates(totals, weights, token_budget, n_buckets)
    return stratified_sample(counted, source_col, rates, key_cols=key_cols,
                             n_buckets=n_buckets, salt=salt)


def plan_epochs(docs: DataFrame, token_budget: int, alpha: float = 0.5,
                max_epochs: float = 4.0, source_col: str = "source",
                text_col: str = "text") -> DataFrame:
    """Epoch/repetition plan for data-constrained mixing: when a
    source's temperature-weighted target share EXCEEDS its token mass,
    sampling caps at keep-everything — real pipelines instead REPEAT
    the rare source for multiple epochs (diminishing returns bound the
    useful count; the data-constrained-scaling literature suggests ~4
    epochs as the knee). This planner emits, per source:

        target_s  = tot_s^alpha / Σ tot^alpha · budget
        epochs_s  = min(max_epochs, target_s / tot_s)   (≥1 ⇒ repeat)
        rate_s    = min(1, target_s / tot_s)            (<1 ⇒ downsample)

    One aggregate pass; #sources rows total — a pure PLAN table the
    scheduler consumes (the row-level selection for rate_s < 1 is
    ``temperature_mixture``; repetition itself is an epoch-scheduling
    concern, not a row transform). Deterministic → SQL-oracle-able.
    """
    from dask_ml_spark.datapipe.dedup import tokens_expr

    tot = (docs
           .withColumn("__n", F.size(tokens_expr(F.col(text_col))))
           .groupBy(source_col)
           .agg(F.sum("__n").cast("long").alias("tot_tokens")))
    p = F.pow(F.col("tot_tokens").cast("double"), F.lit(float(alpha)))
    psum = tot.agg(F.sum(p).alias("ps"))
    target = (p / F.col("ps") * F.lit(float(token_budget)))
    safe_tot = F.greatest(F.col("tot_tokens"), F.lit(1)).cast("double")
    return (tot.crossJoin(F.broadcast(psum))
            .select(
                source_col, "tot_tokens",
                F.round(target, 6).alias("target_tokens"),
                F.round(F.least(F.lit(float(max_epochs)), target / safe_tot),
                        6).alias("epochs"),
                F.round(F.least(F.lit(1.0), target / safe_tot), 6)
                .alias("rate")))


def shuffle_shards(df: DataFrame, n_shards: int, key_cols="doc_id",
                   seed: int = 0, shard_col: str = "shard",
                   order_col: str = "shuffle_key") -> DataFrame:
    """Content-deterministic global shuffle for training-data ordering.

    Every row gets a pseudo-random 128-bit key — the md5 of
    (seed, row key) — and from it a shard id (first 60 bits mod
    ``n_shards``). Writing with ``partitionBy(shard_col)`` +
    ``sortWithinPartitions(order_col)`` then yields a reproducible
    global shuffle of the corpus: shard membership and within-shard
    order depend only on CONTENT and seed, so re-running after a
    retry, a repartition, or on a different cluster emits byte-identical
    shards — unlike ``orderBy(rand())``, which is neither stable nor
    retry-safe. A new ``seed`` gives an independent epoch permutation.

    Pure narrow projection: no shuffle happens HERE; the one shuffle is
    the partitioned write the caller chooses, on uniformly distributed
    md5 bits (no skew by construction).

    A NULL in any key column yields NULL shard/order keys (F.concat
    propagates nulls — deliberately NOT concat_ws, which would silently
    collapse every null-key row onto ONE identical key and shard).
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    parts = [F.lit(str(seed))]
    for c in key_cols:
        parts += [F.lit("\x1f"), F.col(c).cast("string")]
    hk = F.md5(F.concat(*parts))
    shard = F.pmod(F.conv(F.substring(hk, 1, 15), 16, 10).cast("long"),
                   F.lit(n_shards))
    return df.withColumn(order_col, hk).withColumn(shard_col, shard)


def _aes_key(df: DataFrame, weight_col: str, key_cols, n_buckets: int,
             salt: int):
    """Efraimidis–Spirakis exponential key, engine-portable: the
    uniform draw u comes from the Knuth content-hash bucket (mid-bucket
    offset keeps u in (0, 1)), and the key is E/w with E = -ln(u) an
    Exp(1) draw. Rounded to 9 digits so a last-ulp libm difference
    between engines cannot flip an ordering; ties break on the row key
    downstream. Weight <= 0, NULL, or NaN -> NULL key (caller filters;
    the NaN guard matters because Spark orders NaN above every number,
    so `w > 0` alone would let a NaN weight through and its NaN key
    would then sort FIRST under a descending rank)."""
    bucket = _hash_bucket_expr(key_cols, n_buckets, salt, df=df)
    u = (bucket.cast("double") + F.lit(0.5)) / F.lit(float(n_buckets))
    w = F.col(weight_col).cast("double")
    return F.when((w > 0) & ~F.isnan(w), F.round(-F.log(u) / w, 9))


def weighted_sample(df: DataFrame, n: int, weight_col: str, key_cols,
                    n_buckets: int = 1 << 20, salt: int = 0) -> DataFrame:
    """Weighted sampling WITHOUT replacement, content-deterministic:
    the Efraimidis–Spirakis A-ES scheme (each row draws an Exp(1)
    variate E from its content hash and ranks by E/weight; the n
    smallest keys are exactly a weighted sample without replacement).
    The standard corpus move this enables: sample documents
    proportionally to quality/length without materializing per-stratum
    rates, and reproducibly — retries and repartitions select the SAME
    rows, and the oracle can verify the selected CONTENT.

    Shape at 100 TB: the key is a narrow projection; the selection is
    ``orderBy(key).limit(n)`` which Catalyst executes as
    TakeOrderedAndProject — per-partition top-n then a driver merge of
    n-row partials, never a global sort shuffle. Rows with weight <= 0
    or NULL are never sampled (sampling-theory contract).
    """
    kc = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    key = _aes_key(df, weight_col, kc, n_buckets, salt)
    return (df.withColumn("__aes", key).where(F.col("__aes").isNotNull())
            .orderBy(F.asc("__aes"), *[F.asc(c) for c in kc])
            .limit(n).drop("__aes"))


def weighted_sample_per_group(df: DataFrame, group_col: str, n: int,
                              weight_col: str, key_cols,
                              n_buckets: int = 1 << 20,
                              salt: int = 0) -> DataFrame:
    """Per-group A-ES weighted sampling without replacement (n rows per
    group — e.g. a per-language quality-weighted subsample). Uses the
    two-stage skew-safe top-k, so a group holding 90% of the corpus
    never funnels through one window task.
    """
    from dask_ml_spark.datapipe.similarity import _skew_safe_topk

    kc = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    key = _aes_key(df, weight_col, kc, n_buckets, salt)
    scored = (df.withColumn("__wscore", -key)
              .where(F.col("__wscore").isNotNull()))
    # collision-safe internal names: a corpus df routinely already HAS
    # 'score'/'rank' columns and must get them back untouched. Ranks
    # DESC with ascending=False; the negated key makes "largest score"
    # = "smallest E/w", and the id-column tie-break mirrors
    # weighted_sample's key tie-break
    out = _skew_safe_topk(scored, group_col, kc[0], n, ascending=False,
                          score_col="__wscore", rank_col="__wrank")
    return out.drop("__wscore", "__wrank")


def kcenter_sample(df: DataFrame, k: int, vec_col: str = "embedding",
                   id_col: str = "doc_id") -> DataFrame:
    """Greedy k-center (farthest-point / Gonzalez) diversity sample
    over an embedding column: pick the min-id row first, then k−1
    times the row FARTHEST (squared euclidean) from every center
    chosen so far — the classic coverage-maximizing curation sample
    (each selection's distance is the corpus's covering radius at that
    size, so the output doubles as a coverage curve).

    Output: (round, id, dist) — round 1..k in selection order, dist =
    the row's min squared distance to the previous centers at
    selection time (rounded to 6; 0.0 for the seed), ties broken on
    smallest id so the whole selection is content-deterministic and a
    SQL oracle can replay it round by round.

    Distributed shape: k−1 rounds; each round is ONE narrow scan with
    the ≤k chosen centers folded in as literal arrays (min-distance =
    least over per-center zip_with folds) topped by a
    TakeOrderedAndProject(1) — no shuffle, no all-pairs, nothing
    quadratic, and nothing driver-side except the k center vectors.
    k is small by contract (a diversity sample is 10s-100s of rows;
    the per-round expression carries k literal vectors). At 100 TB
    this is k passes over a cached/columnar scan — the standard
    trade for an exact greedy 2-approximation of the k-center
    optimum; use kmeans for thousands of representatives instead."""
    if k < 1:
        raise ValueError("k must be >= 1")
    seed = (df.select(id_col, vec_col)
            .orderBy(id_col).limit(1).collect()[0])
    centers = [(seed[0], [float(v) for v in seed[1]])]
    out = [(1, seed[0], 0.0)]

    def sqdist(vec):
        # single-parse literal vector: per-element F.lit cost
        # ~Σr·dim py4j round trips across the k rounds (~1 s at
        # k=6, dim=64)
        from dask_ml_spark.utils import lit_array

        lit = lit_array(vec)
        return F.aggregate(
            F.zip_with(F.col(vec_col), lit, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda a, x: a + x)

    for r in range(2, k + 1):
        mind = F.least(*[sqdist(v) for _, v in centers]) if len(centers) > 1 \
            else sqdist(centers[0][1])
        row = (df.select(F.col(id_col), F.col(vec_col),
                         mind.alias("__d"))
               .orderBy(F.desc("__d"), F.asc(id_col)).limit(1).collect()[0])
        centers.append((row[0], [float(v) for v in row[1]]))
        # floor(x*1e6+0.5): explicit half-up, matching the SQL oracle
        # exactly on dyadic .5 boundaries where Python's banker's
        # round() and DuckDB's round() disagree (review-caught)
        out.append((r, row[0],
                    math.floor(float(row[2]) * 1e6 + 0.5) / 1e6))
    spark = df.sparkSession
    return local_frame(
        spark, out,
        f"round int, {id_col} {df.schema[id_col].dataType.simpleString()},"
        " dist double")
