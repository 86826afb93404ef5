"""Approximate-nearest-neighbor search over embedding columns.

Brute-force cosine top-k is the correctness baseline (and is itself a
sound distributed plan: broadcast the query set, narrow map computing
similarities, per-query top-k via window). The scale path is IVF:
k-means coarse centroids, vectors bucketed by nearest centroid, query
probes only the closest n_probe buckets — a partition-pruned join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_ml_spark.functions.vector import cosine_similarity, dot, norm2
from dask_ml_spark.utils import collect_capped, local_frame


def _dlit(v) -> str:
    """SQL double literal with exact value round-trip: repr of a Python
    float is its shortest re-reading decimal, and the D suffix makes
    the parser produce DoubleType (a bare `0.1` would be DECIMAL).
    Centroids/codebooks are finite by construction (means of finite
    data); refuse anything else rather than emit invalid SQL."""
    f = float(v)
    if f != f or f in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite literal {v!r} in index state")
    return f"{f!r}D"


def _darr(vals) -> str:
    """SQL array<double> literal."""
    return "array(" + ", ".join(_dlit(v) for v in vals) + ")"


def _qcol(name: str) -> str:
    """Backtick-quoted column reference for generated SQL."""
    return "`" + name.replace("`", "``") + "`"


def _sql_lit(v) -> str:
    """SQL literal for a query id — delegates to utils.sql_scalar_lit
    (typed exactly as F.lit would type it, and guarded against the
    legacy escapedStringLiterals parser conf for string ids)."""
    from dask_ml_spark.utils import sql_scalar_lit

    return sql_scalar_lit(v)


def _sqdist_fold_sql(vec_sql: str, vals, cast: bool) -> str:
    """Squared distance of `vec_sql` to the literal vector `vals` as
    ONE SQL fragment — the same zip_with/aggregate fold the Column API
    built (identical float op order, so results are bit-identical),
    but parsed in a single F.expr instead of ~dim py4j round trips
    per centroid. Plan construction of the literal-table ANN indexes
    was measured DRIVER-dominated (pq_ann_topk: 19 s build vs 1.2 s
    execute at sf0.1) — this is the guide §7.3 'very large plans'
    remedy applied at the source."""
    x = "CAST(x AS DOUBLE)" if cast else "x"
    return (f"aggregate(zip_with({vec_sql}, {_darr(vals)}, "
            f"(x, y) -> ({x} - y) * ({x} - y)), 0.0D, (a, x) -> a + x)")


class _IndexPersistence:
    """save/load for ANN index model state — the BaseEstimator
    contract (base.py:54) applied to the index classes: fitted state
    is driver-sized (centroids, codebooks, hyperplanes), never data,
    so a pickled index pairs with a `write_coded` table to reopen a
    production ANN index in a fresh SparkSession."""

    def save(self, path: str) -> str:
        import pickle

        with open(path, "wb") as f:
            pickle.dump(self, f)
        return path

    @classmethod
    def load(cls, path: str):
        import pickle

        with open(path, "rb") as f:
            obj = pickle.load(f)
        if cls is not _IndexPersistence and not isinstance(obj, cls):
            raise TypeError(
                f"{path} holds {type(obj).__name__}, not {cls.__name__}")
        return obj




def brute_force_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id",
                     query_id_col: str = "query_id", metric: str = "cosine") -> DataFrame:
    """Exact top-k neighbors for each query vector.

    queries: DataFrame[(query_id, embedding)] — dimension-table sized,
    broadcast; the big side streams. Output: (query_id, vec_id, score,
    rank), rank 1..k by descending similarity.
    """
    q = F.broadcast(queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    ))
    joined = df.select(id_col, vec_col).crossJoin(q)
    if metric == "cosine":
        score = cosine_similarity(F.col(vec_col), F.col("__qvec"))
    elif metric == "dot":
        score = dot(F.col(vec_col), F.col("__qvec"))
    else:
        raise ValueError(f"Unknown metric {metric!r}")
    scored = joined.select(
        query_id_col, id_col, score.alias("score")
    ).where(F.col(query_id_col) != F.col(id_col))
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


class CosineLSHIndex(_IndexPersistence):
    """Random-hyperplane LSH (SimHash-style) ANN index — the
    bucketed-join scale path alongside IVF.

    Each of ``n_bands`` bands hashes a vector to a ``bits_per_band``-bit
    bucket: bit j = sign(v · r_j) for a seeded Gaussian hyperplane r_j
    (Charikar 2002 — cosine collision probability 1 - θ/π per bit).
    Build emits (id, band, bucket) in one narrow map; search joins query
    buckets to the index on (band, bucket) — candidates shrink
    exponentially with bits_per_band — then re-ranks candidates with
    exact cosine.

    The n_bands·bits_per_band projections per row are ONE matrix
    product, so bucketing runs as an Arrow-batched pandas UDF
    (``X_batch @ H.T`` — BLAS over the whole batch). The
    higher-order-function alternative evaluates interpreted lambdas per
    array element (~dim × n_bits per row) and benched 10× slower at
    50k × 64-dim; exact cosine re-ranking of the (small) candidate set
    stays JVM-side.

    At 100 TB posture: the index table can be written bucketed by
    (band, bucket) so probes prune at scan time; the candidate join
    shuffles only colliding rows, never the full corpus; and unlike IVF
    there is no training pass over the data at all.
    """

    def __init__(self, n_bands: int = 8, bits_per_band: int | str = 10,
                 seed: int = 42, vec_col: str = "embedding",
                 id_col: str = "vec_id"):
        self.n_bands = n_bands
        self.bits_per_band = bits_per_band
        self.seed = seed
        self.vec_col = vec_col
        self.id_col = id_col

    def fit(self, df: DataFrame) -> "CosineLSHIndex":
        """Draw the seeded hyperplanes (dimension sniffed from one row —
        a LIMIT 1 job, not a scan).

        bits_per_band='auto' sizes the code to the corpus in one
        count() pass: expected rows per bucket = N·2^-bits, pinned to
        ~32, i.e. bits = log2(N/32). FIXED bits make per-probe
        candidate counts grow linearly with N (the embedding-near-dup
        sf1 bench measured the quadratic pair-count analog of the same
        mistake); log-scaled bits keep probe cost ~constant as the
        corpus grows."""
        if self.bits_per_band == "auto":
            import math

            n = df.count()
            # resolved into a fitted attribute so the constructor
            # param stays 'auto' — a refit on a bigger corpus re-derives
            # instead of silently reusing the first corpus's geometry,
            # and get_params/clone round-trip the contract
            self.bits_per_band_ = max(
                10, math.ceil(math.log2(max(n, 2) / 32.0)))
        else:
            self.bits_per_band_ = int(self.bits_per_band)
        dim = len(df.select(self.vec_col).first()[0])
        rng = np.random.RandomState(self.seed)
        self.hyperplanes_ = rng.standard_normal(
            (self.n_bands * self.bits_per_band_, dim))
        return self

    def _buckets_udf(self):
        """array<long> of one bucket id per band: all projections as a
        single (batch × dim) @ (dim × n_bits) matmul."""
        from pyspark.sql.functions import pandas_udf

        H = self.hyperplanes_.T  # (dim, n_bands*bits_per_band)
        n_bands = self.n_bands
        bits = getattr(self, "bits_per_band_", self.bits_per_band)
        weights = (1 << np.arange(bits)).astype(np.int64)

        @pandas_udf("array<long>")
        def buckets(vecs: pd.Series) -> pd.Series:
            X = np.asarray(vecs.tolist(), dtype=np.float64)
            bits_m = (X @ H) > 0.0  # (n, n_bands*bits)
            b = bits_m.reshape(len(X), n_bands, bits) @ weights  # (n, n_bands)
            return pd.Series(list(b))

        return buckets

    def index(self, df: DataFrame) -> DataFrame:
        """(id, vec, band, bucket) — one row per (vector, band)."""
        from dask_ml_spark.utils import ensure_min_partitions

        buckets = self._buckets_udf()
        return (ensure_min_partitions(df)
                .select(self.id_col, self.vec_col,
                        F.posexplode(buckets(F.col(self.vec_col)))
                        .alias("band", "bucket")))

    def search(self, df: DataFrame, queries: DataFrame, k: int = 10,
               query_id_col: str = "query_id") -> DataFrame:
        """Candidates = any-band bucket collision; exact cosine re-rank.
        Output schema matches brute_force_topk (query_id, id, score,
        rank) so recall is a direct set comparison."""
        idx = self.index(df)
        q = self.index(
            queries.select(F.col(query_id_col).alias(self.id_col), self.vec_col)
        ).select(F.col(self.id_col).alias(query_id_col),
                 F.col(self.vec_col).alias("__qvec"), "band", "bucket")
        cand = (idx.join(F.broadcast(q), ["band", "bucket"])
                .where(F.col(query_id_col) != F.col(self.id_col))
                .dropDuplicates([query_id_col, self.id_col]))
        score = cosine_similarity(F.col(self.vec_col), F.col("__qvec"))
        scored = cand.select(query_id_col, self.id_col, score.alias("score"))
        w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(self.id_col))
        return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_graph(df: DataFrame, k: int = 10,
              index: "CosineLSHIndex | None" = None, n_bands: int = 8,
              bits_per_band: int | str = "auto", seed: int = 42,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Approximate k-NN GRAPH: the whole corpus against itself — top-k
    cosine neighbors per vector via LSH bucket collisions. This is the
    corpus-scale sibling of ``CosineLSHIndex.search`` (which BROADCASTS
    its query set — correct for a bounded query table, wrong when the
    queries ARE the corpus). The k-NN graph feeds SemDeDup-style
    clustering, graph-based quality propagation, and diversity
    sampling.

    Shape at 100 TB: one narrow bucketing pass, an explicit
    (band, bucket) keyed repartition (exempt from AQE input-size
    coalescing — the coded rows are tiny but the collision join
    EXPLODES, the embedding-near-dup lesson), an equi self-join that
    shuffles only colliding rows, a (src, dst) dedup of multi-band
    collisions, then the two-stage skew-safe top-k (no full-corpus
    window partition per node). With 'auto' bits (= log2(N/32)),
    per-bucket occupancy — and so per-node candidate count — stays
    ~constant as N grows. Output: (src, dst, score, rank).
    """
    idx = index if index is not None else CosineLSHIndex(
        n_bands=n_bands, bits_per_band=bits_per_band, seed=seed,
        vec_col=vec_col, id_col=id_col)
    if not hasattr(idx, "hyperplanes_"):
        idx.fit(df)
    coded = idx.index(df)
    # scale-adaptive: one partition per core at any cluster size (the
    # old hard 32-partition floor only ever bound BELOW 32 cores, where
    # it over-split tiny bucket tables into 8x more tasks than cores)
    parts = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint after the keyed repartition: BOTH self-join sides
    # read the materialized buckets (the Arrow bucketing UDF would
    # otherwise run once per side — exchange reuse does not fire across
    # the aliased subplans); checkpoint preserves the hash partitioning
    # so the join still co-locates, and the ContextCleaner reclaims the
    # blocks when the returned DataFrame is dropped
    coded = coded.repartition(parts, F.col("band"),
                              F.col("bucket")).localCheckpoint(eager=False)
    l, r = coded.alias("l"), coded.alias("r")
    cand = (l.join(r, (F.col("l.band") == F.col("r.band"))
                   & (F.col("l.bucket") == F.col("r.bucket"))
                   & (F.col(f"l.{idx.id_col}") != F.col(f"r.{idx.id_col}")))
            .select(F.col(f"l.{idx.id_col}").alias("src"),
                    F.col(f"r.{idx.id_col}").alias("dst"),
                    cosine_similarity(F.col(f"l.{idx.vec_col}"),
                                      F.col(f"r.{idx.vec_col}"))
                    .alias("score"))
            # multi-band collisions re-compute an identical cosine;
            # dedup AFTER scoring so the exchange carries only
            # (src, dst, score), never two embedding vectors per row
            .dropDuplicates(["src", "dst"]))
    return _skew_safe_topk(cand, "src", "dst", k, ascending=False)


class IVFIndex(_IndexPersistence):
    """Inverted-file ANN index: coarse k-means quantizer + bucketed
    storage. Scale shape: build = one k-means fit + one narrow map
    adding `bucket`; the bucketed table can be written
    partitioned-by-bucket so a probe prunes partitions at scan time.
    """

    def __init__(self, n_lists: int | str = 16, n_probe: int = 2, seed: int = 42,
                 vec_col: str = "embedding", id_col: str = "vec_id"):
        self.n_lists = n_lists
        self.n_probe = n_probe
        self.seed = seed
        self.vec_col = vec_col
        self.id_col = id_col

    def fit(self, df: DataFrame, sample_rows: int = 100_000,
            coarse: str = "sample") -> "IVFIndex":
        """Train the coarse quantizer on a sample (driver numpy k-means —
        centroids are tiny; the data-scale work stays in Spark).
        coarse='distributed' trains on the FULL corpus via the
        distributed KMeans operator instead (see
        `_distributed_coarse_centroids`) — the production path when
        n_lists is large enough that a bounded sample starves lists.

        n_lists='auto' applies the standard IVF sizing n_lists ≈ √N
        (one count() pass): fixed lists make each probe scan N/n_lists
        rows — LINEARLY growing per-query cost — while √N lists keep
        probe cost at √N rows and the quantizer training sample
        per-list population roughly constant.

        rand-ordered limit = TakeOrdered (per-partition top-n + merge):
        an unbiased sample without a full shuffle; a bare limit() would
        draw only from the first partitions."""
        if self.n_lists == "auto":
            # fitted attribute, same contract note as CosineLSHIndex
            self.n_lists_ = max(16, int(df.count() ** 0.5))
        else:
            self.n_lists_ = int(self.n_lists)
        if coarse == "distributed":
            self.centroids_ = _distributed_coarse_centroids(
                df, self.vec_col, self.n_lists_, self.seed)
            return self
        if coarse != "sample":
            raise ValueError(f"coarse must be 'sample' or 'distributed', got {coarse!r}")
        sample = np.asarray(
            [r[0] for r in df.select(self.vec_col).orderBy(F.rand(self.seed)).limit(sample_rows).collect()],
            dtype="float64",
        )
        rng = np.random.RandomState(self.seed)
        k = min(self.n_lists_, len(sample))
        centroids = sample[rng.choice(len(sample), size=k, replace=False)]
        for _ in range(20):
            d = _sqdist_matrix(sample, centroids)
            assign = d.argmin(axis=1)
            new = np.stack([
                sample[assign == j].mean(axis=0) if (assign == j).any() else centroids[j]
                for j in range(k)
            ])
            if np.allclose(new, centroids):
                break
            centroids = new
        self.centroids_ = centroids
        return self

    def _nearest_expr(self, vec_name: str, n: int):
        """array of the n nearest centroid ids — one F.expr parse of a
        generated SQL string (same expression tree / float op order as
        the old per-centroid Column construction, which paid ~dim
        py4j calls per centroid; see _sqdist_fold_sql)."""
        vec = _qcol(vec_name)
        structs = ", ".join(
            f"named_struct('d', {_sqdist_fold_sql(vec, c, cast=False)}, "
            f"'c', {ci})"
            for ci, c in enumerate(self.centroids_))
        return F.expr(f"transform(slice(array_sort(array({structs})), "
                      f"1, {int(n)}), s -> s.c)")

    def assign(self, df: DataFrame, bucket_col: str = "bucket") -> DataFrame:
        return df.withColumn(
            bucket_col, F.element_at(self._nearest_expr(self.vec_col, 1), 1)
        )

    def search(self, df: DataFrame, queries: DataFrame, k: int = 10,
               query_id_col: str = "query_id",
               bucket_col: str = "bucket") -> DataFrame:
        """Probe the n_probe nearest lists per query: join restricted to
        matching buckets (shuffle/broadcast on bucket id), then exact
        cosine within the probed subset.

        If `df` already carries `bucket_col` (a coded table, e.g. read
        back from a `write_coded` partitioned layout), the assignment
        is reused and the union of probed lists — driver-known from
        the query vectors vs the fitted centroids — is applied as a
        `bucket IN (probed)` scan filter, which prunes partitions at
        read time instead of scanning the whole corpus. On that path
        the query-side probe list is built from the SAME driver-side
        numpy ranking that built the filter: numpy's pairwise
        summation and the JVM aggregate fold can differ in the last
        ulp on near-tied centroid distances, and a probe the filter
        pruned but the JVM expr still ranked would silently join
        nothing (review-caught).

        Driver-size contract (ADVICE r6): the precoded path collects
        the query table to the driver to build that shared ranking —
        queries are the SMALL side of an ANN probe by construction
        (the corpus is the big side), and the collect is capped at
        100k rows (~100 MB at d=128) with a clear error beyond it.
        For larger query batches, chunk the query table caller-side or
        drop `bucket_col` to take the inline path, which keeps queries
        distributed (and forgoes the scan prune)."""
        if bucket_col in df.columns:
            cap = 100_000
            qrows = collect_capped(
                queries.select(query_id_col, self.vec_col), cap,
                f"IVFIndex.search precoded path collects queries "
                f"driver-side; got > {cap} rows. Chunk the query "
                "table, or drop the bucket column to use the "
                "distributed inline path.")
            qvecs = np.asarray([list(r[1]) for r in qrows], dtype="float64")
            d = _sqdist_matrix(qvecs, np.asarray(self.centroids_,
                                                 dtype="float64"))
            order = np.argsort(d, axis=1, kind="stable")[:, :self.n_probe]
            probed = sorted({int(b) for b in order.ravel()})
            indexed = df.where(F.col(bucket_col).isin(probed)) \
                        .withColumnRenamed(bucket_col, "bucket")
            q = local_frame(
                df.sparkSession,
                [(r[0], [float(v) for v in r[1]], int(b))
                 for r, row in zip(qrows, order) for b in row],
                schema=f"{query_id_col} {queries.schema[query_id_col].dataType.simpleString()}, "
                       "__qvec array<double>, bucket int")
        else:
            indexed = self.assign(df)
            q = queries.select(
                F.col(query_id_col), F.col(self.vec_col).alias("__qvec"),
                F.explode(self._nearest_expr(
                    self.vec_col, self.n_probe)).alias("bucket"),
            )
        joined = indexed.join(F.broadcast(q), "bucket")
        score = cosine_similarity(F.col(self.vec_col), F.col("__qvec"))
        scored = joined.select(
            query_id_col, self.id_col, score.alias("score")
        ).where(F.col(query_id_col) != F.col(self.id_col))
        w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(self.id_col))
        return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        code_col: str = "code", min_col: str = "vmin",
                        step_col: str = "vstep",
                        keep_vec: bool = True) -> DataFrame:
    """Per-vector 8-bit scalar quantization — the storage/shuffle-width
    lever for embedding pipelines: a float32 corpus column shrinks 4×
    (tinyint codes + two doubles of per-row state), which at 100 TB is
    the difference between an ANN index that fits executor storage and
    one that doesn't. All JVM expressions (array_min/max + transform),
    a narrow map with no shuffle and no UDF.

        code[i] = round((double(v[i]) - vmin) / vstep) - 128   ∈ [-128, 127]
        vmin    = min(v),  vstep = (max(v) - vmin) / 255   (floored 1e-12)
        v[i]    ≈ (code[i] + 128) * vstep + vmin,  |err| ≤ vstep / 2

    Casts to double are explicit and ordered so the math is bit-exact
    reproducible across engines (the SQL oracle replays it).
    keep_vec=False drops the float column — the production setting;
    keep it only when a downstream exact re-rank needs the originals.
    """
    v = F.col(vec_col)
    mn = F.array_min(v).cast("double")
    mx = F.array_max(v).cast("double")
    step = F.greatest((mx - mn) / F.lit(255.0), F.lit(1e-12))
    out = (df.withColumn(min_col, mn)
           .withColumn(step_col, step)
           .withColumn(code_col, F.transform(
               v, lambda x: (F.round((x.cast("double") - F.col(min_col))
                                     / F.col(step_col)) - 128).cast("tinyint"))))
    return out if keep_vec else out.drop(vec_col)


def dequantize_embeddings(df: DataFrame, code_col: str = "code",
                          min_col: str = "vmin", step_col: str = "vstep",
                          vec_col: str = "embedding") -> DataFrame:
    """Inverse of `quantize_embeddings` (up to ±vstep/2 per element):
    v[i] = (code[i] + 128) * vstep + vmin. Narrow map, JVM-only."""
    return df.withColumn(vec_col, F.transform(
        F.col(code_col),
        lambda c: (c.cast("double") + 128) * F.col(step_col) + F.col(min_col)))


def ranking_metrics(pred: DataFrame, truth: DataFrame, k: int = 10,
                    query_id_col: str = "query_id", id_col: str = "vec_id",
                    rank_col: str = "rank") -> DataFrame:
    """Retrieval quality of a predicted ranking against a reference
    ranking (e.g. an ANN index vs exact brute force): per-query
    recall@k, MRR@k (reciprocal rank of the first relevant hit), and
    nDCG@k with binary relevance over the reference top-k.

    Both inputs use the (query_id, id, rank) contract that
    `brute_force_topk` / `CosineLSHIndex.search` / `IVFIndex.search`
    emit, so any two of them compose directly. One inner join on
    (query, id) + one aggregate per query — at scale this joins two
    k-row-per-query tables, proportional to queries·k, never to the
    corpus.

    Queries present in `truth` but with zero hits in `pred` still get
    a row (zeros) via the left join against the truth query list.
    """
    t = (truth.where(F.col(rank_col) <= k)
         .select(query_id_col, id_col,
                 F.col(rank_col).alias("__truth_rank")))
    p = (pred.where(F.col(rank_col) <= k)
         .select(query_id_col, id_col, F.col(rank_col).alias("__pred_rank")))
    hits = p.join(t, [query_id_col, id_col])
    per_hit = hits.groupBy(query_id_col).agg(
        F.count("*").alias("n_hits"),
        F.min("__pred_rank").alias("first_hit_rank"),
        F.sum(F.lit(1.0) / F.log2(F.col("__pred_rank") + 1)).alias("dcg"),
    )
    ideal = t.groupBy(query_id_col).agg(
        F.count("*").alias("n_truth"),
        F.sum(F.lit(1.0) / F.log2(F.col("__truth_rank") + 1)).alias("idcg"),
    )
    return (ideal.join(per_hit, query_id_col, "left")
            .select(
                query_id_col,
                (F.coalesce("n_hits", F.lit(0)) / F.col("n_truth")).alias("recall_at_k"),
                F.coalesce(F.lit(1.0) / F.col("first_hit_rank"), F.lit(0.0)).alias("mrr_at_k"),
                (F.coalesce("dcg", F.lit(0.0)) / F.col("idcg")).alias("ndcg_at_k"),
            ))


def write_coded(coded: DataFrame, path: str, bucket_col: str = "bucket",
                format: str = "parquet", mode: str = "overwrite") -> None:
    """Persist a coded ANN table (from `IVFIndex.assign` or
    `IVFPQIndex.encode`) laid out partitioned-by-list, so a probe's
    `bucket IN (probed)` filter prunes whole partitions at scan time —
    the IVF contract at 100 TB: each query touches n_probe/n_lists of
    the corpus bytes, not all of them."""
    coded.write.format(format).mode(mode).partitionBy(bucket_col).save(path)


def _distributed_coarse_centroids(df: DataFrame, vec_col: str,
                                  n_lists: int, seed: int) -> np.ndarray:
    """Coarse-quantizer training that scans the full corpus via the
    distributed KMeans operator (MLlib k-means|| init + Lloyd) instead
    of a bounded driver sample. The sample path stays the default —
    it is deterministic-pinnable for oracles — but at production
    n_lists (>=1024) a 100k sample leaves <100 rows per list, and the
    quantizer quality becomes sample-noise bound; this path keeps the
    per-list population at corpus scale. Driver state is still only
    the n_lists x d centroid matrix."""
    from dask_ml_spark.operators.cluster import KMeans

    d = len(df.select(vec_col).first()[0])
    cols = [f"__f{i}" for i in range(d)]
    flat = df.select(*[
        F.element_at(F.col(vec_col), i + 1).cast("double").alias(c)
        for i, c in enumerate(cols)])
    km = KMeans(n_clusters=n_lists, random_state=seed).fit(flat, cols)
    return np.asarray(km.cluster_centers_, dtype="float64")


def _sqdist_matrix(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, k) squared distances via ||x||^2 - 2xC^T + ||c||^2 — the
    memory-safe form: the naive (X[:,None,:] - C[None])**2 broadcast
    allocates an n*k*d float64 temp, which at the coarse='distributed'
    regime this module documents (n=1e5 sample, n_lists>=512, d=64)
    is tens of GB on the driver (review-caught). The matmul form peaks
    at the n*k result itself."""
    d2 = ((X ** 2).sum(axis=1)[:, None] - 2.0 * (X @ C.T)
          + (C ** 2).sum(axis=1)[None, :])
    np.maximum(d2, 0.0, out=d2)  # FP cancellation can dip below zero
    return d2


def _kmeans_codebook(block, k, rng, iters=20):
    """One driver-side k-means run over a sample matrix (the shared
    trainer for PQ subspaces, residual codebooks, and coarse lists)."""
    k = min(k, len(block))
    cent = block[rng.choice(len(block), size=k, replace=False)]
    for _ in range(iters):
        dist = _sqdist_matrix(block, cent)
        assign = dist.argmin(axis=1)
        new = np.stack([
            block[assign == j].mean(axis=0) if (assign == j).any()
            else cent[j] for j in range(k)])
        if np.allclose(new, cent):
            break
        cent = new
    return cent


def _train_pq_codebooks(matrix, m, k, seed):
    """Per-subspace codebooks over a sample matrix; validates d % m."""
    d = matrix.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    rng = np.random.RandomState(seed)
    return [_kmeans_codebook(matrix[:, s * sub:(s + 1) * sub], k, rng)
            for s in range(m)]


def _ids_comparable(qid, df, id_col) -> bool:
    """Whether a query id literal can ever equal the corpus id column.
    Comparing incompatible kinds (string qid vs bigint ids) would cast
    to NULL under non-ANSI semantics and silently filter EVERY row, so
    the self-exclusion predicate must be skipped instead."""
    from pyspark.sql import types as T

    dtype = df.schema[id_col].dataType
    if isinstance(qid, bool):
        return isinstance(dtype, T.BooleanType)
    if isinstance(qid, (int, float)):
        return isinstance(dtype, T.NumericType)
    if isinstance(qid, str):
        return isinstance(dtype, T.StringType)
    return True


def _skew_safe_topk(scored, query_id_col, id_col, topk, ascending=True,
                    score_col="score", rank_col="rank"):
    """Two-stage top-k: a per-(query, physical-partition) partial rank
    prunes to <= topk rows per partition BEFORE the global per-query
    rank, so no single window partition ever holds the full corpus
    (the hot-group window trap — each query's global partition would
    otherwise shuffle+sort N rows through one task).

    ascending=True ranks low scores first (distances);
    ascending=False ranks high scores first (similarities).
    score_col/rank_col let callers whose frames already carry
    'score'/'rank' columns use collision-safe names."""
    order = F.asc(score_col) if ascending else F.desc(score_col)
    part = scored.withColumn("__part", F.spark_partition_id())
    wl = Window.partitionBy(query_id_col, "__part").orderBy(
        order, F.asc(id_col))
    pruned = (part.withColumn("__lr", F.row_number().over(wl))
              .where(F.col("__lr") <= topk).drop("__lr", "__part"))
    w = Window.partitionBy(query_id_col).orderBy(order, F.asc(id_col))
    return pruned.withColumn(rank_col, F.row_number().over(w)).where(
        F.col(rank_col) <= topk)


class PQIndex(_IndexPersistence):
    """Product quantization (Jegou et al. 2011, "Product Quantization
    for Nearest Neighbor Search") — the memory lever past int8: d
    float32 dims (256 bytes at d=64) compress to m small codes (m
    bytes at k<=256; 64x here), and queries score compressed vectors
    WITHOUT decompression via Asymmetric Distance Computation.

    Spark-first shape:
    - fit: per-subspace k-means driver-side on a bounded sample (same
      contract as IVFIndex.fit — the codebooks are m*k*(d/m) floats of
      driver model state).
    - encode: ONE narrow JVM projection — m*k literal squared-distance
      expressions with argmin via a sorted struct array; no UDF, no
      shuffle, runs at scan speed over any corpus size.
    - search: each query's (m x k) distance table is computed
      driver-side (numpy, tiny) and folded into the plan as literal
      arrays, so scoring a compressed row is m element_at lookups and
      adds. Queries are bounded driver-side state (the BM25_TOPK
      contract); candidates rank in one window.

    Recall is a property of the DATA geometry: iid high-dimensional
    vectors concentrate distances, so coarse codebooks discriminate
    poorly there (measured and pinned in tests against an independent
    numpy ADC). Production use pairs PQ with IVF pruning (quantize
    within lists) where local distance structure is sharper.
    """

    def __init__(self, m: int = 4, k: int = 16, vec_col: str = "embedding",
                 id_col: str = "vec_id", seed: int = 42):
        self.m = m
        self.k = k
        self.vec_col = vec_col
        self.id_col = id_col
        self.seed = seed

    def fit(self, df: DataFrame, sample_rows: int = 100_000) -> "PQIndex":
        sample = np.asarray(
            [r[0] for r in df.select(self.vec_col)
             .orderBy(F.rand(self.seed)).limit(sample_rows).collect()],
            dtype="float64")
        self.codebooks_ = _train_pq_codebooks(sample, self.m, self.k,
                                              self.seed)
        return self

    def _argmin_sql(self, vec_name: str, s: int) -> str:
        """code for subspace s: index of the nearest codeword
        (squared-distance argmin, ties to the lower index) — generated
        SQL, one parse for the whole m*k distance table (the Column
        construction paid ~m*k*subdim py4j calls; see
        _sqdist_fold_sql)."""
        sub = len(self.codebooks_[s][0])
        block = f"slice({_qcol(vec_name)}, {s * sub + 1}, {sub})"
        structs = ", ".join(
            f"named_struct('d', {_sqdist_fold_sql(block, cw, cast=True)}, "
            f"'j', {j})"
            for j, cw in enumerate(self.codebooks_[s]))
        return f"element_at(array_sort(array({structs})), 1).j"

    def encode(self, df: DataFrame, code_col: str = "pq_code") -> DataFrame:
        """Compress: adds an array<int> of m codes per row (narrow).
        The projection is heavy per row (m*k distance folds), so an
        under-split input is spread first — scan parallelism follows
        file splits, and one small file would serialize the encode."""
        from dask_ml_spark.utils import ensure_min_partitions

        codes = F.expr("array(" + ", ".join(
            self._argmin_sql(self.vec_col, s) for s in range(self.m)) + ")")
        return ensure_min_partitions(df).withColumn(code_col, codes)

    def search(self, df: DataFrame, queries, topk: int = 10,
               query_id_col: str = "query_id",
               code_col: str = "pq_code") -> DataFrame:
        """ADC top-k for each (query_id, vector) in `queries` — a list
        of (query_id, numpy-like vector) pairs or a SMALL DataFrame
        (collected; bounded driver-side state like BM25 queries)."""
        if isinstance(queries, DataFrame):
            queries = [(r[query_id_col], np.asarray(r[self.vec_col], dtype="float64"))
                       for r in queries.collect()]
        coded = df if code_col in df.columns else self.encode(df, code_col)
        # ONE pass over the corpus for ALL queries: each row explodes a
        # (query_id, score) struct array — a per-query union would
        # re-run the encode projection once per query
        # per-query ADC tables as ONE generated-SQL array literal (see
        # _sqdist_fold_sql — identical expression shape, one parse)
        code = _qcol(code_col)
        entries = []
        for qid, qvec in queries:
            score = "0.0D"
            for s, book in enumerate(self.codebooks_):
                sub = len(book[0])
                qs = qvec[s * sub:(s + 1) * sub]
                table = ((book - qs[None, :]) ** 2).sum(axis=1)
                score += (f" + element_at({_darr(table)}, "
                          f"element_at({code}, {s + 1}) + 1)")
            entries.append(
                f"named_struct('qid', {_sql_lit(qid)}, 'score', {score})")
        out = (coded.select(F.col(self.id_col),
                            F.explode(F.expr(
                                "array(" + ", ".join(entries) + ")"))
                            .alias("__q"))
               .select(F.col("__q.qid").alias(query_id_col),
                       self.id_col, F.col("__q.score").alias("score")))
        if all(_ids_comparable(qid, df, self.id_col) for qid, _ in queries):
            out = out.where(F.col(query_id_col) != F.col(self.id_col))
        return _skew_safe_topk(out, query_id_col, self.id_col, topk)


class IVFPQIndex(_IndexPersistence):
    """IVF-PQ — the production ANN layout (Jegou 2011 §IV): a coarse
    quantizer routes vectors into inverted lists, and PQ encodes each
    vector's RESIDUAL (x - centroid) so the codebooks only span the
    within-list spread, where distance structure is sharpest. Search
    probes n_probe lists per query and ADC-scores against the QUERY
    RESIDUAL per probed list.

    Spark shape: encode = bucket argmin + residual (element-wise
    subtraction against a literal centroid table indexed by bucket) +
    PQ codes — one narrow JVM projection; the coded table can be
    written partitioned-by-bucket so probes prune at scan time.
    Search = one pass over the coded table exploding per-(query, list)
    score structs, filtered to bucket == probed list; all distance
    tables are literals, no join.
    """

    def __init__(self, n_lists: int = 8, m: int = 4, k: int = 16,
                 n_probe: int = 2, vec_col: str = "embedding",
                 id_col: str = "vec_id", seed: int = 42):
        self.n_lists = n_lists
        self.m = m
        self.k = k
        self.n_probe = n_probe
        self.vec_col = vec_col
        self.id_col = id_col
        self.seed = seed

    def fit(self, df: DataFrame, sample_rows: int = 100_000,
            coarse: str = "sample") -> "IVFPQIndex":
        """ONE corpus sample trains both stages (driver-side numpy on a
        bounded sample; the corpus-scale work stays in Spark): coarse
        k-means for the lists, then the shared per-subspace trainer on
        the sample's residuals. coarse='distributed' swaps the coarse
        stage for the full-corpus MLlib fit (see
        `_distributed_coarse_centroids`) — use it when n_lists is in
        the hundreds+; the sample path stays deterministic-pinnable."""
        sample = np.asarray(
            [r[0] for r in df.select(self.vec_col)
             .orderBy(F.rand(self.seed)).limit(sample_rows).collect()],
            dtype="float64")
        rng = np.random.RandomState(self.seed)
        if coarse == "distributed":
            self.centroids_ = _distributed_coarse_centroids(
                df, self.vec_col, self.n_lists, self.seed)
        elif coarse == "sample":
            self.centroids_ = _kmeans_codebook(sample, self.n_lists, rng)
        else:
            raise ValueError(f"coarse must be 'sample' or 'distributed', got {coarse!r}")
        d = _sqdist_matrix(sample, self.centroids_)
        residuals = sample - self.centroids_[d.argmin(axis=1)]
        self.codebooks_ = _train_pq_codebooks(residuals, self.m, self.k,
                                              self.seed)
        return self

    def _bucket_expr(self, vec_name: str):
        """nearest coarse centroid id — generated SQL, one parse (see
        _sqdist_fold_sql)."""
        vec = _qcol(vec_name)
        structs = ", ".join(
            f"named_struct('d', {_sqdist_fold_sql(vec, c, cast=True)}, "
            f"'c', {ci})"
            for ci, c in enumerate(self.centroids_))
        return F.expr(f"element_at(array_sort(array({structs})), 1).c")

    def encode(self, df: DataFrame, bucket_col: str = "bucket",
               code_col: str = "pq_code") -> DataFrame:
        from dask_ml_spark.utils import ensure_min_partitions

        cent_lit = F.expr("array(" + ", ".join(
            _darr(c) for c in self.centroids_) + ")")
        out = (ensure_min_partitions(df)
               .withColumn(bucket_col, self._bucket_expr(self.vec_col))
               .withColumn("__resid", F.zip_with(
                   F.col(self.vec_col),
                   F.element_at(cent_lit, F.col(bucket_col) + 1),
                   lambda x, y: x.cast("double") - y)))
        pq = PQIndex(m=self.m, k=self.k, vec_col="__resid",
                     id_col=self.id_col)
        pq.codebooks_ = self.codebooks_
        return pq.encode(out, code_col=code_col).drop("__resid")

    def search(self, df: DataFrame, queries, topk: int = 10,
               query_id_col: str = "query_id",
               bucket_col: str = "bucket",
               code_col: str = "pq_code") -> DataFrame:
        if isinstance(queries, DataFrame):
            queries = [(r[query_id_col],
                        np.asarray(r[self.vec_col], dtype="float64"))
                       for r in queries.collect()]
        coded = (df if code_col in df.columns
                 else self.encode(df, bucket_col, code_col))
        sub = self.centroids_.shape[1] // self.m
        code = _qcol(code_col)
        entries = []
        probed: set[int] = set()
        for qid, qvec in queries:
            cd = ((self.centroids_ - qvec[None]) ** 2).sum(axis=1)
            for lst in np.argsort(cd, kind="stable")[:self.n_probe]:
                probed.add(int(lst))
                resid = qvec - self.centroids_[lst]
                score = "0.0D"
                for s, book in enumerate(self.codebooks_):
                    qs = resid[s * sub:(s + 1) * sub]
                    table = ((np.asarray(book) - qs[None]) ** 2).sum(axis=1)
                    score += (f" + element_at({_darr(table)}, "
                              f"element_at({code}, {s + 1}) + 1)")
                entries.append(
                    f"named_struct('qid', {_sql_lit(qid)}, "
                    f"'lst', {int(lst)}, 'score', {score})")
        # the union of probed lists is driver-known: on a PRECODED
        # table (bucket is a stored column — e.g. read back from a
        # `write_coded` partitionBy(bucket) layout) filter it BEFORE
        # the explode so the predicate reaches the scan as partition
        # pruning / row-group stats; probes cover only
        # n_probe/n_lists of the corpus, so at production n_lists the
        # unpruned scan is >99% waste. When encoding inline the same
        # filter is a measured LOSS: Catalyst substitutes the alias
        # and pushes the n_lists-centroid argmin into a scan
        # DataFilter, evaluating it twice per surviving row — there
        # the per-row array filter below already drops non-probed
        # rows (empty array ⇒ explode emits nothing) without
        # recomputing the bucket.
        if code_col in df.columns and bucket_col in df.columns:
            coded = coded.where(F.col(bucket_col).isin(sorted(probed)))
        # drop non-matching (query, list) structs PRE-explode so only
        # real candidates are generated into the top-k shuffle
        out = (coded.select(self.id_col, bucket_col,
                            F.explode(F.filter(
                                F.expr("array(" + ", ".join(entries) + ")"),
                                lambda e: e["lst"] == F.col(bucket_col)))
                            .alias("__q")))
        if all(_ids_comparable(qid, df, self.id_col) for qid, _ in queries):
            out = out.where(F.col("__q.qid") != F.col(self.id_col))
        out = out.select(F.col("__q.qid").alias(query_id_col),
                         self.id_col, F.col("__q.score").alias("score"))
        return _skew_safe_topk(out, query_id_col, self.id_col, topk)
