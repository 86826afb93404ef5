"""Clustering.

Reference: dask_ml/cluster/k_means.py (k-means|| init + parallel
Lloyd, 600 LoC) and dask_ml/cluster/spectral.py (Nyström spectral
clustering, 370 LoC).

KMeans delegates the fit loop to MLlib KMeans — the SAME algorithm the
reference implements by hand (k-means|| oversampled init, Bahmani
2012; Lloyd EM with treeAggregate partial sums — reference
k_means.py:104-108,549-619). Fitted centers come back as k×d numpy;
predict/transform are pure column expressions with the centers folded
in as literals (k·d terms — JVM codegen, no UDF, no shuffle), so
scoring 100 TB is a narrow map.

An explicit `algorithm="lloyd_dataframe"` path implements the Lloyd
loop as DataFrame jobs (groupBy(assignment).agg(sum features, count)
per iteration) for parity with the reference's hand-built loop and as
the template for custom iterative algorithms.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.base import BaseEstimator, TransformerMixin


def _center_dists_expr(cols, centers, sqrt: bool = False):
    """array(‖x−c₀‖², …) over all centers as ONE parsed SQL expression.

    The per-element Column loop paid ~4·d py4j round trips per center
    per call (and KMeans' Lloyd loop rebuilds it every iteration); the
    generated SQL parses once and produces the identical tree —
    0.0 + (c−v)·(c−v) + … left-associative, casts/literals typed
    exactly as F.col().cast('double') / F.lit(float) (guide §7.3;
    same conversion as the ANN index builders)."""
    from dask_ml_spark.operators.pairwise import _sqdist_sql
    parts = [_sqdist_sql(cols, c) for c in centers]
    if sqrt:
        parts = [f"SQRT({p})" for p in parts]
    return F.expr("array(" + ", ".join(parts) + ")")


class KMeans(BaseEstimator, TransformerMixin):
    def __init__(self, n_clusters: int = 8, init: str = "k-means||", max_iter: int = 300,
                 tol: float = 1e-4, random_state: int | None = None, init_max_iter: int = 5,
                 oversampling_factor: int = 2, algorithm: str = "mllib",
                 precompute_distances: str = "auto", copy_x: bool = True, n_jobs: int = 1):
        # precompute_distances/copy_x/n_jobs accepted for reference
        # signature compatibility (k_means.py:143-155); scheduling and
        # memory layout belong to Spark here
        self.n_clusters = n_clusters
        self.init = init
        self.max_iter = max_iter
        self.tol = tol
        self.random_state = random_state
        self.init_max_iter = init_max_iter
        self.oversampling_factor = oversampling_factor
        self.algorithm = algorithm
        self.precompute_distances = precompute_distances
        self.copy_x = copy_x
        self.n_jobs = n_jobs

    def fit(self, df: DataFrame, columns=None) -> "KMeans":
        cols = self._validate_data(df, columns)
        if self.algorithm == "lloyd_dataframe" or isinstance(self.init, (list, tuple, np.ndarray)):
            # explicit centers → the DataFrame Lloyd loop (MLlib has no
            # user-supplied-init mode)
            return self._fit_dataframe(df, cols)
        from pyspark.ml.clustering import KMeans as MLlibKMeans
        from pyspark.ml.feature import VectorAssembler

        # persist the assembled vectors: the k-means|| init + every Lloyd
        # iteration re-scans the input (MLlib warns on uncached input)
        from dask_ml_spark.utils import ensure_min_partitions

        assembled = VectorAssembler(inputCols=cols, outputCol="__features").transform(
            ensure_min_partitions(df.select(*cols))
        ).persist()
        init_mode = "k-means||" if self.init in ("k-means||", "k-means++") else "random"
        km = MLlibKMeans(
            k=self.n_clusters, featuresCol="__features",
            initMode=init_mode, initSteps=max(1, self.init_max_iter),
            maxIter=self.max_iter, tol=self.tol,
            seed=self.random_state if self.random_state is not None else 0,
        )
        model = km.fit(assembled)
        assembled.unpersist()
        self.cluster_centers_ = np.asarray([np.asarray(c) for c in model.clusterCenters()])
        self.inertia_ = float(model.summary.trainingCost)
        self.n_iter_ = int(model.summary.numIter)
        self.feature_columns_ = cols
        return self

    def _fit_dataframe(self, df: DataFrame, cols) -> "KMeans":
        """Lloyd loop as per-iteration Spark jobs — same control-flow
        topology as the reference (k_means.py:549-619): broadcast
        centers → argmin assignment → grouped partial sums → driver
        convergence check."""
        rng = np.random.RandomState(self.random_state)
        data = df.select(*cols).persist()
        n = data.count()
        k = self.n_clusters
        if isinstance(self.init, (list, tuple, np.ndarray)):
            # explicit init centers (the reference accepts an ndarray
            # init too, k_means.py:143-155) — also what makes this path
            # seed-free deterministic and therefore SQL-oracle-able
            centers = np.asarray(self.init, dtype="float64")
            if centers.shape != (k, len(cols)):
                raise ValueError(
                    f"init centers shape {centers.shape} != ({k}, {len(cols)})")
        else:
            centers = np.asarray(
                # rand-ordered limit: limit() alone would take the sampled
                # rows of the FIRST partitions (spatial bias on sorted data)
                data.sample(fraction=min(1.0, 10.0 * k / max(n, 1)), seed=int(rng.randint(2**31)))
                .orderBy(F.rand(int(rng.randint(2**31)))).limit(k).collect(),
                dtype="float64",
            )
            if len(centers) < k:
                centers = np.asarray(data.limit(k).collect(), dtype="float64")
        for it in range(self.max_iter):
            dists = _center_dists_expr(cols, centers)
            assign = (F.array_position(dists, F.array_min(dists)) - 1).cast("int").alias("__cluster")
            agg = (
                data.select(assign, *cols)
                .groupBy("__cluster")
                .agg(F.count("*").alias("__n"), *[F.sum(c).alias(f"s_{c}") for c in cols])
                .collect()
            )
            new_centers = centers.copy()
            for r in agg:
                ci = r["__cluster"]
                new_centers[ci] = [r[f"s_{c}"] / r["__n"] for c in cols]
            shift = float(np.sqrt(((new_centers - centers) ** 2).sum()))
            centers = new_centers
            if shift < self.tol:
                break
        self.cluster_centers_ = centers
        self.n_iter_ = it + 1
        dists = _center_dists_expr(cols, centers)
        self.inertia_ = data.agg(F.sum(F.array_min(dists))).collect()[0][0]
        data.unpersist()
        self.feature_columns_ = cols
        return self

    def predict(self, df: DataFrame, output_col: str = "prediction") -> DataFrame:
        dists = _center_dists_expr(self.feature_columns_, self.cluster_centers_)
        return df.withColumn(output_col, (F.array_position(dists, F.array_min(dists)) - 1).cast("int"))

    def transform(self, df: DataFrame, output_col: str = "distances") -> DataFrame:
        """Distances to each center (reference k_means.py:225-228)."""
        dists = _center_dists_expr(self.feature_columns_, self.cluster_centers_, sqrt=True)
        return df.withColumn(output_col, dists)

    def fit_predict(self, df: DataFrame, columns=None, output_col: str = "prediction") -> DataFrame:
        return self.fit(df, columns).predict(df, output_col)


class SpectralClustering(BaseEstimator):
    """Nyström-approximate spectral clustering (reference
    cluster/spectral.py:22-375): sample l rows, form exact kernel block
    A (l×l) on the driver, cross-kernel B (l×N) distributed, embed all
    rows through A^{-1/2}-ish map, k-means the embedding. Avoids the
    N×N affinity matrix entirely — the sample is driver/broadcast
    sized, everything row-wise is a narrow map."""

    def __init__(self, n_clusters: int = 8, n_components: int = 100,
                 gamma: float = 1.0, affinity: str = "rbf", random_state: int | None = None,
                 kmeans_params: dict | None = None, landmarks=None):
        self.n_clusters = n_clusters
        self.n_components = n_components
        self.gamma = gamma
        self.affinity = affinity
        self.random_state = random_state
        self.kmeans_params = kmeans_params
        # explicit Nyström landmark rows (array-like, len×n_features):
        # skips the seeded sample, making the whole pipeline
        # deterministic-by-literals and therefore SQL-oracle-able
        # (the kmeans pinned-init trick applied one level up)
        self.landmarks = landmarks

    def fit_predict(self, df: DataFrame, columns=None, output_col: str = "prediction") -> DataFrame:
        from dask_ml_spark.operators.pairwise import rbf_kernel_matrix

        cols = self._validate_data(df, columns)
        if self.landmarks is not None:
            sample = np.asarray(self.landmarks, dtype="float64")
        else:
            n = df.count()
            l = min(self.n_components, n)
            frac = min(1.0, 1.2 * l / max(n, 1))
            sample = np.asarray(
                df.select(*cols).sample(fraction=frac, seed=self.random_state or 0)
                .orderBy(F.rand(self.random_state or 0)).limit(l).collect(),
                dtype="float64",
            )
        l = len(sample)
        # A: l×l exact kernel on driver (small); Nyström embedding map =
        # top-k eigenvectors scaled by S^{-1/2} (phi(x) ≈ K(x,sample)·U_k·S_k^{-1/2})
        A = rbf_kernel_matrix(sample, sample, self.gamma)
        U, S, _ = np.linalg.svd(A, hermitian=True)  # S descending
        k = self.n_clusters
        S_inv_sqrt = np.where(S[:k] > 1e-12, 1.0 / np.sqrt(S[:k]), 0.0)
        proj = U[:, :k] * S_inv_sqrt  # l×k embedding map
        # embedding of every row: phi(x) = K(x, sample) @ proj — one
        # narrow map with the l×k matrix broadcast
        # persist: the embedding (a pandas-UDF kernel map) is scanned by
        # the KMeans fit loop AND by predict — without the cache it is
        # recomputed per scan (ContextCleaner reclaims it when the
        # result DataFrame is dropped)
        emb = self._embed(df, cols, sample, proj).persist()
        km = KMeans(n_clusters=self.n_clusters, random_state=self.random_state,
                    **(self.kmeans_params or {}))
        emb_cols = [f"__emb_{j}" for j in range(proj.shape[1])]
        out = km.fit(emb, emb_cols).predict(emb, output_col)
        self.assign_labels_ = km
        self.sample_ = sample
        self.proj_ = proj
        return out.drop(*emb_cols)

    def _embed(self, df: DataFrame, cols, sample: np.ndarray, proj: np.ndarray) -> DataFrame:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from dask_ml_spark.operators.pairwise import _EXPR_TERM_BUDGET, _small_y_exprs

        gamma = self.gamma
        l, k = sample.shape[0], proj.shape[1]
        # JVM fast path: for the usual regime (n_components samples ×
        # few feature columns) the Nyström map is l kernel expressions
        # + k linear combinations — two narrow projections inside
        # whole-stage codegen, no Python workers, and every original
        # column passes through untouched (the Arrow fallback below has
        # to serialize them through pandas).
        if l * len(cols) <= _EXPR_TERM_BUDGET and l * k <= 8 * _EXPR_TERM_BUDGET:
            kexprs = _small_y_exprs(cols, sample, self.affinity, gamma=gamma)
            if kexprs is not None:
                kcols = [f"__nk_{i}" for i in range(l)]
                tmp = df.select("*", *[e.alias(c) for e, c in zip(kexprs, kcols)])
                # each combination as one parsed SQL chain (the Column
                # loop paid ~2·l py4j round trips per component; same
                # 0.0 + col·w + … left-associative tree, zero weights
                # skipped identically, literals typed as F.lit(float))
                from dask_ml_spark.utils import sql_scalar_lit
                combos = []
                for j in range(k):
                    terms = ["0.0D"]
                    for i in range(l):
                        w = float(proj[i, j])
                        if w != 0.0:
                            terms.append(f"`{kcols[i]}` * {sql_scalar_lit(w)}")
                    combos.append(F.expr(" + ".join(terms)).alias(f"__emb_{j}"))
                return tmp.select("*", *combos).drop(*kcols)

        schema = ", ".join(f"__emb_{j} double" for j in range(proj.shape[1]))

        def _block(it):
            for pdf in it:
                X = pdf[cols].to_numpy(dtype="float64")
                from dask_ml_spark.operators.pairwise import rbf_kernel_matrix

                K = rbf_kernel_matrix(X, sample, gamma)
                E = K @ proj
                out = pd.DataFrame({f"__emb_{j}": E[:, j] for j in range(proj.shape[1])})
                for c in pdf.columns:
                    out[c] = pdf[c].to_numpy()
                yield out

        full_schema = schema + ", " + ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
        )
        return df.mapInPandas(_block, schema=full_schema)


class DBSCAN(BaseEstimator):
    """Density-based clustering (Ester et al. 1996) — beyond the
    reference (dask-ml has no DBSCAN; sklearn's is the local
    workhorse): a point with >= min_pts neighbors within eps
    (itself included) is a CORE point; core points within eps of each
    other share a cluster (transitively); non-core points within eps
    of a core join that core's cluster (ties to the nearest core,
    then smallest core id); everything else is noise (cluster −1).
    Cluster ids are the MIN member id, so labels are
    content-deterministic and engine-comparable.

    Spark-first shape (the classic grid-cell join, no all-pairs):
    points land in eps-sized grid cells (floor(x/eps) per dimension);
    candidate pairs come from an equi-join of each point's own cell
    key against its neighbors' 3^d adjacent-cell keys, so only points
    within one cell of each other ever meet — at uniform density the
    join is LINEAR in N with a 3^d constant. Neighbor counts, the
    core set, and border assignment are one aggregate + one ranked
    join over those pairs; core connectivity reuses the shared
    star-contraction components engine
    (datapipe.dedup.duplicate_clusters), whose round count does not
    grow with the length of DBSCAN's density chains.

    Scale contract: LOW-dimensional tabular data (d <= ~4 — the
    adjacent-cell fan-out is 3^d; raises above 6). Dense hot cells
    are the skew hazard exactly as in the banded dedup joins: the
    pair count inside one cell is quadratic in its occupancy, so eps
    must stay of the order of the local point spacing (that is
    DBSCAN's own usability contract). For high-dimensional embedding
    clustering use KMeans / SemDeDup instead."""

    def __init__(self, eps: float = 0.5, min_pts: int = 5):
        self.eps = eps
        self.min_pts = min_pts

    def fit_predict(self, df: DataFrame, columns=None,
                    id_col: str = "doc_id") -> DataFrame:
        """(id, cluster) for every input row; noise rows get −1
        (ids must be integral and are assumed non-negative, the
        repo-wide id convention)."""
        from dask_ml_spark.datapipe.dedup import duplicate_clusters

        cols = self._validate_data(df, columns)
        d = len(cols)
        if d > 6:
            raise ValueError(
                f"DBSCAN's adjacent-cell join fans out 3^d; d={d} is "
                "outside the low-dimensional contract (use KMeans or "
                "the embedding dedup family instead)")
        base, pairs = _dbscan_pairs(df, cols, float(self.eps), id_col)
        # pairs carries BOTH directions of every neighbor pair, so one
        # groupBy counts each point's neighborhood (plus itself);
        # lazy localCheckpoint: referenced three times downstream
        pairs = pairs.localCheckpoint(eager=False)
        if self.min_pts <= 1:
            # every point's neighborhood includes itself, so with
            # min_pts <= 1 EVERY point is core — including isolated
            # points that never appear in the pair table (they become
            # singleton clusters, matching sklearn min_samples=1)
            core = base.select("__id")
        else:
            # counts derived from pairs alone are fine here: a point
            # absent from pairs has neighborhood size 1 < min_pts
            counts = (pairs.groupBy("__id")
                      .agg((F.count(F.lit(1)) + 1).alias("__n")))
            core = counts.where(F.col("__n") >= self.min_pts).select("__id")

        core_edges = (pairs
                      .join(core.withColumnRenamed("__id", "__qid"), "__qid")
                      .join(core, "__id")
                      .select(F.col("__id").alias("id_a"),
                              F.col("__qid").alias("id_b")))
        comp = duplicate_clusters(core_edges)
        core_lbl = (core.join(comp, core["__id"] == comp["node"], "left")
                    .select("__id",
                            F.coalesce(F.col("cluster"), F.col("__id"))
                            .alias("cluster")))

        # border points: nearest core within eps (ties -> smallest
        # core id); per-point candidate lists are bounded by the
        # neighborhood, so the window is hot-group-safe
        from pyspark.sql import Window

        border_cand = (pairs
                       .join(core_lbl.withColumnRenamed("__id", "__qid")
                             .withColumnRenamed("cluster", "__qcluster"),
                             "__qid")
                       .join(core, "__id", "left_anti"))
        w = Window.partitionBy("__id").orderBy(
            F.asc("__d2"), F.asc("__qid"))
        border_lbl = (border_cand
                      .withColumn("__r", F.row_number().over(w))
                      .where(F.col("__r") == 1)
                      .select("__id", F.col("__qcluster").alias("cluster")))

        labels = core_lbl.unionByName(border_lbl)
        return (base.select("__id")
                .join(labels, "__id", "left")
                .select(F.col("__id").alias(id_col),
                        F.coalesce(F.col("cluster"), F.lit(-1))
                        .cast("long").alias("cluster")))


def _dbscan_pairs(df: DataFrame, cols, eps: float, id_col: str):
    """(base, pairs) for DBSCAN: eps-grid cell keys and the
    adjacent-cell candidate join filtered to true eps-neighbors, BOTH
    directions of every pair. Split out so plan tests can pin the
    pre-checkpoint join shape (explicit AQE-exempt keyed repartition
    on the exploding cell join — the recurring lesson)."""
    from itertools import product

    d = len(cols)
    eps2 = eps * eps
    cell = [F.floor(F.col(c).cast("double") / eps).cast("long")
            for c in cols]
    base = df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c).cast("double").alias(f"__x{i}")
          for i, c in enumerate(cols)],
        F.concat_ws("_", *cell).alias("__cell"),
        *[c.alias(f"__c{i}") for i, c in enumerate(cell)])
    offsets = list(product((-1, 0, 1), repeat=d))
    nbr_keys = F.array(*[
        F.concat_ws("_", *[(F.col(f"__c{i}") + F.lit(o[i]))
                           for i in range(d)])
        for o in offsets])
    exploded = base.select(
        F.col("__id").alias("__qid"),
        *[F.col(f"__x{i}").alias(f"__qx{i}") for i in range(d)],
        F.explode(nbr_keys).alias("__cell"))
    # scale-adaptive: one partition per core at any cluster size (a
    # hard floor above defaultParallelism only binds below that many
    # cores, where it over-splits the cell tables)
    parts = df.sparkSession.sparkContext.defaultParallelism
    dist2 = sum((F.col(f"__x{i}") - F.col(f"__qx{i}")) ** 2
                for i in range(d))
    pairs = (base.repartition(parts, "__cell")
             .join(exploded.repartition(parts, "__cell"), "__cell")
             .where(F.col("__id") != F.col("__qid"))
             .where(dist2 <= F.lit(eps2))
             .select("__id", "__qid", dist2.alias("__d2")))
    return base, pairs
