"""Text feature extraction.

Reference: dask_ml/feature_extraction/text.py (HashingVectorizer
21-117, CountVectorizer 119-230, FeatureHasher).

Design: tokenization is regexp_extract_all (JVM regex, matches the
sklearn default token_pattern \\w\\w+ on lowercased text). Vocabulary
discovery is explode → groupBy(token) — a classic shuffle-light
aggregation with map-side combine; document-frequency filters
(min_df/max_df) apply in the same aggregate. Transform is
explode → join-on-broadcast-vocabulary → groupBy(doc) collecting a
sparse vector; for small vocabularies the mapping is folded into the
plan. HashingVectorizer is stateless: xxhash64(token) % n_features,
entirely JVM-side, no fit pass at all — the 100 TB default.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.base import BaseEstimator, TransformerMixin

TOKEN_PATTERN = r"(?U)\w\w+"  # sklearn default \b\w\w+\b via extract-all


def tokenize(col, lowercase: bool = True, pattern: str = TOKEN_PATTERN):
    c = F.lower(col) if lowercase else col
    return F.regexp_extract_all(c, F.lit(pattern), 0)


class CountVectorizer(BaseEstimator, TransformerMixin):
    """Two-pass count vectorizer (reference text.py:170-230):
    pass 1 discovers the vocabulary (distinct tokens, optional df
    bounds), pass 2 maps documents to sparse count vectors."""

    def __init__(self, input_col: str = "text", output_col: str = "features",
                 lowercase: bool = True, token_pattern: str = TOKEN_PATTERN,
                 min_df: int = 1, max_df: float = 1.0, max_features: int | None = None,
                 max_vocab_collect: int = 1_000_000):
        self.input_col = input_col
        self.output_col = output_col
        self.lowercase = lowercase
        self.token_pattern = token_pattern
        self.min_df = min_df
        self.max_df = max_df
        self.max_features = max_features
        self.max_vocab_collect = max_vocab_collect

    def required_input_columns(self, columns):
        # self-scoped: reads input_col regardless of the caller's
        # `columns` — the CV planners' fold-cache pruning must keep it
        return [self.input_col]

    def _docfreq_filtered(self, df: DataFrame) -> DataFrame:
        """(token, df) rows surviving the min_df/max_df bounds —
        document frequency per token via explode of per-doc distincts."""
        toks = tokenize(F.col(self.input_col), self.lowercase, self.token_pattern)
        n_docs = df.count()
        docfreq = (
            df.select(F.explode(F.array_distinct(toks)).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias("df"))
        )
        max_df_count = self.max_df * n_docs if isinstance(self.max_df, float) else self.max_df
        return docfreq.where((F.col("df") >= self.min_df) & (F.col("df") <= max_df_count))

    def _fit_vocabulary_frame(self, filtered: DataFrame) -> "CountVectorizer":
        """Distributed fitted state: (token, token_id, df) frame with
        dense sorted-order ids; only n_features_ reaches the driver."""
        from dask_ml_spark.utils import zip_with_index

        indexed, pinned = zip_with_index(filtered, "token", id_col="token_id")
        self.vocabulary_frame_ = indexed.persist()
        self.n_features_ = self.vocabulary_frame_.count()  # also materializes
        pinned.unpersist()
        self.vocabulary_ = None
        return self

    def fit(self, df: DataFrame, columns=None) -> "CountVectorizer":
        filtered = self._docfreq_filtered(df)
        if self.max_features:
            filtered = filtered.orderBy(F.desc("df"), "token").limit(self.max_features)
        else:
            # unbounded vocabulary: keep the dictionary distributed when
            # it exceeds the driver-collect budget (reference collects
            # unconditionally, text.py:268-282 — fine for bounded
            # vocabularies, not for billions of distinct tokens)
            filtered = filtered.persist()
            if filtered.count() > self.max_vocab_collect:
                out = self._fit_vocabulary_frame(filtered)
                filtered.unpersist()
                return out
        vocab = sorted(r["token"] for r in filtered.select("token").collect())
        if self.max_features is None:
            filtered.unpersist()
        self.vocabulary_ = {t: i for i, t in enumerate(vocab)}
        self.feature_names_out_ = np.asarray(vocab)
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        """Sparse count vectors via MLlib ``CountVectorizerModel.from_vocabulary``
        — tokenization and vector assembly both JVM-side (no Python in the
        row path); the vocabulary ships to executors once as model state."""
        from pyspark.ml.feature import CountVectorizerModel

        if getattr(self, "vocabulary_", None) is None and \
                getattr(self, "vocabulary_frame_", None) is not None:
            raise ValueError(
                "vocabulary was fit distributed (> max_vocab_collect tokens) "
                "and never reaches the driver; use transform_long() for the "
                "triplet encoding")
        toks = tokenize(F.col(self.input_col), self.lowercase, self.token_pattern)
        tmp = "__cv_tokens"
        model = CountVectorizerModel.from_vocabulary(
            [str(t) for t in self.feature_names_out_],
            inputCol=tmp, outputCol=self.output_col,
        )
        return model.transform(df.withColumn(tmp, toks)).drop(tmp)

    def fit_distributed(self, df: DataFrame) -> "CountVectorizer":
        """Open-vocabulary fit: the dictionary NEVER reaches the driver
        (reference parity collects it, text.py:268-282 — fine for
        bounded vocabularies; this is the path for billions of distinct
        tokens).  The fitted state is ``vocabulary_frame_``: a
        DataFrame (token, token_id, df) with dense ids assigned in
        sorted-token order by a distributed two-phase zip_with_index.
        Use with transform_long; the driver only ever sees
        ``n_features_`` (one count).  ``fit`` routes here automatically
        when the vocabulary exceeds ``max_vocab_collect``."""
        filtered = self._docfreq_filtered(df)
        if self.max_features:
            filtered = filtered.orderBy(F.desc("df"), "token").limit(self.max_features)
        return self._fit_vocabulary_frame(filtered)

    def transform_long(self, df: DataFrame, id_col: str) -> DataFrame:
        """Long/triplet form (doc_id, token_id, count) — the relational
        encoding of the sparse matrix; joins against the vocabulary
        table, fully JVM-side. Preferred at scale.  Uses the
        distributed ``vocabulary_frame_`` when fit_distributed was
        used (shuffle join on token — AQE broadcasts it when small),
        else broadcasts the driver-side dictionary."""
        from dask_ml_spark.utils import ensure_min_partitions, local_frame

        spark = df.sparkSession
        if getattr(self, "vocabulary_frame_", None) is not None:
            vocab_df = self.vocabulary_frame_.select("token", "token_id")
        else:
            vocab_df = F.broadcast(local_frame(
                spark, list(self.vocabulary_.items()), "token string, token_id long"))
        toks = tokenize(F.col(self.input_col), self.lowercase, self.token_pattern)
        # spread before the tokenize+explode+partial-agg: a small
        # parquet input scans as 1 partition, serializing the
        # transform's entire compute onto one core (no-op at scale —
        # the text_stats/embed_train convention)
        return (
            ensure_min_partitions(df.select(F.col(id_col), self.input_col))
            .select(F.col(id_col), F.explode(toks).alias("token"))
            .join(vocab_df, "token")
            .groupBy(id_col, "token_id")
            .agg(F.count("*").cast("long").alias("count"))
        )


class HashingVectorizer(BaseEstimator, TransformerMixin):
    """Stateless hashing vectorizer (reference text.py:21-68): no fit,
    no vocabulary, unbounded scale. token → xxhash64 % n_features.

    ``hash_fn="portable"`` swaps xxhash64 for a 14-hex-digit md5-prefix
    hash (sign from the 15th hex digit's parity) — slower, but
    reproducible in any engine with md5 (DuckDB:
    ``('0x' || substr(md5(t),1,14))::BIGINT``), which is what makes the
    `hashing_vectorizer_portable` catalog query fully oracle-checkable.
    """

    def __init__(self, input_col: str = "text", output_col: str = "features",
                 n_features: int = 2 ** 20, lowercase: bool = True,
                 token_pattern: str = TOKEN_PATTERN, alternate_sign: bool = True,
                 hash_fn: str = "xxhash64"):
        if hash_fn not in ("xxhash64", "portable"):
            raise ValueError(f"Unknown hash_fn {hash_fn!r}")
        self.input_col = input_col
        self.output_col = output_col
        self.n_features = n_features
        self.lowercase = lowercase
        self.token_pattern = token_pattern
        self.alternate_sign = alternate_sign
        self.hash_fn = hash_fn

    def required_input_columns(self, columns):
        # self-scoped on input_col (see CountVectorizer)
        return [self.input_col]

    def _bucket_expr(self, tok):
        if self.hash_fn == "portable":
            h = F.conv(F.substring(F.md5(tok), 1, 14), 16, 10).cast("long")
            return F.pmod(h, F.lit(self.n_features)).cast("int")
        return F.pmod(F.xxhash64(tok), F.lit(self.n_features)).cast("int")

    def _sign_expr(self, tok):
        if not self.alternate_sign:
            return F.lit(1.0)
        if self.hash_fn == "portable":
            bit = F.pmod(F.conv(F.substring(F.md5(tok), 15, 1), 16, 10).cast("long"), F.lit(2))
        else:
            bit = F.pmod(F.xxhash64(tok, F.lit(1)), F.lit(2))
        return F.when(bit == 0, F.lit(1.0)).otherwise(F.lit(-1.0))

    def fit(self, df: DataFrame, columns=None) -> "HashingVectorizer":
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        # MLlib HashingTF is NOT used here: it hashes with murmur3 and has
        # no signed hashing, which would diverge from the engine-pinned
        # xxhash64 + sign convention shared with transform_long (the
        # bench/oracle triplet path). All hashing stays JVM-side below;
        # the UDF is only the SparseVector constructor (VectorUDT is not
        # Arrow-encodable, so a pandas UDF cannot return it).
        from pyspark.ml.linalg import SparseVector, VectorUDT
        from pyspark.sql.functions import udf

        n = self.n_features
        alt = self.alternate_sign

        @udf(returnType=VectorUDT())
        def _vec(pairs):
            acc = {}
            for p in pairs or []:
                j = p["bucket"]
                s = p["sign"] if alt else 1.0
                acc[j] = acc.get(j, 0.0) + s
            idx = sorted(k for k, v in acc.items() if v != 0)
            return SparseVector(n, idx, [acc[i] for i in idx])

        toks = tokenize(F.col(self.input_col), self.lowercase, self.token_pattern)
        # hashing happens JVM-side; the UDF only assembles the vector
        pairs = F.transform(
            toks,
            lambda t: F.struct(
                self._bucket_expr(t).alias("bucket"),
                self._sign_expr(t).alias("sign"),
            ),
        )
        return df.withColumn(self.output_col, _vec(pairs))

    def transform_long(self, df: DataFrame, id_col: str) -> DataFrame:
        """Triplet form (id, bucket, value) — no Python at all."""
        from dask_ml_spark.utils import ensure_min_partitions

        toks = tokenize(F.col(self.input_col), self.lowercase, self.token_pattern)
        # spread before tokenize+explode+hash (see CountVectorizer)
        return (
            ensure_min_partitions(df.select(F.col(id_col), self.input_col))
            .select(F.col(id_col), F.explode(toks).alias("token"))
            .withColumn("bucket", self._bucket_expr(F.col("token")))
            .groupBy(id_col, "bucket")
            .agg(F.sum(self._sign_expr(F.col("token"))).alias("value"))
            .where(F.col("value") != 0)
        )


class TfidfTransformer(BaseEstimator, TransformerMixin):
    """TF-IDF over the triplet encoding: idf = ln((1+n)/(1+df)) + 1
    (smooth_idf), fit = one groupBy(token) aggregate."""

    def __init__(self, smooth_idf: bool = True, norm: str | None = "l2"):
        self.smooth_idf = smooth_idf
        self.norm = norm

    def required_input_columns(self, columns):
        # id/token/count column names arrive per call, not at
        # construction — planners cannot prune around this transformer
        return None

    def fit(self, triplets: DataFrame, n_docs: int | None = None,
            id_col: str = "doc_id", token_col: str = "token_id") -> "TfidfTransformer":
        if n_docs is None:
            n_docs = triplets.select(id_col).distinct().count()
        self.n_docs_ = n_docs
        s = 1 if self.smooth_idf else 0
        self.idf_ = (
            triplets.groupBy(token_col)
            .agg(F.count("*").alias("df"))
            .withColumn("idf", F.log((F.lit(float(n_docs + s))) / (F.col("df") + s)) + 1.0)
            .select(token_col, "idf")
        )
        return self

    def transform(self, triplets: DataFrame, id_col: str = "doc_id",
                  token_col: str = "token_id", count_col: str = "count") -> DataFrame:
        out = (
            triplets.join(F.broadcast(self.idf_), token_col)
            .withColumn("tfidf", F.col(count_col) * F.col("idf"))
            .drop("idf")
        )
        if self.norm == "l2":
            norms = out.groupBy(id_col).agg(F.sqrt(F.sum(F.col("tfidf") ** 2)).alias("__norm"))
            out = out.join(norms, id_col).withColumn("tfidf", F.col("tfidf") / F.col("__norm")).drop("__norm")
        return out


class FeatureHasher(BaseEstimator, TransformerMixin):
    """Stateless hashing of feature dicts (reference text.py — the
    FeatureHasher companion of HashingVectorizer, applied to
    dict/sequence rows rather than raw text).

    Input is a map<string,double> column (input_type='dict') or an
    array<string> column (input_type='string', value 1 per occurrence).
    bucket = xxhash64(key) % n_features, independent sign hash — same
    conventions as HashingVectorizer; no fit pass, unbounded scale.
    """

    def __init__(self, n_features: int = 2 ** 20, input_col: str = "features_raw",
                 output_col: str = "features", input_type: str = "dict",
                 alternate_sign: bool = True, hash_fn: str = "xxhash64"):
        if hash_fn not in ("xxhash64", "portable"):
            raise ValueError(f"Unknown hash_fn {hash_fn!r}")
        self.n_features = n_features
        self.input_col = input_col
        self.output_col = output_col
        self.input_type = input_type
        self.alternate_sign = alternate_sign
        self.hash_fn = hash_fn

    def required_input_columns(self, columns):
        # self-scoped on input_col (see CountVectorizer)
        return [self.input_col]

    # same engine-portable option as HashingVectorizer (md5-prefix hash
    # reproducible in DuckDB) — what the *_portable oracle query uses
    _bucket_expr = HashingVectorizer._bucket_expr
    _sign_expr = HashingVectorizer._sign_expr

    def fit(self, df: DataFrame, columns=None) -> "FeatureHasher":
        return self

    def _kv(self, df: DataFrame, id_col: str) -> DataFrame:
        if self.input_type == "dict":
            return df.select(
                F.col(id_col), F.explode(F.col(self.input_col)).alias("key", "value")
            )
        return df.select(
            F.col(id_col), F.explode(F.col(self.input_col)).alias("key")
        ).withColumn("value", F.lit(1.0))

    def transform_long(self, df: DataFrame, id_col: str) -> DataFrame:
        """Triplet form (id, bucket, value) — no Python at all."""
        from dask_ml_spark.utils import ensure_min_partitions

        # spread before the explode+hash+partial-agg (see
        # CountVectorizer.transform_long)
        kv = self._kv(ensure_min_partitions(
            df.select(F.col(id_col), self.input_col)), id_col)
        return (
            kv.withColumn("bucket", self._bucket_expr(F.col("key")))
            .groupBy(id_col, "bucket")
            .agg(F.sum(F.col("value") * self._sign_expr(F.col("key"))).alias("value"))
            .where(F.col("value") != 0)
        )

    def transform(self, df: DataFrame) -> DataFrame:
        # same rationale as HashingVectorizer.transform: hashing is all
        # JVM-side (engine-pinned xxhash64, matching transform_long);
        # the UDF exists only because VectorUDT is not Arrow-encodable
        from pyspark.ml.linalg import SparseVector, VectorUDT
        from pyspark.sql.functions import udf

        n = self.n_features
        alt = self.alternate_sign

        @udf(returnType=VectorUDT())
        def _vec(pairs):
            acc = {}
            for p in pairs or []:
                j = p["bucket"]
                v = p["value"] * (p["sign"] if alt else 1.0)
                acc[j] = acc.get(j, 0.0) + v
            idx = sorted(k for k, v in acc.items() if v != 0)
            return SparseVector(n, idx, [acc[i] for i in idx])

        entries = (
            F.map_entries(F.col(self.input_col))
            if self.input_type == "dict"
            else F.transform(F.col(self.input_col), lambda t: F.struct(t.alias("key"), F.lit(1.0).alias("value")))
        )
        pairs = F.transform(
            entries,
            lambda e: F.struct(
                self._bucket_expr(e["key"]).alias("bucket"),
                e["value"].cast("double").alias("value"),
                self._sign_expr(e["key"]).alias("sign"),
            ),
        )
        return df.withColumn(self.output_col, _vec(pairs))
