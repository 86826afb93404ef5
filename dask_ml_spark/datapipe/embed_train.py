"""Count-based static word embeddings from a corpus:
co-occurrence -> PPMI -> truncated SVD (Levy & Goldberg 2014,
"Neural Word Embedding as Implicit Matrix Factorization" — SGNS
factorizes a shifted PMI matrix, so the count-based pipeline is the
closed-form cousin of word2vec and needs no gradient loop).

This closes a loop in the datapipe: a corpus can now PRODUCE the
embedding column the similarity/dedup operators consume
(corpus -> embed_train -> embedding_near_dup / ANN), with zero
external model dependencies.

Scale shape — the 100 TB work is the COUNTING, and only the counting:
- vocabulary: one token count aggregate, top-V by (count desc, token)
  — deterministic tiebreak, broadcast back (V is bounded, like the
  BPE vocab and BM25 query tables).
- co-occurrence: window pairs are built INSIDE the token array with
  higher-order functions (no posexplode self-join — a window join on
  (doc, position) would shuffle the corpus twice), then one explode +
  semi-filter to the vocabulary + one groupBy(w1, w2) with map-side
  combine. Output is <= V^2 rows regardless of corpus size.
- PPMI: marginals are V-row aggregates joined back (broadcast).
- SVD, solver="driver": numpy on the dense V x V PPMI matrix —
  bounded by vocab_size (keep V <= ~4k on this path).
- SVD, solver="distributed": randomized range-finder SVD (Halko
  2011, the same algorithm as operators/decomposition.randomized_svd)
  run directly on the SPARSE (w1, w2, ppmi) COO table: every
  matrix product A@W / A^T@Q is ONE broadcast join (the V x l sketch,
  ~MBs) + ONE groupBy(word) aggregate over the <= V^2-row COO frame,
  and the driver only ever holds V x l panels (50k x 26 ~ 10 MB),
  never V x V. 2*n_iter + 2 distributed passes total. This lifts the
  vocab ceiling to ~100k+; solver="auto" picks it above V = 4096.

The count and PPMI tables are DuckDB-oracle-replayable; the SVD
factors carry a sign/rotation ambiguity, so embedding values are
pinned against an independent numpy replay in tests instead.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.datapipe.dedup import tokens_expr
from dask_ml_spark.utils import cut, ensure_min_partitions, local_frame


def top_vocabulary(df: DataFrame, text_col: str = "text",
                   vocab_size: int = 1000) -> DataFrame:
    """(word) — the vocab_size most frequent tokens, ties broken by
    token ascending (deterministic across engines)."""
    return (ensure_min_partitions(df)
            .select(F.explode(tokens_expr(F.col(text_col))).alias("word"))
            .groupBy("word").agg(F.count("*").alias("c"))
            .orderBy(F.desc("c"), F.asc("word")).limit(vocab_size)
            .select("word"))


def _window_pairs_expr(toks, window: int):
    """array<struct<w1,w2>> of BOTH directions of every within-window
    ordered pair — built inside the array (narrow), guarded so
    sequence() never runs descending (the Spark count-DOWN trap; the
    inner sequence is ascending iff window >= 1, which
    cooccurrence_counts validates). `toks` must be a MATERIALIZED
    column reference, not a computed expression — the shingles lesson:
    HOF lambdas re-evaluate embedded expressions per element."""
    n = F.size(toks)
    starts = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
        .otherwise(F.array().cast("array<int>"))
    fwd = F.flatten(F.transform(starts, lambda i: F.transform(
        F.sequence(i + 1, F.least(i + F.lit(window), n)),
        lambda j: F.struct(F.element_at(toks, i).alias("w1"),
                           F.element_at(toks, j).alias("w2")))))
    rev = F.transform(fwd, lambda p: F.struct(
        p["w2"].alias("w1"), p["w1"].alias("w2")))
    return F.concat(fwd, rev)


def cooccurrence_counts(df: DataFrame, text_col: str = "text",
                        window: int = 2,
                        vocab: DataFrame | None = None,
                        vocab_size: int = 1000) -> DataFrame:
    """(w1, w2, n) symmetric within-window co-occurrence counts over
    the top-V vocabulary. One explode + one aggregate; <= V^2 rows."""
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    if vocab is None:
        vocab = top_vocabulary(df, text_col, vocab_size)
    v = F.broadcast(vocab.select(F.col("word")))
    # materialize the token array BEFORE the pair HOF references it
    # (size + 2 element_at per pair would otherwise re-run the full
    # regexp tokenizer per element — review-caught, ~4x at sf1)
    pairs = (ensure_min_partitions(df)
             .select(tokens_expr(F.col(text_col)).alias("__toks"))
             .select(F.explode(_window_pairs_expr(
                 F.col("__toks"), window)).alias("p"))
             .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")))
    pairs = (pairs.join(v.withColumnRenamed("word", "w1"), "w1", "left_semi")
             .join(v.withColumnRenamed("word", "w2"), "w2", "left_semi"))
    return pairs.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("n"))


def ppmi_scores(cooc: DataFrame) -> DataFrame:
    """(w1, w2, ppmi): positive pointwise mutual information
    ppmi = max(0, ln(n * N / (n1 * n2))) with N the total pair mass
    and n1/n2 the marginals — all broadcast-size joins; rounded to 6
    digits for engine-portable comparison."""
    # cooc feeds FOUR subtrees below (total, both marginals, the join
    # spine): without lineage truncation each reference re-runs the
    # whole upstream count pipeline — vocab + tokenize + window-pair
    # explode per reference (measured: the ppmi_topk plan held ~15
    # parquet scans and zero ReusedExchange). The cut is skipped when
    # the caller already checkpointed (the apriori/_frequency_levels
    # convention); the table is <= V^2 rows by construction.
    cooc = cut(cooc)
    # "__total", not "N": Spark resolves case-insensitively, so "N"
    # collides with the count column "n"
    total = cooc.agg(F.sum("n").alias("__total"))
    m1 = cooc.groupBy("w1").agg(F.sum("n").alias("n1"))
    m2 = cooc.groupBy("w2").agg(F.sum("n").alias("n2"))
    return (cooc.join(F.broadcast(m1), "w1")
            .join(F.broadcast(m2), "w2")
            .crossJoin(F.broadcast(total))
            .select("w1", "w2", F.round(F.greatest(
                F.lit(0.0),
                F.log((F.col("n").cast("double") * F.col("__total"))
                      / (F.col("n1").cast("double") * F.col("n2")))),
                6).alias("ppmi")))


def logdice_scores(cooc: DataFrame) -> DataFrame:
    """(w1, w2, logdice): the lexicographer's collocation-strength
    score logDice = 14 + log₂(2·n/(n1+n2)) (Rychlý 2008, the Sketch
    Engine measure) — the PPMI companion that does NOT grow with
    corpus size (PMI inflates rare pairs; logDice is a harmonic-mean
    association capped at 14, comparable across corpora — the measure
    to rank collocations for a training-data audit). Same shape as
    ppmi_scores: two V-row marginal aggregates broadcast-joined back;
    rounded to 6 digits for engine-portable comparison."""
    # three references below — same lineage cut as ppmi_scores
    cooc = cut(cooc)
    m1 = cooc.groupBy("w1").agg(F.sum("n").alias("n1"))
    m2 = cooc.groupBy("w2").agg(F.sum("n").alias("n2"))
    log2 = math.log(2.0)
    return (cooc.join(F.broadcast(m1), "w1")
            .join(F.broadcast(m2), "w2")
            .select("w1", "w2", F.round(
                F.lit(14.0)
                + F.log((2.0 * F.col("n").cast("double"))
                        / (F.col("n1") + F.col("n2")).cast("double"))
                / F.lit(log2), 6).alias("logdice")))


def _coo_matvec_frame(coo: DataFrame, key_col: str, lookup_col: str,
                      val_col: str, sketch: DataFrame, l: int) -> DataFrame:
    """The distributed half of one sparse matrix-panel product
    Y[key] = sum_j A[key, j] * W[j]: broadcast-join the V x l sketch
    panel on `lookup_col`, scale by the COO value, and sum the l
    components per key — one broadcast join + one hash aggregate with
    map-side combine, no shuffle of the sketch. Split out so the plan
    shape is pin-testable."""
    prods = coo.join(F.broadcast(sketch), lookup_col).select(
        key_col,
        *[(F.col(val_col) * F.element_at("__w", k + 1)).alias(f"__y{k}")
          for k in range(l)])
    return prods.groupBy(key_col).agg(
        *[F.sum(f"__y{k}").alias(f"__y{k}") for k in range(l)])


def _coo_matmul(coo: DataFrame, key_col: str, lookup_col: str,
                val_col: str, W: np.ndarray, words: list[str],
                index: dict[str, int]) -> np.ndarray:
    """Distributed Y = A @ W (or A^T @ W with key/lookup swapped) for
    a string-keyed COO matrix; returns the dense V x l numpy panel.
    Words with no COO row get a zero row."""
    spark = coo.sparkSession
    l = W.shape[1]
    sketch = local_frame(
        spark, [(w, [float(x) for x in W[i]]) for i, w in enumerate(words)],
        f"{lookup_col} string, __w array<double>")
    Y = np.zeros((len(words), l))
    for r in _coo_matvec_frame(coo, key_col, lookup_col, val_col,
                               sketch, l).collect():
        Y[index[r[key_col]]] = [r[f"__y{k}"] for k in range(l)]
    return Y


def distributed_ppmi_svd(ppmi: DataFrame, words: list[str], dim: int,
                         n_oversamples: int = 10, n_iter: int = 2,
                         seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Randomized range-finder SVD (Halko, Martinsson & Tropp 2011 —
    reference da.linalg.svd_compressed's algorithm) of the sparse
    (w1, w2, ppmi) table WITHOUT materializing V x V anywhere: the
    COO frame stays on executors, every product is one broadcast
    join + aggregate (_coo_matvec_frame), and the driver holds only
    V x l panels. Returns (U[:, :dim], S[:dim]).

    With n_oversamples >= V - dim the sketch spans the full row space
    and the factorization is exact (how the parity test pins it to the
    dense-numpy path)."""
    V = len(words)
    l = min(V, dim + n_oversamples)
    index = {w: i for i, w in enumerate(words)}
    rng = np.random.RandomState(seed)
    W = rng.standard_normal((V, l))
    # range finder + power iterations (QR re-orthonormalization per
    # pass, Halko alg 4.4); A @ X keys on w1 / looks up w2, A^T @ X
    # swaps them (PPMI is symmetric, but don't rely on it)
    Y = _coo_matmul(ppmi, "w1", "w2", "ppmi", W, words, index)
    Q, _ = np.linalg.qr(Y)
    for _ in range(n_iter):
        Z = _coo_matmul(ppmi, "w2", "w1", "ppmi", Q, words, index)
        Qz, _ = np.linalg.qr(Z)
        Y = _coo_matmul(ppmi, "w1", "w2", "ppmi", Qz, words, index)
        Q, _ = np.linalg.qr(Y)
    # B^T = A^T @ Q is V x l; SVD of B (l x V) on the driver is small
    Bt = _coo_matmul(ppmi, "w2", "w1", "ppmi", Q, words, index)
    Ub, S, _ = np.linalg.svd(Bt.T, full_matrices=False)
    U = Q @ Ub
    k = min(dim, len(S))
    return U[:, :k], S[:k]


# above this vocab size, "auto" switches from the dense driver-side
# numpy SVD (V x V doubles: 4096^2 = 128 MB) to the distributed
# sparse-COO randomized SVD
_DRIVER_SVD_VOCAB_CEILING = 4096


def train_static_embeddings(df: DataFrame, text_col: str = "text",
                            dim: int = 16, window: int = 2,
                            vocab_size: int = 500,
                            solver: str = "auto",
                            n_oversamples: int = 10,
                            n_iter: int = 2,
                            random_state: int = 0) -> DataFrame:
    """(word, embedding array<double>) — L2-normalized rank-`dim` SVD
    factors of the PPMI matrix (U * sqrt(S), the standard count-based
    embedding). Distributed counting always; the factorization is
    solver="driver" (exact numpy on the dense V x V matrix, V <= ~4k),
    solver="distributed" (sparse-COO randomized SVD, driver holds only
    V x l panels — the 50k+-vocab scale path), or "auto" (driver up to
    V = 4096, distributed beyond)."""
    if solver not in ("auto", "driver", "distributed"):
        raise ValueError(
            f"solver must be 'auto', 'driver' or 'distributed', got {solver!r}")
    vocab = top_vocabulary(df, text_col, vocab_size)
    words = [r["word"] for r in vocab.collect()]
    index = {w: i for i, w in enumerate(words)}
    # rebuild the vocab frame from the already-collected words (no
    # second lineage execution)
    spark = df.sparkSession
    vocab_df = local_frame(spark, [(w,) for w in words], "word string")
    ppmi = ppmi_scores(cooccurrence_counts(
        df, text_col, window, vocab=vocab_df))
    if solver == "auto":
        solver = ("driver" if len(words) <= _DRIVER_SVD_VOCAB_CEILING
                  else "distributed")
    if solver == "distributed":
        U, S = distributed_ppmi_svd(ppmi, words, dim,
                                    n_oversamples=n_oversamples,
                                    n_iter=n_iter, seed=random_state)
        E = U * np.sqrt(S)[None, :]
    else:
        # pull the PPMI table via Arrow — V^2 PySpark Row objects
        # would cost GBs of driver Python objects at the documented V
        # ceiling where a flat frame is ~MBs
        pdf = ppmi.toPandas()
        M = np.zeros((len(words), len(words)))
        M[[index[w] for w in pdf["w1"]],
          [index[w] for w in pdf["w2"]]] = pdf["ppmi"].to_numpy()
        U, S, _ = np.linalg.svd(M, full_matrices=False)
        k = min(dim, len(S))
        E = U[:, :k] * np.sqrt(S[:k])[None, :]
    norms = np.linalg.norm(E, axis=1, keepdims=True)
    E = E / np.maximum(norms, 1e-12)
    return local_frame(
        spark, [(w, [float(v) for v in E[i]]) for i, w in enumerate(words)],
        "word string, embedding array<double>")
