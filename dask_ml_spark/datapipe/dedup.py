"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference operators (SURVEY §7.2 item 10): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard similarity — all as
pure DataFrame plans (no Python UDFs anywhere in this module), so at
100 TB they are shuffle-on-key aggregations Catalyst/AQE can plan,
skew-split and partially aggregate.

Hash parity note: every hash is derived from md5() so the duckdb
oracle can reproduce values bit-for-bit; the permutations are affine
maps modulo the Mersenne prime 2^31-1 computed in int64 (no overflow:
a,b < p, h < p → a*h+b < 2^62).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dask_ml_spark import utils
from dask_ml_spark.utils import ensure_min_partitions, local_frame

TOKEN_RE = "[a-z0-9_]{2,}"
MERSENNE_P = 2_147_483_647  # 2^31 - 1


def tokens_expr(text_col):
    return F.regexp_extract_all(F.lower(text_col), F.lit(TOKEN_RE), 0)


def shingles_from_tokens(toks, n: int = 3):
    """Word n-gram shingles (distinct) from an ALREADY-MATERIALIZED
    token-array column.  `toks` must be a plain column reference — if a
    computed expression (e.g. regexp_extract_all) is passed here it is
    re-evaluated for every element_at inside the lambda, turning an
    O(tokens) shingling into O(tokens · n) regex scans of the full
    document.  Callers project the token array first."""
    if n == 1:
        return F.array_distinct(toks)
    # positions 0..len-n; concat_ws of the n-gram window
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.array_distinct(grams)


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int):
    """(id, shingle) rows with the tokenizer evaluated once per doc
    through a projection boundary."""
    return (
        ensure_min_partitions(df)
        .select(F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
        .select(F.col(id_col),
                F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("shingle"))
    )


def base_hash_expr(col):
    """60-bit integer hash from md5 — reproducible in duckdb via
    ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_coeffs(n_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_P, size=n_hashes).tolist()
    b = rng.randint(0, MERSENNE_P, size=n_hashes).tolist()
    return a, b


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                normalize: bool = True) -> DataFrame:
    """Exact duplicate removal: keep the smallest id per content hash.

    One shuffle on the 128-bit content hash (uniform keys — no skew),
    map-side partial min. Output: (id, content_hash, dup_count).
    """
    norm = F.concat_ws(" ", tokens_expr(F.col(text_col))) if normalize else F.col(text_col)
    return (
        ensure_min_partitions(df).select(F.col(id_col), F.md5(norm).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select(id_col, "content_hash", "dup_count")
    )


def _literal_regex(sep: str) -> str:
    """Quote a separator for F.split, which regex-interprets its
    pattern: \\Q...\\E treats the whole separator literally (matching
    the LITERAL split the DuckDB oracles use via string_split)."""
    return "\\Q" + sep + "\\E"


def paragraph_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                    sep: str = "\n\n", min_chars: int = 1) -> DataFrame:
    """Sub-document (paragraph-level) exact dedup — the corpus-curation
    step that strips boilerplate repeated ACROSS documents (headers,
    footers, licence blocks) while keeping each document's unique prose.

    A paragraph survives iff (doc_id, paragraph index) is the GLOBAL
    first occurrence of its content hash (min doc_id, then min index —
    deterministic). Surviving paragraphs are reassembled in original
    order. Shape: one posexplode (narrow), one shuffle on the uniform
    content hash for the first-occurrence aggregate, a broadcast-able
    join back on the hash, and one groupBy(doc) reassembly — no
    self-join, no N².

    Output: (id, text, n_paragraphs, n_kept).
    """
    paras = (
        ensure_min_partitions(df)
        .select(F.col(id_col),
                F.posexplode(F.split(F.col(text_col), _literal_regex(sep)))
                .alias("__idx", "__para"))
        .where(F.length(F.trim(F.col("__para"))) >= min_chars)
        .withColumn("__h", F.md5(F.col("__para")))
    )
    first = (
        paras.groupBy("__h")
        .agg(F.min(F.struct(F.col(id_col).alias("d"), F.col("__idx").alias("i")))
             .alias("__first"))
        .select("__h", F.col("__first.d").alias("__fd"), F.col("__first.i").alias("__fi"))
    )
    kept = (
        paras.join(first, "__h")
        .withColumn("__keep", (F.col(id_col) == F.col("__fd")) & (F.col("__idx") == F.col("__fi")))
    )
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").alias("n_paragraphs"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("__keep"),
                               F.struct(F.col("__idx").alias("i"), F.col("__para").alias("p"))))),
                    lambda s: s["p"],
                ),
                sep,
            ).alias(text_col),
        )
        .select(id_col, text_col, "n_paragraphs", "n_kept")
    )


def remove_boilerplate(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       sep: str = "\n", min_docs: int = 2,
                       min_chars: int = 1) -> DataFrame:
    """Frequency-threshold boilerplate stripping: a line is boilerplate
    iff it occurs in >= ``min_docs`` DISTINCT documents, and then EVERY
    occurrence is dropped — the nav-bar/cookie-banner rule, vs
    ``paragraph_dedup`` which keeps the global first occurrence.

    Shape at 100 TB: one narrow posexplode, one shuffle on the uniform
    line hash for the distinct-doc count (map-side partial via the
    two-level groupBy Spark plans for countDistinct), one equi hash
    join back on the hash (the boilerplate side holds only lines
    repeated across >= min_docs docs — AQE broadcasts it when small),
    and one groupBy(doc) reassembly. No self-join, no N².

    Lines shorter than ``min_chars`` after trim (blank separators,
    markup debris) are never counted and never removed — they are
    document structure, not boilerplate.

    Output: (id, text, n_lines, n_kept).
    """
    lines = (
        ensure_min_partitions(df)
        .select(F.col(id_col),
                F.posexplode(F.split(F.col(text_col), _literal_regex(sep)))
                .alias("__idx", "__line"))
        .withColumn("__h", F.md5(F.col("__line")))
        .withColumn("__counted", F.length(F.trim(F.col("__line"))) >= min_chars)
    )
    boiler = (
        lines.where(F.col("__counted"))
        .groupBy("__h")
        .agg(F.countDistinct(id_col).alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("__h", F.lit(True).alias("__is_boiler"))
    )
    marked = (lines.join(boiler, "__h", "left")
              .withColumn("__keep",
                          F.col("__is_boiler").isNull() | ~F.col("__counted")))
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("__keep"),
                               F.struct(F.col("__idx").alias("i"),
                                        F.col("__line").alias("p"))))),
                    lambda s: s["p"],
                ),
                sep,
            ).alias(text_col),
        )
        .select(id_col, text_col, "n_lines", "n_kept")
    )


def remove_repeated_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", span_tokens: int = 5,
                          min_occurrences: int = 2,
                          keep_first: bool = True) -> DataFrame:
    """Corpus-wide repeated-SPAN removal — the token-window
    approximation of exact-substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better";
    reference has no analog — line/paragraph ops stop at structural
    boundaries, this catches verbatim reuse ANYWHERE in the stream).

    Every ``span_tokens``-token window (stride 1) is hashed; a window
    whose hash occurs >= ``min_occurrences`` times corpus-wide (across
    OR within documents) is a repeated span. With ``keep_first`` the
    lexicographically first occurrence (min (id, pos)) of each span is
    exempt PER WINDOW — its tokens are only guaranteed to survive if
    no OTHER duplicate window covers them, so self-overlapping runs
    ("loop" * 10) collapse to roughly one period rather than keeping
    the whole first window. With ``keep_first=False`` every copy is
    removed (the boilerplate rule). Overlapping removed windows merge
    naturally — their covered token index sets union — so a repeated
    region of length L >= span_tokens disappears wholesale, not
    window-by-window.

    Shape at 100 TB: window hashing is a narrow per-row transform
    (~|tokens| rows, one 16-byte hash each); the occurrence count and
    first-occurrence min are ONE shuffle on the uniform hash with
    map-side partial aggregation (min(struct) — no per-hash window, so
    a nav-bar span repeated 10^6 times costs partial-aggregate merges,
    not a single-task sort); the join back fans out linearly in
    occurrence count; coverage explode multiplies only DUPLICATED
    windows by span_tokens; the final (id, idx) anti-mark join and
    groupBy(id) reassembly are uniform-key shuffles. No self-join,
    no N².

    Tokens are ``tokens_expr`` tokens (the datapipe-wide convention),
    so the output ``text`` is the cleaned token stream, space-joined —
    what packing/mixture stages consume downstream.

    Output: (id, text, n_tokens, n_kept).
    """
    t = F.col("__toks")
    # tokenize ONCE: base feeds both the window pass and the final
    # reassembly join; without the (lazy) checkpoint each reference
    # re-ran the regexp tokenizer over the full text (3 evaluations
    # measured in the old plan). The NULL-text filter preserves the
    # old shape's semantics (such rows appeared in no output branch).
    base = (ensure_min_partitions(df)
            .select(F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
            .where(F.col("__toks").isNotNull())
            .localCheckpoint(eager=False))
    # 1-based window start positions; guarded so sequence() never sees
    # start > stop (Spark would count DOWN, not return empty)
    starts = F.when(
        F.size(t) >= span_tokens,
        F.sequence(F.lit(1), F.size(t) - span_tokens + 1)
    ).otherwise(F.array().cast("array<int>"))
    wins = (base.select(
        F.col(id_col),
        F.explode(F.transform(starts, lambda p: F.struct(
            (p - 1).alias("pos"),
            F.md5(F.array_join(F.slice(t, p, span_tokens), " ")).alias("h"))))
        .alias("__w"))
        .select(F.col(id_col), F.col("__w.pos").alias("pos"),
                F.col("__w.h").alias("h"))
        # consumed twice (occurrence agg + join back); localCheckpoint,
        # not persist, so the ContextCleaner reclaims the blocks; LAZY —
        # it materializes inside the query's own first stage instead of
        # costing an extra build-time job (eager was measured as one
        # whole extra pass at construction)
        .localCheckpoint(eager=False))
    dup = (wins.groupBy("h")
           .agg(F.count("*").alias("__occ"),
                F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first"))
           .where(F.col("__occ") >= min_occurrences))
    marked = wins.join(dup, "h")
    if keep_first:
        marked = marked.where(~(
            (F.col(id_col) == F.col(f"__first.{id_col}"))
            & (F.col("pos") == F.col("__first.pos"))))
    # per-doc sorted covered-index SET (collect_set dedups overlapping
    # windows) — shuffles only DUPLICATED window indices by id, where
    # the old shape posexploded EVERY token, shuffled the full token
    # stream twice ((id, idx) distinct + (id, idx) join) and re-sorted
    # every document's tokens through a collect_list aggregate
    cov = (marked.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"),
                             F.col("pos") + span_tokens - 1)).alias("__idx"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__idx")).alias("__cov")))
    joined = base.join(cov, id_col, "left")
    # reassemble by slicing the gaps between covered indices (linear in
    # doc length): ext = [-1, cov..., n] and the kept tokens are the
    # concatenation of toks[(ext[i]+1) .. (ext[i+1]-1)] per gap
    ext = F.concat(F.array(F.lit(-1)), F.col("__cov"),
                   F.array(F.size(t)))
    segs = F.transform(
        F.sequence(F.lit(0), F.size(ext) - 2),
        lambda i: F.slice(
            t,
            F.element_at(ext, i + 1) + 2,
            F.element_at(ext, i + 2) - F.element_at(ext, i + 1) - 1))
    kept_arr = F.when(F.col("__cov").isNotNull(),
                      F.flatten(segs)).otherwise(t)
    return joined.select(
        F.col(id_col),
        F.array_join(kept_arr, " ").alias(text_col),
        F.size(t).cast("long").alias("n_tokens"),
        F.size(kept_arr).cast("long").alias("n_kept"))


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_hashes: int = 16, shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """MinHash signature per document: explode shingles → n affine
    hashes → min per document. One explode + one groupBy(id) with
    map-side combine; signature columns m0..m{n-1}."""
    a, b = minhash_coeffs(n_hashes, seed)
    h = F.pmod(base_hash_expr(F.col("shingle")), F.lit(MERSENNE_P))
    exploded = _exploded_shingles(df, text_col, id_col, shingle_n).withColumn("h", h)
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a[i]) + F.lit(b[i]), F.lit(MERSENNE_P))).alias(f"m{i}")
        for i in range(n_hashes)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n_hashes: int = 16, bands: int = 4, shingle_n: int = 3,
                      seed: int = 42) -> DataFrame:
    """Candidate near-duplicate pairs: documents agreeing on ALL rows
    of at least one LSH band. rows_per_band = n_hashes // bands.

    Scale shape: signatures (1 row/doc) → explode to `bands` rows →
    shuffle on (band, band_signature) → within-bucket pairs. Bucket
    sizes are data-dependent; AQE skew-split handles hot buckets.
    Output: (id_a, id_b, n_shared_bands).
    """
    r = n_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n_hashes, shingle_n, seed)
    # all bands in ONE pass over the signatures (a unionAll of per-band
    # selects would recompute the signature aggregation per band); the
    # self-join's two sides share an identical subplan that AQE/exchange
    # reuse evaluates once.
    band_arr = F.array(*[
        F.concat_ws("_", *[F.col(f"m{bi * r + j}").cast("string") for j in range(r)])
        for bi in range(bands)
    ])
    # localCheckpoint(eager=False), NOT persist: the self-join plans
    # one side as a broadcast, so exchange reuse cannot share the
    # signature aggregation between sides — pinning makes it compute
    # once. A library-level persist() registers in the session
    # CacheManager and leaks until someone calls unpersist()/
    # clearCache(); checkpoint RDD blocks are reclaimed by the
    # ContextCleaner once the result frame is dropped. Lazy, so the
    # signatures materialize inside the main query (an eager
    # checkpoint runs a separate job per call — measured 2x slower).
    # Fault-tolerance trade: checkpoint blocks are UNREPLICATED and
    # lineage is truncated, so an executor loss after materialization
    # fails the query instead of recomputing the partition — on a
    # long multi-hour cluster job, retries must restart the query (or
    # swap in checkpoint() to reliable storage).
    banded = sig.localCheckpoint(eager=False).select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "band_key")
    )
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col(f"l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            n_bits: int = 32) -> DataFrame:
    """SimHash fingerprint: per token-hash bit b, sum ±1 over tokens;
    fingerprint bit = sign. Pure explode + groupBy aggregation.
    Output: (id, simhash bigint)."""
    toks = ensure_min_partitions(df).select(
        F.col(id_col), F.explode(tokens_expr(F.col(text_col))).alias("token")
    ).withColumn("h", base_hash_expr(F.col("token")))
    # bit b of h via integer shiftright (float division would lose
    # precision past 53 bits); duckdb reproduces with (h // 2^b) % 2
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), bb).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{bb}")
        for bb in range(n_bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fp = F.lit(0).cast("long")
    for bb in range(n_bits):
        fp = fp + F.when(F.col(f"b{bb}") > 0, F.lit(int(2**bb)).cast("long")).otherwise(F.lit(0).cast("long"))
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       n_bits: int = 32, max_hamming: int = 3, n_blocks: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash with Hamming distance ≤ max_hamming,
    using the pigeonhole block trick: split the fingerprint into
    n_blocks ≥ max_hamming+1 blocks; any pair within distance must
    agree exactly on ≥1 block → join per block, verify distance.
    Avoids the N² cross join entirely."""
    fps = simhash(df, text_col, id_col, n_bits)
    bits_per = n_bits // n_blocks
    # one pass: array of block values + posexplode (see minhash note)
    block_arr = F.array(*[
        F.pmod(F.shiftright(F.col("simhash"), blk * bits_per), F.lit(int(2**bits_per)))
        for blk in range(n_blocks)
    ])
    # lazy localCheckpoint of the 1-row-per-doc fingerprints (see the
    # minhash_lsh_pairs note — persist would leak the CacheManager
    # entry for the session); the block explode re-derives per side.
    blocks = fps.localCheckpoint(eager=False).select(
        F.col(id_col), F.col("simhash"), F.posexplode(block_arr).alias("blk", "blk_val")
    )
    l, r = blocks.alias("l"), blocks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.blk_val") == F.col("r.blk_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    # hamming via bitwise xor + popcount (bit_count in Spark 3.3+/duckdb)
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", ham).where(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3, min_jaccard: float = 0.0,
                        min_shared: int = 1) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs that share
    ≥ min_shared shingles. Inverted-index self-join: explode distinct
    shingles → join on shingle → count shared → |A∪B| from per-doc set
    sizes. The join key (shingle) is the scale hazard — very common
    shingles create hot keys; drop top-frequency shingles upstream or
    rely on AQE skew handling. Output: (id_a, id_b, jaccard)."""
    # No pin: the exploded shingles are CORPUS-scale (one row per
    # shingle occurrence), so neither persist (session CacheManager
    # leak) nor localCheckpoint (eager executor materialization of the
    # whole corpus) is safe in a library call. The frame is a pure
    # narrow map+explode; the two join sides share an identical
    # shuffle-on-shingle subplan that exchange reuse evaluates once,
    # and the sizes aggregate re-runs one narrow scan.
    sh = _exploded_shingles(df, text_col, id_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("set_size"))
    # SHUFFLE_HASH instead of the planner's broadcast pick at small
    # estimated sizes: a broadcast self-join evaluates the
    # tokenize+shingle explode once PER SIDE (no exchange to reuse —
    # measured 3.1 -> 2.0 s at sf0.1), while the shuffled-hash form
    # shuffles both sides on the shingle and exchange reuse computes
    # the explode ONCE. At corpus scale this is the join the planner
    # would pick anyway (no sort, AQE sizes the build partitions and
    # its skew handling splits hot shingles for SHJ since Spark 3.2).
    l, r = sh.alias("l"), sh.hint("shuffle_hash").alias("r")
    shared = (
        l.join(r, (F.col("l.shingle") == F.col("r.shingle")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    out = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared")))
        .select("id_a", "id_b", "jaccard")
    )
    if min_jaccard > 0:
        out = out.where(F.col("jaccard") >= min_jaccard)
    return out


def lsh_plane_matrix(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic random-hyperplane matrix (shared with the SQL
    oracle generator so both engines compute identical buckets)."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def derive_lsh_geometry(n: int, threshold: float, n_bands: int,
                        bits_per_band: int) -> tuple[int, int]:
    """The auto_scale geometry rule, shared by the operator and the
    SQL-oracle builder (sql_embedding_near_dup_scaled) so the two can
    never drift: bits ≈ log2(N)+4 pins expected spurious pairs to
    ~N·n_bands/32 (linear in N), then — recall is the CONTRACT, the
    band budget the constraint — if ≥95% band-survival at `needed`
    bits would take more than 64 bands, shed bits (candidates grow 2×
    per shed bit, still exponentially below the fixed-geometry N²)
    rather than silently losing recall."""
    import math

    needed = math.ceil(math.log2(max(n, 2)) + 4)
    if needed > bits_per_band:
        p_bit = 1.0 - math.acos(min(threshold, 0.999)) / math.pi
        bits = needed
        while bits > bits_per_band:
            bands_req = math.ceil(math.log(20.0) / (p_bit ** bits))
            if bands_req <= 64:
                break
            bits -= 1
        bits_per_band = bits
        n_bands = max(n_bands, math.ceil(
            math.log(20.0) / (p_bit ** bits_per_band)))
    return n_bands, bits_per_band


def embedding_near_dup_pairs(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
                             threshold: float = 0.95, n_bands: int = 12,
                             bits_per_band: int = 12, seed: int = 42,
                             exact: bool = False, dim: int | None = None,
                             auto_scale: bool = True) -> DataFrame:
    """Embedding-cosine near-duplicates.

    Scale path (default): BANDED random-hyperplane LSH, the same
    (band, bucket) scheme as `CosineLSHIndex` — each of `n_bands` bands
    hashes a vector to a `bits_per_band`-bit bucket; candidates collide
    in ≥1 band and are verified with the true cosine. Bucket-size math
    (Charikar 2002, per-bit collision 1 − θ/π): a random non-dup pair
    collides in a band with prob 2^-bits_per_band, so expected spurious
    candidates ≈ N²/2 · n_bands · 2^-bits_per_band — shrinking
    EXPONENTIALLY with bits_per_band — while a 0.95-cosine pair
    (per-bit ≈ 0.90) survives ≥1 of the default 12×12 bands with
    prob ≈ 0.98. A single coarse code (the pre-r4 design, 2^8 buckets
    total) instead grows candidates as N²/256 at corpus scale.

    auto_scale (default): FIXED bits make spurious candidates grow as
    N² (the sf0.1→sf1 bench measured exactly that: 100× candidates for
    10× rows). One count() pass derives bits ≈ log2(N)+4 — pinning
    expected spurious pairs to ~N·n_bands/32, i.e. LINEAR in N — and
    re-derives n_bands so a threshold-cosine pair still survives ≥1
    band with ≥95% probability (bands ≈ ln20 / p_bit^bits). Pass
    auto_scale=False to pin the geometry (the SQL-oracle catalog query
    does, so its plane literals stay reproducible).

    All n_bands·bits_per_band projections per row are ONE BLAS matmul
    in an Arrow-batched pandas UDF (shared with CosineLSHIndex); the
    exact-cosine re-rank of the (small) candidate set stays JVM-side.
    exact=True is the all-pairs baseline for small inputs / recall
    measurement. Norms are computed ONCE per row before the join.
    """
    from dask_ml_spark.functions.vector import dot, norm2

    base = df.select(id_col, vec_col).withColumn("__norm", norm2(F.col(vec_col)))
    if not exact:
        from dask_ml_spark.datapipe.similarity import CosineLSHIndex

        if dim is None:
            dim = len(df.select(vec_col).first()[0])
        if auto_scale:
            n_bands, bits_per_band = derive_lsh_geometry(
                df.count(), threshold, n_bands, bits_per_band)
        idx = CosineLSHIndex(n_bands=n_bands, bits_per_band=bits_per_band,
                             seed=seed, vec_col=vec_col, id_col=id_col)
        # shared matrix with the SQL-oracle generator (lsh_plane_matrix
        # and CosineLSHIndex.fit draw identically for the same seed)
        idx.hyperplanes_ = lsh_plane_matrix(n_bands * bits_per_band, dim, seed)
        buckets = idx._buckets_udf()
        coded = base.select(
            id_col, vec_col, "__norm",
            F.posexplode(buckets(F.col(vec_col))).alias("band", "bucket"),
        )
        # explicit key repartition before the self-join: the coded rows
        # are SMALL (id + vector + two ints), so AQE coalesces the join
        # exchange down to one task and the candidate-pair explosion
        # then runs serially (observed at sf1: one task, minutes).
        # A user-specified repartition is exempt from AQE coalescing
        # and the self-join reuses the co-partitioning — same shuffle
        # count, full parallelism on the explosion.
        # scale-adaptive: one partition per core at any cluster size
        # (a hard floor above defaultParallelism only binds below that
        # many cores, where it over-splits the tiny coded table)
        parts = df.sparkSession.sparkContext.defaultParallelism
        coded = coded.repartition(parts, F.col("band"), F.col("bucket"))
        l, r = coded.alias("l"), coded.alias("r")
        pairs = l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        # cosine + threshold BEFORE the dedup shuffle: a multi-band
        # collision re-computes the cosine (rare — most pairs collide in
        # one band), but the exchange then carries only (id_a, id_b,
        # cosine) for pairs that actually pass the threshold, instead of
        # every candidate row with both embedding vectors attached
        cos = (dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
               / (F.col("l.__norm") * F.col("r.__norm")))
        return (
            pairs.select(
                F.col(f"l.{id_col}").alias("id_a"),
                F.col(f"r.{id_col}").alias("id_b"),
                cos.alias("cosine"),
            )
            .where(F.col("cosine") >= threshold)
            .dropDuplicates(["id_a", "id_b"])  # multi-band collisions → one pair
        )
    l, r = base.alias("l"), base.alias("r")
    pairs = l.join(r, F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    cos = dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}")) / (F.col("l.__norm") * F.col("r.__norm"))
    return (
        pairs.select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond", alg. 2): every node connects its
    strictly-larger neighbors to the minimum of its closed
    neighborhood. One groupBy + one join, both keyed on the node."""
    sym = _symmetrize(edges)
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m"))
    return (sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round (ibid., alg. 3): orient each edge toward its
    larger endpoint, then connect each node's smaller neighbors (and
    itself) to the minimum of them."""
    oriented = (edges.select(F.greatest("src", "dst").alias("src"),
                             F.least("src", "dst").alias("dst"))
                .where(F.col("src") != F.col("dst"))
                .distinct())
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relink = (oriented.join(mins, "src")
              .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
              .where(F.col("src") != F.col("dst")))
    keep = mins.select("src", F.col("m").alias("dst"))
    return relink.unionAll(keep).distinct()


def _edge_signature(edges: DataFrame) -> tuple:
    """(edge count, XOR of edge hashes): the loop's convergence
    certificate, order-insensitive and overflow-free, in one scalar
    aggregate. The count is also what the driver-finish gate reads."""
    sig = edges.agg(F.count("*").alias("n"),
                    F.coalesce(_xor_agg(), F.lit(0)).alias("h")).first()
    return sig["n"], sig["h"]


def duplicate_clusters(pairs: DataFrame, id_a: str = "id_a",
                       id_b: str = "id_b", max_iter: int = 50) -> DataFrame:
    """Connected components over a near-duplicate pair list: every
    document gets a cluster id = the MIN document id reachable through
    pair edges. Pairs say "these two are dups"; clusters are what a
    curation pipeline acts on ("keep one representative per group").

    Returns (node long, cluster long): one row per document that
    appears in an edge. An edge is a pair of two distinct non-NULL ids:
    a pair with a NULL id is dropped, and a self-pair (a, a) is no edge
    (a document paired only with itself is a singleton). Singletons
    are their own cluster by definition and are not materialized. Both
    id columns must be integral (byte/short/int/long), else ValueError.

    Alternating large-star/small-star contraction (Kiveris et al.
    2014, "Connected Components in MapReduce and Beyond"): O(log² n)
    rounds REGARDLESS of component diameter, so long chains (doc A ~ B
    ~ C ~ ..., DBSCAN density chains) cost no more rounds than LSH's
    near-cliques. Each round's ``_edge_signature`` (edge count, XOR of
    edge hashes) is the convergence certificate: at convergence the
    edge set is a union of stars centered at each component's minimum
    id, so the map is the edge list itself plus a (root, root) row per
    center. No stable signature within ``max_iter`` rounds raises
    RuntimeError instead of returning a half-contracted map.

    Driver finish (the standard local phase of parallel CC, cf.
    FastSV-style hybrids): once the signature counts at most
    ``utils.MAX_DRIVER_EDGES`` edges (read at call time), the remaining
    graph is collected in ONE Arrow batch and finished with driver-side
    union-find. Each distributed round costs a fixed ~5 shuffle-stage
    launches regardless of size, so contracting a small tail
    distributedly is pure scheduling overhead (measured 5x on a
    94k-edge graph). At corpus scale the loop does the real contraction
    work and the collect stays bounded by the constant; 0 forces the
    distributed loop to the end.
    """
    for c in (id_a, id_b):
        dt = pairs.schema[c].dataType
        if not isinstance(dt, T.IntegralType):
            raise ValueError(
                f"duplicate_clusters: id column {c!r} is {dt.simpleString()}; "
                "ids must be integral (byte/short/int/long)")
    # localCheckpoint (not persist): each round's plan nests two
    # joins + three exchanges on top of the last, so lineage grows
    # exponentially across rounds — truncating it per round is what
    # keeps the optimizer's work O(1) per round, and a library
    # persist() would leak its CacheManager entry for the session
    # (checkpoint blocks are ContextCleaner-reclaimed once dropped).
    # LAZY (eager=False): the signature aggregate right below is the
    # first action anyway, so it materializes the checkpoint in the
    # SAME job — an eager checkpoint would run one extra job per round
    # (measured ~2x the job count on small fixed inputs where
    # scheduling, not data, is the cost). Fault-tolerance note:
    # checkpoint blocks are unreplicated and lineage is truncated, so
    # losing an executor mid-loop fails the job instead of recomputing
    # the partition — on a real cluster swap in checkpoint() to a
    # reliable store if executor loss during the loop must be
    # survivable. `src != dst` also drops the NULL-id pairs.
    edges = (pairs.select(F.col(id_a).cast("long").alias("src"),
                          F.col(id_b).cast("long").alias("dst"))
             .where(F.col("src") != F.col("dst"))
             .distinct().localCheckpoint(eager=False))
    sig = _edge_signature(edges)
    rounds = 0
    while sig[0] > utils.MAX_DRIVER_EDGES:
        if rounds == max_iter:
            raise RuntimeError(
                f"duplicate_clusters did not converge in max_iter={max_iter} "
                f"rounds ({sig[0]} edges left); raise max_iter")
        rounds += 1
        new_edges = _small_star(_large_star(edges)).localCheckpoint(
            eager=False)
        new_sig = _edge_signature(new_edges)
        edges.unpersist()
        edges = new_edges
        if new_sig == sig:
            roots = edges.select(F.col("dst").alias("node")).distinct()
            return (edges.select(F.col("src").alias("node"),
                                 F.col("dst").alias("cluster"))
                    .unionAll(roots.select("node", F.col("node").alias("cluster"))))
        sig = new_sig
    return _components_local(edges)


def _components_local(edges: DataFrame) -> DataFrame:
    """Driver-side union-find finish for a measured-small edge set:
    ONE Arrow toPandas (the repo's bounded-collect idiom — never
    toLocalIterator), path-halving DSU, roots resolved to the MIN
    member id so labels match the distributed rendering exactly.
    Output contract matches duplicate_clusters: (node, cluster)
    for every node that appears in any edge."""
    import pandas as pd

    spark = edges.sparkSession
    pdf = edges.toPandas()
    if len(pdf) == 0:
        return local_frame(spark, [], "node long, cluster long")
    # compact ids -> dense indices for an array-backed DSU
    nodes = pd.unique(pd.concat([pdf["src"], pdf["dst"]], ignore_index=True))
    idx = {int(v): i for i, v in enumerate(nodes)}
    parent = list(range(len(nodes)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for s, d in zip(pdf["src"].to_numpy(), pdf["dst"].to_numpy()):
        ra, rb = find(idx[int(s)]), find(idx[int(d)])
        if ra != rb:
            parent[rb] = ra
    roots = [find(i) for i in range(len(nodes))]
    # min member id per component = the deterministic cluster label
    comp_min: dict = {}
    for i, r in enumerate(roots):
        v = int(nodes[i])
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    out = [(int(v), comp_min[r]) for v, r in zip(nodes, roots)]
    return local_frame(spark, out, "node long, cluster long")


def _xor_agg():
    """Order-insensitive, overflow-free edge-set fingerprint."""
    try:
        return F.bit_xor(F.xxhash64("src", "dst"))
    except AttributeError:  # older pyspark: expr fallback
        return F.expr("bit_xor(xxhash64(src, dst))")


def dedup_keep_representatives(docs: DataFrame, pairs: DataFrame,
                               id_col: str = "doc_id",
                               id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """The actionable dedup: drop every clustered document except the
    min-id representative; untouched documents pass through. One
    left-anti join against the (small) drop list."""
    clusters = duplicate_clusters(pairs, id_a, id_b)
    drop = clusters.where(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col))
    return docs.join(drop, id_col, "left_anti")


def semantic_dedup_pairs(df: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id", centroids=None,
                         n_clusters: int = 64, threshold: float = 0.9,
                         seed: int = 42, order: str = "id",
                         target_pairs_per_item: float | None = None,
                         quantizer: str = "auto") -> DataFrame:
    """SemDeDup within-cluster duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means cluster the embedding space, then call a
    pair a semantic duplicate when both vectors land in the SAME
    cluster and their cosine is >= threshold. The clustering bounds the
    candidate set — pairs are only computed within a cluster.

    Cost model (be precise — this is the operator's scale contract):
    with k clusters of average size c = N/k, total candidate-pair
    volume is k * c^2/2 = N^2/(2k). The PAPER's rule k ~ sqrt(N)
    therefore gives N^1.5 total pair work, not linear (measured: 6.7x
    runtime for 10x rows at that geometry). The join shuffles only on
    the cluster id and AQE's skew handling splits hot clusters, so it
    degrades gracefully — but for a LINEAR-cost run at corpus scale,
    set `target_pairs_per_item` instead: k is then sized ~ N/c so each
    item meets a bounded number of candidates (pair volume ~ N *
    target). The trade is recall — more, smaller clusters mean more
    true near-dup pairs split across cluster boundaries and missed;
    the paper's sqrt rule keeps clusters semantically coarse at the
    price of the N^1.5 term.

    target_pairs_per_item: expected candidate pairs charged to each
    item; sizes n_clusters = ceil(N / (2*target + 1)) from a count of
    df (one cheap aggregate job), overriding n_clusters when larger.
    Only meaningful with centroids=None (a pinned-centroid geometry is
    already fixed).

    quantizer: how cluster ids are produced.
      "kmeans" — the paper's flat quantizer (IVFIndex). Assignment is
        N·k distance evaluations, so with the linear-PAIR-volume knob
        (k ~ N/c) the QUANTIZER becomes the N²/c term: measured 11.6x
        runtime for 10x rows at target_pairs_per_item=8. Right for the
        paper's k ~ sqrt(N) geometry; wrong for k ~ N/c.
      "lsh" — cluster id = a ceil(log2 k)-bit random-hyperplane code
        (the simhash trick, same plane matrix the near-dup family
        uses). Assignment is N·log2(k) dot products — O(N log N) even
        at k ~ N/c — and buckets of similar vectors coincide with high
        probability, so the within-bucket pair semantics still hold.
        Buckets are less balanced than k-means cells (hyperplanes cut
        blindly), the recall/pair-volume trade is slightly worse, and
        there is no centroid, so order="centroid" is unavailable.
      "auto" (default) — "lsh" whenever target_pairs_per_item is set
        (the only honest linear-cost path), else "kmeans".

    order: "id" ranks cluster members by id (deterministic across
    engines — the SQL-oracle-able config); "centroid" is the
    paper-faithful ranking (ascending cosine to the cluster centroid,
    so outliers rank first and survive the greedy keep). The released
    SemDeDup implementation drops any item whose upper-triangle max
    similarity exceeds eps — i.e. a greedy "drop if similar to any
    earlier-ranked member", which is exactly what
    `semantic_dedup` implements on top of these pairs.

    centroids: pinned k x d list/ndarray (deterministic, oracle-able);
    None trains a sampled k-means quantizer (IVFIndex.fit).
    Output: (id_a, id_b, cluster, cosine) with rank(id_a) < rank(id_b).
    """
    from dask_ml_spark.datapipe.similarity import IVFIndex
    from dask_ml_spark.functions.vector import dot, norm2

    from dask_ml_spark.utils import ensure_min_partitions

    if target_pairs_per_item is not None:
        if centroids is not None:
            raise ValueError(
                "target_pairs_per_item sizes the quantizer; it cannot "
                "apply to pinned centroids")
        if target_pairs_per_item <= 0:
            raise ValueError("target_pairs_per_item must be > 0")
        # c = N/k average members per cluster; each item meets ~(c-1)/2
        # earlier-ranked members, so k = N/(2t+1) targets t pairs/item
        n = df.count()
        n_clusters = max(n_clusters,
                         -(-n // int(2 * target_pairs_per_item + 1)))
    if quantizer == "auto":
        quantizer = ("lsh" if target_pairs_per_item is not None
                     and centroids is None else "kmeans")
    if quantizer not in ("kmeans", "lsh"):
        raise ValueError(f"unknown quantizer {quantizer!r}")
    if quantizer == "lsh":
        if centroids is not None:
            raise ValueError("quantizer='lsh' has no centroids")
        if order == "centroid":
            raise ValueError(
                "order='centroid' needs the kmeans quantizer (hyperplane"
                " buckets have no centroid)")
        import math as _math

        from dask_ml_spark.datapipe.similarity import CosineLSHIndex

        bits = max(1, _math.ceil(_math.log2(max(n_clusters, 2))))
        dim = len(df.select(vec_col).first()[0])
        idx = CosineLSHIndex(n_bands=1, bits_per_band=bits, seed=seed,
                             vec_col=vec_col, id_col=id_col)
        idx.hyperplanes_ = lsh_plane_matrix(bits, dim, seed)
        buckets = idx._buckets_udf()
        base = (ensure_min_partitions(df.select(id_col, vec_col))
                .withColumn("cluster",
                            F.element_at(buckets(F.col(vec_col)), 1))
                .withColumn("__norm", norm2(F.col(vec_col))))
    else:
        ivf = IVFIndex(n_lists=n_clusters, seed=seed, vec_col=vec_col,
                       id_col=id_col)
        if centroids is not None:
            ivf.centroids_ = np.asarray(centroids, dtype="float64")
            ivf.n_lists = len(ivf.centroids_)
        else:
            ivf.fit(df)
        # repartition small inputs: assignment + the pair-join cosines
        # are per-row/per-pair expression work, and a single-file corpus
        # would otherwise run them in ONE task
        base = (ivf.assign(
            ensure_min_partitions(df.select(id_col, vec_col)),
            bucket_col="cluster")
            .withColumn("__norm", norm2(F.col(vec_col))))
    if order == "centroid":
        from pyspark.sql import Window

        cent_cos = _centroid_cosine_expr(ivf.centroids_, vec_col, "cluster")
        w = Window.partitionBy("cluster").orderBy(F.asc("__ccos"), F.asc(id_col))
        base = (base.withColumn("__ccos", cent_cos / F.col("__norm"))
                .withColumn("__rank", F.row_number().over(w)))
    elif order == "id":
        base = base.withColumn("__rank", F.col(id_col))
    else:
        raise ValueError(f"order must be 'id' or 'centroid', got {order!r}")
    # NOTE: unlike the banded-LSH self-join (embedding_near_dup_pairs),
    # no explicit key repartition here — with only ~sqrt(N) distinct
    # clusters a user repartition on `cluster` skews badly AND disables
    # AQE's skew-join splitting, which is exactly what balances a hot
    # cluster's pair mass (measured: explicit repartition 16.9s vs AQE
    # 9.0s at sf1)
    l, r = base.alias("l"), base.alias("r")
    pairs = l.join(
        r,
        (F.col("l.cluster") == F.col("r.cluster"))
        & (F.col("l.__rank") < F.col("r.__rank")),
    )
    cos = (dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
           / (F.col("l.__norm") * F.col("r.__norm")))
    return (
        pairs.select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.cluster").alias("cluster"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _centroid_cosine_expr(centroids, vec_col: str, cluster_col: str):
    """dot(vec, centroid[cluster]) as a literal-folded CASE chain —
    JVM-side, no UDF; the caller divides by the row norm (centroid
    norms fold into the literals)."""
    from dask_ml_spark.functions.vector import dot

    expr = F.lit(None).cast("double")
    for ci, c in enumerate(np.asarray(centroids, dtype="float64")):
        cn = float(np.sqrt((c * c).sum())) or 1.0
        lit = F.array(*[F.lit(float(v) / cn) for v in c])
        expr = F.when(F.col(cluster_col) == ci, dot(F.col(vec_col), lit)).otherwise(expr)
    return expr


def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", centroids=None,
                   n_clusters: int = 64, threshold: float = 0.9,
                   seed: int = 42, order: str = "id",
                   target_pairs_per_item: float | None = None,
                   quantizer: str = "auto") -> DataFrame:
    """SemDeDup keep-set: drop every vector that is a semantic
    duplicate (cosine >= threshold) of an EARLIER-ranked member of its
    cluster; keep everything else, singletons included. Matches the
    released SemDeDup's triu-max rule (see semantic_dedup_pairs —
    including its cost model: paper geometry k~sqrt(N) is N^1.5 pair
    work; pass target_pairs_per_item for a linear-cost run).
    One left-anti join against the (small) drop list — at 100 TB the
    corpus streams through unshuffled; only the pair computation
    shuffles, and only on the cluster id."""
    pairs = semantic_dedup_pairs(df, vec_col, id_col, centroids,
                                 n_clusters, threshold, seed, order,
                                 target_pairs_per_item, quantizer)
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def dedup_against(new_docs: DataFrame, corpus: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  method: str = "exact", n_hashes: int = 16, bands: int = 4,
                  shingle_n: int = 3, min_jaccard: float | None = None,
                  seed: int = 42) -> DataFrame:
    """Cross-corpus dedup: drop new documents already present in an
    EXISTING corpus — the incremental-crawl op (dedupe shard N against
    shards 1..N-1 without re-deduping everything). Returns the
    surviving rows of `new_docs`.

    method="exact": content-hash LEFT ANTI join. One shuffle on the
    (uniform) hash; persist the corpus hash table once and every new
    shard joins against it — with the table written bucketed by hash
    the corpus side never reshuffles.

    method="minhash": near-duplicate matching — banded MinHash
    signatures on both sides (same scheme/seed as minhash_lsh_pairs),
    candidates collide on a full band, optionally confirmed by the
    signature-estimated Jaccard >= min_jaccard. Only the (1 row/doc)
    signature tables join, never the documents; candidate volume is
    the band-collision set.
    """
    if method == "exact":
        nh = new_docs.withColumn("__h", F.sha2(F.col(text_col).cast("string"), 256))
        ch = corpus.select(F.sha2(F.col(text_col).cast("string"), 256).alias("__h")).distinct()
        return nh.join(ch, "__h", "left_anti").drop("__h")
    if method != "minhash":
        raise ValueError(f"method must be 'exact' or 'minhash', got {method!r}")
    r = n_hashes // bands
    sig_new = minhash_signatures(new_docs, text_col, id_col, n_hashes, shingle_n, seed)
    sig_cor = minhash_signatures(corpus, text_col, id_col, n_hashes, shingle_n, seed)

    def banded(sig):
        # all bands in ONE pass over the signature aggregate (a
        # unionAll of per-band selects would recompute it per band —
        # same rule as minhash_lsh_pairs)
        band_arr = F.array(*[
            F.struct(
                F.lit(b).alias("b"),
                F.concat_ws("_", *[F.col(f"m{b * r + i}") for i in range(r)]).alias("k"),
            )
            for b in range(bands)
        ])
        return (sig.select(F.col(id_col), F.explode(band_arr).alias("__bk"),
                           *[F.col(f"m{i}") for i in range(n_hashes)])
                .select(F.col(id_col), F.col("__bk.b").alias("__band"),
                        F.col("__bk.k").alias("__key"),
                        *[F.col(f"m{i}") for i in range(n_hashes)]))

    bn = banded(sig_new).alias("n")
    bc = banded(sig_cor).alias("c")
    cand = bn.join(bc, (F.col("n.__band") == F.col("c.__band"))
                   & (F.col("n.__key") == F.col("c.__key")))
    if min_jaccard is not None:
        est = sum(
            (F.col(f"n.m{i}") == F.col(f"c.m{i}")).cast("double")
            for i in range(n_hashes)
        ) / n_hashes
        cand = cand.where(est >= min_jaccard)
    dup_ids = cand.select(F.col(f"n.{id_col}").alias(id_col)).distinct()
    return new_docs.join(dup_ids, id_col, "left_anti")
