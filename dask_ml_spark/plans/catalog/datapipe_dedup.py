"""LLM-datapipe catalog queries: dedup families, embedding similarity / ANN, multimodal.

Split out of the single-file plans/queries.py in round 13 (maintainability:
251+ builders in one 12k-line module); composed by catalog/__init__.py.
Conventions (canonical fixed-point aggregation, oracle alignment) are
documented in catalog/_shared.py.
"""
from __future__ import annotations
from pyspark.sql import functions as F
from dask_ml_spark.datapipe import dedup as DD
from ._shared import SQL_KNN_GRAPH_TOPK, TOKEN_RE_SQL, _sql_shingles, _t  # noqa: F401

def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (datapipe/dedup.py::duplicate_clusters):
    connected components by star contraction (finished by driver
    union-find under utils.MAX_DRIVER_EDGES) over the minhash-LSH pair
    list — the actionable form of dedup (one representative per
    group). Oracle: DuckDB recursive CTE computing min-reachable-id
    over the same (oracle-checked) pair SQL."""
    from dask_ml_spark.datapipe import dedup as DD

    docs = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(docs, n_hashes=8, bands=4)
    cl = DD.duplicate_clusters(pairs)
    return (cl.groupBy("cluster")
            .agg(F.count("*").alias("n_members"),
                 F.sum("node").alias("member_checksum")))


def _sql_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS ({sql_minhash_lsh_pairs(8, 4)}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.node
)
SELECT cluster, count(*) AS n_members,
       CAST(sum(node) AS BIGINT) AS member_checksum
FROM (SELECT node, min(r) AS cluster FROM reach GROUP BY node)
GROUP BY cluster
"""


# =====================================================================
# dedup datapipe
# =====================================================================

def q_exact_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return DD.exact_dedup(docs).select("doc_id", "content_hash", F.col("dup_count").cast("long").alias("dup_count"))


SQL_EXACT_DEDUP = f"""
SELECT min(doc_id) AS doc_id, content_hash, count(*) AS dup_count FROM (
    SELECT doc_id, md5(array_to_string(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), ' ')) AS content_hash
    FROM documents
) GROUP BY content_hash
"""


def q_minhash_signatures(spark, sf_dir, n_hashes: int = 8):
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_signatures(docs, n_hashes=n_hashes)


def sql_minhash_signatures(n_hashes: int = 8) -> str:
    a, b = DD.minhash_coeffs(n_hashes, seed=42)
    p = DD.MERSENNE_P
    mins = ", ".join(
        f"min((h * {a[i]} + {b[i]}) % {p}) AS m{i}" for i in range(n_hashes)
    )
    return f"""
WITH toks_t AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks FROM documents
), sh AS (
    SELECT doc_id, unnest({_sql_shingles(3)}) AS shingle FROM toks_t
), hashed AS (
    SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS h FROM sh
)
SELECT doc_id, {mins} FROM hashed GROUP BY doc_id
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, n_hashes=8, bands=4).select(
        "id_a", "id_b", F.col("n_shared_bands").cast("long").alias("n_shared_bands")
    )


def sql_minhash_lsh_pairs(n_hashes: int = 8, bands: int = 4) -> str:
    sig_sql = sql_minhash_signatures(n_hashes)
    r = n_hashes // bands
    band_selects = []
    for bi in range(bands):
        cols = " || '_' || ".join(f"CAST(m{bi * r + j} AS VARCHAR)" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, {cols} AS band_key FROM sig"
        )
    banded = " UNION ALL ".join(band_selects)
    return f"""
WITH sig AS ({sig_sql}), banded AS ({banded})
SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_shared_bands
FROM banded l JOIN banded r
  ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
GROUP BY l.doc_id, r.doc_id
"""


def q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return DD.simhash(docs, n_bits=16)


def sql_simhash(n_bits: int = 16) -> str:
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h // {2**bb}) % 2 = 1 THEN 1 ELSE -1 END) AS b{bb}"
        for bb in range(n_bits)
    )
    fp = " + ".join(f"(CASE WHEN b{bb} > 0 THEN {2**bb} ELSE 0 END)" for bb in range(n_bits))
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS token FROM documents
), hashed AS (
    SELECT doc_id, ('0x' || substr(md5(token), 1, 15))::BIGINT AS h FROM tok
), bits AS (
    SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, shingle_n=3, min_shared=3)


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH toks_t AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks FROM documents
), sh AS (
    SELECT doc_id, unnest({_sql_shingles(3)}) AS shingle FROM toks_t
), sizes AS (
    SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
), shared AS (
    SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS shared
    FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
    GROUP BY l.doc_id, r.doc_id
    HAVING count(*) >= 3
)
SELECT id_a, id_b,
       shared / (sa.set_size + sb.set_size - shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
"""


# =====================================================================
# embeddings / similarity search
# =====================================================================

def q_ann_bruteforce_topk(spark, sf_dir):
    from dask_ml_spark.datapipe.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(emb, queries, k=10)
    return out.select("query_id", "vec_id", F.col("rank").cast("long").alias("rank"))


SQL_ANN_BRUTEFORCE_TOPK = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
scored AS (
    SELECT q.query_id, e.vec_id,
           list_cosine_similarity(e.embedding, q.qvec) AS score
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id != q.query_id
), ranked AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 10
"""


EMB_DIM = 64


NEAR_DUP_BANDS = 2


NEAR_DUP_BITS = 5


def q_embedding_near_dup(spark, sf_dir):
    """Banded-LSH near-dup pairs (the scale path — no N² join,
    candidates = ≥1 band collision); the oracle reproduces the same
    per-band buckets from the same plane literals."""
    emb = _t(spark, sf_dir, "embeddings")
    # auto_scale=False: the oracle replays these exact plane literals;
    # the production geometry-scaling path is benched separately
    # (embedding_near_dup_scaled) and invariant-tested
    out = DD.embedding_near_dup_pairs(
        emb, threshold=0.9, exact=False, n_bands=NEAR_DUP_BANDS,
        bits_per_band=NEAR_DUP_BITS, seed=42, dim=EMB_DIM,
        auto_scale=False,
    )
    return out.select("id_a", "id_b", "cosine")


def q_embedding_near_dup_scaled(spark, sf_dir):
    """The N-adaptive geometry (auto_scale=True): bits ≈ log2(N)+4
    keeps spurious candidate pairs LINEAR in N (fixed bits measured
    100× candidates for 10× rows at sf1), with bands re-derived for
    ≥95% recall at the threshold. Oracled since r6: the adaptive
    formula RESOLVES to 23 bands x 13 bits at the oracle SF (N=500 —
    the same fixed-point convention q_semantic_dedup uses for its
    adaptive n_cent), and the SQL replays those exact plane literals
    plus the banded join and aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    out = DD.embedding_near_dup_pairs(
        emb, threshold=0.9, exact=False, seed=42, dim=EMB_DIM)
    return (out.groupBy()
            .agg(F.count("*").alias("n_pairs"),
                 F.round(F.avg("cosine"), 4).alias("avg_cosine")))


def sql_embedding_near_dup() -> str:
    # same matrix as the Spark side: plane b*bits+j is bit j of band b
    planes = DD.lsh_plane_matrix(NEAR_DUP_BANDS * NEAR_DUP_BITS, EMB_DIM, seed=42)
    band_cols = []
    for b in range(NEAR_DUP_BANDS):
        terms = []
        for j in range(NEAR_DUP_BITS):
            plane = planes[b * NEAR_DUP_BITS + j]
            lit = "[" + ", ".join(f"{v!r}" for v in plane.tolist()) + "]"
            terms.append(f"(CASE WHEN list_dot_product(embedding, {lit}) > 0 THEN {2**j} ELSE 0 END)")
        band_cols.append(" + ".join(terms) + f" AS bucket_{b}")
    buckets = ", ".join(band_cols)
    collide = " OR ".join(
        f"l.bucket_{b} = r.bucket_{b}" for b in range(NEAR_DUP_BANDS)
    )
    return f"""
WITH coded AS (
    SELECT vec_id, embedding, {buckets} FROM embeddings
)
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       list_cosine_similarity(l.embedding, r.embedding) AS cosine
FROM coded l JOIN coded r ON ({collide}) AND l.vec_id < r.vec_id
WHERE list_cosine_similarity(l.embedding, r.embedding) >= 0.9
"""


def sql_embedding_near_dup_scaled() -> str:
    """Oracle for the adaptive-geometry near-dup at the oracle SF:
    auto_scale resolves to 23 bands x 13 bits for N=500 (derived by
    the same formula embedding_near_dup_pairs runs — needed =
    ceil(log2(500)+4) = 13 bits, bands = ceil(ln20 / p_bit^13) = 23 at
    threshold 0.9). The plane matrix is the shared lsh_plane_matrix
    draw, so the literals match the Spark side bit-for-bit."""
    # MUST match the operator's runtime derivation at N=500 — pinned
    # by tests/test_datapipe.py::test_lsh_geometry_derivation
    bands, bits = DD.derive_lsh_geometry(500, 0.9, 12, 12)
    planes = DD.lsh_plane_matrix(bands * bits, EMB_DIM, seed=42)
    band_cols = []
    for b in range(bands):
        terms = []
        for j in range(bits):
            plane = planes[b * bits + j]
            lit = "[" + ", ".join(f"{v!r}" for v in plane.tolist()) + "]"
            terms.append(f"(CASE WHEN list_dot_product(embedding, {lit}) > 0 THEN {2**j} ELSE 0 END)")
        band_cols.append(" + ".join(terms) + f" AS bucket_{b}")
    buckets = ", ".join(band_cols)
    collide = " OR ".join(
        f"l.bucket_{b} = r.bucket_{b}" for b in range(bands))
    return f"""
WITH coded AS (
    SELECT vec_id, embedding, {buckets} FROM embeddings
),
pairs AS (
    SELECT l.vec_id AS id_a, r.vec_id AS id_b,
           list_cosine_similarity(l.embedding, r.embedding) AS cosine
    FROM coded l JOIN coded r ON ({collide}) AND l.vec_id < r.vec_id
    WHERE list_cosine_similarity(l.embedding, r.embedding) >= 0.9
)
SELECT count(*)::BIGINT AS n_pairs, round(avg(cosine), 4) AS avg_cosine
FROM pairs
"""


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas 2023) per-cluster dup summary with a PINNED
    quantizer (centroids = embeddings of vec_id 0..7) and id-order
    greedy ranking — both deterministic, so cluster assignment, the
    within-cluster pair join, and the drop rule are all replayed
    exactly by the DuckDB oracle. The learned-quantizer path
    (centroids=None) stays the production default and is
    invariant-tested in tests/test_datapipe.py."""
    emb = _t(spark, sf_dir, "embeddings")
    # k ~ sqrt(N)/3 (paper rule, floored at 8): the quantizer size must
    # GROW with the corpus — total pair volume is N²/(2k), so the sqrt
    # rule yields N^1.5 pair work (measured 6.7x for 10x rows at sf1;
    # semantic_dedup_pairs' target_pairs_per_item knob is the linear
    # alternative). Resolves to exactly the 8 centroids the oracle pins
    # at sf0.01 (N=500) and to 23 at sf0.1, where 8 clusters over 5k
    # vectors would already quadruple the pair join
    n_cent = max(8, int(emb.count() ** 0.5 / 3))
    cent = (emb.where(F.col("vec_id") < n_cent).orderBy("vec_id")
            .select("embedding").collect())
    # the synthetic embeddings have no true near-dups (max within-
    # cluster cosine ≈ 0.49 at sf0.01), so the production threshold
    # (0.9) would verify an empty result; 0.44 sits in a 0.012-wide
    # gap of the cosine distribution — 8 real pairs, no float-boundary
    # sensitivity between Spark and DuckDB
    pairs = DD.semantic_dedup_pairs(
        emb, centroids=[list(r[0]) for r in cent], threshold=0.44, order="id",
    )
    return (
        pairs.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(F.count("*").alias("n_pairs"),
             F.countDistinct("id_b").alias("n_dropped"))
    )


SQL_SEMANTIC_DEDUP = """
WITH cent AS (
    SELECT vec_id AS c, embedding AS cvec FROM embeddings WHERE vec_id < 8
), assign AS (
    SELECT e.vec_id, e.embedding,
           (SELECT c FROM cent
            ORDER BY list_distance(e.embedding, cent.cvec) ASC, c ASC
            LIMIT 1) AS cluster
    FROM embeddings e
), pairs AS (
    SELECT l.cluster, l.vec_id AS id_a, r.vec_id AS id_b
    FROM assign l JOIN assign r
      ON l.cluster = r.cluster AND l.vec_id < r.vec_id
    WHERE list_cosine_similarity(l.embedding, r.embedding) >= 0.44
)
SELECT cluster, count(*) AS n_pairs, count(DISTINCT id_b) AS n_dropped
FROM pairs GROUP BY cluster
"""


SEMDEDUP_TPP = 8  # target candidate pairs charged per item (linear mode)


def q_semantic_dedup_linear(spark, sf_dir):
    """SemDeDup's PRODUCTION-scale geometry (r8 `target_pairs_per_item`
    + LSH-code quantizer, dedup.py): k ~ N/(2t+1) buckets from a
    ceil(log2 k)-bit random-hyperplane code, so BOTH the quantizer
    (N·log k sign projections) and the pair volume (~N·t candidates)
    are linear in N — unlike q_semantic_dedup's paper-rule k ~ sqrt(N),
    which is N^1.5 pair work and benches 4.5x for 10x rows. Oracled by
    the adaptive-geometry fixed-point convention: at the oracle SF
    (N=500) the sizing resolves to the default 64-cluster floor = 6
    bits, and the SQL replays those exact plane literals, the banded
    code, the id-ranked within-bucket join, and the aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = DD.semantic_dedup_pairs(
        emb, threshold=0.44, order="id",
        target_pairs_per_item=SEMDEDUP_TPP, seed=42)
    return (
        pairs.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(F.count("*").alias("n_pairs"),
             F.countDistinct("id_b").alias("n_dropped"))
    )


def sql_semantic_dedup_linear() -> str:
    """Replay the LSH-code quantizer at the oracle SF's resolved
    geometry: n_clusters = max(64, ceil(500/(2·8+1))) = 64 → 6 planes,
    bucket = Σ 2^j·[dot(v, plane_j) > 0] (bit j = plane j, the
    single-band convention of CosineLSHIndex), then the same
    id-ordered within-bucket pair join q_semantic_dedup uses."""
    import math as _math

    n = 500  # embeddings rows at the oracle SF (sf0.01)
    n_clusters = max(64, _math.ceil(n / (2 * SEMDEDUP_TPP + 1)))
    bits = max(1, _math.ceil(_math.log2(max(n_clusters, 2))))
    planes = DD.lsh_plane_matrix(bits, EMB_DIM, seed=42)
    terms = []
    for j in range(bits):
        lit = "[" + ", ".join(f"{v!r}" for v in planes[j].tolist()) + "]"
        terms.append(f"(CASE WHEN list_dot_product(embedding, {lit}) > 0"
                     f" THEN {2 ** j} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH coded AS (
    SELECT vec_id, embedding, {bucket} AS cluster FROM embeddings
), pairs AS (
    SELECT l.cluster, l.vec_id AS id_a, r.vec_id AS id_b
    FROM coded l JOIN coded r
      ON l.cluster = r.cluster AND l.vec_id < r.vec_id
    WHERE list_cosine_similarity(l.embedding, r.embedding) >= 0.44
)
SELECT cluster::BIGINT AS cluster, count(*) AS n_pairs,
       count(DISTINCT id_b) AS n_dropped
FROM pairs GROUP BY cluster
"""


def q_quantized_embeddings(spark, sf_dir):
    """Int8 scalar quantization (datapipe/similarity.py::
    quantize_embeddings) — integer code stats per vector. The
    quantization math uses explicitly-ordered double casts, so DuckDB
    replays it bit-exactly and the integer codes match exactly."""
    from dask_ml_spark.datapipe.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.aggregate(F.col("code"), F.lit(0).cast("long"),
                    lambda a, c: a + c.cast("long") + 128).alias("code_sum"),
        F.array_min("code").cast("long").alias("code_min"),
        F.array_max("code").cast("long").alias("code_max"),
    )


SQL_QUANTIZED_EMBEDDINGS = """
WITH q AS (
    SELECT vec_id, embedding,
           CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS vmin,
           greatest((CAST(list_aggregate(embedding, 'max') AS DOUBLE)
                     - CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / 255.0,
                    1e-12) AS vstep
    FROM embeddings
), c AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round((CAST(x AS DOUBLE) - vmin) / vstep) AS BIGINT) - 128) AS code
    FROM q
)
SELECT vec_id,
       CAST(list_sum(list_transform(code, cc -> cc + 128)) AS BIGINT) AS code_sum,
       CAST(list_aggregate(code, 'min') AS BIGINT) AS code_min,
       CAST(list_aggregate(code, 'max') AS BIGINT) AS code_max
FROM c
"""


def q_paragraph_dedup(spark, sf_dir):
    """Sub-document exact dedup: a paragraph survives iff it is the
    global first occurrence of its content hash; documents are
    reassembled from surviving paragraphs in order. The synthetic docs
    have no newlines, so the query chunks on a common word — the
    operator is generic over `sep` and the oracle replays the same
    split."""
    docs = _t(spark, sf_dir, "documents")
    out = DD.paragraph_dedup(docs, sep=" the ")
    return out.select("doc_id", "text", "n_paragraphs", "n_kept")


SQL_PARAGRAPH_DEDUP = """
WITH paras AS (
    SELECT doc_id,
           generate_subscripts(parts, 1) - 1 AS idx,
           unnest(parts) AS para
    FROM (SELECT doc_id, string_split(text, ' the ') AS parts FROM documents)
),
flt AS (
    SELECT *, md5(para) AS h FROM paras WHERE length(trim(para)) >= 1
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) = 1 AS keep
    FROM flt
)
SELECT doc_id,
       COALESCE(string_agg(para, ' the ' ORDER BY idx) FILTER (WHERE keep), '') AS text,
       count(*) AS n_paragraphs,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM ranked
GROUP BY doc_id
"""


def q_embedding_centroids(spark, sf_dir):
    """Per-label mean embedding — the grouped vector aggregation used
    by both IVF training and class-centroid models. Arrays are averaged
    element-wise JVM-side (posexplode + groupBy)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("mean_v"), F.count("*").cast("long").alias("n"))
    )


SQL_EMBEDDING_CENTROIDS = """
SELECT label, pos - 1 AS pos, avg(v) AS mean_v, count(*) AS n
FROM (
    SELECT label, unnest(embedding) AS v,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
)
GROUP BY label, pos - 1
"""


def q_multimodal_decode(spark, sf_dir):
    """Multimodal decode plumbing (datapipe/multimodal.py): binary blob
    column → mapInPandas stub decode → pooled features. The oracle
    checks the deterministic side (byte counts, feature arity); pixel
    values are the seeded stub, covered by tests."""
    from dask_ml_spark.datapipe.multimodal import attach_binary_from_text, decode_image_features

    docs = _t(spark, sf_dir, "documents")
    blobs = attach_binary_from_text(docs)
    feats = decode_image_features(blobs, resize=(8, 8))
    return feats.select(
        "doc_id", "n_bytes", F.size("features").cast("long").alias("n_features")
    )


SQL_MULTIMODAL_DECODE = """
SELECT doc_id, octet_length(encode(text)) AS n_bytes, CAST(64 AS BIGINT) AS n_features
FROM documents
"""


def q_image_dhash_bands(spark, sf_dir):
    """Perceptual image hashing (datapipe/image_dedup.py): dHash of
    every blob as four 16-bit band integers — pure JVM expressions
    under stub=True (md5-tile thumbnail), so the oracle replays the
    ENTIRE hash bit-for-bit in SQL (gray sums, gradient bits, band
    packing). The real-decode path shares the integer math and is
    pinned in tests against BMP fixtures."""
    from dask_ml_spark.datapipe.image_dedup import image_hashes
    from dask_ml_spark.datapipe.multimodal import attach_binary_from_text

    docs = _t(spark, sf_dir, "documents")
    h = image_hashes(attach_binary_from_text(docs))
    return h.select("doc_id", *[F.col(f"h{i}").cast("long").alias(f"h{i}")
                                for i in range(4)])


def q_image_near_dup_pairs(spark, sf_dir):
    """Near-duplicate image pairs via banded Hamming LSH
    (image_dedup.image_near_dup): 64-bit dHash in 4 bands, pigeonhole
    guarantees EXHAUSTIVE recall at max_hamming=3 — which is exactly
    what the oracle checks: DuckDB computes the brute-force all-pairs
    Hamming set (fine at oracle SF; the Spark side never does
    all-pairs) and the banded join must equal it."""
    from dask_ml_spark.datapipe.image_dedup import image_near_dup
    from dask_ml_spark.datapipe.multimodal import attach_binary_from_text

    docs = _t(spark, sf_dir, "documents")
    return image_near_dup(attach_binary_from_text(docs), max_hamming=3)


def _sql_dhash_bands() -> str:
    """doc_id, h0..h3 — the md5-tile dHash replayed in DuckDB lists."""
    byte = ("('0x' || substr(md5(text), ((%s) %% 16) * 2 + 1, 2))::BIGINT")
    gray = ("list_transform(range(0, 72), i -> "
            f"{byte % '3*i'} + {byte % '3*i+1'} + {byte % '3*i+2'})")
    bands = ", ".join(
        "list_sum(list_transform(range(0, 16), j -> CASE WHEN "
        f"gr[((16*{b}+j) // 8) * 9 + ((16*{b}+j) % 8) + 1] > "
        f"gr[((16*{b}+j) // 8) * 9 + ((16*{b}+j) % 8) + 2] "
        f"THEN (1::BIGINT << (15 - j)) ELSE 0 END))::BIGINT AS h{b}"
        for b in range(4))
    return (f"WITH g AS (SELECT doc_id, {gray} AS gr FROM documents)\n"
            f"SELECT doc_id, {bands} FROM g")


def q_audio_fingerprint_bands(spark, sf_dir):
    """Spectral-gradient audio fingerprints (datapipe/audio_dedup.py)
    as four 16-bit bands — pure JVM expressions under stub=True
    (md5-tile energies), so the oracle replays every bit; the real
    PCM-WAV path shares the comparison math and is pinned in tests.
    The near-dup join is the shared banded-Hamming machinery already
    recall-oracled by image_near_dup_pairs."""
    from dask_ml_spark.datapipe.audio_dedup import audio_fingerprints
    from dask_ml_spark.datapipe.multimodal import attach_binary_from_text

    docs = _t(spark, sf_dir, "documents")
    h = audio_fingerprints(attach_binary_from_text(docs))
    return h.select("doc_id", *[F.col(f"h{i}").cast("long").alias(f"h{i}")
                                for i in range(4)])


def _sql_audio_fingerprint_bands() -> str:
    # byte[i mod 13] XOR byte[(5i+1) mod 16], matching
    # audio_dedup._stub_bands_struct — the mixed moduli give the tile
    # period lcm(13,16)=208 > 65 so no bit repeats (ADVICE r6); DuckDB
    # spells bitwise xor as xor() (its ^ is exponent)
    byte = ("('0x' || substr(md5(text), ((%s) %% %d) * 2 + 1, 2))::BIGINT")
    energies = (f"list_transform(range(0, 65), i -> "
                f"xor({byte % ('i', 13)}, {byte % ('5*i+1', 16)}))")
    bands = ", ".join(
        "list_sum(list_transform(range(0, 16), j -> CASE WHEN "
        f"e[16*{b}+j+1] > e[16*{b}+j+2] "
        f"THEN (1::BIGINT << (15 - j)) ELSE 0 END))::BIGINT AS h{b}"
        for b in range(4))
    return (f"WITH g AS (SELECT doc_id, {energies} AS e FROM documents)\n"
            f"SELECT doc_id, {bands} FROM g")


def q_fuzzy_vocab_pairs(spark, sf_dir):
    """Edit-distance fuzzy join (operators/joins.py::fuzzy_self_pairs,
    FastSS deletion-neighborhood blocking — exhaustive recall by
    construction): near-duplicate pairs in the corpus token
    vocabulary at edit distance <= 2. The oracle is the brute-force
    all-pairs levenshtein set (fine at vocabulary size; the Spark
    side never does all-pairs), proving the blocking loses nothing."""
    from dask_ml_spark.datapipe.dedup import tokens_expr
    from dask_ml_spark.operators.joins import fuzzy_self_pairs

    docs = _t(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
             .distinct())
    return fuzzy_self_pairs(vocab, "w", "w", max_edit=2)


SQL_FUZZY_VOCAB_PAIRS = f"""
WITH v AS (
    SELECT DISTINCT unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS w
    FROM documents
)
SELECT a.w AS id_a, b.w AS id_b, levenshtein(a.w, b.w)::BIGINT AS distance
FROM v a JOIN v b ON a.w < b.w
WHERE levenshtein(a.w, b.w) <= 2
"""


def _sql_image_near_dup_pairs() -> str:
    ham = " + ".join(f"bit_count(xor(a.h{i}, b.h{i}))" for i in range(4))
    return (f"WITH h AS ({_sql_dhash_bands()})\n"
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            f"({ham})::BIGINT AS hamming\n"
            "FROM h a JOIN h b ON a.doc_id < b.doc_id\n"
            f"WHERE ({ham}) <= 3")


def q_image_dedup_keep_one(spark, sf_dir):
    """The actionable multimodal dedup: dHash near-dup pairs →
    connected components → keep the min-id representative per cluster
    (the same dedup_keep_representatives the text dedup family uses —
    the pair ops compose across modalities). Oracle: recursive-CTE
    min-reachable-id over the brute-force pair set, anti-joined back."""
    from dask_ml_spark.datapipe.dedup import dedup_keep_representatives
    from dask_ml_spark.datapipe.image_dedup import image_near_dup
    from dask_ml_spark.datapipe.multimodal import attach_binary_from_text

    docs = _t(spark, sf_dir, "documents")
    blobs = attach_binary_from_text(docs)
    pairs = image_near_dup(blobs, max_hamming=3)
    kept = dedup_keep_representatives(docs, pairs)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("doc_id").cast("long").alias("kept_checksum")))


def _sql_image_dedup_keep_one() -> str:
    ham = " + ".join(f"bit_count(xor(a.h{i}, b.h{i}))" for i in range(4))
    return f"""
WITH RECURSIVE h AS ({_sql_dhash_bands()}),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM h a JOIN h b ON a.doc_id < b.doc_id
  WHERE ({ham}) <= 3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, re.r FROM edges e JOIN reach re ON e.dst = re.node
),
dropped AS (
  SELECT node FROM (SELECT node, min(r) AS cluster FROM reach GROUP BY node)
  WHERE node != cluster
)
SELECT source, count(*)::BIGINT AS n_kept,
       sum(doc_id)::BIGINT AS kept_checksum
FROM documents
WHERE doc_id NOT IN (SELECT node FROM dropped)
GROUP BY source
"""


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: blob → 4 evenly-spaced frame
    slices per row (explode-shaped mapInPandas). Slice lengths are pure
    arithmetic on the blob length — SQL-checkable."""
    from dask_ml_spark.datapipe.multimodal import attach_binary_from_text, frame_sample

    docs = _t(spark, sf_dir, "documents")
    blobs = attach_binary_from_text(docs)
    frames = frame_sample(blobs, n_frames=4)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.octet_length("frame_blob").cast("long").alias("frame_len"),
    )


SQL_FRAME_SAMPLE = """
WITH b AS (
    SELECT doc_id, octet_length(encode(text)) AS L,
           greatest(1, octet_length(encode(text)) // 4) AS step
    FROM documents
)
SELECT doc_id, fi AS frame_idx,
       greatest(0, least(L, (fi + 1) * step) - fi * step) AS frame_len
FROM b, generate_series(0, 3) AS t(fi)
"""


def q_normalized_text_hash(spark, sf_dir):
    """Unicode NFC + whitespace normalization, value-checked through
    md5: a decomposed 'e<combining-acute>' and a double space are
    appended to every document in BOTH engines, and the normalized
    text must hash identically (NFC composes the accent, the collapse
    removes the double space). Exercises the one legitimately UDF-bound
    step (Spark has no unicode-normalize builtin) as an Arrow batch."""
    from dask_ml_spark.datapipe.text_stats import normalize_text

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("text", F.concat(F.col("text"),
                                         F.lit(" cafe\u0301  x"))))
    out = normalize_text(docs, form="NFC")
    return out.select("doc_id", F.md5("text").alias("text_md5"),
                      F.length("text").cast("long").alias("n_chars_norm"))


SQL_NORMALIZED_TEXT_HASH = """
WITH aug AS (
    SELECT doc_id, text || ' cafe' || chr(769) || '  x' AS text
    FROM documents
),
norm AS (
    -- same order as the operator: strip controls, unicode-normalize,
    -- THEN collapse/trim (NFKC can reintroduce U+0020 runs)
    SELECT doc_id,
           trim(regexp_replace(
               nfc_normalize(regexp_replace(text,
                   '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')),
               '[ \\t]+', ' ', 'g')) AS text
    FROM aug
)
SELECT doc_id, md5(text) AS text_md5, length(text) AS n_chars_norm
FROM norm
"""


def q_pq_ann_topk(spark, sf_dir):
    """Product-quantization ANN with PINNED codebooks (the subvectors
    of vec_id 0..15 — same fixed-state pattern as ivf_ann_topk): encode
    compresses 64 float dims to 4 codes in one narrow JVM projection,
    and each query scores the compressed corpus via its literal ADC
    distance table. Assignment, scoring, and ranking all replay in
    SQL. The learned-codebook path (PQIndex.fit) stays the production
    default and is recall-tested against brute force."""
    import numpy as np

    from dask_ml_spark.datapipe.similarity import PQIndex

    emb = _t(spark, sf_dir, "embeddings")
    pq = PQIndex(m=4, k=16)
    rows = (emb.where(F.col("vec_id") < 16).orderBy("vec_id")
            .select("embedding").collect())
    vecs = np.asarray([list(r[0]) for r in rows], dtype="float64")
    pq.codebooks_ = [vecs[:, s * 16:(s + 1) * 16] for s in range(4)]
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = pq.search(emb, queries, topk=10)
    return out.select("query_id", "vec_id",
                      F.col("rank").cast("long").alias("rank"))


SQL_PQ_ANN_TOPK = """
WITH ss AS (SELECT unnest(range(0, 4)) AS s),
cw AS (
    SELECT ss.s, e.vec_id AS j,
           (e.embedding[ss.s*16+1 : ss.s*16+16])::DOUBLE[] AS cvec
    FROM embeddings e CROSS JOIN ss WHERE e.vec_id < 16
),
codes AS (
    SELECT e.vec_id, ss.s,
           (SELECT j FROM cw WHERE cw.s = ss.s
            ORDER BY list_distance(
                (e.embedding[ss.s*16+1 : ss.s*16+16])::DOUBLE[],
                cw.cvec) ASC, j ASC
            LIMIT 1) AS j
    FROM embeddings e CROSS JOIN ss
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id,
           sum(pow(list_distance(
               (q.embedding[c.s*16+1 : c.s*16+16])::DOUBLE[], cw.cvec), 2))
               AS score
    FROM embeddings q
    CROSS JOIN codes c
    JOIN cw ON cw.s = c.s AND cw.j = c.j
    WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id
    GROUP BY 1, 2
)
SELECT query_id, vec_id, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score ASC, vec_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
"""


def q_ivfpq_ann_topk(spark, sf_dir):
    """IVF-PQ with PINNED state (coarse centroids = embeddings 0..7,
    residual codewords = subvectors of embeddings 8..23): vectors route
    to inverted lists, PQ encodes the residual against the list
    centroid, and each query ADC-scores its 2 probed lists against the
    QUERY residual — the production ANN layout, with assignment,
    residual encoding, probing, and scoring all replayed in SQL."""
    import numpy as np

    from dask_ml_spark.datapipe.similarity import IVFPQIndex

    emb = _t(spark, sf_dir, "embeddings")
    idx = IVFPQIndex(n_lists=8, m=4, k=16, n_probe=2)
    cents = np.asarray(
        [list(r[0]) for r in emb.where(F.col("vec_id") < 8)
         .orderBy("vec_id").select("embedding").collect()], dtype="float64")
    words = np.asarray(
        [list(r[0]) for r in
         emb.where((F.col("vec_id") >= 8) & (F.col("vec_id") < 24))
         .orderBy("vec_id").select("embedding").collect()], dtype="float64")
    idx.centroids_ = cents
    idx.codebooks_ = [words[:, s * 16:(s + 1) * 16] for s in range(4)]
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = idx.search(emb, queries, topk=10)
    return out.select("query_id", "vec_id",
                      F.col("rank").cast("long").alias("rank"))


SQL_IVFPQ_ANN_TOPK = """
WITH ss AS (SELECT unnest(range(0, 4)) AS s),
cent AS (
    SELECT vec_id AS c, embedding AS cvec FROM embeddings WHERE vec_id < 8
),
cw AS (
    SELECT ss.s, e.vec_id - 8 AS j,
           (e.embedding[ss.s*16+1 : ss.s*16+16])::DOUBLE[] AS wvec
    FROM embeddings e CROSS JOIN ss
    WHERE e.vec_id >= 8 AND e.vec_id < 24
),
assign AS (
    SELECT e.vec_id, e.embedding,
           (SELECT c FROM cent
            ORDER BY list_distance(e.embedding::DOUBLE[],
                                   cent.cvec::DOUBLE[]) ASC, c ASC
            LIMIT 1) AS bucket
    FROM embeddings e
),
resid AS (
    SELECT a.vec_id, a.bucket,
           list_transform(range(1, 65),
                          i -> a.embedding[i]::DOUBLE - c.cvec[i]::DOUBLE)
               AS r
    FROM assign a JOIN cent c ON a.bucket = c.c
),
codes AS (
    SELECT r.vec_id, r.bucket, ss.s,
           (SELECT j FROM cw WHERE cw.s = ss.s
            ORDER BY list_distance(
                (r.r[ss.s*16+1 : ss.s*16+16])::DOUBLE[], cw.wvec) ASC, j ASC
            LIMIT 1) AS j
    FROM resid r CROSS JOIN ss
),
qprobe AS (
    SELECT query_id, embedding, lst, cvec FROM (
        SELECT q.vec_id AS query_id, q.embedding, cent.c AS lst, cent.cvec,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_distance(q.embedding::DOUBLE[],
                                          cent.cvec::DOUBLE[]) ASC,
                            cent.c ASC) AS pr
        FROM embeddings q CROSS JOIN cent WHERE q.vec_id < 5
    ) WHERE pr <= 2
),
scored AS (
    SELECT qp.query_id, codes.vec_id,
           sum(pow(list_distance(
               (list_transform(range(1, 65),
                    i -> qp.embedding[i]::DOUBLE - qp.cvec[i]::DOUBLE)
                )[codes.s*16+1 : codes.s*16+16],
               cw.wvec), 2)) AS score
    FROM qprobe qp
    JOIN codes ON codes.bucket = qp.lst AND codes.vec_id <> qp.query_id
    JOIN cw ON cw.s = codes.s AND cw.j = codes.j
    GROUP BY 1, 2
)
SELECT query_id, vec_id, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY score ASC, vec_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
"""


def q_lsh_ann_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN (datapipe/similarity.py::
    CosineLSHIndex): bucket-collision candidates + exact cosine re-rank.
    The 80 hyperplanes (16 bands x 5 bits) are PINNED to the embeddings
    of vec_id 100..179 — deterministic projections make the whole index
    DuckDB-checkable (same fixed-state pattern as ivf_ann_topk); the
    seeded-gaussian fit() stays the production default, recall-tested
    vs brute force."""
    import numpy as np

    from dask_ml_spark.datapipe.similarity import CosineLSHIndex

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = CosineLSHIndex(n_bands=16, bits_per_band=5)
    planes = (emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 180))
              .orderBy("vec_id").select("embedding").collect())
    lsh.hyperplanes_ = np.asarray([list(r[0]) for r in planes], dtype="float64")
    return lsh.search(emb, queries, k=10).select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
    )


def q_knn_graph_topk(spark, sf_dir):
    """Corpus-wide approximate k-NN graph (datapipe/similarity.py::
    knn_graph): every vector's top-5 cosine neighbors from LSH bucket
    collisions — the self-join rendering (no query broadcast) with the
    PINNED hyperplanes of lsh_ann_topk regrouped as 8 bands x 10
    bits (1024 buckets/band: the graph explodes EVERY bucket, so it
    needs the occupancy a 5-query probe does not — 16x5 measured 2.1M
    candidate pairs at sf0.1 vs 41k for 8x10), so bucketing,
    collision candidates, and ranking all replay in SQL."""
    import numpy as np

    from dask_ml_spark.datapipe.similarity import CosineLSHIndex, knn_graph

    emb = _t(spark, sf_dir, "embeddings")
    lsh = CosineLSHIndex(n_bands=8, bits_per_band=10)
    planes = (emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 180))
              .orderBy("vec_id").select("embedding").collect())
    lsh.hyperplanes_ = np.asarray([list(r[0]) for r in planes], dtype="float64")
    return knn_graph(emb, k=5, index=lsh).select(
        "src", "dst", F.col("rank").cast("long").alias("rank"))


def q_ann_recall_metrics(spark, sf_dir):
    """Retrieval-quality metrics (datapipe/similarity.py::
    ranking_metrics): recall@10 / MRR@10 / nDCG@10 of the pinned-plane
    LSH index against exact brute force — the standard way to grade an
    ANN index, here end-to-end oracle-checkable because both rankings
    are (the same configs as lsh_ann_topk / ann_bruteforce_topk)."""
    import numpy as np

    from dask_ml_spark.datapipe.similarity import (
        CosineLSHIndex, brute_force_topk, ranking_metrics)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = CosineLSHIndex(n_bands=16, bits_per_band=5)
    planes = (emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 180))
              .orderBy("vec_id").select("embedding").collect())
    lsh.hyperplanes_ = np.asarray([list(r[0]) for r in planes], dtype="float64")
    pred = lsh.search(emb, queries, k=10)
    truth = brute_force_topk(emb, queries, k=10)
    return ranking_metrics(pred, truth, k=10)


def sql_ann_recall_metrics() -> str:
    return f"""
WITH pred AS ({SQL_LSH_ANN_TOPK}), truth AS ({SQL_ANN_BRUTEFORCE_TOPK}),
hits AS (
    SELECT p.query_id, p.vec_id, p.rank AS pred_rank
    FROM pred p JOIN truth t ON p.query_id = t.query_id AND p.vec_id = t.vec_id
), per_hit AS (
    SELECT query_id, count(*) AS n_hits, min(pred_rank) AS first_hit,
           sum(1.0 / log2(pred_rank + 1)) AS dcg
    FROM hits GROUP BY query_id
), ideal AS (
    SELECT query_id, count(*) AS n_truth, sum(1.0 / log2(rank + 1)) AS idcg
    FROM truth GROUP BY query_id
)
SELECT i.query_id,
       COALESCE(h.n_hits, 0) * 1.0 / i.n_truth AS recall_at_k,
       COALESCE(1.0 / h.first_hit, 0.0) AS mrr_at_k,
       COALESCE(h.dcg, 0.0) / i.idcg AS ndcg_at_k
FROM ideal i LEFT JOIN per_hit h USING (query_id)
"""


SQL_LSH_ANN_TOPK = """
WITH planes AS (
    SELECT vec_id - 100 AS p, embedding::DOUBLE[] AS pvec
    FROM embeddings WHERE vec_id >= 100 AND vec_id < 180
), bits AS (
    SELECT e.vec_id, e.embedding, p // 5 AS band,
           CASE WHEN list_inner_product(e.embedding::DOUBLE[], pl.pvec) > 0
                THEN 1 << (p % 5) ELSE 0 END AS bit
    FROM embeddings e CROSS JOIN planes pl
), buckets AS (
    SELECT vec_id, any_value(embedding) AS embedding, band,
           CAST(sum(bit) AS BIGINT) AS bucket
    FROM bits GROUP BY vec_id, band
), cand AS (
    SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qvec,
           d.vec_id, d.embedding
    FROM buckets q JOIN buckets d ON q.band = d.band AND q.bucket = d.bucket
    WHERE q.vec_id < 5 AND d.vec_id != q.vec_id
), scored AS (
    SELECT query_id, vec_id,
           list_cosine_similarity(embedding, qvec) AS score
    FROM cand
)
SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
"""


def q_cross_corpus_minhash(spark, sf_dir):
    """Near-duplicate cross-corpus dedup (dedup_against
    method="minhash"): the re-crawled shard's overlap docs collide
    with themselves in every band (estimated Jaccard 1.0) and drop;
    the oracle replays the banded signature join with the same
    integer k/8 >= 0.5 confirmation (no float boundary — 0.5 is
    exact)."""
    from dask_ml_spark.datapipe import dedup as DD2

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") < 300)
    new = docs.where(F.col("doc_id") >= 200)
    kept = DD2.dedup_against(new, corpus, method="minhash",
                             n_hashes=8, bands=4, min_jaccard=0.5)
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_new"),
                 F.sum("doc_id").alias("id_checksum")))


def sql_cross_corpus_minhash() -> str:
    sig_sql = sql_minhash_signatures(8)
    r = 8 // 4
    band_selects = []
    for bi in range(4):
        cols = " || '_' || ".join(f"CAST(m{bi * r + j} AS VARCHAR)" for j in range(r))
        band_selects.append(
            f"SELECT doc_id, {bi} AS band, {cols} AS band_key FROM sig")
    banded = " UNION ALL ".join(band_selects)
    est = " + ".join(f"(CASE WHEN sn.m{i} = sc.m{i} THEN 1 ELSE 0 END)"
                     for i in range(8))
    return f"""
WITH sig AS ({sig_sql}), banded AS ({banded}),
dup AS (
    SELECT DISTINCT n.doc_id
    FROM banded n
    JOIN banded c ON n.band = c.band AND n.band_key = c.band_key
    JOIN sig sn ON sn.doc_id = n.doc_id
    JOIN sig sc ON sc.doc_id = c.doc_id
    WHERE n.doc_id >= 200 AND c.doc_id < 300
      AND ({est}) >= 4
)
SELECT d.lang, count(*) AS n_new, sum(d.doc_id) AS id_checksum
FROM documents d
WHERE d.doc_id >= 200 AND d.doc_id NOT IN (SELECT doc_id FROM dup)
GROUP BY d.lang
"""


def q_cross_corpus_dedup(spark, sf_dir):
    """Cross-corpus dedup (datapipe/dedup.py::dedup_against): dedupe a
    new shard against an existing corpus — here the shard re-crawls
    part of the corpus (doc_id 200..299 appear in both), so the
    content-hash LEFT ANTI join drops exactly that overlap. Survivor
    content is checked per language (count + id checksum)."""
    from dask_ml_spark.datapipe import dedup as DD2

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") < 300)
    new = docs.where(F.col("doc_id") >= 200)
    kept = DD2.dedup_against(new, corpus, method="exact")
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_new"),
                 F.sum("doc_id").alias("id_checksum")))


SQL_CROSS_CORPUS_DEDUP = """
SELECT lang, count(*) AS n_new, sum(doc_id) AS id_checksum
FROM documents n
WHERE n.doc_id >= 200
  AND NOT EXISTS (SELECT 1 FROM documents c
                  WHERE c.doc_id < 300 AND c.text = n.text)
GROUP BY lang
"""


def q_url_dedup(spark, sf_dir):
    """URL canonicalization + keep-one dedup (text_stats.url_dedup):
    every document fabricates one of five crawl-style surface forms of
    a logical page (uppercase scheme/host + www + trailing slash,
    explicit default port, utm tracking params, #fragment, real params
    mixed with tracking) and the canonical keep-one must collapse each
    page to its min-id representative — with the ?a=1&b=2 real-param
    page staying DISTINCT. Fully oracled: the SQL replays the
    construction, the whole canonicalization regex chain, and the
    keep-one join."""
    from dask_ml_spark.datapipe.text_stats import url_dedup

    docs = _t(spark, sf_dir, "documents")
    page = (F.col("doc_id") % 40).cast("string")
    v = F.col("doc_id") % 5
    url = (F.when(v == 0, F.concat(F.lit("HTTPS://WWW.Example.com/p/"),
                                   page, F.lit("/")))
           .when(v == 1, F.concat(F.lit("https://example.com:443/p/"), page))
           .when(v == 2, F.concat(F.lit("https://example.com/p/"), page,
                                  F.lit("?utm_source=feed")))
           .when(v == 3, F.concat(F.lit("https://example.com/p/"), page,
                                  F.lit("#frag")))
           .otherwise(F.concat(F.lit("https://example.com/p/"), page,
                               F.lit("?a=1&utm_campaign=x&b=2"))))
    u = docs.select("doc_id", url.alias("url"))
    return url_dedup(u, "url", "doc_id").select(
        "canonical_url", "doc_id", "url")


def _sql_url_dedup() -> str:
    from dask_ml_spark.datapipe.text_stats import sql_canonical_url

    return f"""
WITH u AS (
    SELECT doc_id,
        CASE doc_id % 5
            WHEN 0 THEN 'HTTPS://WWW.Example.com/p/' || (doc_id % 40)::VARCHAR || '/'
            WHEN 1 THEN 'https://example.com:443/p/' || (doc_id % 40)::VARCHAR
            WHEN 2 THEN 'https://example.com/p/' || (doc_id % 40)::VARCHAR || '?utm_source=feed'
            WHEN 3 THEN 'https://example.com/p/' || (doc_id % 40)::VARCHAR || '#frag'
            ELSE 'https://example.com/p/' || (doc_id % 40)::VARCHAR || '?a=1&utm_campaign=x&b=2'
        END AS url
    FROM documents
),
c AS (SELECT doc_id, url, {sql_canonical_url('url')} AS canonical_url FROM u),
k AS (SELECT canonical_url, min(doc_id) AS doc_id FROM c GROUP BY canonical_url)
SELECT c.canonical_url, c.doc_id, c.url
FROM c JOIN k ON c.canonical_url = k.canonical_url AND c.doc_id = k.doc_id
"""


def q_ivf_ann_topk(spark, sf_dir):
    """IVF ANN probe with a FIXED coarse quantizer: the centroids are
    pinned to the embeddings of vec_id 0..15, making bucket assignment
    and probing deterministic — so the whole index (assign → probe →
    bucket join → exact cosine re-rank) is DuckDB-checkable. The
    learned-quantizer path (IVFIndex.fit, sampled k-means) stays the
    production default and is invariant-tested (recall vs brute force)."""
    from dask_ml_spark.datapipe.similarity import IVFIndex

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = IVFIndex(n_lists=16, n_probe=4)
    cent = (emb.where(F.col("vec_id") < 16).orderBy("vec_id")
            .select("embedding").collect())
    ivf.centroids_ = [list(r[0]) for r in cent]
    return ivf.search(emb, queries, k=10).select(
        "query_id", "vec_id", F.col("rank").cast("long").alias("rank")
    )


SQL_IVF_ANN_TOPK = """
WITH cent AS (
    SELECT vec_id AS c, embedding AS cvec FROM embeddings WHERE vec_id < 16
), assign AS (
    SELECT e.vec_id, e.embedding,
           (SELECT c FROM cent
            ORDER BY list_distance(e.embedding, cent.cvec) ASC, c ASC
            LIMIT 1) AS bucket
    FROM embeddings e
), probes AS (
    SELECT q.vec_id AS query_id, q.embedding AS qvec, cent.c AS bucket
    FROM embeddings q CROSS JOIN cent
    WHERE q.vec_id < 5
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY list_distance(q.embedding, cent.cvec) ASC, cent.c ASC) <= 4
), scored AS (
    SELECT p.query_id, a.vec_id,
           list_cosine_similarity(a.embedding, p.qvec) AS score
    FROM assign a JOIN probes p ON a.bucket = p.bucket
    WHERE a.vec_id != p.query_id
)
SELECT query_id, vec_id, rank FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
    FROM scored
) WHERE rank <= 10
"""


def catalog_queries():
    """This family's queries() entries (order preserved by __init__)."""
    return {
        "dedup_clusters": q_dedup_clusters,
        "exact_dedup": q_exact_dedup,
        "paragraph_dedup": q_paragraph_dedup,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash": q_simhash,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "ann_bruteforce_topk": q_ann_bruteforce_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_scaled": q_embedding_near_dup_scaled,
        "semantic_dedup": q_semantic_dedup,
        "semantic_dedup_linear": q_semantic_dedup_linear,
        "quantized_embeddings": q_quantized_embeddings,
        "ann_recall_metrics": q_ann_recall_metrics,
        "cross_corpus_dedup": q_cross_corpus_dedup,
        "cross_corpus_minhash": q_cross_corpus_minhash,
        "pq_ann_topk": q_pq_ann_topk,
        "ivfpq_ann_topk": q_ivfpq_ann_topk,
        "normalized_text_hash": q_normalized_text_hash,
        "embedding_centroids": q_embedding_centroids,
        "multimodal_decode": q_multimodal_decode,
        "image_dhash_bands": q_image_dhash_bands,
        "fuzzy_vocab_pairs": q_fuzzy_vocab_pairs,
        "audio_fingerprint_bands": q_audio_fingerprint_bands,
        "image_near_dup_pairs": q_image_near_dup_pairs,
        "image_dedup_keep_one": q_image_dedup_keep_one,
        "frame_sample": q_frame_sample,
        "url_dedup": q_url_dedup,
        "ivf_ann_topk": q_ivf_ann_topk,
        "lsh_ann_topk": q_lsh_ann_topk,
        "knn_graph_topk": q_knn_graph_topk,
    }


def catalog_oracles():
    """This family's oracle_sql() entries — built lazily at call time,
    exactly as the original build_catalog did."""
    return {
        "dedup_clusters": _sql_dedup_clusters(),
        "exact_dedup": SQL_EXACT_DEDUP,
        "minhash_signatures": sql_minhash_signatures(8),
        "minhash_lsh_pairs": sql_minhash_lsh_pairs(8, 4),
        "simhash": sql_simhash(16),
        "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
        "url_dedup": _sql_url_dedup(),
        "ann_bruteforce_topk": SQL_ANN_BRUTEFORCE_TOPK,
        "ivf_ann_topk": SQL_IVF_ANN_TOPK,
        "lsh_ann_topk": SQL_LSH_ANN_TOPK,
        "knn_graph_topk": SQL_KNN_GRAPH_TOPK,
        "embedding_near_dup": sql_embedding_near_dup(),
        "embedding_near_dup_scaled": sql_embedding_near_dup_scaled(),
        "semantic_dedup": SQL_SEMANTIC_DEDUP,
        "semantic_dedup_linear": sql_semantic_dedup_linear(),
        "quantized_embeddings": SQL_QUANTIZED_EMBEDDINGS,
        "ann_recall_metrics": sql_ann_recall_metrics(),
        "cross_corpus_dedup": SQL_CROSS_CORPUS_DEDUP,
        "cross_corpus_minhash": sql_cross_corpus_minhash(),
        "pq_ann_topk": SQL_PQ_ANN_TOPK,
        "ivfpq_ann_topk": SQL_IVFPQ_ANN_TOPK,
        "normalized_text_hash": SQL_NORMALIZED_TEXT_HASH,
        "embedding_centroids": SQL_EMBEDDING_CENTROIDS,
        "multimodal_decode": SQL_MULTIMODAL_DECODE,
        "image_dhash_bands": _sql_dhash_bands(),
        "fuzzy_vocab_pairs": SQL_FUZZY_VOCAB_PAIRS,
        "audio_fingerprint_bands": _sql_audio_fingerprint_bands(),
        "image_near_dup_pairs": _sql_image_near_dup_pairs(),
        "image_dedup_keep_one": _sql_image_dedup_keep_one(),
        "frame_sample": SQL_FRAME_SAMPLE,
        "paragraph_dedup": SQL_PARAGRAPH_DEDUP,
    }
