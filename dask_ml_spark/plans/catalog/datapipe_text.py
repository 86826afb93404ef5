"""LLM-datapipe catalog queries: text analysis, quality, sampling, profiling, packing, graphs.

Split out of the single-file plans/queries.py in round 13 (maintainability:
251+ builders in one 12k-line module); composed by catalog/__init__.py.
Conventions (canonical fixed-point aggregation, oracle alignment) are
documented in catalog/_shared.py.
"""
from __future__ import annotations
from pyspark.sql import functions as F
from dask_ml_spark.datapipe import dedup as DD
from dask_ml_spark.datapipe import text_stats as TS
from dask_ml_spark.utils import local_frame
from ._shared import (
    SQL_KNN_GRAPH_TOPK,
    TOKEN_RE_SQL,
    _sql_lang_score,
    _sql_shingles,
    _t,
)  # noqa: F401

def q_repetition_scores(spark, sf_dir):
    """Gopher-style repetition quality signals (datapipe/text_stats.py
    ::repetition_scores): duplicate-line fraction + top-bigram
    fraction per document."""
    from dask_ml_spark.datapipe.text_stats import repetition_scores

    docs = _t(spark, sf_dir, "documents")
    out = repetition_scores(docs)
    # Fractions rounded to 6 digits and counts cast to BIGINT on BOTH
    # engines: the driver's value-hash is bit-exact, and round-1 showed
    # unrounded floats / DuckDB HUGEINT sums are canonicalization hazards.
    return out.select(
        "doc_id", F.col("n_lines").cast("long").alias("n_lines"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("top_bigram_frac", 6).alias("top_bigram_frac"))


# Oracle avoids list_distinct/list_filter (semantics drifted across
# DuckDB releases) — plain unnest + WHERE + count(DISTINCT) instead.
SQL_REPETITION_SCORES = f"""
WITH lc AS (
  SELECT doc_id, count(*) AS n_lines, count(DISTINCT line) AS n_distinct_lines
  FROM (SELECT doc_id, trim(l) AS line
        FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l FROM documents))
  WHERE length(line) > 0
  GROUP BY doc_id
), base AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
  FROM documents
), bi AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_transform(generate_series(1, len(toks)-1),
                                  i -> toks[i] || ' ' || toks[i+1])
              ELSE [] END AS bigrams
  FROM base
), counts AS (
  SELECT doc_id,
         coalesce(max(c), 0) AS top_bigram_count,
         coalesce(sum(c), 0) AS n_bigrams
  FROM (SELECT doc_id, bigram, count(*) AS c
        FROM (SELECT doc_id, unnest(bigrams) AS bigram FROM bi)
        GROUP BY doc_id, bigram)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(lc.n_lines, 0) AS BIGINT) AS n_lines,
       round(coalesce((lc.n_lines - lc.n_distinct_lines)
                      / greatest(lc.n_lines, 1)::DOUBLE, 0.0), 6) AS dup_line_frac,
       CAST(coalesce(counts.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(coalesce(counts.top_bigram_count, 0)
             / greatest(coalesce(counts.n_bigrams, 0), 1)::DOUBLE, 6) AS top_bigram_frac
FROM documents d
LEFT JOIN lc ON d.doc_id = lc.doc_id
LEFT JOIN counts ON d.doc_id = counts.doc_id
"""


BM25_QUERY_TERMS = ["the", "data", "model", "and"]


def q_bm25_scores(spark, sf_dir):
    """BM25 lexical retrieval (datapipe/text_stats.py::bm25_scores)
    over the documents table for a fixed query-term bag."""
    from dask_ml_spark.datapipe.text_stats import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, BM25_QUERY_TERMS).select(
        "doc_id", "bm25",
        F.col("n_matched_terms").cast("long").alias("n_matched_terms"))


def _sql_bm25_scores() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(set(BM25_QUERY_TERMS)))
    return f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
  FROM documents
), dl AS (
  SELECT doc_id, len(toks) AS dl, toks FROM d
), s AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
  WHERE term IN ({terms})
  GROUP BY 1, 2, 3
), dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
)
SELECT doc_id,
       sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * (1.2 + 1.0)
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS bm25,
       count(*) AS n_matched_terms
FROM tf JOIN dfq USING (term) CROSS JOIN s
GROUP BY doc_id
"""


SQL_BM25_SCORES = _sql_bm25_scores()


def q_pii_redaction(spark, sf_dir):
    """PII scrubbing (datapipe/packing.py::redact_pii): emails /
    phone-runs / IPv4 replaced by [TYPE] tokens, per-type counts for
    audit. Patterns are lookaround-free so the SAME regex runs on
    Spark (Java) and DuckDB (RE2)."""
    from dask_ml_spark.datapipe.packing import redact_pii

    docs = _t(spark, sf_dir, "documents")
    out = redact_pii(docs)
    return out.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.md5("redacted_text").alias("redacted_md5"))


def _sql_pii_redaction() -> str:
    from dask_ml_spark.datapipe.packing import PII_PATTERNS

    em, ph, ip = PII_PATTERNS["email"], PII_PATTERNS["phone"], PII_PATTERNS["ipv4"]
    return f"""
WITH s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{em}')) AS n_email,
         regexp_replace(text, '{em}', '[EMAIL]', 'g') AS t1
  FROM documents
), s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '{ph}')) AS n_phone,
         regexp_replace(t1, '{ph}', '[PHONE]', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_email, n_phone,
       len(regexp_extract_all(t2, '{ip}')) AS n_ipv4,
       md5(regexp_replace(t2, '{ip}', '[IPV4]', 'g')) AS redacted_md5
FROM s2
"""


def q_token_shards(spark, sf_dir):
    """Token-budget shard packing (datapipe/packing.py::
    pack_token_shards): distributed prefix sum over the doc-id-ordered
    token stream, shard = floor(start_offset / 512). Oracle = the same
    running sum as a SQL window."""
    from dask_ml_spark.datapipe.packing import pack_token_shards

    docs = _t(spark, sf_dir, "documents")
    out = pack_token_shards(docs, budget=512)
    return out.select("doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
                      "shard")


SQL_TOKEN_SHARDS = f"""
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{{TOKEN_RE}}')) AS n_tokens
  FROM documents
), o AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM c
)
SELECT doc_id, n_tokens, CAST(floor(start_offset / 512) AS BIGINT) AS shard
FROM o
""".replace("{TOKEN_RE}", TOKEN_RE_SQL)


def q_sequence_packing(spark, sf_dir):
    """Fixed-length training-sequence chunking
    (datapipe/packing.py::pack_sequences): each document's global
    token span is cut at 256-token sequence boundaries; one row per
    (doc, overlapped sequence) with the local token slice. Exact
    arithmetic over the distributed prefix sum — fully oracled."""
    from dask_ml_spark.datapipe.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=256).select(
        "doc_id", "seq_id", "tok_start", "tok_end")


SQL_SEQUENCE_PACKING = f"""
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(text), '{{TOKEN_RE}}'))::BIGINT AS n
  FROM documents
), o AS (
  SELECT doc_id, n,
         coalesce(sum(n) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
  FROM c
), chunks AS (
  SELECT doc_id, n, s,
         unnest(generate_series(s // 256, (s + n - 1) // 256)) AS seq_id
  FROM o WHERE n > 0
)
SELECT doc_id, seq_id,
       greatest(0, seq_id * 256 - s) AS tok_start,
       least(n, (seq_id + 1) * 256 - s) AS tok_end
FROM chunks
""".replace("{TOKEN_RE}", TOKEN_RE_SQL)


BM25_TOPK_QUERIES = {
    "q_common": ["the", "and", "of"],
    "q_data": ["data", "model", "training"],
}


def q_bm25_topk(spark, sf_dir):
    """Batch BM25 retrieval (datapipe/text_stats.py::bm25_topk): top-10
    documents for each query bag, all query bags sharing one corpus
    pass."""
    from dask_ml_spark.datapipe.text_stats import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    out = bm25_topk(docs, BM25_TOPK_QUERIES, k=10)
    return out.select("query_id", "doc_id", "bm25",
                      F.col("rank").cast("long").alias("rank"))


def _sql_bm25_topk() -> str:
    all_terms = sorted({t for ts in BM25_TOPK_QUERIES.values() for t in ts})
    terms = ", ".join(f"'{t}'" for t in all_terms)
    qvals = ", ".join(f"('{qid}', '{t}')"
                      for qid, ts in sorted(BM25_TOPK_QUERIES.items())
                      for t in sorted(set(ts)))
    return f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
  FROM documents
), dl AS (
  SELECT doc_id, len(toks) AS dl, toks FROM d
), s AS (
  SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, dl, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dl)
  WHERE term IN ({terms})
  GROUP BY 1, 2, 3
), dfq AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1
), q(query_id, term) AS (VALUES {qvals}),
scored AS (
  SELECT query_id, doc_id,
         sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * tf * (1.2 + 1.0)
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS bm25
  FROM tf JOIN dfq USING (term) JOIN q USING (term) CROSS JOIN s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, bm25, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= 10
"""


# =====================================================================
# text analysis datapipe
# =====================================================================

def q_language_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = TS.language_scores(docs)
    return out.select("doc_id", "score_en", "score_de", "score_fr", "score_es", "lang_pred")


def sql_language_id() -> str:
    langs = sorted(TS.STOPWORDS)
    scores = ", ".join(f"{_sql_lang_score(l)} AS score_{l}" for l in langs)
    # argmax with ties → lexicographically-first language
    conds = []
    for lang in langs:
        cmp = " AND ".join(
            f"score_{lang} {'>' if other < lang else '>='} score_{other}"
            for other in langs if other != lang
        )
        conds.append(f"WHEN {cmp} THEN '{lang}'")
    case = "CASE " + " ".join(conds) + f" ELSE '{langs[0]}' END"
    return f"""
WITH scored AS (SELECT doc_id, {scores} FROM documents)
SELECT doc_id, score_en, score_de, score_fr, score_es, {case} AS lang_pred FROM scored
"""


def q_quality_scores(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = TS.quality_scores(docs)
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
        "distinct_ratio", "punct_ratio", "digit_ratio", "upper_ratio", "stopword_ratio",
    )


def sql_quality_scores() -> str:
    en = ", ".join(f"'{w}'" for w in TS.STOPWORDS["en"])
    toks = f"regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')"
    return f"""
SELECT doc_id,
       length(text) AS n_chars,
       len({toks}) AS n_tokens,
       len(list_distinct({toks})) AS n_distinct_tokens,
       len(list_distinct({toks})) / greatest(len({toks}), 1)::DOUBLE AS distinct_ratio,
       length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS punct_ratio,
       length(regexp_replace(text, '[^0-9]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS digit_ratio,
       length(regexp_replace(text, '[^A-Z]', '', 'g')) / greatest(length(text), 1)::DOUBLE AS upper_ratio,
       len(list_intersect(list_distinct({toks}), [{en}])) / greatest(len({toks}), 1)::DOUBLE AS stopword_ratio
FROM documents
"""


def q_document_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return TS.document_fingerprint(docs).select(
        "doc_id", "fingerprint", F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens")
    )


SQL_DOCUMENT_FINGERPRINT = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))), ' ')) AS fingerprint,
       len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))) AS n_distinct_tokens
FROM documents
"""


def q_cooccurrence_topk(spark, sf_dir):
    """Distributed co-occurrence counting (datapipe/embed_train.py —
    the count stage of the PPMI embedding trainer): symmetric
    window-2 pairs over the top-100 vocabulary, top-50 by
    (count desc, w1, w2). The window pairs are built inside the token
    array with HOFs (no positional self-join); the oracle replays the
    identical pair construction with lateral unnest."""
    from dask_ml_spark.datapipe.embed_train import cooccurrence_counts

    docs = _t(spark, sf_dir, "documents")
    cooc = cooccurrence_counts(docs, window=2, vocab_size=100)
    return (cooc.orderBy(F.desc("n"), F.asc("w1"), F.asc("w2")).limit(50))


def q_ppmi_topk(spark, sf_dir):
    """PPMI stage of the embedding trainer: the same deterministic
    top-50 pair SELECTION as cooccurrence_topk (integer-count ordering
    — immune to float rounding flips), with the PPMI value attached.
    The SVD factors carry sign ambiguity, so the embedding stage
    itself is pinned against an independent numpy replay in pytest
    instead of a SQL oracle."""
    from dask_ml_spark.datapipe.embed_train import (cooccurrence_counts,
                                                    ppmi_scores)

    docs = _t(spark, sf_dir, "documents")
    # lazy cut: the top-50 selection AND ppmi's four internal readers
    # share one evaluation of the count pipeline (r14 — the uncut plan
    # re-tokenized the corpus per reference; ppmi_scores' own guarded
    # cut is skipped because this frame is already a checkpoint scan)
    cooc = cooccurrence_counts(docs, window=2, vocab_size=100) \
        .localCheckpoint(eager=False)
    top = cooc.orderBy(F.desc("n"), F.asc("w1"), F.asc("w2")).limit(50)
    return (top.join(ppmi_scores(cooc), ["w1", "w2"])
            .select("w1", "w2", "n", "ppmi"))


def q_collocations_logdice_topk(spark, sf_dir):
    """logDice collocation strength (datapipe/embed_train.py::
    logdice_scores — Rychlý 2008, the Sketch Engine measure): the
    PPMI companion that doesn't grow with corpus size (PMI inflates
    rare pairs; logDice = 14 + log₂(2n/(n1+n2)) is a capped
    harmonic-mean association, comparable across corpora — the right
    ranking for a training-data collocation audit). Same deterministic
    top-50 integer-count pair selection as ppmi_topk, same
    broadcast-marginal join shape."""
    from dask_ml_spark.datapipe.embed_train import (cooccurrence_counts,
                                                    logdice_scores)

    docs = _t(spark, sf_dir, "documents")
    # same shared-evaluation cut as q_ppmi_topk
    cooc = cooccurrence_counts(docs, window=2, vocab_size=100) \
        .localCheckpoint(eager=False)
    top = cooc.orderBy(F.desc("n"), F.asc("w1"), F.asc("w2")).limit(50)
    return (top.join(logdice_scores(cooc), ["w1", "w2"])
            .select("w1", "w2", "n", "logdice"))


def _sql_cooccurrence_base() -> str:
    return f"""
t AS (SELECT regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
      FROM documents),
vocab AS (
  SELECT token AS word FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS token
    FROM documents)
  GROUP BY token ORDER BY count(*) DESC, token ASC LIMIT 100
),
raw AS (
  SELECT toks[i+1] AS wa, toks[i+o+1] AS wb
  FROM t, unnest(range(0, greatest(len(toks)-1, 0))) AS a(i),
       unnest([1, 2]) AS b(o)
  WHERE i + o < len(toks)
),
both_dirs AS (
  SELECT wa AS w1, wb AS w2 FROM raw
  UNION ALL
  SELECT wb AS w1, wa AS w2 FROM raw
),
cooc AS (
  SELECT w1, w2, count(*)::BIGINT AS n
  FROM both_dirs
  WHERE w1 IN (SELECT word FROM vocab) AND w2 IN (SELECT word FROM vocab)
  GROUP BY w1, w2
)"""


SQL_COOCCURRENCE_TOPK = f"""
WITH {_sql_cooccurrence_base()}
SELECT w1, w2, n FROM cooc ORDER BY n DESC, w1, w2 LIMIT 50
"""


SQL_PPMI_TOPK = f"""
WITH {_sql_cooccurrence_base()},
tot AS (SELECT sum(n)::DOUBLE AS t FROM cooc),
m1 AS (SELECT w1, sum(n)::DOUBLE AS n1 FROM cooc GROUP BY w1),
m2 AS (SELECT w2, sum(n)::DOUBLE AS n2 FROM cooc GROUP BY w2),
top AS (SELECT w1, w2, n FROM cooc ORDER BY n DESC, w1, w2 LIMIT 50)
SELECT top.w1, top.w2, top.n,
       round(greatest(0.0, ln((top.n * t) / (n1 * n2))), 6) AS ppmi
FROM top JOIN m1 ON top.w1 = m1.w1 JOIN m2 ON top.w2 = m2.w2
CROSS JOIN tot
"""


SQL_COLLOCATIONS_LOGDICE_TOPK = f"""
WITH {_sql_cooccurrence_base()},
m1 AS (SELECT w1, sum(n) AS n1 FROM cooc GROUP BY w1),
m2 AS (SELECT w2, sum(n) AS n2 FROM cooc GROUP BY w2),
top AS (SELECT w1, w2, n FROM cooc ORDER BY n DESC, w1, w2 LIMIT 50)
SELECT top.w1, top.w2, top.n,
       round(14.0 + ln((2.0 * top.n) / ((n1 + n2)::DOUBLE))
                    / 0.6931471805599453, 6) AS logdice
FROM top JOIN m1 ON top.w1 = m1.w1 JOIN m2 ON top.w2 = m2.w2
"""


def q_source_concentration(spark, sf_dir):
    """Corpus concentration audit (datapipe/profiling.py::
    concentration_profile): how evenly is the character mass spread
    across sources? Gini, HHI, Shannon entropy (+normalized) and the
    top-1 share from ONE groupBy(source) weight aggregate and exact
    driver arithmetic over the ≤G integer totals — the "is this
    dataset secretly one feed?" number every mixture plan needs. The
    oracle replays the ascending-total Σi·xᵢ via a window cumsum on
    the same exact integers."""
    from dask_ml_spark.datapipe.profiling import concentration_profile

    docs = _t(spark, sf_dir, "documents")
    out = concentration_profile(docs, "source", weight_col="n_chars")
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("k", "total",
                      r6(F.col("gini")).alias("gini"),
                      r6(F.col("hhi")).alias("hhi"),
                      r6(F.col("entropy")).alias("entropy"),
                      r6(F.col("entropy_normalized"))
                      .alias("entropy_normalized"),
                      r6(F.col("top1_share")).alias("top1_share"))


def _sql_source_concentration() -> str:
    return """
WITH g AS (
    SELECT source::VARCHAR AS g,
           sum(CAST(floor(n_chars) AS BIGINT))::HUGEINT AS w
    FROM documents
    WHERE source IS NOT NULL AND n_chars IS NOT NULL
      AND NOT isnan(n_chars::DOUBLE) AND n_chars >= 0
    GROUP BY 1
), o AS (
    -- ascending totals, ties by label (deterministic, value-neutral)
    SELECT w, row_number() OVER (ORDER BY w, g) AS i FROM g
), s AS (
    SELECT sum(w * i) AS ixi, sum(w) AS tot, count(*)::BIGINT AS k,
           max(w) AS mx
    FROM o
), e AS (
    SELECT sum((w::DOUBLE / (SELECT tot FROM s)::DOUBLE)
               * (w::DOUBLE / (SELECT tot FROM s)::DOUBLE)) AS hhi,
           sum(-(w::DOUBLE / (SELECT tot FROM s)::DOUBLE)
               * ln(w::DOUBLE / (SELECT tot FROM s)::DOUBLE)) AS ent
    FROM g WHERE w > 0
)
SELECT s.k, s.tot::BIGINT AS total,
       floor((2.0 * s.ixi::DOUBLE / (s.k * s.tot::DOUBLE)
              - (s.k + 1.0) / s.k) * 1e6 + 0.5) / 1e6 AS gini,
       floor(e.hhi * 1e6 + 0.5) / 1e6 AS hhi,
       floor(e.ent * 1e6 + 0.5) / 1e6 AS entropy,
       floor(CASE WHEN s.k > 1 THEN e.ent / ln(s.k) END
             * 1e6 + 0.5) / 1e6 AS entropy_normalized,
       floor((s.mx::DOUBLE / s.tot::DOUBLE) * 1e6 + 0.5) / 1e6
           AS top1_share
FROM s, e
"""


def q_readability_docs(spark, sf_dir):
    """Flesch / Flesch–Kincaid readability (datapipe/text_stats.py::
    readability_scores): per-document surface counts (regex words,
    sentence runs, per-word vowel-group syllables — the standard
    deterministic heuristic) and the two classic scores. One narrow
    JVM projection; the oracle replays the identical regexes and the
    literal score arithmetic."""
    from dask_ml_spark.datapipe.text_stats import readability_scores

    docs = _t(spark, sf_dir, "documents")
    out = readability_scores(docs)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("doc_id", "words", "sentences", "syllables",
                      r6(F.col("flesch")).alias("flesch"),
                      r6(F.col("fk_grade")).alias("fk_grade"))


def _sql_readability_docs() -> str:
    return """
WITH c AS (
    -- NULL text counts as empty (the engine's coalesce convention)
    SELECT doc_id,
           len(regexp_extract_all(lower(coalesce(text, '')),
                                  '[a-z]+')) AS words,
           greatest(1, len(regexp_extract_all(coalesce(text, ''),
                                              '[.!?]+')))
               AS sentences,
           list_sum(list_transform(
               regexp_extract_all(lower(coalesce(text, '')),
                                  '[a-z]+'),
               w -> greatest(1, len(regexp_extract_all(w,
                                                       '[aeiouy]+')))))
               AS syl
    FROM documents
)
SELECT doc_id, words::INTEGER AS words, sentences::INTEGER AS sentences,
       coalesce(syl, 0)::INTEGER AS syllables,
       floor(CASE WHEN words > 0
                  THEN 206.835 - 1.015 * (words::DOUBLE
                                          / sentences::DOUBLE)
                       - 84.6 * (syl::DOUBLE / words::DOUBLE)
             END * 1e6 + 0.5) / 1e6 AS flesch,
       floor(CASE WHEN words > 0
                  THEN 0.39 * (words::DOUBLE / sentences::DOUBLE)
                       + 11.8 * (syl::DOUBLE / words::DOUBLE) - 15.59
             END * 1e6 + 0.5) / 1e6 AS fk_grade
FROM c
"""


def q_strip_markup(spark, sf_dir):
    """Markup stripping (text_stats.strip_markup): documents are
    wrapped in synthetic HTML (tags + script block + entities) inside
    the query, stripped, and hashed — the oracle replays both the
    wrapping and the regexp chain, so the round-trip pins every
    pattern. One narrow JVM projection."""
    from dask_ml_spark.datapipe.text_stats import strip_markup

    docs = _t(spark, sf_dir, "documents")
    html = docs.select(
        "doc_id",
        F.concat(F.lit("<html><head><style>p{color:red}</style></head>"
                       "<body onload=\"x()\"><p class='t'>"),
                 F.col("text"),
                 F.lit("</p><script type=\"text/javascript\">var a=1;"
                       "</script>&amp;&lt;tag&gt;&nbsp;&quot;q&#39;"
                       "</body></html>")).alias("text"))
    out = strip_markup(html)
    return out.select("doc_id", F.md5("text").alias("clean_hash"),
                      F.length("text").cast("long").alias("clean_len"))


SQL_STRIP_MARKUP = r"""
WITH h AS (
    SELECT doc_id,
           '<html><head><style>p{color:red}</style></head><body onload="x()"><p class=''t''>'
           || text ||
           '</p><script type="text/javascript">var a=1;</script>&amp;&lt;tag&gt;&nbsp;&quot;q&#39;</body></html>'
           AS t
    FROM documents
),
s AS (
    SELECT doc_id,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(t, '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<[^>]*>', ' ', 'g'),
        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
        '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
      '[ \t\n\r\f]+', ' ', 'g')) AS clean
    FROM h
)
SELECT doc_id, md5(clean) AS clean_hash, length(clean)::BIGINT AS clean_len
FROM s
"""


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-fit metrics (text_stats.vocab_coverage) per source:
    token count, OOV rate, chars-per-token against a fixed vocabulary
    (the corpus's own 20 most frequent tokens, pinned by the same
    deterministic count+tiebreak in both engines)."""
    from dask_ml_spark.datapipe.dedup import tokens_expr
    from dask_ml_spark.datapipe.text_stats import vocab_coverage

    docs = _t(spark, sf_dir, "documents")
    vocab = (docs.select(F.explode(tokens_expr(F.col("text"))).alias("w"))
             .groupBy("w").agg(F.count("*").alias("c"))
             .orderBy(F.desc("c"), F.asc("w")).limit(20).select("w"))
    return (vocab_coverage(docs, vocab, group_col="source")
            .orderBy("source"))


SQL_VOCAB_COVERAGE = f"""
WITH toks AS (
    SELECT source, unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS token
    FROM documents
),
vocab AS (
    SELECT token AS w FROM toks GROUP BY token
    ORDER BY count(*) DESC, token ASC LIMIT 20
)
SELECT source,
       count(*)::BIGINT AS n_tokens,
       round(avg(CASE WHEN w IS NULL THEN 1.0 ELSE 0.0 END), 6) AS oov_rate,
       round(avg(length(token)), 6) AS chars_per_token
FROM toks LEFT JOIN vocab ON toks.token = vocab.w
GROUP BY source ORDER BY source
"""


# =====================================================================
# curation: boilerplate, shuffling, normalization, link filtering
# =====================================================================

def q_boilerplate_removal(spark, sf_dir):
    """Frequency-threshold boilerplate stripping: every line occurring
    in >= 25 distinct documents is dropped from ALL of them (nav-bar /
    cookie-banner rule — distinct from paragraph_dedup's keep-first).
    The synthetic docs have no newlines, so the query chunks on a
    common word; the operator is generic over `sep`."""
    docs = _t(spark, sf_dir, "documents")
    out = DD.remove_boilerplate(docs, sep=" table ", min_docs=25)
    return out.select("doc_id", "text", "n_lines", "n_kept")


SQL_BOILERPLATE_REMOVAL = """
WITH lines AS (
    SELECT doc_id,
           generate_subscripts(parts, 1) - 1 AS idx,
           unnest(parts) AS line
    FROM (SELECT doc_id, string_split(text, ' table ') AS parts FROM documents)
),
hashed AS (
    SELECT *, md5(line) AS h, length(trim(line)) >= 1 AS counted FROM lines
),
boiler AS (
    SELECT h FROM hashed WHERE counted
    GROUP BY h HAVING count(DISTINCT doc_id) >= 25
)
SELECT doc_id,
       COALESCE(string_agg(line, ' table ' ORDER BY idx)
                FILTER (WHERE keep), '') AS text,
       count(*) AS n_lines,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM (SELECT hashed.*, (b.h IS NULL OR NOT counted) AS keep
      FROM hashed LEFT JOIN boiler b ON hashed.h = b.h)
GROUP BY doc_id
"""


def q_repeated_span_removal(spark, sf_dir):
    """Corpus-wide repeated-span removal (the token-window rendering
    of exact-substring dedup, Lee et al. 2021): every 5-token window
    occurring >= 2 times anywhere in the corpus is removed from all
    but its first (min (doc_id, pos)) occurrence. Window hashing,
    occurrence counting, first-occurrence election, coverage merge,
    and reassembly all replay in SQL."""
    docs = _t(spark, sf_dir, "documents")
    out = DD.remove_repeated_spans(docs, span_tokens=5, min_occurrences=2)
    return out.select("doc_id", "text", "n_tokens", "n_kept")


SQL_REPEATED_SPAN_REMOVAL = f"""
WITH base AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
    FROM documents
),
wins AS (
    SELECT b.doc_id, u.p - 1 AS pos,
           md5(array_to_string(b.toks[u.p : u.p + 4], ' ')) AS h
    FROM base b, unnest(range(1, len(b.toks) - 3)) AS u(p)
),
dup AS (
    SELECT h FROM wins GROUP BY h HAVING count(*) >= 2
),
ranked AS (
    SELECT w.doc_id, w.pos,
           row_number() OVER (PARTITION BY w.h
                              ORDER BY w.doc_id, w.pos) AS rn
    FROM wins w JOIN dup USING (h)
),
cov AS (
    SELECT DISTINCT r.doc_id, r.pos + u.i AS idx
    FROM ranked r, unnest(range(0, 5)) AS u(i)
    WHERE r.rn > 1
),
tok AS (
    SELECT doc_id, generate_subscripts(toks, 1) - 1 AS idx,
           unnest(toks) AS tok
    FROM base
)
SELECT t.doc_id,
       COALESCE(string_agg(t.tok, ' ' ORDER BY t.idx)
                FILTER (WHERE c.idx IS NULL), '') AS text,
       count(*)::BIGINT AS n_tokens,
       sum(CASE WHEN c.idx IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.idx = c.idx
GROUP BY t.doc_id
UNION ALL
SELECT doc_id, '' AS text, 0::BIGINT AS n_tokens, 0::BIGINT AS n_kept
FROM base WHERE len(toks) = 0
"""


def q_document_chunks(spark, sf_dir):
    """Overlapping token-window chunking (datapipe/packing.py::
    chunk_documents): 32-token chunks at stride 24 (8-token overlap) —
    the RAG/embedding-ingest splitter, a pure narrow projection (zero
    shuffles); chunk boundaries, contents, and the no-redundant-tail
    rule all replay in SQL."""
    from dask_ml_spark.datapipe.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, stride=24).select(
        "doc_id", "chunk_id", "text", "n_tokens")


SQL_DOCUMENT_CHUNKS = f"""
WITH base AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
    FROM documents
), nc AS (
    SELECT doc_id, toks,
           1 + greatest(CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT), 0)
               AS n_chunks
    FROM base WHERE len(toks) > 0
)
SELECT doc_id, u.i AS chunk_id,
       array_to_string(toks[u.i*24 + 1 : u.i*24 + 32], ' ') AS text,
       len(toks[u.i*24 + 1 : u.i*24 + 32])::BIGINT AS n_tokens
FROM nc, unnest(range(0, n_chunks)) AS u(i)
"""


def q_shuffle_shards(spark, sf_dir):
    """Content-deterministic corpus shuffle: md5(seed, doc_id) gives
    shard + within-shard order; per-shard count and first/last key are
    value-checked (the whole permutation is a function of content, so
    the oracle replays it exactly)."""
    from dask_ml_spark.datapipe.sampling import shuffle_shards

    docs = _t(spark, sf_dir, "documents")
    out = shuffle_shards(docs, n_shards=8, key_cols="doc_id", seed=1)
    return (out.groupBy("shard")
            .agg(F.count("*").alias("n_docs"),
                 F.min("shuffle_key").alias("first_key"),
                 F.max("shuffle_key").alias("last_key")))


SQL_SHUFFLE_SHARDS = """
WITH keyed AS (
    SELECT doc_id,
           md5('1' || chr(31) || doc_id::VARCHAR) AS shuffle_key
    FROM documents
)
SELECT ('0x' || substr(shuffle_key, 1, 15))::BIGINT % 8 AS shard,
       count(*) AS n_docs,
       min(shuffle_key) AS first_key,
       max(shuffle_key) AS last_key
FROM keyed
GROUP BY 1
"""


def q_outlink_domain_profile(spark, sf_dir):
    """Outbound-link domain profile after a blocklist pass: synthetic
    deterministic URLs are appended in both engines, documents linking
    to a blocked domain are removed (broadcast semi-join -> anti-join),
    and the surviving corpus is profiled per domain. Extraction is one
    JVM regexp_extract_all — the identical RE2 pattern runs in the
    oracle."""
    from dask_ml_spark.datapipe.text_stats import (filter_blocked_domains,
                                                   outlink_domains)

    docs = (_t(spark, sf_dir, "documents")
            .withColumn("text", F.concat(
                F.col("text"), F.lit(" see https://site"),
                (F.col("doc_id") % 20).cast("string"),
                F.lit(".example.com/page and https://cdn.shared.net/x"))))
    block = local_frame(
        docs.sparkSession, [("site3.example.com",), ("site7.example.com",)],
        "domain string")
    kept = filter_blocked_domains(docs, block)
    return (outlink_domains(kept)
            .groupBy("domain")
            .agg(F.count("*").alias("n_links"),
                 F.countDistinct("doc_id").alias("n_docs")))


def _sql_outlink_domain_profile() -> str:
    from dask_ml_spark.datapipe.text_stats import URL_DOMAIN_RE

    return SQL_OUTLINK_DOMAIN_PROFILE_TMPL.replace("__URL_RE__", URL_DOMAIN_RE)


SQL_OUTLINK_DOMAIN_PROFILE_TMPL = """
WITH aug AS (
    SELECT doc_id,
           text || ' see https://site' || (doc_id % 20)::VARCHAR
                || '.example.com/page and https://cdn.shared.net/x' AS text
    FROM documents
),
links AS (
    SELECT doc_id,
           lower(unnest(regexp_extract_all(
               text, '__URL_RE__', 1))) AS domain
    FROM aug
),
bad AS (
    SELECT DISTINCT doc_id FROM links
    WHERE domain IN ('site3.example.com', 'site7.example.com')
)
SELECT domain, count(*) AS n_links, count(DISTINCT doc_id) AS n_docs
FROM links
WHERE doc_id NOT IN (SELECT doc_id FROM bad)
GROUP BY 1
"""


def q_corpus_manifest(spark, sf_dir):
    """Per-source release manifest: counts, token mass, id range, and
    an order-insensitive engine-portable content checksum (bit_xor of
    a 60-bit md5 fold) — ONE hash aggregate, verifiable without
    re-reading shards in any fixed order."""
    from dask_ml_spark.datapipe.profiling import corpus_manifest

    docs = _t(spark, sf_dir, "documents")
    return corpus_manifest(docs, group_cols=("source",))


SQL_CORPUS_MANIFEST = f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))) AS BIGINT) AS n_tokens,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       bit_xor(('0x' || substr(md5(doc_id::VARCHAR || chr(31) || text), 1, 15))::BIGINT)
           AS content_checksum
FROM documents
GROUP BY source
"""


def q_corpus_diff(spark, sf_dir):
    """Release-to-release diff: a v2 corpus is derived deterministically
    (every 7th doc dropped, every 5th edited) and diffed against v1 by
    content hash — added/removed/retained copy counts per source.
    Duplicate content cannot fan out the join (per-side hash counts)."""
    from dask_ml_spark.datapipe.profiling import corpus_diff

    docs = _t(spark, sf_dir, "documents")
    v2 = (docs.where(F.col("doc_id") % 7 != 0)
          .withColumn("text", F.when(F.col("doc_id") % 5 == 0,
                                     F.concat(F.col("text"), F.lit(" v2")))
                      .otherwise(F.col("text"))))
    return corpus_diff(docs, v2, group_cols=("source",))


SQL_CORPUS_DIFF = """
WITH v2 AS (
    SELECT source,
           CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
    FROM documents WHERE doc_id % 7 <> 0
), o AS (
    SELECT source, md5(text) AS h, count(*) AS n_old
    FROM documents GROUP BY 1, 2
), n AS (
    SELECT source, md5(text) AS h, count(*) AS n_new
    FROM v2 GROUP BY 1, 2
), j AS (
    SELECT coalesce(o.source, n.source) AS source,
           coalesce(n_old, 0) AS no, coalesce(n_new, 0) AS nn
    FROM o FULL OUTER JOIN n ON o.source = n.source AND o.h = n.h
)
SELECT source,
       CAST(sum(greatest(nn - no, 0)) AS BIGINT) AS added,
       CAST(sum(greatest(no - nn, 0)) AS BIGINT) AS removed,
       CAST(sum(least(no, nn)) AS BIGINT) AS retained
FROM j GROUP BY 1
"""


def q_perplexity_bucket_sample(spark, sf_dir):
    """Perplexity-curriculum selection: bigram-LM fluency scores ->
    equal-width buckets -> content-deterministic per-bucket sampling
    rates (keep the mid-perplexity band fully, thin the tails — the
    CCNet bucketing rule). Composition of three oracled operators in
    one Catalyst plan."""
    from dask_ml_spark.datapipe.text_stats import bigram_logprob_scores
    from dask_ml_spark.plans.model_selection import _hash_bucket_expr

    docs = _t(spark, sf_dir, "documents")
    # bigram_logprob_scores already returns avg_logprob rounded to 6,
    # so both engines bucket the same values; the bucket bounds are
    # dyadic (width 0.0625), keeping the arithmetic FP-exact too
    scored = bigram_logprob_scores(docs)
    b = F.width_bucket(F.col("avg_logprob"), F.lit(-3.5), F.lit(-3.25), F.lit(4))
    rates = {1: 0.25, 2: 1.0, 3: 1.0, 4: 0.25, 0: 0.1, 5: 0.1}
    keep_cut = F.create_map(*[F.lit(x) for kv in rates.items() for x in kv])[b]
    bucket = _hash_bucket_expr(["doc_id"], 10_000, 17, df=scored)
    out = (scored.withColumn("ppl_bucket", b.cast("int"))
           .where(bucket < keep_cut * 10_000)
           .groupBy("ppl_bucket")
           .agg(F.count("*").alias("n_kept"),
                F.round(F.avg("avg_logprob"), 6).alias("mean_logprob")))
    return out


def _sql_perplexity_bucket_sample(sql_bigram_logprob: str) -> str:
    return f"""
WITH scored AS ({sql_bigram_logprob}),
b AS (
    SELECT doc_id, avg_logprob,
           CASE WHEN avg_logprob < -3.5 THEN 0
                WHEN avg_logprob >= -3.25 THEN 5
                ELSE 1 + floor((avg_logprob - (-3.5)) / 0.0625)::INT END AS ppl_bucket,
           ((((17 + doc_id) % 2147483648) * 2654435761) % 2147483648) % 10000 AS bucket
    FROM scored
), rated AS (
    SELECT *, CASE ppl_bucket WHEN 1 THEN 0.25 WHEN 2 THEN 1.0
                              WHEN 3 THEN 1.0 WHEN 4 THEN 0.25
                              ELSE 0.1 END AS cut
    FROM b
)
SELECT ppl_bucket, count(*) AS n_kept,
       round(avg(avg_logprob), 6) AS mean_logprob
FROM rated
WHERE bucket < cut * 10000
GROUP BY 1
"""


def q_quality_classifier_scores(spark, sf_dir):
    """Weak-supervision quality classifier end to end: heuristic
    length-prior labels -> distributed GaussianNB moments fit ->
    corpus-wide log-odds scoring as a literal-folded projection. The
    oracle replays the features, the labeling rule, the per-class
    mean/var_pop aggregates, sklearn's var_smoothing rule, and the
    full joint-log-likelihood arithmetic — the SCORES hash-match, not
    just the fit."""
    from dask_ml_spark.datapipe.quality_model import (score_quality,
                                                      train_quality_classifier)

    docs = _t(spark, sf_dir, "documents")
    nb = train_quality_classifier(docs)
    scored = score_quality(docs, nb)
    return scored.select(
        "doc_id",
        F.round("quality_logit", 6).alias("quality_logit"),
        (F.col("quality_logit") > 0).cast("int").alias("pred"))


def _sql_quality_classifier_scores() -> str:
    en = ", ".join(f"'{w}'" for w in TS.STOPWORDS["en"])

    def jll(m: str) -> str:
        terms = [f"ln({m}.prior)"]
        for j, f in enumerate(
                ["distinct_ratio", "stopword_ratio", "digit_ratio"], 1):
            terms.append(f"- 0.5 * ln(2 * pi() * {m}.v{j})")
            terms.append(f"- pow(f.{f} - {m}.m{j}, 2) / (2 * {m}.v{j})")
        return " ".join(terms)

    return f"""
WITH feats AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) / greatest(len(toks), 1)::DOUBLE AS distinct_ratio,
           len(list_intersect(list_distinct(toks), [{en}]))
               / greatest(len(toks), 1)::DOUBLE AS stopword_ratio,
           length(regexp_replace(text, '[^0-9]', '', 'g'))
               / greatest(length(text), 1)::DOUBLE AS digit_ratio
    FROM (SELECT doc_id, text,
                 regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
          FROM documents)
), lab AS (
    SELECT *, CASE WHEN n_tokens >= 40 THEN 1 ELSE 0 END AS label FROM feats
), stats AS (
    SELECT label, count(*)::DOUBLE AS n,
           avg(distinct_ratio) AS m1, var_pop(distinct_ratio) AS v1,
           avg(stopword_ratio) AS m2, var_pop(stopword_ratio) AS v2,
           avg(digit_ratio)    AS m3, var_pop(digit_ratio)    AS v3
    FROM lab GROUP BY label
), eps AS (
    SELECT 1e-9 * max(greatest(v1, v2, v3)) AS e FROM stats
), model AS (
    SELECT label, n / (SELECT sum(n) FROM stats) AS prior,
           m1, v1 + e AS v1, m2, v2 + e AS v2, m3, v3 + e AS v3
    FROM stats CROSS JOIN eps
)
SELECT doc_id, round(logit, 6) AS quality_logit,
       CASE WHEN logit > 0 THEN 1 ELSE 0 END AS pred
FROM (
    SELECT f.doc_id, ({jll('g')}) - ({jll('b')}) AS logit
    FROM feats f
    CROSS JOIN (SELECT * FROM model WHERE label = 1) g
    CROSS JOIN (SELECT * FROM model WHERE label = 0) b
)
"""


def q_bpe_pair_counts(spark, sf_dir):
    """First round of distributed BPE training: adjacent-symbol pair
    frequencies over the word-TYPE table (the corpus is touched once;
    every merge round runs on the vocabulary-bounded types). Top-20
    with full deterministic tie-break."""
    from dask_ml_spark.datapipe.bpe import _pair_counts, _to_symbols, word_types

    docs = _t(spark, sf_dir, "documents")
    words = word_types(docs).withColumn("syms", _to_symbols(F.col("word")))
    return (_pair_counts(words)
            .select(F.col("left").alias("pair_left"),
                    F.col("right").alias("pair_right"),
                    F.col("pair_count"))
            .orderBy(F.desc("pair_count"), "pair_left", "pair_right")
            .limit(20))


SQL_BPE_PAIR_COUNTS = """
WITH words AS (
    SELECT word, count(*) AS n FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9_]{2,}')) AS word
        FROM documents)
    GROUP BY word
),
syms AS (
    SELECT n, regexp_extract_all(word, '.') AS cs FROM words
    WHERE length(word) >= 2
),
pairs AS (
    SELECT cs[i] AS pair_left, cs[i + 1] AS pair_right, n
    FROM syms, unnest(range(1, len(cs))) AS t(i)
)
SELECT pair_left, pair_right, CAST(sum(n) AS BIGINT) AS pair_count
FROM pairs
GROUP BY 1, 2
ORDER BY pair_count DESC, pair_left, pair_right
LIMIT 20
"""


def q_bpe_merges(spark, sf_dir):
    """Full distributed BPE training (6 merge rounds) — deterministic
    (ties break count desc, pair asc) but its k-round greedy replay is
    not expressible in one SQL pass, so the driver does the rows-only
    check; pytest pins training EXACTLY against an independent
    pure-Python BPE (tests/test_bpe.py)."""
    from dask_ml_spark.datapipe.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, n_merges=6)
    return local_frame(
        spark, [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "rank int, pair_left string, pair_right string, pair_count bigint")


def q_copurchase_triangles(spark, sf_dir):
    """Triangle counting (datapipe/graph.py triangle_count — Cohen's
    degree-orientation MapReduce algorithm) over the part co-purchase
    graph: parts are adjacent when some order contains both. The top
    10 parts by triangle membership; integer counts, so the ordering
    is engine-exact."""
    from dask_ml_spark.datapipe.graph import triangle_count
    from dask_ml_spark.operators.frequent_patterns import _pairs_hof

    # a half-year shipdate window scopes the graph (the full-corpus
    # co-purchase graph at sf0.1 already has 1.2M edges / 1.9M
    # triangles — honest but bench-dominating); the filter pushes to
    # the parquet scan
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01")
        & (F.col("l_shipdate") < "1995-07-01"))
    arrs = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("__arr"))
    edges = (arrs
             .select(F.explode(_pairs_hof(F.col("__arr"))).alias("__p"))
             .select(F.col("__p.a").alias("src"),
                     F.col("__p.b").alias("dst"))
             .distinct())
    return (triangle_count(edges)
            .orderBy(F.desc("triangles"), "node")
            .limit(10)
            .select(F.col("node").cast("long").alias("node"), "triangles"))


SQL_COPURCHASE_TRIANGLES = """
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
            WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1995-07-01'),
e AS (SELECT DISTINCT x.i AS u, y.i AS v
      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i),
t AS (SELECT e1.u AS a, e1.v AS bb, e2.v AS c
      FROM e e1
      JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
      JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
nodes AS (SELECT a AS node FROM t
          UNION ALL SELECT bb FROM t
          UNION ALL SELECT c FROM t)
SELECT node, count(*)::BIGINT AS triangles
FROM nodes GROUP BY node
ORDER BY triangles DESC, node
LIMIT 10
"""


def q_score_smoothing(spark, sf_dir):
    """Graph-based quality denoising (datapipe/graph.py::
    smooth_scores): each document's length-based quality score blends
    with the mean score of its semantic neighbors from the pinned-plane
    k-NN graph (the exact edge set of knn_graph_topk). One iteration
    with alpha=0.5 keeps every arithmetic step FP-exact and
    order-independent — integer n_chars sums add exactly in double, the
    avg divides once, and the 0.5/0.5 blend is dyadic — so the whole
    propagation replays bit-for-bit in SQL with no rounding."""
    import numpy as np

    from dask_ml_spark.datapipe.graph import smooth_scores
    from dask_ml_spark.datapipe.similarity import CosineLSHIndex, knn_graph

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    lsh = CosineLSHIndex(n_bands=8, bits_per_band=10)
    planes = (emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 180))
              .orderBy("vec_id").select("embedding").collect())
    lsh.hyperplanes_ = np.asarray([list(r[0]) for r in planes], dtype="float64")
    edges = knn_graph(emb, k=5, index=lsh)
    scores = docs.select(
        "doc_id", F.col("n_chars").cast("double").alias("score"))
    out = smooth_scores(edges, scores, id_col="doc_id", score_col="score",
                        alpha=0.5, iters=1)
    return out.select("doc_id", F.col("score").alias("smooth_score"))


SQL_SCORE_SMOOTHING = f"""
WITH edges AS ({SQL_KNN_GRAPH_TOPK}),
s0 AS (SELECT doc_id, n_chars::DOUBLE AS s FROM documents),
nb AS (
    SELECT e.src AS doc_id, avg(n.s) AS nbavg
    FROM edges e JOIN s0 n ON n.doc_id = e.dst
    GROUP BY e.src
)
SELECT s0.doc_id,
       CASE WHEN nb.nbavg IS NULL THEN s0.s
            ELSE 0.5 * s0.s + 0.5 * nb.nbavg END AS smooth_score
FROM s0 LEFT JOIN nb ON s0.doc_id = nb.doc_id
"""


def q_token_heavy_hitters(spark, sf_dir):
    """Corpus vocabulary profiling at scale (datapipe/sketches.py::
    heavy_hitters): top-30 most frequent tokens via the Misra-Gries
    per-partition sketch + candidate-recount path. require_sketch=True
    pins that the exactness certificate held (k-th frequency >
    N/(capacity+1)) — so the sketch plan ran AND the answer is provably
    the exact top-30, which is why this shares the plain exact SQL
    oracle."""
    from dask_ml_spark.datapipe.dedup import tokens_expr
    from dask_ml_spark.datapipe.sketches import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens_expr(F.col("text"))).alias("token"))
    return heavy_hitters(toks, "token", k=30, capacity=4096,
                         require_sketch=True).select(
        F.col("value").alias("token"), F.col("freq").cast("long").alias("freq"))


SQL_TOKEN_HEAVY_HITTERS = f"""
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS token
    FROM documents
)
SELECT token, count(*)::BIGINT AS freq
FROM toks GROUP BY token
ORDER BY freq DESC, token ASC LIMIT 30
"""


def q_weighted_doc_sample(spark, sf_dir):
    """Quality-weighted corpus subsampling (datapipe/sampling.py::
    weighted_sample): 60 documents drawn WITHOUT replacement with
    probability proportional to length, via the Efraimidis-Spirakis
    exponential-key scheme seeded from the content hash — deterministic,
    so the oracle re-derives every key and verifies the selected
    CONTENT, not just the sample size."""
    from dask_ml_spark.datapipe.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return (weighted_sample(docs, 60, "n_chars", "doc_id", salt=3)
            .select("doc_id", "n_chars"))


SQL_WEIGHTED_DOC_SAMPLE = """
WITH keyed AS (
    SELECT doc_id, n_chars,
           round(-ln((((((3 + doc_id) % 2147483648) * 2654435761)
                       % 2147483648) % 1048576 + 0.5) / 1048576.0)
                 / n_chars, 9) AS aes
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars FROM keyed
ORDER BY aes ASC, doc_id ASC LIMIT 60
"""


def q_weighted_lang_sample(spark, sf_dir):
    """Per-group weighted sampling (datapipe/sampling.py::
    weighted_sample_per_group): 5 length-weighted documents per
    language through the two-stage skew-safe top-k — a language holding
    90% of the corpus never funnels through one window task."""
    from dask_ml_spark.datapipe.sampling import weighted_sample_per_group

    docs = _t(spark, sf_dir, "documents")
    return (weighted_sample_per_group(docs, "lang", 5, "n_chars",
                                      "doc_id", salt=7)
            .select("doc_id", "lang", "n_chars"))


SQL_WEIGHTED_LANG_SAMPLE = """
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           round(-ln((((((7 + doc_id) % 2147483648) * 2654435761)
                       % 2147483648) % 1048576 + 0.5) / 1048576.0)
                 / n_chars, 9) AS aes
    FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, n_chars FROM (
    SELECT doc_id, lang, n_chars,
           row_number() OVER (PARTITION BY lang
                              ORDER BY aes ASC, doc_id ASC) AS rn
    FROM keyed
) WHERE rn <= 5
"""


def q_source_token_quota(spark, sf_dir):
    """Per-source token budget (datapipe/sampling.py::token_quota,
    batch rendering of streaming/stateful.py::token_quota_stream):
    keep documents in id order until each source's cumulative tokens
    hit the quota. The oracle replays the same running-sum window."""
    from dask_ml_spark.datapipe.sampling import token_quota

    docs = _t(spark, sf_dir, "documents")
    kept = token_quota(docs, quota=5_000)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("tokens_used"),
                 F.sum("doc_id").alias("id_checksum")))


SQL_SOURCE_TOKEN_QUOTA = f"""
WITH t AS (
    SELECT doc_id, source,
           len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS n_tokens
    FROM documents
), c AS (
    SELECT doc_id, source, n_tokens,
           sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_used,
       sum(doc_id) AS id_checksum
FROM c WHERE cum <= 5000 GROUP BY source
"""


KCENTER_K = 6


def q_kcenter_sample(spark, sf_dir):
    """Greedy k-center diversity sample (sampling.kcenter_sample) over
    the embeddings table: k=6 farthest-point selections with min-id
    seed and min-id tie-breaks. Fully oracle-verified — the SQL
    replays every round (chained CTEs: each round's argmax of the
    least squared distance to the previously selected centers) and
    the covering-radius distances round to 6."""
    from dask_ml_spark.datapipe.sampling import kcenter_sample

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_sample(emb, k=KCENTER_K, vec_col="embedding",
                          id_col="vec_id")


def _sql_kcenter_sample() -> str:
    """Round-by-round replay: cN = argmax over rows of min squared
    distance to c1..c(N-1), ties to the smallest vec_id; distances in
    DOUBLE via per-index lambda (same elementwise (a-b)^2 sum as the
    Spark zip_with fold)."""
    def dist(c):
        return ("list_sum(list_transform(generate_series(1, len(e.v)), "
                f"i -> (e.v[i] - {c}.v[i]) * (e.v[i] - {c}.v[i])))")

    ctes = ["e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
            "c1 AS (SELECT vec_id, v, 0.0 AS dist FROM e ORDER BY vec_id LIMIT 1)"]
    for r in range(2, KCENTER_K + 1):
        prev = [f"c{i}" for i in range(1, r)]
        d = (f"least({', '.join(dist(c) for c in prev)})"
             if len(prev) > 1 else dist(prev[0]))
        joins = " CROSS JOIN ".join(["e"] + prev)
        ctes.append(
            f"c{r} AS (SELECT e.vec_id, e.v, {d} AS dist "
            f"FROM {joins} ORDER BY dist DESC, e.vec_id LIMIT 1)")
    selects = [
        f'SELECT {r} AS "round", vec_id, '
        f"floor(dist * 1e6 + 0.5) / 1e6 AS dist FROM c{r}"
        for r in range(1, KCENTER_K + 1)]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def q_stratified_sample(spark, sf_dir):
    """Content-hash stratified sampling (datapipe/sampling.py): keep
    30% of English, all German, half of Chinese documents; other
    languages dropped. The oracle recomputes the SAME Knuth-hash bucket
    arithmetic in SQL and checks the selected row CONTENT (per-language
    count + doc_id checksum), not just sizes."""
    from dask_ml_spark.datapipe.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, "lang", {"en": 0.3, "de": 1.0, "zh": 0.5}, key_cols="doc_id")
    return (kept.groupBy("lang")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("doc_id").alias("id_checksum")))


def q_unigram_logprob(spark, sf_dir):
    """Unigram-LM fluency scoring (datapipe/text_stats.py): the corpus
    is its own language model; score = mean ln p(token) with additive
    smoothing — the light-weight stand-in for a KenLM perplexity gate."""
    docs = _t(spark, sf_dir, "documents")
    return TS.unigram_logprob_scores(docs)


SQL_UNIGRAM_LOGPROB = f"""
WITH toks AS (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS token
    FROM documents
), lm AS (
    SELECT token, count(*) AS c FROM toks GROUP BY token
), stats AS (
    SELECT CAST(sum(c) AS DOUBLE) AS n, CAST(count(*) AS DOUBLE) AS v FROM lm
), scored AS (
    SELECT t.doc_id, ln((lm.c + 0.5) / (stats.n + 0.5 * stats.v)) AS logp
    FROM toks t JOIN lm ON t.token = lm.token CROSS JOIN stats
)
SELECT doc_id, count(*) AS n_tokens, round(avg(logp), 6) AS avg_logprob
FROM scored GROUP BY doc_id
"""


def q_bigram_logprob(spark, sf_dir):
    """Conditional bigram-LM fluency scoring (datapipe/text_stats.py::
    bigram_logprob_scores) — word order matters; docs with <2 tokens
    have no bigrams and drop out."""
    docs = _t(spark, sf_dir, "documents")
    return TS.bigram_logprob_scores(docs)


SQL_BIGRAM_LOGPROB = f"""
WITH arrs AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS arr
    FROM documents
), toks AS (
    SELECT doc_id, generate_subscripts(arr, 1) AS ord, unnest(arr) AS token
    FROM arrs
), big AS (
    SELECT l.doc_id, l.token AS a, r.token AS b
    FROM toks l JOIN toks r ON l.doc_id = r.doc_id AND r.ord = l.ord + 1
), uni AS (
    SELECT token, count(*) AS ca FROM toks GROUP BY token
), stats AS (
    SELECT CAST(count(*) AS DOUBLE) AS v FROM uni
), bi AS (
    SELECT a, b, count(*) AS cab FROM big GROUP BY a, b
), scored AS (
    SELECT g.doc_id,
           ln((bi.cab + 0.5) / (uni.ca + 0.5 * stats.v)) AS logp
    FROM big g
    JOIN bi ON g.a = bi.a AND g.b = bi.b
    JOIN uni ON g.a = uni.token
    CROSS JOIN stats
)
SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 6) AS avg_logprob
FROM scored GROUP BY doc_id
"""


PROFILE_NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


PROFILE_STR_COLS = ["l_returnflag", "l_linestatus"]


def q_table_profile(spark, sf_dir):
    """One-pass per-column profiling (datapipe/profiling.py): null
    fractions, exact cardinalities (exact only for the oracle — the
    operator defaults to HyperLogLog approx_count_distinct at scale),
    numeric moments, string min/max. The whole profile is one wide
    aggregate; #columns rows reach the driver."""
    from dask_ml_spark.datapipe.profiling import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(li, PROFILE_NUM_COLS + PROFILE_STR_COLS,
                         approx_distinct=False)


def q_table_profile_approx(spark, sf_dir):
    """The HLL profiling path, oracle-verified (r7): one fused
    aggregate computes the exact distinct counts AND the HLL++
    estimates, emitting hll_ok = |hll − exact| ≤ max(3·rsd·exact, 2)
    per column. The oracle replays every deterministic stat and
    asserts hll_ok TRUE — a broken sketch flips the flag and fails the
    hash-match. (The library default stays pure-HLL for the 100 TB
    path; this rendering pays the exact-distinct EXPAND only to keep
    the sketch value-checked.)"""
    from dask_ml_spark.datapipe.profiling import profile_table

    li = _t(spark, sf_dir, "lineitem")
    return profile_table(li, PROFILE_NUM_COLS + PROFILE_STR_COLS,
                         check_hll=True)


def _sql_table_profile() -> str:
    parts = []
    for c in PROFILE_NUM_COLS:
        parts.append(f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       round((count(*) - count({c})) / count(*), 6) AS null_frac,
       count(DISTINCT {c}) AS n_distinct,
       round(CAST(min({c}) AS DOUBLE), 6) AS min_num,
       round(CAST(max({c}) AS DOUBLE), 6) AS max_num,
       round(avg({c}), 6) AS mean, round(stddev_samp({c}), 6) AS stddev,
       NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
FROM lineitem""")
    for c in PROFILE_STR_COLS:
        parts.append(f"""
SELECT '{c}' AS "column", count(*) AS n_rows,
       count(*) - count({c}) AS n_nulls,
       round((count(*) - count({c})) / count(*), 6) AS null_frac,
       count(DISTINCT {c}) AS n_distinct,
       NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,
       NULL::DOUBLE AS mean, NULL::DOUBLE AS stddev,
       min({c}) AS min_str, max({c}) AS max_str
FROM lineitem""")
    return "\nUNION ALL\n".join(parts)


def q_script_profile(spark, sf_dir):
    """Unicode-script character profile (text_stats.script_profile):
    9 script-range counts + dominant script + non-ASCII fraction per
    document, with mixed-script content fabricated deterministically
    (every 3rd doc gets Cyrillic appended, every 5th Han+kana) so the
    dominant-script tie-break machinery actually runs. Fully oracled —
    the literal character-class patterns parse identically in Java
    regex and RE2."""
    from dask_ml_spark.datapipe.text_stats import script_profile

    docs = _t(spark, sf_dir, "documents")
    spiked = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit(" привет мир словарь текст")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" 漢字かなカナ言語処理")).otherwise(F.lit("")),
        ).alias("text"))
    # round_digits=None + one floor-form rounding of the raw ratio —
    # single rounding on both engines (see q_gopher_quality)
    out = script_profile(spiked, round_digits=None)
    return out.withColumn(
        "non_ascii_frac",
        F.floor(F.col("non_ascii_frac") * 1e6 + F.lit(0.5)) / 1e6)


def _sql_script_profile() -> str:
    from dask_ml_spark.datapipe.text_stats import (_ASCII_PRINTABLE,
                                                   SCRIPT_PATTERNS)

    names = sorted(SCRIPT_PATTERNS)
    cnt = {s: ("(length(t) - length(regexp_replace(t, '"
               + SCRIPT_PATTERNS[s] + "', '', 'g')))")
           for s in names}
    branches = []
    for s in names:
        conds = [f"{cnt[s]} > 0"]
        for o in names:
            if o == s:
                continue
            op = ">" if o < s else ">="
            conds.append(f"{cnt[s]} {op} {cnt[o]}")
        branches.append("WHEN " + " AND ".join(conds) + f" THEN '{s}'")
    case = "CASE " + " ".join(branches) + " ELSE 'none' END"
    count_cols = ", ".join(f"{cnt[s]}::BIGINT AS n_{s}" for s in names)
    na = ("length(regexp_replace(t, '" + _ASCII_PRINTABLE
          + "', '', 'g'))")
    return f"""
WITH spiked AS (
    SELECT doc_id,
           text
           || (CASE WHEN doc_id % 3 = 0
               THEN ' привет мир словарь текст' ELSE '' END)
           || (CASE WHEN doc_id % 5 = 0
               THEN ' 漢字かなカナ言語処理' ELSE '' END) AS t
    FROM documents
)
SELECT doc_id, {count_cols},
       {case} AS dominant_script,
       floor({na} / greatest(length(t), 1)::DOUBLE * 1e6 + 0.5) / 1e6
           AS non_ascii_frac
FROM spiked
"""


def q_gopher_quality(spark, sf_dir):
    """The published Gopher quality-rule battery (text_stats.
    gopher_quality) over every document: word/line statistics, symbol
    and bullet/ellipsis fractions, alphabetic-word fraction, stopword
    presence, and the combined pass flag. Fully oracled — the SQL
    replays every rule from the same splits; ratio columns round via
    an explicit floor(x*1e6+0.5)/1e6 so both engines apply identical
    half-up semantics (Spark round is HALF_UP, DuckDB's is not, and
    dyadic ratios like 1/128 land exactly on the .5 boundary)."""
    from dask_ml_spark.datapipe.text_stats import gopher_quality

    docs = _t(spark, sf_dir, "documents")
    # round_digits=None: take the RAW ratios and apply the
    # engine-portable floor form exactly ONCE — rounding the library's
    # HALF_UP 6-digit values again could disagree with the oracle's
    # single rounding on values within an ulp of a .5e-6 boundary
    out = gopher_quality(docs, round_digits=None)
    fix = [(c, F.floor(F.col(c) * 1e6 + F.lit(0.5)) / 1e6)
           for c in ("mean_word_len", "symbol_ratio", "bullet_line_frac",
                     "ellipsis_line_frac", "alpha_word_frac")]
    return out.withColumns(dict(fix))


SQL_GOPHER_QUALITY = r"""
WITH w AS (
    SELECT doc_id, word FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(text, '[ \t\n\r\f]+')) AS word
        FROM documents)
    WHERE length(word) > 0
),
ws AS (
    SELECT doc_id, count(*)::BIGINT AS n_words,
           sum(length(word))::DOUBLE AS sum_len,
           sum(CASE WHEN regexp_matches(word, '[A-Za-z]')
                    THEN 1 ELSE 0 END)::BIGINT AS n_alpha,
           count(DISTINCT CASE WHEN lower(word) IN
               ('the','be','to','of','and','that','have','with')
               THEN lower(word) END)::BIGINT AS n_stop
    FROM w GROUP BY doc_id
),
l AS (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line
    FROM documents
),
ls AS (
    SELECT doc_id, count(*)::BIGINT AS n_lines,
           sum(CASE WHEN left(line, 1) IN ('•', '-', '*')
                    THEN 1 ELSE 0 END)::BIGINT AS n_bullet,
           sum(CASE WHEN line LIKE '%...' OR line LIKE '%…'
                    THEN 1 ELSE 0 END)::BIGINT AS n_edots
    FROM l GROUP BY doc_id
),
s AS (
    SELECT doc_id,
           (length(text) - length(replace(text, '#', '')))::BIGINT AS n_hash,
           (length(text) - length(replace(text, '...', ''))) / 3 AS dots3,
           (length(text) - length(replace(text, '…', '')))::BIGINT AS uell
    FROM documents
),
j AS (
    SELECT d.doc_id,
           coalesce(ws.n_words, 0) AS nw,
           coalesce(ws.sum_len, 0.0) AS sum_len,
           coalesce(ws.n_alpha, 0) AS n_alpha,
           coalesce(ws.n_stop, 0) AS n_stop,
           greatest(coalesce(ws.n_words, 0), 1)::DOUBLE AS safe_w,
           coalesce(ls.n_lines, 0) AS nl,
           greatest(coalesce(ls.n_lines, 0), 1)::DOUBLE AS safe_l,
           coalesce(ls.n_bullet, 0) AS n_bullet,
           coalesce(ls.n_edots, 0) AS n_edots,
           s.n_hash, s.dots3, s.uell
    FROM documents d
    LEFT JOIN ws ON d.doc_id = ws.doc_id
    LEFT JOIN ls ON d.doc_id = ls.doc_id
    JOIN s ON d.doc_id = s.doc_id
)
SELECT doc_id, nw AS n_words,
       floor(sum_len / safe_w * 1e6 + 0.5) / 1e6 AS mean_word_len,
       floor((dots3 + uell + n_hash) / safe_w * 1e6 + 0.5) / 1e6
           AS symbol_ratio,
       floor(n_bullet / safe_l * 1e6 + 0.5) / 1e6 AS bullet_line_frac,
       floor(n_edots / safe_l * 1e6 + 0.5) / 1e6 AS ellipsis_line_frac,
       floor(n_alpha / safe_w * 1e6 + 0.5) / 1e6 AS alpha_word_frac,
       n_stop AS n_stop_present,
       (nw >= 50 AND nw <= 100000
        AND sum_len / safe_w >= 3.0 AND sum_len / safe_w <= 10.0
        AND (dots3 + uell + n_hash) / safe_w <= 0.1
        AND n_bullet / safe_l <= 0.9
        AND n_edots / safe_l <= 0.3
        AND n_alpha / safe_w >= 0.8
        AND n_stop >= 2) AS passes
FROM j
"""


def q_contamination_scores(spark, sf_dir):
    """Benchmark decontamination (datapipe/decontam.py): word-3-gram
    overlap of each corpus document (doc_id >= 20) against an eval set
    stand-in (doc_id < 20). The eval shingle set broadcasts; the corpus
    side is one explode + broadcast-join + per-doc count — no
    corpus-vs-corpus self-join, the shape that survives 100 TB."""
    from dask_ml_spark.datapipe.decontam import contamination_scores

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= 20)
    eval_set = docs.where(F.col("doc_id") < 20)
    return contamination_scores(corpus, eval_set, shingle_n=3)


def q_domain_pagerank(spark, sf_dir):
    """Domain-authority scoring: the synthetic outlink graph (each doc
    co-links its site domain and a shared CDN, both directions) feeds
    3 iterations of weighted PageRank (datapipe/graph.py) — one join +
    one aggregate per iteration over the degree-normalized edge table.
    Deterministic, so the oracle replays all 3 iterations as chained
    CTEs."""
    from dask_ml_spark.datapipe.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    site = F.concat(F.lit("site"), (F.col("doc_id") % 20).cast("string"),
                    F.lit(".example.com"))
    cdn = F.lit("cdn.shared.net")
    edges = (docs.select(site.alias("src"), cdn.alias("dst"))
             .unionAll(docs.select(cdn.alias("src"), site.alias("dst"))))
    ranks = pagerank(edges, iters=3, damping=0.85)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _sql_domain_pagerank(iters: int = 3, d: float = 0.85) -> str:
    head = """
WITH edges AS (
    SELECT src, dst, count(*)::DOUBLE AS w FROM (
        SELECT 'site' || (doc_id % 20)::VARCHAR || '.example.com' AS src,
               'cdn.shared.net' AS dst
        FROM documents
        UNION ALL
        SELECT 'cdn.shared.net',
               'site' || (doc_id % 20)::VARCHAR || '.example.com'
        FROM documents
    ) GROUP BY src, dst
),
nodes AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM edges
           UNION ALL SELECT dst FROM edges)),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
deg AS (SELECT src, sum(w) AS out_w FROM edges GROUP BY src),
norm AS (SELECT src, dst, w / out_w AS p FROM edges JOIN deg USING (src)),
r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn)"""
    its = []
    for k in range(1, iters + 1):
        its.append(f""",
r{k} AS (
    SELECT nodes.node,
           (1 - {d}) / nn.n + {d} * (coalesce(c.c, 0) + dm.dm / nn.n) AS rank
    FROM nodes CROSS JOIN nn
    CROSS JOIN (SELECT coalesce(sum(rank), 0) AS dm FROM r{k - 1}
                WHERE node NOT IN (SELECT src FROM deg)) dm
    LEFT JOIN (SELECT dst, sum(p * rank) AS c FROM norm
               JOIN r{k - 1} ON norm.src = r{k - 1}.node GROUP BY dst) c
      ON nodes.node = c.dst
)""")
    return (head + "".join(its)
            + f"\nSELECT node, round(rank, 6) AS rank FROM r{iters}")


def q_bloom_decontam_scores(spark, sf_dir):
    """The Bloom-prefiltered rendering of contamination_scores: eval
    shingles fold into an expression-built Bloom bitmap (xxhash64
    double hashing, the bitmap a literal long array referenced once
    through a named column), definite-negative corpus shingles drop at
    scan speed, and only the survivors hit the exact verify join.
    Output is BYTE-IDENTICAL to the exact path by construction (false
    positives just do extra exact work), so this query shares the
    exact oracle verbatim."""
    from dask_ml_spark.datapipe.decontam import contamination_scores_bloom

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") >= 20)
    eval_set = docs.where(F.col("doc_id") < 20)
    return contamination_scores_bloom(corpus, eval_set, shingle_n=3)


SQL_CONTAMINATION_SCORES = f"""
WITH toks_t AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks
    FROM documents
), sh AS (
    SELECT doc_id, unnest({_sql_shingles(3)}) AS shingle FROM toks_t
), eval_sh AS (
    SELECT DISTINCT shingle FROM sh WHERE doc_id < 20
), corpus_sh AS (
    SELECT doc_id, shingle FROM sh WHERE doc_id >= 20
), sizes AS (
    SELECT doc_id, count(*) AS n_shingles FROM corpus_sh GROUP BY doc_id
), overlap AS (
    SELECT c.doc_id, count(*) AS n_overlap
    FROM corpus_sh c JOIN eval_sh e ON c.shingle = e.shingle
    GROUP BY c.doc_id
)
SELECT s.doc_id, s.n_shingles,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(o.n_overlap, 0) / s.n_shingles, 6) AS contamination
FROM sizes s LEFT JOIN overlap o ON s.doc_id = o.doc_id
"""


MIXTURE_WEIGHTS = {f"src{i}": (2.0 if i < 5 else 1.0) for i in range(15)}


MIXTURE_BUDGET = 5000


def q_mixture_sample(spark, sf_dir):
    """Token-budget mixture planning (datapipe/sampling.py): sources
    src0-4 weighted 2x, src5-14 1x, src15-19 excluded; per-source
    sampling rates derived from actual token mass against a 5000-token
    budget, rows selected by the engine-portable Knuth-hash bucket. The
    oracle recomputes rates AND the selected row content in SQL."""
    from dask_ml_spark.datapipe.sampling import mixture_by_token_budget

    docs = _t(spark, sf_dir, "documents")
    kept = mixture_by_token_budget(docs, MIXTURE_WEIGHTS, MIXTURE_BUDGET)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("doc_id").alias("id_checksum"),
                 F.sum("n_tokens").alias("tok_sum")))


def _sql_mixture_sample() -> str:
    wsum = float(sum(MIXTURE_WEIGHTS.values()))
    w_case = " ".join(
        f"WHEN '{s}' THEN {w!r}" for s, w in MIXTURE_WEIGHTS.items())
    return f"""
WITH counted AS (
    SELECT doc_id, source,
           len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS n_tokens,
           ((((0 + doc_id) % 2147483648) * 2654435761) % 2147483648) % 10000 AS bucket
    FROM documents
), tot AS (
    SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tot FROM counted GROUP BY source
), cuts AS (
    SELECT source,
           CASE WHEN (CASE source {w_case} ELSE NULL END) IS NULL THEN 0
                ELSE floor(least(1.0,
                       ((CASE source {w_case} END) / {wsum!r} * {MIXTURE_BUDGET}.0)
                       / greatest(tot, 1)) * 10000) END AS cut
    FROM tot
)
SELECT c.source, count(*) AS n_kept,
       CAST(sum(c.doc_id) AS BIGINT) AS id_checksum,
       CAST(sum(c.n_tokens) AS BIGINT) AS tok_sum
FROM counted c JOIN cuts ON c.source = cuts.source
WHERE c.bucket < cuts.cut
GROUP BY c.source
"""


SQL_STRATIFIED_SAMPLE = """
WITH b AS (
  SELECT *, ((((0 + doc_id) % 2147483648) * 2654435761) % 2147483648) % 10000 AS bucket
  FROM documents
)
SELECT lang, count(*) AS n_kept, sum(doc_id) AS id_checksum
FROM b
WHERE bucket < CASE lang WHEN 'en' THEN 3000 WHEN 'de' THEN 10000
                         WHEN 'zh' THEN 5000 ELSE 0 END
GROUP BY lang
"""


TEMP_MIX_ALPHA = 0.5


TEMP_MIX_BUDGET = 5_000


def q_temperature_mixture(spark, sf_dir):
    """Temperature-weighted domain mixture
    (datapipe/sampling.py::temperature_mixture): per-source rates
    derive from the data itself (share ∝ token-mass^alpha, the
    multilingual re-balancing rule) and rows are selected by the
    engine-portable hash bucket, so the oracle recomputes both the
    rates AND the selected row content in SQL."""
    from dask_ml_spark.datapipe.sampling import temperature_mixture

    docs = _t(spark, sf_dir, "documents")
    kept = temperature_mixture(docs, TEMP_MIX_BUDGET, alpha=TEMP_MIX_ALPHA)
    return (kept.groupBy("source")
            .agg(F.count("*").alias("n_kept"),
                 F.sum("doc_id").alias("id_checksum"),
                 F.sum("n_tokens").alias("tok_sum")))


def _sql_temperature_mixture() -> str:
    return f"""
WITH counted AS (
    SELECT doc_id, source,
           len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}')) AS n_tokens,
           ((((0 + doc_id) % 2147483648) * 2654435761) % 2147483648) % 10000 AS bucket
    FROM documents
), tot AS (
    SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tot FROM counted GROUP BY source
), psum AS (
    SELECT sum(pow(tot::DOUBLE, {TEMP_MIX_ALPHA!r})) AS ps FROM tot
), cuts AS (
    SELECT source,
           floor(least(1.0,
                 (pow(tot::DOUBLE, {TEMP_MIX_ALPHA!r}) / ps
                  * {TEMP_MIX_BUDGET}.0) / greatest(tot, 1)) * 10000) AS cut
    FROM tot CROSS JOIN psum
)
SELECT c.source, count(*) AS n_kept,
       CAST(sum(c.doc_id) AS BIGINT) AS id_checksum,
       CAST(sum(c.n_tokens) AS BIGINT) AS tok_sum
FROM counted c JOIN cuts ON c.source = cuts.source
WHERE c.bucket < cuts.cut
GROUP BY c.source
"""


def q_epoch_plan(spark, sf_dir):
    """Epoch/repetition planning for data-constrained mixing
    (datapipe/sampling.py::plan_epochs): per-source temperature
    targets with repetition counts for under-represented sources
    (capped at 4 epochs) and sampling rates for over-represented
    ones. One aggregate pass; fully oracled."""
    from dask_ml_spark.datapipe.sampling import plan_epochs

    docs = _t(spark, sf_dir, "documents")
    # budget > corpus so some sources plan multi-epoch repetition
    return plan_epochs(docs, token_budget=200_000, alpha=0.5)


SQL_EPOCH_PLAN = f"""
WITH tot AS (
    SELECT source,
           CAST(sum(len(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))) AS BIGINT)
             AS tot_tokens
    FROM documents GROUP BY source
), ps AS (SELECT sum(pow(tot_tokens::DOUBLE, 0.5)) AS ps FROM tot)
SELECT source, tot_tokens,
       round(pow(tot_tokens::DOUBLE, 0.5) / ps * 200000.0, 6) AS target_tokens,
       round(least(4.0, pow(tot_tokens::DOUBLE, 0.5) / ps * 200000.0
                        / greatest(tot_tokens, 1)), 6) AS epochs,
       round(least(1.0, pow(tot_tokens::DOUBLE, 0.5) / ps * 200000.0
                        / greatest(tot_tokens, 1)), 6) AS rate
FROM tot CROSS JOIN ps
"""


TRAIN_PREP_BUDGET = 3_000


def q_training_data_prep(spark, sf_dir):
    """The FULL north-star flow, end to end in one Catalyst plan:
    quality filter → exact dedup → language gate → temperature-
    weighted mixture (α=0.5 over the surviving corpus) → fixed-length
    sequence packing. Every stage is the library operator; the oracle
    replays all five stages in SQL including the data-derived mixture
    rates and the distributed prefix sum's chunk arithmetic — the
    chunk table itself hash-matches."""
    from dask_ml_spark.datapipe.dedup import exact_dedup
    from dask_ml_spark.datapipe.packing import pack_sequences
    from dask_ml_spark.datapipe.sampling import temperature_mixture
    from dask_ml_spark.datapipe.text_stats import language_scores, quality_filter

    docs = _t(spark, sf_dir, "documents")
    q = quality_filter(docs).persist()
    survivors = exact_dedup(q).select("doc_id")
    # spread BEFORE persisting (AQE-exempt user repartition): the
    # language filter pushes its regex below the exchange into the
    # cache scan, so cache partitioning bounds its parallelism
    dp = spark.sparkContext.defaultParallelism
    kept = q.join(survivors, "doc_id").repartition(dp, "doc_id").persist()
    en = (language_scores(kept).where(F.col("lang_pred") == "en")
          .select("doc_id"))
    kept_en = kept.join(en, "doc_id")
    mixed = temperature_mixture(kept_en, TRAIN_PREP_BUDGET, alpha=0.5)
    # the mixture already counted tokens — reuse, don't re-tokenize
    packed = pack_sequences(mixed, seq_len=128, token_count_col="n_tokens")
    return packed.select("doc_id", "seq_id", "tok_start", "tok_end")


def sql_training_data_prep() -> str:
    langs = sorted(TS.STOPWORDS)
    scores = ", ".join(f"{_sql_lang_score(l)} AS score_{l}" for l in langs)
    conds = []
    for lang in langs:
        cmp = " AND ".join(
            f"score_{lang} {'>' if other < lang else '>='} score_{other}"
            for other in langs if other != lang
        )
        conds.append(f"WHEN {cmp} THEN '{lang}'")
    case = "CASE " + " ".join(conds) + f" ELSE '{langs[0]}' END"
    return f"""
WITH q AS (
    SELECT doc_id, source, text FROM (
        SELECT *, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks,
               greatest(length(text), 1)::DOUBLE AS safe_chars,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
        FROM documents
    )
    WHERE len(toks) >= 5
      AND n_digit / safe_chars <= 0.3
      AND len(list_distinct(toks)) / greatest(len(toks), 1)::DOUBLE >= 0.2
), dd AS (
    SELECT min(doc_id) AS doc_id FROM (
        SELECT doc_id, md5(array_to_string(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), ' ')) AS h
        FROM q
    ) GROUP BY h
), kept AS (
    SELECT q.doc_id, q.source, q.text FROM q JOIN dd USING (doc_id)
), scored AS (
    SELECT doc_id, {scores} FROM kept
), en AS (
    SELECT doc_id FROM scored WHERE {case} = 'en'
), ke AS (
    SELECT kept.doc_id, kept.source,
           len(regexp_extract_all(lower(kept.text), '{TOKEN_RE_SQL}'))::BIGINT AS n,
           ((((0 + kept.doc_id) % 2147483648) * 2654435761) % 2147483648) % 10000 AS bucket
    FROM kept JOIN en USING (doc_id)
), tot AS (
    SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM ke GROUP BY source
), psum AS (
    SELECT sum(pow(tot::DOUBLE, 0.5)) AS ps FROM tot
), cuts AS (
    SELECT source,
           floor(least(1.0, (pow(tot::DOUBLE, 0.5) / ps
                 * {TRAIN_PREP_BUDGET}.0) / greatest(tot, 1)) * 10000) AS cut
    FROM tot CROSS JOIN psum
), mixed AS (
    SELECT ke.doc_id, ke.n FROM ke JOIN cuts ON ke.source = cuts.source
    WHERE ke.bucket < cuts.cut
), o AS (
    SELECT doc_id, n,
           coalesce(sum(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS s
    FROM mixed
), chunks AS (
    SELECT doc_id, n, s,
           unnest(generate_series(s // 128, (s + n - 1) // 128)) AS seq_id
    FROM o WHERE n > 0
)
SELECT doc_id, seq_id,
       greatest(0, seq_id * 128 - s) AS tok_start,
       least(n, (seq_id + 1) * 128 - s) AS tok_end
FROM chunks
"""


def q_group_quality_topk(spark, sf_dir):
    """Top-5 documents per language by distinct-token count
    (datapipe/sampling.py::topk_per_group over text_stats quality
    features) — the "keep the best k per stratum" curation primitive.
    Integer sort key + doc_id tie-break keeps the selection
    engine-deterministic, so the oracle checks exact membership."""
    from dask_ml_spark.datapipe.sampling import topk_per_group
    from dask_ml_spark.datapipe.text_stats import quality_scores

    docs = _t(spark, sf_dir, "documents")
    q = quality_scores(docs).join(docs.select("doc_id", "lang"), "doc_id")
    top = topk_per_group(
        q.select("lang", "doc_id", "n_distinct_tokens"),
        "lang", ["n_distinct_tokens", ("doc_id", True)], k=5)
    return top.select("lang", "doc_id",
                      F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
                      F.col("rank").cast("long").alias("rank"))


def sql_group_quality_topk() -> str:
    return f"""
WITH q AS (
  SELECT doc_id, lang,
         len(list_distinct(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))) AS n_distinct_tokens
  FROM documents
), ranked AS (
  SELECT lang, doc_id, n_distinct_tokens,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_distinct_tokens DESC, doc_id ASC) AS rank
  FROM q
)
SELECT lang, doc_id, n_distinct_tokens, rank FROM ranked WHERE rank <= 5
"""


def q_quality_filter(spark, sf_dir):
    """Curation filter (datapipe/text_stats.py::quality_filter) — the
    predicate-only composable form; survivors keyed by doc_id."""
    from dask_ml_spark.datapipe.text_stats import quality_filter

    docs = _t(spark, sf_dir, "documents")
    return quality_filter(docs).select("doc_id", "n_chars")


SQL_QUALITY_FILTER = f"""
WITH s AS (
    SELECT doc_id, n_chars,
           regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks,
           greatest(length(text), 1)::DOUBLE AS safe_chars,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
    FROM documents
)
SELECT doc_id, n_chars FROM s
WHERE len(toks) >= 5
  AND n_digit / safe_chars <= 0.3
  AND len(list_distinct(toks)) / greatest(len(toks), 1)::DOUBLE >= 0.2
"""


def q_curation_pipeline(spark, sf_dir):
    """North-star composite: the full curation flow a training-data
    pipeline runs — quality filter → exact dedup (keep smallest id per
    normalized-content hash) → keep English docs. Every stage is the
    library operator; the whole flow is one Catalyst plan."""
    from dask_ml_spark.datapipe.dedup import exact_dedup
    from dask_ml_spark.datapipe.text_stats import language_scores, quality_filter

    docs = _t(spark, sf_dir, "documents")
    # persist the two fan-out points: q feeds dedup AND the keep-join,
    # kept feeds language scoring AND the final join — without the
    # caches the regexp-heavy filter re-runs once per reference.
    # explicit repartition BEFORE the persist: downstream filters on
    # computed columns push below exchanges into the cache scan, so
    # the CACHE's own partition count bounds the parallelism of every
    # regex-heavy consumer — and AQE would coalesce the join output to
    # ~2 partitions here (30 MB of text). A user-specified repartition
    # is AQE-exempt.
    dp = spark.sparkContext.defaultParallelism
    q = quality_filter(docs).persist()
    survivors = exact_dedup(q).select("doc_id")
    kept = q.join(survivors, "doc_id").repartition(dp, "doc_id").persist()
    en = (
        language_scores(kept)
        .where(F.col("lang_pred") == "en")
        .select("doc_id")
    )
    return kept.join(en, "doc_id").select("doc_id", "n_chars", "source")


def sql_curation_pipeline() -> str:
    langs = sorted(TS.STOPWORDS)
    scores = ", ".join(f"{_sql_lang_score(l)} AS score_{l}" for l in langs)
    conds = []
    for lang in langs:
        cmp = " AND ".join(
            f"score_{lang} {'>' if other < lang else '>='} score_{other}"
            for other in langs if other != lang
        )
        conds.append(f"WHEN {cmp} THEN '{lang}'")
    case = "CASE " + " ".join(conds) + f" ELSE '{langs[0]}' END"
    return f"""
WITH q AS (
    SELECT doc_id, n_chars, source, text FROM (
        SELECT *, regexp_extract_all(lower(text), '{TOKEN_RE_SQL}') AS toks,
               greatest(length(text), 1)::DOUBLE AS safe_chars,
               length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit
        FROM documents
    )
    WHERE len(toks) >= 5
      AND n_digit / safe_chars <= 0.3
      AND len(list_distinct(toks)) / greatest(len(toks), 1)::DOUBLE >= 0.2
), dd AS (
    SELECT min(doc_id) AS doc_id FROM (
        SELECT doc_id, md5(array_to_string(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'), ' ')) AS h
        FROM q
    ) GROUP BY h
), kept AS (
    SELECT q.doc_id, q.n_chars, q.source, q.text FROM q JOIN dd USING (doc_id)
), scored AS (
    SELECT doc_id, {scores} FROM kept
), en AS (
    SELECT doc_id FROM scored WHERE {case} = 'en'
)
SELECT kept.doc_id, kept.n_chars, kept.source FROM kept JOIN en USING (doc_id)
"""



def q_zipf_token_fit(spark, sf_dir):
    """Discrete power-law (Zipf) MLE over the token-frequency
    distribution (datapipe/text_stats.py::zipf_fit — the corpus-health
    screen: alpha drifting low = template-heavy crawl, high =
    fragmenting tokens). One explode + groupBy(token) + ONE aggregate;
    alpha/se are a stateless projection, never collected. The oracle
    replays the tokenization, counts, and the CSN log-sum estimator."""
    docs = _t(spark, sf_dir, "documents")
    out = TS.zipf_fit(docs, xmin=2)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select("n_types", "n_types_tail", "n_tokens", "xmin",
                      r6(F.col("alpha")).alias("alpha"),
                      r6(F.col("se")).alias("se"))


SQL_ZIPF_TOKEN_FIT = f"""
WITH toks AS (
    SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE_SQL}'))
        AS token
    FROM documents
), lm AS (
    SELECT token, count(*)::DOUBLE AS c FROM toks GROUP BY token
), a AS (
    SELECT count(*)::BIGINT AS n_types,
           sum(CASE WHEN c >= 2 THEN 1.0 ELSE 0.0 END) AS m,
           sum(c)::BIGINT AS n_tokens,
           sum(CASE WHEN c >= 2 THEN ln(c / 1.5) ELSE 0.0 END) AS s
    FROM lm
)
SELECT n_types, m::BIGINT AS n_types_tail, n_tokens, 2 AS xmin,
       floor(CASE WHEN m > 0 AND s > 0 THEN 1.0 + m / s END
             * 1e6 + 0.5) / 1e6 AS alpha,
       floor(CASE WHEN m > 0 AND s > 0 THEN (m / s) / sqrt(m) END
             * 1e6 + 0.5) / 1e6 AS se
FROM a
"""


def catalog_queries():
    """This family's queries() entries (order preserved by __init__)."""
    return {
        "repetition_scores": q_repetition_scores,
        "bm25_scores": q_bm25_scores,
        "bm25_topk": q_bm25_topk,
        "pii_redaction": q_pii_redaction,
        "token_shards": q_token_shards,
        "sequence_packing": q_sequence_packing,
        "source_token_quota": q_source_token_quota,
        "corpus_manifest": q_corpus_manifest,
        "corpus_diff": q_corpus_diff,
        "bloom_decontam_scores": q_bloom_decontam_scores,
        "domain_pagerank": q_domain_pagerank,
        "score_smoothing": q_score_smoothing,
        "token_heavy_hitters": q_token_heavy_hitters,
        "weighted_doc_sample": q_weighted_doc_sample,
        "weighted_lang_sample": q_weighted_lang_sample,
        "perplexity_bucket_sample": q_perplexity_bucket_sample,
        "quality_classifier_scores": q_quality_classifier_scores,
        "bpe_pair_counts": q_bpe_pair_counts,
        "bpe_merges": q_bpe_merges,
        "boilerplate_removal": q_boilerplate_removal,
        "repeated_span_removal": q_repeated_span_removal,
        "document_chunks": q_document_chunks,
        "shuffle_shards": q_shuffle_shards,
        "outlink_domain_profile": q_outlink_domain_profile,
        "language_id": q_language_id,
        "quality_scores": q_quality_scores,
        "document_fingerprint": q_document_fingerprint,
        "strip_markup": q_strip_markup,
        "cooccurrence_topk": q_cooccurrence_topk,
        "ppmi_topk": q_ppmi_topk,
        "collocations_logdice_topk": q_collocations_logdice_topk,
        "source_concentration": q_source_concentration,
        "readability_docs": q_readability_docs,
        "vocab_coverage": q_vocab_coverage,
        "quality_filter": q_quality_filter,
        "curation_pipeline": q_curation_pipeline,
        "training_data_prep": q_training_data_prep,
        "contamination_scores": q_contamination_scores,
        "gopher_quality": q_gopher_quality,
        "script_profile": q_script_profile,
        "mixture_sample": q_mixture_sample,
        "temperature_mixture_sample": q_temperature_mixture,
        "epoch_plan": q_epoch_plan,
        "table_profile": q_table_profile,
        "unigram_logprob": q_unigram_logprob,
        "zipf_token_fit": q_zipf_token_fit,
        "bigram_logprob": q_bigram_logprob,
        "table_profile_approx": q_table_profile_approx,
        "copurchase_triangles": q_copurchase_triangles,
        "stratified_sample": q_stratified_sample,
        "kcenter_sample": q_kcenter_sample,
        "group_quality_topk": q_group_quality_topk,
    }


def catalog_oracles():
    """This family's oracle_sql() entries — built lazily at call time,
    exactly as the original build_catalog did."""
    return {
        "stratified_sample": SQL_STRATIFIED_SAMPLE,
        "kcenter_sample": _sql_kcenter_sample(),
        "group_quality_topk": sql_group_quality_topk(),
        "repetition_scores": SQL_REPETITION_SCORES,
        "bm25_scores": SQL_BM25_SCORES,
        "bm25_topk": _sql_bm25_topk(),
        "pii_redaction": _sql_pii_redaction(),
        "token_shards": SQL_TOKEN_SHARDS,
        "sequence_packing": SQL_SEQUENCE_PACKING,
        "contamination_scores": SQL_CONTAMINATION_SCORES,
        "gopher_quality": SQL_GOPHER_QUALITY,
        "script_profile": _sql_script_profile(),
        "mixture_sample": _sql_mixture_sample(),
        "temperature_mixture_sample": _sql_temperature_mixture(),
        "epoch_plan": SQL_EPOCH_PLAN,
        "table_profile": _sql_table_profile(),
        "table_profile_approx": "SELECT *, TRUE AS hll_ok FROM (" + _sql_table_profile() + ")",
        "unigram_logprob": SQL_UNIGRAM_LOGPROB,
        "zipf_token_fit": SQL_ZIPF_TOKEN_FIT,
        "bigram_logprob": SQL_BIGRAM_LOGPROB,
        "source_token_quota": SQL_SOURCE_TOKEN_QUOTA,
        "corpus_manifest": SQL_CORPUS_MANIFEST,
        "corpus_diff": SQL_CORPUS_DIFF,
        "bloom_decontam_scores": SQL_CONTAMINATION_SCORES,
        "domain_pagerank": _sql_domain_pagerank(),
        "score_smoothing": SQL_SCORE_SMOOTHING,
        "token_heavy_hitters": SQL_TOKEN_HEAVY_HITTERS,
        "weighted_doc_sample": SQL_WEIGHTED_DOC_SAMPLE,
        "weighted_lang_sample": SQL_WEIGHTED_LANG_SAMPLE,
        "perplexity_bucket_sample": _sql_perplexity_bucket_sample(SQL_BIGRAM_LOGPROB),
        "quality_classifier_scores": _sql_quality_classifier_scores(),
        "bpe_pair_counts": SQL_BPE_PAIR_COUNTS,
        "boilerplate_removal": SQL_BOILERPLATE_REMOVAL,
        "repeated_span_removal": SQL_REPEATED_SPAN_REMOVAL,
        "document_chunks": SQL_DOCUMENT_CHUNKS,
        "shuffle_shards": SQL_SHUFFLE_SHARDS,
        "outlink_domain_profile": _sql_outlink_domain_profile(),
        "language_id": sql_language_id(),
        "quality_scores": sql_quality_scores(),
        "document_fingerprint": SQL_DOCUMENT_FINGERPRINT,
        "strip_markup": SQL_STRIP_MARKUP,
        "cooccurrence_topk": SQL_COOCCURRENCE_TOPK,
        "ppmi_topk": SQL_PPMI_TOPK,
        "collocations_logdice_topk": SQL_COLLOCATIONS_LOGDICE_TOPK,
        "source_concentration": _sql_source_concentration(),
        "readability_docs": _sql_readability_docs(),
        "vocab_coverage": SQL_VOCAB_COVERAGE,
        "quality_filter": SQL_QUALITY_FILTER,
        "curation_pipeline": sql_curation_pipeline(),
        "training_data_prep": sql_training_data_prep(),
        "copurchase_triangles": SQL_COPURCHASE_TRIANGLES,
    }
