"""Text analysis for training-data curation: language ID, quality
scoring, token counting, document fingerprinting.

All pure column expressions / aggregations — JVM-side, codegen,
oracle-reproducible in SQL. At 100 TB these are narrow maps over the
documents table (the fingerprint adds one groupBy on doc id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.datapipe.dedup import tokens_expr
from dask_ml_spark.utils import ensure_min_partitions, local_frame

# Tiny per-language stopword lists for the n-gram/stopword-ratio
# language heuristic. Deliberately short + ASCII so the same literals
# embed into the duckdb oracle SQL.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "sich"],
    "fr": ["le", "la", "les", "de", "et", "est", "un", "une", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "es", "un", "una", "por", "con"],
}


def token_count(text_col) -> "F.Column":
    """Whitespace-ish token count (the BPE-ish regex tokenizer)."""
    return F.size(tokens_expr(text_col))


def language_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit-ratio per language + argmax language guess.

    score_lang = |tokens ∩ stopwords_lang| / n_tokens, computed with
    array_intersect on the distinct token set — no explode, no shuffle.
    """
    toks = F.array_distinct(tokens_expr(F.col(text_col)))
    ntok = F.greatest(F.size(toks), F.lit(1))
    cols = {f"score_{lang}": (
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))) / ntok
    ) for lang, words in STOPWORDS.items()}
    out = ensure_min_partitions(df).select(F.col(id_col), *[v.alias(k) for k, v in cols.items()])
    # argmax language (ties → lexicographically first language code)
    langs = sorted(STOPWORDS)
    best = None
    for lang in langs:
        cond = True
        for other in langs:
            if other != lang:
                op = (F.col(f"score_{lang}") > F.col(f"score_{other}")) if other < lang \
                    else (F.col(f"score_{lang}") >= F.col(f"score_{other}"))
                cond = op if cond is True else (cond & op)
        best = F.when(cond, F.lit(lang)) if best is None else best.when(cond, F.lit(lang))
    return out.withColumn("lang_pred", best.otherwise(F.lit(langs[0])))


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features: length, token stats, punctuation /
    digit / uppercase / stopword ratios, mean word length."""
    text = F.col(text_col)
    n_chars = F.length(text)
    toks = tokens_expr(text)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), en_stop))
    df = ensure_min_partitions(df)
    n_punct = F.length(F.regexp_replace(text, "[^.,;:!?'\"()-]", ""))
    n_digit = F.length(F.regexp_replace(text, "[^0-9]", ""))
    n_upper = F.length(F.regexp_replace(text, "[^A-Z]", ""))
    safe_chars = F.greatest(n_chars, F.lit(1)).cast("double")
    safe_toks = F.greatest(n_tokens, F.lit(1)).cast("double")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        (n_distinct / safe_toks).alias("distinct_ratio"),
        (n_punct / safe_chars).alias("punct_ratio"),
        (n_digit / safe_chars).alias("digit_ratio"),
        (n_upper / safe_chars).alias("upper_ratio"),
        (n_stop / safe_toks).alias("stopword_ratio"),
        ((n_chars.cast("double") - F.length(F.regexp_replace(text, " ", ""))) / safe_chars).alias("space_ratio"),
        (F.length(F.concat_ws("", toks)) / safe_toks).alias("mean_word_len"),
    )


# Unicode script ranges as LITERAL character-class patterns (built
# with chr() so the identical UTF-8 pattern string lands in both the
# Java regex and the RE2 oracle — \\uXXXX vs \\x{XXXX} escape syntax
# differs between the engines, literals do not)
SCRIPT_PATTERNS = {
    "latin": "[A-Za-z" + chr(0xC0) + "-" + chr(0x24F) + "]",
    "greek": "[" + chr(0x370) + "-" + chr(0x3FF) + "]",
    "cyrillic": "[" + chr(0x400) + "-" + chr(0x4FF) + "]",
    "hebrew": "[" + chr(0x590) + "-" + chr(0x5FF) + "]",
    "arabic": "[" + chr(0x600) + "-" + chr(0x6FF) + "]",
    "devanagari": "[" + chr(0x900) + "-" + chr(0x97F) + "]",
    "han": "[" + chr(0x4E00) + "-" + chr(0x9FFF) + "]",
    "kana": "[" + chr(0x3040) + "-" + chr(0x30FF) + "]",
    "hangul": "[" + chr(0xAC00) + "-" + chr(0xD7A3) + "]",
}
_ASCII_PRINTABLE = "[ -~\t\n\r]"


def readability_scores(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Flesch Reading Ease + Flesch–Kincaid grade level from
    deterministic surface counts — the classic readability screens a
    training-data audit slices quality by (a primary-school text and
    a legal contract need different mixture quotas). Counts are pure
    regex, identical in both engines: words = `[a-z]+` runs of the
    lowercased text; sentences = `[.!?]+` runs (floored at 1);
    syllables = per-word `[aeiouy]+` vowel-group runs floored at 1
    (the standard heuristic — no dictionary, deterministic; it
    overcounts silent-e words by design and is documented as the
    comparable-score convention, not linguistic truth).

    FRE = 206.835 − 1.015·(W/S) − 84.6·(Y/W);
    FKGL = 0.39·(W/S) + 11.8·(Y/W) − 15.59. Documents with zero
    words report NULL scores. One narrow JVM projection — no shuffle,
    no UDF. Returns (id, words, sentences, syllables, flesch,
    fk_grade).
    """
    # NULL text counts as empty (0 words, 1 sentence floor, 0
    # syllables, NULL scores) — the defined convention both engines
    # share; without the coalesce the engine's NULL-array aggregate
    # and the oracle's coalesced list_sum would diverge
    text = F.coalesce(F.col(text_col), F.lit(""))
    # materialize the word array BEFORE the syllable HOF references it
    # (the embed_train shingles lesson: a HOF lambda re-evaluates an
    # embedded expression per element — the tokenizer would re-run
    # once per word)
    staged = (ensure_min_partitions(df)
              .select(F.col(id_col),
                      F.regexp_extract_all(F.lower(text),
                                           F.lit("[a-z]+"), F.lit(0))
                      .alias("__words"),
                      F.greatest(
                          F.lit(1),
                          F.size(F.regexp_extract_all(
                              text, F.lit("[.!?]+"), F.lit(0))))
                      .alias("sentences")))
    syl = F.aggregate(
        F.col("__words"), F.lit(0),
        lambda acc, w: acc + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"),
                                        F.lit(0)))))
    out = staged.select(F.col(id_col),
                        F.size("__words").alias("words"),
                        "sentences",
                        syl.alias("syllables"))
    w = F.col("words").cast("double")
    s = F.col("sentences").cast("double")
    y = F.col("syllables").cast("double")
    ok = F.col("words") > 0
    return out.select(
        id_col, "words", "sentences", "syllables",
        F.when(ok, F.lit(206.835) - F.lit(1.015) * (w / s)
               - F.lit(84.6) * (y / w)).alias("flesch"),
        F.when(ok, F.lit(0.39) * (w / s) + F.lit(11.8) * (y / w)
               - F.lit(15.59)).alias("fk_grade"))


def script_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   round_digits: int | None = 6) -> DataFrame:
    """Unicode-script character profile per document — the script-level
    companion of language_scores (language ID assumes you already know
    the script; corpus curation first SPLITS by script, e.g. to route
    CJK to a different tokenizer or drop scripts outside the target
    mix):

    - n_<script>     characters in each of 9 major script ranges
    - dominant_script  the script with the most characters (ties to
      the alphabetically first; 'none' when no script char occurs)
    - non_ascii_frac  fraction of characters outside printable ASCII
      (+ \\t\\n\\r)

    One narrow JVM projection — a regexp_replace count per script
    over literal character-class ranges that parse identically in
    Java regex and RE2, so the SQL oracle replays every count and the
    dominant-script tie-break verbatim."""
    text = F.col(text_col)
    n_chars = F.length(text)
    safe = F.greatest(n_chars, F.lit(1)).cast("double")
    counts = {s: (n_chars - F.length(F.regexp_replace(text, p, "")))
              for s, p in SCRIPT_PATTERNS.items()}
    names = sorted(SCRIPT_PATTERNS)
    dom = F.lit("none")
    # alphabetical winner on ties: script s beats alphabetically
    # EARLIER others only strictly (the language_scores convention);
    # evaluated as a reversed when-chain so the first match wins
    for s in names:
        cond = counts[s] > 0
        for o in names:
            if o == s:
                continue
            cond = cond & ((counts[s] > counts[o]) if o < s
                           else (counts[s] >= counts[o]))
        dom = F.when(cond, F.lit(s)).otherwise(dom)
    # what REMAINS after deleting printable ASCII is the non-ASCII
    # content (the deletion-count form would measure ASCII instead —
    # pytest-caught inversion the oracle was blind to, both engines
    # having shared the same mistake)
    non_ascii = F.length(F.regexp_replace(text, _ASCII_PRINTABLE, ""))
    frac = non_ascii / safe
    # round_digits=None emits the raw ratio so callers with their own
    # rounding convention round ONCE (see gopher_quality's note on
    # double-rounding)
    if round_digits is not None:
        frac = F.round(frac, round_digits)
    return ensure_min_partitions(df).select(
        F.col(id_col),
        *[counts[s].cast("long").alias(f"n_{s}") for s in names],
        dom.alias("dominant_script"),
        frac.alias("non_ascii_frac"))


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_word_len: float = 3.0,
                   max_mean_word_len: float = 10.0,
                   max_symbol_ratio: float = 0.1,
                   max_bullet_frac: float = 0.9,
                   max_ellipsis_frac: float = 0.3,
                   min_alpha_frac: float = 0.8,
                   min_stop_hits: int = 2,
                   round_digits: int | None = 6) -> DataFrame:
    """The published Gopher corpus-quality rules (Rae et al. 2021,
    "Scaling Language Models", Table A1 — the de-facto standard
    heuristic filter for web-crawl pretraining data): word-count
    bounds, mean word length bounds, symbol-to-word ratio (# and
    ellipsis), bullet-start and ellipsis-end line fractions, fraction
    of words with an alphabetic character, and presence of common
    English stop words.

    Emits the per-document features plus the combined ``passes`` flag
    so pipelines can either filter or audit rule-by-rule. One narrow
    JVM projection — whitespace word split + line split + HOF
    counts, no UDF, no shuffle; at 100 TB this is scan-side and the
    flag predicate pushes into the curation join. Engine-portable by
    construction (explicit [ \\t\\n\\r\\f]+ word class, exact integer
    counts divided as doubles), so the SQL oracle replays every rule
    bit-for-bit; fractions are also ROUNDED to 6 for display while
    the flags compare the exact ratios. round_digits=None emits the
    RAW ratios instead — for callers that apply their own rounding
    convention (rounding an already-rounded value double-rounds:
    composing HALF_UP-to-6 with a second rounding form can disagree
    with a single rounding of the raw ratio on .5-boundary values)."""
    text = F.col(text_col)
    words = F.filter(F.split(text, r"[ \t\n\r\f]+"),
                     lambda w: F.length(w) > 0)
    n_words = F.size(words)
    safe_w = F.greatest(n_words, F.lit(1)).cast("double")
    sum_len = F.aggregate(words, F.lit(0),
                          lambda a, w: a + F.length(w)).cast("double")
    mean_wl = sum_len / safe_w
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stop_lit = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(
        F.array_distinct(F.transform(words, lambda w: F.lower(w))),
        stop_lit))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    dots3 = (F.length(text)
             - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    uell = F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    symbol_ratio = (dots3 + uell + n_hash) / safe_w
    lines = F.split(text, "\n")
    n_lines = F.size(lines)
    safe_l = F.greatest(n_lines, F.lit(1)).cast("double")
    n_bullet = F.size(F.filter(
        lines, lambda l: F.substring(l, 1, 1).isin("•", "-", "*")))
    n_edots = F.size(F.filter(
        lines, lambda l: l.endswith("...") | l.endswith("…")))
    bullet_frac = n_bullet / safe_l
    ellipsis_frac = n_edots / safe_l
    alpha_frac = n_alpha / safe_w
    passes = ((n_words >= min_words) & (n_words <= max_words)
              & (mean_wl >= min_mean_word_len)
              & (mean_wl <= max_mean_word_len)
              & (symbol_ratio <= max_symbol_ratio)
              & (bullet_frac <= max_bullet_frac)
              & (ellipsis_frac <= max_ellipsis_frac)
              & (alpha_frac >= min_alpha_frac)
              & (n_stop >= min_stop_hits))
    def _r(x):
        return F.round(x, round_digits) if round_digits is not None else x

    return ensure_min_partitions(df).select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        _r(mean_wl).alias("mean_word_len"),
        _r(symbol_ratio).alias("symbol_ratio"),
        _r(bullet_frac).alias("bullet_line_frac"),
        _r(ellipsis_frac).alias("ellipsis_line_frac"),
        _r(alpha_frac).alias("alpha_word_frac"),
        n_stop.cast("long").alias("n_stop_present"),
        passes.alias("passes"))


def document_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set. Whitespace/punctuation/word-order-robust — the
    bag-of-words analog of a rolling-hash fingerprint, expressible as a
    pure projection (sort + concat + md5) with no shuffle."""
    toks = F.array_sort(F.array_distinct(tokens_expr(F.col(text_col))))
    return ensure_min_partitions(df).select(
        F.col(id_col),
        F.md5(F.concat_ws(" ", toks)).alias("fingerprint"),
        F.size(toks).alias("n_distinct_tokens"),
    )


def quality_filter(df: DataFrame, text_col: str = "text",
                   min_tokens: int = 5, max_digit_ratio: float = 0.3,
                   min_distinct_ratio: float = 0.2) -> DataFrame:
    """Composable curation filter — pushes straight down to the scan."""
    toks = tokens_expr(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.greatest(F.length(F.col(text_col)), F.lit(1)).cast("double")
    digit_ratio = F.length(F.regexp_replace(F.col(text_col), "[^0-9]", "")) / n_chars
    distinct_ratio = F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1)).cast("double")
    return df.where(
        (n_tokens >= min_tokens)
        & (digit_ratio <= max_digit_ratio)
        & (distinct_ratio >= min_distinct_ratio)
    )


def repetition_scores(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals: duplicate-line fraction and
    most-frequent-bigram fraction per document — boilerplate and
    keyword-stuffed pages score high and get filtered.

    Line stats are narrow array expressions; the top-bigram needs a
    per-(doc, bigram) count, i.e. one explode + hash aggregate + one
    per-doc reduce — the same shuffle shape as token_document_frequency,
    so it scales as a pair of partial-aggregated exchanges keyed by
    doc id.
    """
    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) > 0)
    df = ensure_min_partitions(df)
    base = df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(F.array_distinct(lines)).alias("n_distinct_lines"),
        tokens_expr(text).alias("__toks"),
    )
    # materialize the token array BEFORE the bigram HOF references it
    # twice (the shingles lesson: an inlined expression re-evaluates per
    # lambda element)
    base = base.select(
        id_col, "n_lines", "n_distinct_lines", "__toks",
        F.when(F.size("__toks") >= 2,
               F.zip_with(F.slice("__toks", 1, F.size("__toks") - 1),
                          F.slice("__toks", 2, F.size("__toks") - 1),
                          lambda a, b: F.concat(a, F.lit(" "), b))
               ).otherwise(F.array()).alias("__bigrams"),
    )
    counts = (base.select(id_col, F.explode_outer("__bigrams").alias("bigram"))
              .groupBy(id_col, "bigram").agg(F.count("*").alias("c"))
              .groupBy(id_col)
              .agg(F.max(F.when(F.col("bigram").isNotNull(), F.col("c"))
                         .otherwise(0)).alias("top_bigram_count"),
                   F.sum(F.when(F.col("bigram").isNotNull(), F.col("c"))
                         .otherwise(0)).alias("n_bigrams")))
    safe_lines = F.greatest(F.col("n_lines"), F.lit(1)).cast("double")
    safe_bi = F.greatest(F.col("n_bigrams"), F.lit(1)).cast("double")
    return (base.select(id_col, "n_lines", "n_distinct_lines")
            .join(counts, id_col)
            .select(
                F.col(id_col),
                F.col("n_lines"),
                ((F.col("n_lines") - F.col("n_distinct_lines")) / safe_lines)
                .alias("dup_line_frac"),
                F.col("n_bigrams"),
                (F.col("top_bigram_count") / safe_bi).alias("top_bigram_frac"),
            ))


def bm25_scores(df: DataFrame, query_terms, text_col: str = "text",
                id_col: str = "doc_id", k1: float = 1.2,
                b: float = 0.75) -> DataFrame:
    """BM25 relevance of every document to a bag of query terms
    (Robertson/Lucene idf variant) — the lexical-retrieval counterpart
    to the embedding ANN operators.

    Scale shape: one narrow tokenize pass; the explode is filtered to
    the |q| query terms BEFORE the (doc, term) aggregate, so the
    shuffle carries only matching postings; document-frequency and the
    corpus stats (N, avgdl — a 1-row aggregate) come back via broadcast
    joins. Nothing is collected driver-side; the whole scorer is one
    Catalyst plan.
    """
    terms = sorted({t.lower() for t in query_terms})
    base = ensure_min_partitions(df).select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
    base = base.select(id_col, "__toks", F.size("__toks").alias("dl"))
    stats = base.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    # pin the postings: df-counts AND the scoring join both read tf,
    # and without the pin Catalyst plans two full corpus scans for the
    # same subtree. localCheckpoint, not persist — a bare persist
    # leaks a cached dataset into executor storage for the session's
    # lifetime; checkpoint blocks are reclaimed by the ContextCleaner
    # once the returned DataFrame is dropped. The pinned frame is tiny
    # — only (doc, matched-term) rows, bounded by n_docs * |query|.
    tf = (base.select(id_col, "dl", F.explode("__toks").alias("term"))
          .where(F.col("term").isin(terms))
          .groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=False))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = (F.col("tf")
             + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    return (tf.join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn("__s", idf * F.col("tf") * (k1 + 1.0) / denom)
            .groupBy(id_col)
            .agg(F.sum("__s").alias("bm25"),
                 F.count("*").alias("n_matched_terms")))


def bm25_topk(df: DataFrame, queries: dict, k: int = 10,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Batch BM25 retrieval: top-k documents per query bag.

    ``queries``: {query_id: [terms...]} — dimension-sized, shipped as a
    broadcast (query_id, term) table joined into the shared postings
    frame, so ANY number of queries costs one corpus pass + one
    per-(query, doc) aggregate + one windowed top-k. Corpus-side stats
    (tf, df, N, avgdl) are computed once over the UNION of all query
    terms.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    all_terms = sorted({t.lower() for ts in queries.values() for t in ts})
    base = ensure_min_partitions(df).select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
    base = base.select(id_col, "__toks", F.size("__toks").alias("dl"))
    stats = base.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    # localCheckpoint, same leak rationale as bm25_scores
    tf = (base.select(id_col, "dl", F.explode("__toks").alias("term"))
          .where(F.col("term").isin(all_terms))
          .groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=False))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qdf = local_frame(
        spark,
        [(qid, t.lower()) for qid, ts in queries.items() for t in set(ts)],
        "query_id string, term string")
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    scored = (tf.join(F.broadcast(dfreq), "term")
              .join(F.broadcast(qdf), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn("__s", idf * F.col("tf") * (k1 + 1.0) / denom)
              .groupBy("query_id", id_col)
              .agg(F.sum("__s").alias("bm25")))
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc(id_col))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def unigram_logprob_scores(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", alpha: float = 0.5) -> DataFrame:
    """Average unigram log-likelihood per token — the light-weight LM
    fluency filter (the role a KenLM perplexity gate plays in curation
    pipelines, with the corpus itself as the language model).

    p(t) = (count(t) + alpha) / (N + alpha * V)   (additive smoothing)
    score = mean over the document's tokens of ln p(t)

    Shape: one corpus token-count aggregate (the "LM"), two scalar
    broadcast stats (N tokens, V vocabulary), then per-doc explode +
    join on token + per-doc mean — the same filtered-postings join as
    TF-IDF/BM25; AQE broadcasts the count table while it fits, shuffle
    join beyond. Low scores = improbable token sequences (gibberish,
    boilerplate in the wrong corpus); use as a quality gate.
    """
    # deliberately UNPINNED: the exploded token table is corpus-scale,
    # so persist leaks session-lifetime cache and localCheckpoint
    # materializes the whole thing to executor disk AND severs lineage
    # (an executor loss then fails every downstream job). The explode
    # is a narrow map over the scan — recomputing it for the second
    # consumer costs one extra cheap scan and keeps the operator
    # stateless; the tiny pinned frames in bm25_* stay checkpointed.
    toks = df.select(F.col(id_col), F.explode(
        tokens_expr(F.col(text_col))).alias("token"))
    lm = toks.groupBy("token").agg(F.count("*").alias("c"))
    # (N, V) as a broadcast one-row aggregate instead of a blocking
    # collect: one fewer job + scan wave; float(N) + alpha*float(V) is
    # the identical IEEE add/multiply the driver performed
    stats = lm.agg(F.sum("c").cast("double").alias("__n"),
                   F.count(F.lit(1)).cast("double").alias("__v"))
    logp = F.log((F.col("c") + F.lit(alpha))
                 / (F.col("__n") + F.lit(alpha) * F.col("__v")))
    return (
        toks.join(lm.select("token", "c"), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_tokens"),
             F.round(F.avg(logp), 6).alias("avg_logprob"))
    )


def bigram_logprob_scores(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", alpha: float = 0.5) -> DataFrame:
    """Average CONDITIONAL bigram log-likelihood per document — the
    next step up from `unigram_logprob_scores` as a fluency gate
    (word order now matters: "the of the of" scores far below
    "the end of the day" even with identical unigrams).

        p(b | a) = (C(a,b) + alpha) / (C(a) + alpha * V)
        score    = mean over the document's bigrams of ln p(b | a)

    with C(a,b) corpus bigram counts, C(a) unigram counts, V vocab
    size (additive smoothing). Shape: one bigram-count aggregate and
    one unigram-count aggregate (both explode + groupBy with map-side
    combine), two broadcast scalars, then the document's bigrams join
    the two count tables — the same filtered-postings pattern as
    BM25/unigram; no N², no driver data.
    """
    t = F.col("__toks")
    # tokenize ONCE (lazy checkpoint): base feeds the bigram explode
    # AND the unigram explode — unpinned it re-ran the regexp
    # tokenizer per consumer
    base = (ensure_min_partitions(df)
            .select(F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks"))
            .localCheckpoint(eager=False))
    idx = F.when(F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)
                 ).otherwise(F.array().cast("array<int>"))
    grams = (base.select(
        F.col(id_col),
        F.explode(F.transform(idx, lambda i: F.struct(
            F.element_at(t, i).alias("a"),
            F.element_at(t, i + 1).alias("b")))).alias("__g"))
        .select(F.col(id_col), F.col("__g.a").alias("a"), F.col("__g.b").alias("b"))
        # localCheckpoint, not persist: grams is consumed twice (the
        # bigram-count agg and the final join), but a bare persist
        # leaks a cached dataset into executor storage for the
        # session's lifetime — checkpoint blocks are reclaimed by the
        # ContextCleaner once the returned DataFrame is dropped. LAZY:
        # it materializes inside the query's own job instead of as a
        # blocking build-time pass
        .localCheckpoint(eager=False))
    toks = base.select(F.col(id_col), F.explode(t).alias("token"))
    # uni feeds the vocab scalar AND the count join — checkpoint once
    uni = (toks.groupBy("token").agg(F.count("*").alias("ca"))
           .localCheckpoint(eager=False))
    # vocab as a broadcast one-row aggregate, not a blocking .count()
    # action: V rides the query's own job. float(V) is exact and
    # lit(alpha) * V is the same single IEEE multiply the driver did
    vocab_d = uni.agg(F.count(F.lit(1)).cast("double").alias("__vocab"))
    bi = grams.groupBy("a", "b").agg(F.count("*").alias("cab"))
    logp = F.log((F.col("cab") + F.lit(alpha))
                 / (F.col("ca") + F.lit(alpha) * F.col("__vocab")))
    return (grams
            .join(bi, ["a", "b"])
            .join(uni.withColumnRenamed("token", "a"), "a")
            .crossJoin(F.broadcast(vocab_d))
            .groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_bigrams"),
                 F.round(F.avg(logp), 6).alias("avg_logprob")))


# ---------------------------------------------------------------------
# text normalization & link extraction
# ---------------------------------------------------------------------

# Domain capture for outbound links. Kept RE2-compatible (no
# lookarounds, no backrefs) AND backslash-free (so the identical
# pattern embeds in Spark and DuckDB string literals without escaping
# drift). An optional userinfo@ prefix is consumed BEFORE the capture —
# otherwise 'https://innocuous@blocked.com/x' would extract 'innocuous'
# and evade a blocklist — and the hostname alternation cannot end in a
# dot, so 'blocked.com.' extracts 'blocked.com'.
URL_DOMAIN_RE = (r"https?://(?:[A-Za-z0-9._%+:-]+@)?"
                 r"([A-Za-z0-9-]+(?:[.][A-Za-z0-9-]+)*)")

# C0 controls (minus \t \n \r, which are document structure) + DEL.
_CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"


def normalize_text(df: DataFrame, text_col: str = "text",
                   output_col: str | None = None, form: str | None = "NFC",
                   strip_control: bool = True,
                   collapse_spaces: bool = True) -> DataFrame:
    """Unicode + whitespace normalization — the first pass of every
    text-curation pipeline (mixed-source corpora hold NFC and NFD
    renderings of the same glyphs, which defeats exact dedup).

    Control-char stripping and space/tab collapsing are JVM regexps
    (codegen, narrow). The unicode normalization itself is the one
    genuinely UDF-bound step — Spark has no unicode-normalize builtin —
    so it runs as an Arrow-batched pandas UDF. ``form=None`` skips the
    UDF entirely and the whole operator stays JVM-side. Narrow map
    either way: no shuffle at any scale.

    Order matters: the unicode pass runs BEFORE the space collapse,
    because compatibility forms (NFKC/NFKD) map non-ASCII whitespace
    like NBSP to U+0020 — collapsing first would leave those
    reintroduced runs uncollapsed.
    """
    out = output_col or text_col
    col = F.col(text_col)
    if strip_control:
        col = F.regexp_replace(col, _CONTROL_RE, "")
    if form is not None:
        import pandas as pd  # noqa: F401 — resolves the UDF type hints
        from pyspark.sql.functions import pandas_udf

        nf = str(form)

        def _unicode_norm(s):
            import unicodedata

            return s.map(lambda t: unicodedata.normalize(nf, t)
                         if t is not None else None)

        _unicode_norm.__annotations__ = {"s": pd.Series, "return": pd.Series}
        col = pandas_udf(_unicode_norm, "string")(col)
    if collapse_spaces:
        col = F.trim(F.regexp_replace(col, "[ \\t]+", " "))
    return df.withColumn(out, col)


def outlink_domains(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(id, domain) pairs for every http(s) link in the text —
    lowercased hostnames via one JVM regexp_extract_all + explode.
    Narrow map; the caller aggregates (domain profile) or joins
    (blocklists). At 100 TB this is the scan-side of link-graph
    curation: no shuffle until the caller's aggregate."""
    domains = F.regexp_extract_all(F.col(text_col), F.lit(URL_DOMAIN_RE), 1)
    return (df.select(F.col(id_col), F.explode(domains).alias("domain"))
            .withColumn("domain", F.lower(F.col("domain"))))


def filter_blocked_domains(df: DataFrame, blocklist: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Drop documents that link to ANY blocklisted domain. The
    blocklist (a `domain` column) is broadcast; offending doc ids are
    found by one narrow extract + broadcast semi-join, and removed from
    the corpus with a LEFT ANTI join on the id — two joins, zero
    shuffles of the documents table when the blocklist is small."""
    links = outlink_domains(df, text_col=text_col, id_col=id_col)
    bad = (links.join(F.broadcast(blocklist.select(F.lower(F.col("domain"))
                                                   .alias("domain"))),
                      "domain", "left_semi")
           .select(id_col).distinct())
    return df.join(bad, id_col, "left_anti")


def canonical_url_expr(col):
    """Canonical form of a URL column — the crawl-dedup primitive
    (the same page arrives as http/HTTPS, with/without www., default
    ports, tracking params, fragments, and trailing slashes, and
    byte-exact dedup misses all of them):

    - scheme and host lowercase; leading ``www.`` dropped
    - default ports stripped (``:80`` for http, ``:443`` for https)
    - the ``#fragment`` dropped (never sent to the server)
    - tracking params removed (``utm_*``, ``fbclid``, ``gclid``),
      with leftover ``?``/``&`` separators tidied
    - a terminal ``/`` stripped

    Pure regexp_extract/replace chain, RE2/Java common ground, so the
    SQL oracle replays it verbatim (SQL_CANONICAL_URL). Non-URL
    strings (no ``scheme://``) pass through unchanged."""
    scheme = F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(
        col, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = (F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
            .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
            .otherwise(host))
    rest = F.regexp_extract(
        col, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)", 1)
    # anchored to the [?&] separator (kept via $1): an UNanchored
    # pattern would also mangle params merely CONTAINING utm_/fbclid
    # ('myfbclid=A' -> 'my'), conflating distinct URLs (review-caught)
    rest = F.regexp_replace(
        rest, r"([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*", "$1")
    rest = F.regexp_replace(rest, r"\?&+", "?")
    rest = F.regexp_replace(rest, r"&&+", "&")
    rest = F.regexp_replace(rest, r"[?&]+$", "")
    rest = F.regexp_replace(rest, r"/$", "")
    return (F.when(scheme == F.lit(""), col)
            .otherwise(F.concat(scheme, F.lit("://"), host, rest)))


def sql_canonical_url(col_sql: str) -> str:
    """DuckDB rendering of canonical_url_expr over ``col_sql`` —
    identical regex chain (RE2 'g' flag where Spark replaces all)."""
    scheme = f"lower(regexp_extract({col_sql}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    host0 = (f"regexp_replace(lower(regexp_extract({col_sql}, "
             "'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), '^www\\.', '')")
    host = (f"CASE WHEN {scheme} = 'http' THEN regexp_replace({host0}, ':80$', '') "
            f"WHEN {scheme} = 'https' THEN regexp_replace({host0}, ':443$', '') "
            f"ELSE {host0} END")
    rest = (f"regexp_extract({col_sql}, "
            "'^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1)")
    # RE2 replacement backrefs use \1 where Java uses $1
    rest = (f"regexp_replace({rest}, "
            r"'([?&])(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*', '\1', 'g')")
    rest = f"regexp_replace({rest}, '\\?&+', '?', 'g')"
    rest = f"regexp_replace({rest}, '&&+', '&', 'g')"
    rest = f"regexp_replace({rest}, '[?&]+$', '')"
    rest = f"regexp_replace({rest}, '/$', '')"
    return (f"CASE WHEN {scheme} = '' THEN {col_sql} "
            f"ELSE {scheme} || '://' || {host} || {rest} END")


def canonicalize_urls(df: DataFrame, url_col: str = "url",
                      output_col: str | None = None) -> DataFrame:
    """Narrow map adding the canonical form of ``url_col`` (see
    canonical_url_expr). No shuffle; at 100 TB this is scan-side."""
    return df.withColumn(output_col or url_col,
                         canonical_url_expr(F.col(url_col)))


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Keep ONE row per canonical URL (the smallest id — the
    exact-dedup keep-one contract applied to the canonical form).
    Returns the surviving rows plus their ``canonical_url``. One
    groupBy on the canonical key + one semi-join back — the same
    shuffle shape as exact_dedup, linear at 100 TB."""
    canon = df.withColumn("canonical_url",
                          canonical_url_expr(F.col(url_col)))
    keep = (canon.groupBy("canonical_url")
            .agg(F.min(id_col).alias(id_col)))
    return canon.join(keep, ["canonical_url", id_col])


def strip_markup(df: DataFrame, text_col: str = "text",
                 output_col: str | None = None) -> DataFrame:
    """HTML/markup → plain text, the crawl-ingest curation primitive:
    drop script/style blocks wholesale (their text is never prose),
    strip remaining tags, decode the six common entities, collapse
    whitespace. Pure regexp_replace chain — one narrow JVM projection,
    no UDF, and every step is RE2/Java-regex common ground so the SQL
    oracle replays it verbatim. (A full HTML5 parser is out of scope —
    this is the boilerplate-grade stripper curation pipelines run
    BEFORE quality scoring, not a DOM.)"""
    out = output_col or text_col
    x = F.col(text_col)
    # two patterns, not one with a backreference: DuckDB's RE2 has no
    # backreferences, and the oracle replays these verbatim
    x = F.regexp_replace(x, r"(?is)<script\b[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, r"(?is)<style\b[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, r"(?s)<[^>]*>", " ")
    # &amp; decodes LAST (HTML spec order): decoding it first turns
    # entity-escaped text like '&amp;lt;script&amp;gt;' into '&lt;…&gt;'
    # and the later passes resurrect it as LIVE markup after the tag
    # strip already ran (review-caught double-decode)
    for ent, rep in [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")]:
        x = F.regexp_replace(x, ent, rep)
    # explicit class, not \s: Java's \s includes \x0B (vertical tab)
    # but RE2's does not, so \s+ desyncs Spark from the DuckDB oracle
    # on documents containing \x0B (ADVICE r6)
    x = F.trim(F.regexp_replace(x, r"[ \t\n\r\f]+", " "))
    return df.withColumn(out, x)


def vocab_coverage(df: DataFrame, vocab, text_col: str = "text",
                   group_col: str | None = None) -> DataFrame:
    """Tokenizer-fit metrics for a corpus against a fixed vocabulary —
    the pre-training sanity check that a tokenizer suits a data mix:

    - n_tokens        total tokens
    - oov_rate        fraction of tokens NOT in the vocabulary
    - chars_per_token mean token length (the compression proxy: a
                      vocabulary that fragments this corpus shows a
                      low chars-per-token and a high oov_rate)

    ``vocab``: a list of strings or a 1-column DataFrame. Shape: one
    explode + broadcast membership + one aggregate; grouped by
    ``group_col`` (e.g. source/lang) when given, so mixture decisions
    can weigh per-source tokenizer fit."""
    from dask_ml_spark.datapipe.dedup import tokens_expr

    keys = [group_col] if group_col else []
    toks = (ensure_min_partitions(df).select(
        *keys, F.explode(tokens_expr(F.col(text_col))).alias("token")))
    if isinstance(vocab, DataFrame):
        vcol = vocab.columns[0]
        v = F.broadcast(vocab.select(F.col(vcol).alias("token")).distinct()
                        .withColumn("__in", F.lit(1)))
        toks = toks.join(v, "token", "left")
        in_vocab = F.col("__in").isNotNull()
    else:
        in_vocab = F.col("token").isin([str(t) for t in vocab])
    return (toks.groupBy(*keys).agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg((~in_vocab).cast("double")), 6).alias("oov_rate"),
        F.round(F.avg(F.length("token")), 6).alias("chars_per_token")))


def zipf_fit(df: DataFrame, text_col: str = "text",
             xmin: int = 2) -> DataFrame:
    """Discrete power-law (Zipf) MLE over the corpus token-frequency
    distribution — the corpus-health screen next to
    source_concentration: natural-language corpora follow
    P(count = x) ∝ x^(−α) with α ≈ 2 (Zipf); a crawl whose α drifts
    low is template/boilerplate-heavy (fat tail of repeated tokens),
    one drifting high is fragmenting (OCR noise, tokenizer mismatch —
    mass collapsing into singletons). Fitted α also feeds synthetic
    load models and vocabulary-size planning.

    Estimator (Clauset–Shalizi–Newman 2009, the discrete MLE's
    continuous approximation): over distinct tokens with count
    x ≥ xmin,  α̂ = 1 + m / Σ ln(x_i / (xmin − 0.5)),
    se = (α̂ − 1)/√m  — m = tail type count. Deterministic, so it
    oracles directly.

    Shape: the unigram explode + groupBy(token) count (the
    irreducible corpus pass, shared convention with
    unigram_logprob_scores), then ONE aggregate over the counts frame
    (type counts, token total, the conditional log-sum) and a
    stateless projection — α never touches the driver. Returns one
    row: (n_types, n_types_tail, n_tokens, xmin, alpha, se).
    """
    if xmin < 1:
        raise ValueError("xmin must be >= 1")
    toks = df.select(F.explode(tokens_expr(F.col(text_col)))
                     .alias("token"))
    lm = toks.groupBy("token").agg(F.count("*").alias("c"))
    tail = (F.col("c") >= xmin).cast("double")
    agg = lm.agg(
        F.count("*").alias("n_types"),
        F.sum(tail).alias("m_d"),
        F.sum("c").alias("n_tokens"),
        F.sum(tail * F.log(F.col("c") / F.lit(xmin - 0.5)))
        .alias("s"))
    ok = (F.col("m_d") > 0.0) & (F.col("s") > 0.0)
    alpha = F.when(ok, 1.0 + F.col("m_d") / F.col("s"))
    return agg.select(
        F.col("n_types").cast("long").alias("n_types"),
        F.col("m_d").cast("long").alias("n_types_tail"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.lit(int(xmin)).alias("xmin"),
        alpha.alias("alpha"),
        F.when(ok, (F.col("m_d") / F.col("s"))
               / F.sqrt(F.col("m_d"))).alias("se"))
