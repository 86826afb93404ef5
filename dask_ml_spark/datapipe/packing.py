"""Shard packing and PII redaction for training-data export
(beyond-reference).

``pack_token_shards`` assigns documents to fixed-token-budget training
shards by their starting offset in the corpus-wide token stream — the
step right before writing tokenizer-ready data, where downstream jobs
want ~equal-token files. The global running sum is computed as a
DISTRIBUTED prefix sum (range-partition by the order key, one local
cumsum per partition, only #partitions subtotal longs through the
driver) — never a single-partition global window, which is the classic
100 TB trap for ``ORDER BY`` windows with no PARTITION BY.

``redact_pii`` is regex scrubbing (emails / phone-ish runs / IPv4) as
pure JVM expressions; the patterns avoid lookarounds so the identical
regex runs on Spark (Java) and DuckDB (RE2) for the oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_ml_spark.utils import cut

PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{7,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def _gkey(g):
    """Normalize a pandas group key for dict lookup across the two
    prefix-sum phases: None / NaN / pd.NA → None, anything else → its
    string form (the subtotal rows travel through a string column)."""
    if g is None or g is pd.NA or (isinstance(g, float) and g != g):
        return None
    return str(g)


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Replace PII-shaped spans with [TYPE] tokens; per-type match
    counts ride along for audit. Order matters: emails first (an email
    contains dots that the ipv4 pattern would otherwise nibble)."""
    redacted = F.col(text_col)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(F.size(F.regexp_extract_all(redacted, F.lit(pat), 0))
                      .alias(f"n_{name}"))
        redacted = F.regexp_replace(redacted, pat, f"[{name.upper()}]")
    return df.select(F.col(id_col), *counts, redacted.alias("redacted_text"))


def prefix_sum(df: DataFrame, order_col: str, value_col,
               out_col="running_total",
               group_col: str | None = None,
               with_totals: bool = False):
    """Exclusive prefix sum of ``value_col`` in ``order_col`` order —
    globally, or per ``group_col`` group — fully distributed:
    range-partition + sort by (group, order), local cumsum per
    partition, per-(partition, group) subtotals to the driver,
    broadcast offsets back. Same two-phase scheme as
    utils.zip_with_index.

    value_col/out_col may be parallel LISTS (global variant only): all
    columns cumsum in the SAME pass — one range shuffle, one
    checkpoint, one subtotal collect for the lot. Callers needing
    several running totals over one ordering (the KS two-ECDF pass,
    Kaplan–Meier's log-factor + zero-flag pair) should batch them here
    rather than paying the fixed per-pass cost per column.

    The grouped variant is the skew-safe replacement for
    ``Window.partitionBy(group).orderBy(order)``: a hash-partitioned
    window puts EVERY row of a hot group in one task, so one skewed
    group serializes the whole pass; range partitioning on
    (group, order) instead splits a hot group across as many
    contiguous range slices as its row share demands, and only the
    per-slice subtotals (#partitions + #groups rows, two longs each)
    touch the driver.

    ``with_totals=True`` (global variant only) additionally returns the
    per-column GRAND totals the subtotal collect already accumulated —
    ``(df_out, [total, ...])`` — so callers needing Σvalue (the KS n1/n2
    normalizers, rank-test group sizes) read them for free instead of
    re-running the cumsum pass through a second aggregate. The totals
    are the same partition-subtotal accumulation the offsets use:
    bit-identical to any other order for the integer-valued doubles
    every caller feeds (counts), and to the cumsum's own tail either
    way.

    Two r13-optimization notes (guide §1.4/§2.4/§4.1):
    - the input is localCheckpointed (unless it already IS a
      materialized-RDD scan, e.g. via ``utils.bounded_head``): the range
      exchange SAMPLES its child to pick boundaries, so an expensive
      upstream plan (a full groupBy, a regex token count) would
      otherwise be computed twice — once for the sampler, once for the
      shuffle write;
    - the subtotal pass projects to the value columns first: mapInPandas
      is opaque to column pruning, so without the select EVERY input
      column crosses the JVM→Python boundary a second time just to be
      summed.
    """
    from pyspark import TaskContext

    if isinstance(value_col, (list, tuple)):
        if not isinstance(out_col, (list, tuple)):
            # list('ab') would silently split a string into characters
            raise ValueError(
                "list value_col needs a parallel LIST of out_col names")
        value_cols = list(value_col)
        out_cols = list(out_col)
        if group_col is not None:
            raise ValueError("multi-column prefix_sum is global-only")
        if len(out_cols) != len(value_cols):
            raise ValueError("out_col list must parallel value_col list")
    else:
        if not isinstance(out_col, str):
            raise ValueError(
                "scalar value_col with a list out_col — pass both as "
                "parallel lists for the multi-column form")
        value_cols = [value_col]
        out_cols = [out_col]
    if with_totals and group_col is not None:
        raise ValueError("with_totals is global-only")
    df = cut(df)
    # the range exchange below reshuffles anyway, so an up-front
    # ensure_min_partitions round-robin repartition (plus its mandatory
    # sortBeforeRepartition) was a whole wasted shuffle pass — only the
    # TARGET partition count needs the parallelism floor (r13 opt)
    parts = max(df.rdd.getNumPartitions(),
                df.sparkSession.sparkContext.defaultParallelism)
    range_keys = ([F.col(group_col)] if group_col else []) + [F.col(order_col)]
    sort_keys = ([group_col] if group_col else []) + [order_col]
    # localCheckpoint, not persist: arranged is consumed twice (the
    # subtotal collect and the final cumsum) and must not be
    # recomputed between them (partition boundaries must be IDENTICAL
    # for the offsets to line up); checkpoint blocks are reclaimed by
    # the ContextCleaner when the result is dropped, where a bare
    # persist would leak storage for the session's lifetime
    arranged = (df.repartitionByRange(parts, *range_keys)
                .sortWithinPartitions(*sort_keys).localCheckpoint(eager=False))

    if group_col is None:
        subtotal_schema = "pid long, " + ", ".join(
            f"s{i} double" for i in range(len(value_cols)))

        def subtotals(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pid = TaskContext.get().partitionId()
            tots = [0.0] * len(value_cols)
            for pdf in it:
                for i, vc in enumerate(value_cols):
                    tots[i] += float(pdf[vc].sum())
            yield pd.DataFrame({"pid": [pid],
                                **{f"s{i}": [t]
                                   for i, t in enumerate(tots)}})

        # project to the value columns: mapInPandas defeats column
        # pruning, and this pass only ever reads the values (a narrow
        # select on a checkpointed frame keeps partition ids aligned)
        rows = (arranged.select(*value_cols)
                .mapInPandas(subtotals, subtotal_schema).collect())
        offsets = {}
        acc = [0.0] * len(value_cols)
        for r in sorted(rows, key=lambda r: r["pid"]):
            offsets[r["pid"]] = list(acc)
            for i in range(len(value_cols)):
                acc[i] += r[f"s{i}"]
        totals = list(acc)
    else:
        subtotal_schema = f"pid long, {group_col} string, subtotal double"

        def subtotals(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pid = TaskContext.get().partitionId()
            acc: dict = {}
            for pdf in it:
                for g, s in pdf.groupby(group_col, sort=False,
                                        dropna=False)[value_col].sum().items():
                    acc[_gkey(g)] = acc.get(_gkey(g), 0.0) + float(s)
            yield pd.DataFrame({
                "pid": [pid] * len(acc),
                group_col: list(acc.keys()),
                "subtotal": list(acc.values()),
            })

        rows = arranged.mapInPandas(subtotals, subtotal_schema).collect()
        offsets = {}
        run_by_group: dict = {}
        for r in sorted(rows, key=lambda r: r["pid"]):
            key = (r["pid"], r[group_col])
            offsets[key] = run_by_group.get(r[group_col], 0.0)
            run_by_group[r[group_col]] = offsets[key] + r["subtotal"]

    # build a fresh StructType: StructType.add mutates in place, and
    # df.schema is cached on the DataFrame — add() would corrupt the
    # caller's view of the input schema
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(oc, T.DoubleType())
                                  for oc in out_cols])

    def local_cumsum(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pid = TaskContext.get().partitionId()
        if group_col is None:
            run = list(offsets.get(pid, [0.0] * len(value_cols)))
            for pdf in it:
                assigns = {}
                for i, (vc, oc) in enumerate(zip(value_cols, out_cols)):
                    assigns[oc] = (pdf[vc].astype("float64").cumsum()
                                   + run[i] - pdf[vc])
                    run[i] += float(pdf[vc].sum())
                yield pdf.assign(**assigns)
        else:
            import numpy as np

            run: dict = {}
            for pdf in it:
                vals = pdf[value_col].astype("float64")
                # rows are sorted by (group, order): factorize gives
                # first-appearance codes, so per-group work is
                # O(#groups) python, everything else vectorized
                codes, uniques = pd.factorize(pdf[group_col],
                                              use_na_sentinel=False)
                c = vals.groupby(codes).cumsum() - vals
                gsums = vals.groupby(codes).sum()
                group_start = np.empty(len(uniques), dtype="float64")
                for gi, g in enumerate(uniques):
                    key = _gkey(g)
                    if key not in run:
                        run[key] = offsets.get((pid, key), 0.0)
                    group_start[gi] = run[key]
                    run[key] += float(gsums[gi])
                yield pdf.assign(**{out_col: c + group_start[codes]})

    out = arranged.mapInPandas(local_cumsum, out_schema)
    if with_totals:
        return out, totals
    return out


def pack_sequences(df: DataFrame, seq_len: int, text_col: str = "text",
                   id_col: str = "doc_id",
                   token_count_col: str | None = None) -> DataFrame:
    """Chunk the corpus-wide token stream into fixed-length training
    sequences — the step AFTER shard assignment: every document's
    tokens occupy the half-open span [start, start+n) of the global
    stream (distributed prefix sum in ``id_col`` order), and sequence
    k covers stream tokens [k·seq_len, (k+1)·seq_len). A document
    straddling sequence boundaries emits one row per overlapped
    sequence with its LOCAL token slice — exactly what a tokenizer
    worker needs to cut examples without re-counting anything.

    Output: (id, seq_id, tok_start, tok_end) with 0 ≤ tok_start <
    tok_end ≤ n_tokens; per-document slices concatenate to the whole
    document, and every sequence except the last sums to exactly
    ``seq_len`` tokens. Deterministic in content (prefix sum, no RNG)
    → SQL-oracle-able, idempotent under retries/repartitioning.

    Shape: one prefix sum + a JVM explode of ceil(n/seq_len)+1 chunk
    ids per doc — output volume ~ corpus_tokens/seq_len extra rows,
    no shuffle beyond the prefix sum's range partition.

    token_count_col: name of a PRE-COMPUTED token-count column to
    reuse (upstream mixture/quota stages already carry one) — skips
    re-tokenizing the text, which is the expensive part.
    """
    from dask_ml_spark.datapipe.dedup import tokens_expr

    if token_count_col is not None:
        counted = df.select(
            F.col(id_col), F.col(token_count_col).alias("n_tokens"))
    else:
        counted = df.select(
            F.col(id_col),
            F.size(tokens_expr(F.col(text_col))).alias("n_tokens"))
    L = int(seq_len)
    w = prefix_sum(counted, id_col, "n_tokens", "__start")
    start = F.col("__start").cast("long")
    n = F.col("n_tokens").cast("long")
    first = F.floor(start / L).cast("long")
    last = F.floor((start + n - F.lit(1)) / L).cast("long")
    return (w.where(n > 0)
            .select(
                F.col(id_col), start.alias("__s"), n.alias("__n"),
                F.explode(F.sequence(first, last)).alias("seq_id"))
            .select(
                id_col, "seq_id",
                F.greatest(F.lit(0), F.col("seq_id") * L - F.col("__s"))
                .alias("tok_start"),
                F.least(F.col("__n"),
                        (F.col("seq_id") + 1) * L - F.col("__s"))
                .alias("tok_end")))


def chunk_documents(df: DataFrame, chunk_tokens: int = 128,
                    stride: int | None = None, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document overlapping token-window chunking — the
    RAG/embedding-ingest splitter, the WITHIN-document sibling of
    ``pack_sequences`` (which cuts the corpus-wide stream at global
    boundaries). Chunk i covers tokens [i·stride, i·stride +
    chunk_tokens) of its OWN document; stride < chunk_tokens overlaps
    consecutive chunks by chunk_tokens - stride tokens (the standard
    context-preservation trick), stride defaults to chunk_tokens
    (disjoint cover).

    Shape at 100 TB: a pure NARROW projection — tokenize, explode
    ceil(n/stride) window starts, slice. Zero shuffles; output volume
    ≈ corpus_tokens/stride rows. Deterministic in content.

    Output: (id, chunk_id, text, n_tokens) — chunk_id 0.. per
    document, n_tokens = tokens in the chunk (= chunk_tokens except
    the tail). Zero-token documents emit no chunks.
    """
    from dask_ml_spark.datapipe.dedup import tokens_expr

    if stride is None:
        stride = chunk_tokens
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    t = F.col("__toks")
    base = (df.select(F.col(id_col),
                      tokens_expr(F.col(text_col)).alias("__toks"))
            .where(F.size(t) > 0))
    # 1 + ceil((n - chunk_tokens)/stride) chunks: chunking stops once a
    # chunk reaches the document end, so no tail chunk is ever fully
    # contained in its predecessor (n=100, chunk=128, stride=96 emits
    # ONE chunk, not a redundant [96:100] tail)
    n_chunks = (F.lit(1) + F.greatest(
        F.ceil((F.size(t) - chunk_tokens) / F.lit(float(stride))),
        F.lit(0))).cast("int")
    chunk = (base.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        t)
        .select(
            F.col(id_col), F.col("chunk_id").cast("long").alias("chunk_id"),
            F.slice(t, F.col("chunk_id") * stride + 1,
                    chunk_tokens).alias("__chunk"))
        .select(F.col(id_col), "chunk_id",
                F.array_join(F.col("__chunk"), " ").alias(text_col),
                F.size(F.col("__chunk")).cast("long").alias("n_tokens")))
    return chunk


def pack_token_shards(df: DataFrame, budget: int, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Assign each document a shard id so every shard holds ~``budget``
    tokens: shard = floor(start_offset / budget) in deterministic
    ``id_col`` order (a document may straddle a boundary by less than
    one document — the standard allowance). Returns (id, n_tokens,
    shard)."""
    from dask_ml_spark.datapipe.dedup import tokens_expr

    counted = df.select(F.col(id_col),
                        F.size(tokens_expr(F.col(text_col))).alias("n_tokens"))
    with_offset = prefix_sum(counted, id_col, "n_tokens", "start_offset")
    return with_offset.select(
        id_col, "n_tokens",
        F.floor(F.col("start_offset") / budget).cast("long").alias("shard"))
