"""Table loading for the driver testdata layout + generic readers.

The reference delegates all I/O to dask; our engine delegates to
Spark's readers (parquet/csv/json/orc — predicate pushdown and column
pruning come free from the DataSource V2 scan). This module adds the
thin conveniences the test harness and queries use.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# (path, size, mtime_ns) -> inferred StructType. Schema METADATA only —
# no rows, no results: every query still scans the parquet. Re-inferring
# the schema costs a ~65 ms footer-read/analysis round trip per
# spark.read.parquet call (measured warm at sf0.1), paid 1-3x per query
# build; a catalog/metastore would make it free, so the cache plays that
# role for bare-path reads. Keyed on file identity so a regenerated
# file re-infers; least-recently-used entries beyond _SCHEMA_CACHE_MAX
# are dropped.
_SCHEMA_CACHE: OrderedDict = OrderedDict()
_SCHEMA_CACHE_MAX = 256
_SCHEMA_LOCK = threading.Lock()
# Sessions whose nanos conf is set. Weak, so an entry dies with its
# session: keying on id(spark) let a new session that CPython placed at
# a collected one's address skip the set.
_NANOS_CONF_SET: weakref.WeakSet = weakref.WeakSet()


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """Set ``spark.sql.legacy.parquet.nanosAsLong`` once per session:
    the set is a py4j round trip, and load_table runs 1-3x per query."""
    if spark in _NANOS_CONF_SET:
        return
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # older/newer Spark without the conf: reads may still work
    _NANOS_CONF_SET.add(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing nano-precision event-time
    columns (see normalize_nanos_timestamps).

    Side effect: sets ``spark.sql.legacy.parquet.nanosAsLong=true`` on
    the session (needed on Spark <=4.0 where TIMESTAMP(NANOS) is
    otherwise unreadable; ignored by 4.1+). Subsequent TIMESTAMP(NANOS)
    reads in the same session will type as long on those versions.
    """
    # The conf is runtime-settable, and the session we receive may be one
    # we didn't build (external harness), so set it here rather than
    # relying on session-builder defaults.
    _ensure_nanos_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = None
    try:
        st = os.stat(path)
        key = (path, st.st_size, st.st_mtime_ns)
    except OSError:
        pass  # non-local / directory layouts: infer every time
    schema = None
    if key is not None:
        with _SCHEMA_LOCK:
            schema = _SCHEMA_CACHE.get(key)
            if schema is not None:
                _SCHEMA_CACHE.move_to_end(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            schema = df.schema
            with _SCHEMA_LOCK:
                _SCHEMA_CACHE[key] = schema
                if len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
                    _SCHEMA_CACHE.popitem(last=False)
    return normalize_nanos_timestamps(df)


def normalize_nanos_timestamps(df: DataFrame) -> DataFrame:
    """Normalize TIMESTAMP(NANOS) parquet event-time columns to TIMESTAMP
    (LTZ, microsecond precision — all Spark offers).

    Two runtime behaviors exist for nano-precision parquet timestamps:
    - Spark <=4.0 honors ``spark.sql.legacy.parquet.nanosAsLong`` and
      delivers long epoch-nanos -> convert via ``timestamp_micros``.
    - Spark 4.1+ ignores that conf and delivers ``TIMESTAMP_NTZ`` ->
      cast to TIMESTAMP (session tz is pinned UTC, so wall-clock == instant
      and the cast is lossless modulo the nanos->micros truncation both
      branches share).

    Only ``ts``/``*_ts`` columns are touched so ordinary long columns
    survive untouched.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    out = df
    for f in df.schema.fields:
        if f.name != "ts" and not f.name.endswith("_ts"):
            continue
        if isinstance(f.dataType, T.LongType):
            out = out.withColumn(f.name, F.timestamp_micros((F.col(f.name) / 1000).cast("long")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            out = out.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return out


def read_parquet(spark: SparkSession, path: str, columns=None) -> DataFrame:
    df = spark.read.parquet(path)
    return df.select(*columns) if columns else df


def read_csv(spark: SparkSession, path: str, header: bool = True, schema=None) -> DataFrame:
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite",
                  partition_by=None, max_records_per_file: int | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    w.parquet(path)


def write_bucketed(df: DataFrame, table: str, n_buckets: int, bucket_cols,
                   sort_cols=None, mode: str = "overwrite", path: str | None = None) -> None:
    """Write a hash-bucketed (optionally sorted) table.

    Bucketing pre-shuffles the data ON WRITE: two tables bucketed the
    same way on their join key join with NO exchange at read time, and
    aggregations on the bucket key skip their shuffle too — the main
    physical-layout lever for repeated 100 TB joins. Spark requires the
    metastore path (saveAsTable) for bucket metadata.
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def read_orc(spark: SparkSession, path: str, columns=None) -> DataFrame:
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df


def write_orc(df: DataFrame, path: str, mode: str = "overwrite",
              partition_by=None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite",
              header: bool = True) -> None:
    df.write.mode(mode).option("header", header).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line — the interchange format
    text-curation pipelines hand to tokenizer/training jobs)."""
    df.write.mode(mode).json(path)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None,
                      max_bytes: int | None = None) -> DataFrame:
    """Raw media ingestion: one row per file with (path, modificationTime,
    length, content binary) via Spark's binaryFile source — the natural
    feed for the multimodal decode operators (datapipe/multimodal.py).

    Metadata predicates (length, path) prune at scan time WITHOUT
    reading file bodies; `max_bytes` applies such a pushed filter so a
    decode pass can skip oversized blobs for free. At 100 TB keep
    `spark.sql.files.maxPartitionBytes` at/below executor batch budget —
    each row holds a whole file in memory.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= F.lit(int(max_bytes)))
    return df
