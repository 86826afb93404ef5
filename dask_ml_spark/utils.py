"""Schema/column utilities and the plan section shared across operators.

The reference spends ~500 LoC defending against unknown chunk sizes and
meta inference (dask_ml/utils.py:123-279); on Spark the schema is
authoritative, so the equivalents here are thin.

The plan section is the only code that reads a Spark plan (by node
class, via ``_plan_nodes``) and owns the decisions made from it:
spreading (``ensure_min_partitions``, ``right_size_cv_cache``), lineage
cuts (``cut``), bounded driver state (``MAX_DRIVER_ROWS``,
``MAX_DRIVER_EDGES``, ``bounded_head``, ``collect_capped``) and the plan lint
(``assert_scalable``). It also owns how a driver-computed result
becomes a frame (``local_frame``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NUMERIC_SPARK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def is_numeric_field(field: T.StructField) -> bool:
    return isinstance(field.dataType, NUMERIC_SPARK_TYPES)


def sql_scalar_lit(v) -> str:
    """SQL literal typed exactly as ``F.lit`` would type the Python
    value (int32-range ints are INT, larger BIGINT, floats DOUBLE via
    repr round-trip + D suffix, bools BOOLEAN, strings STRING) — the
    building block for single-parse literal arrays."""
    if isinstance(v, (bool, np.bool_)):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, np.integer)):
        i = int(v)
        return str(i) if -2 ** 31 <= i < 2 ** 31 else f"{i}L"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            raise ValueError(f"non-finite literal {v!r}")
        return f"{f!r}D"
    if isinstance(v, str):
        # backslash escapes are only decoded by the DEFAULT parser; under
        # spark.sql.parser.escapedStringLiterals=true neither \' nor ''
        # is unescaped (verified on 4.1), so a quote/backslash in data
        # would silently change value or break the parse — refuse loudly
        # (lit_array falls back to per-element F.lit for this case).
        # A string without either parses the same under both parsers
        if _needs_escape(v) and _legacy_string_literals():
            raise ValueError(
                "sql_scalar_lit(str) of a string with a quote or "
                "backslash requires the default parser "
                "(spark.sql.parser.escapedStringLiterals=false); use "
                "F.lit for such literals under the legacy conf")
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"unsupported literal {v!r}")


def _needs_escape(v) -> bool:
    return isinstance(v, str) and ("'" in v or "\\" in v)


def _legacy_string_literals() -> bool:
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    return (sess is not None and sess.conf.get(
        "spark.sql.parser.escapedStringLiterals", "false") == "true")


def lit_array(vals) -> F.Column:
    """A literal array as ONE parsed SQL expression.

    ``F.array(*[F.lit(v) for v in vals])`` pays a py4j round trip per
    element — ~1 s per thousand literals on an idle driver and several
    times that under contention (round trips are latency-bound; this
    was measured as the DOMINANT cost of the ANN index and bootstrap
    builders before their r13 conversions). The generated SQL types
    every element exactly as ``F.lit`` would, so downstream arithmetic
    and results are bit-identical."""
    vals = list(vals)
    if not vals:
        return F.array()
    if any(_needs_escape(v) for v in vals) and _legacy_string_literals():
        # the legacy parser decodes no escape style — pay the py4j
        # round trips rather than emit literals that could mis-parse
        return F.array(*[F.lit(v) for v in vals])
    return F.expr("array(" + ", ".join(sql_scalar_lit(v) for v in vals) + ")")


def numeric_columns(df: DataFrame) -> list[str]:
    return [f.name for f in df.schema.fields if is_numeric_field(f)]


def resolve_feature_columns(df: DataFrame, columns=None) -> list[str]:
    """Resolve a feature-column spec to concrete column names.

    ``None`` → all numeric columns (mirrors the reference treating a whole
    dask array as features); a string → single column; else a sequence.
    """
    if columns is None:
        cols = numeric_columns(df)
        if not cols:
            raise ValueError("DataFrame has no numeric columns to use as features")
        return cols
    if isinstance(columns, str):
        columns = [columns]
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"Columns not in DataFrame: {missing}")
    return list(columns)


def numpy_dtype_to_spark(dt: np.dtype) -> T.DataType:
    dt = np.dtype(dt)
    if dt.kind == "f":
        return T.DoubleType() if dt.itemsize == 8 else T.FloatType()
    if dt.kind in "iu":
        return T.LongType() if dt.itemsize >= 8 else T.IntegerType()
    if dt.kind == "b":
        return T.BooleanType()
    return T.StringType()


def ensure_min_partitions(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition iff the input is under-partitioned for CPU-heavy work.

    Small parquet inputs scan as 1-3 partitions (128 MB splits), which
    serializes expression-heavy operators (hashing, shingling, UDF
    inference) onto a few cores. At 100 TB inputs already carry
    thousands of partitions and this is a no-op — the check is
    driver-side and runs no job (see _num_partitions).
    """
    if df.isStreaming:
        # no static partition count to inspect; micro-batch sizing is
        # the stream's own concern (maxFilesPerTrigger etc.)
        return df
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    n = _num_partitions(df)
    if n is not None and n < min_parts:
        return df.repartition(min_parts)
    return df


def _plan_nodes(df: DataFrame, prune: str | None = None):
    """Yield ``(class name, node)`` over ``df``'s physical plan, depth
    first, through AQE's ``initialPlan`` (``inputPlan`` has no exchanges
    yet) and a cache's ``cachedPlan``; a ``prune`` node is yielded but
    not entered. Planning only, no jobs."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        yield name, node
        if name == prune:
            continue
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
        elif name == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in reversed(range(kids.size())))


def _num_partitions(df: DataFrame) -> int | None:
    """``df``'s partition count without running a job; None leaves
    ``df`` alone. Under AQE, probing ``df.rdd`` FINALIZES the plan:
    every query stage below it (shuffle maps, broadcasts) runs as a job
    whose output is thrown away (measured: 1-2 per call on CV-fold-cache
    shapes). So a frame behind a shuffle (already shuffle-partitions
    wide) gets None, and under broadcast joins the count is read off the
    streamed side's file scan (None for any other shape); only a plan
    with no exchange is probed."""
    scans, names = [], set()
    for name, node in _plan_nodes(df, prune="BroadcastExchangeExec"):
        if name == "ShuffleExchangeExec":
            return None
        names.add(name)
        if name == "FileSourceScanExec":
            scans.append(node)
    if "BroadcastExchangeExec" not in names:
        return df.rdd.getNumPartitions()
    if len(scans) != 1 or names & {"CoalesceExec", "UnionExec"}:
        return None
    return scans[0].inputRDD().getNumPartitions()


def _is_materialized(df: DataFrame) -> bool:
    """Whether ``df`` is a bare scan of materialized data: a
    localCheckpoint's RDD or a ``local_frame``'s driver-side rows."""
    return (df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            in ("LogicalRDD", "LocalRelation"))


def local_frame(spark, rows, schema) -> DataFrame:
    """The one way a driver-computed result (a fit summary, a test
    statistic, a rank map) becomes a frame: ``rows`` (tuples) under
    ``schema`` (DDL string or StructType) go through one Arrow table.
    The plan is a ``LocalRelation``, so running it starts no Python
    worker (a list of rows is pickled into a PythonRDD). Not through
    pandas: its Arrow conversion turns NaN into NULL."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (T._parse_datatype_string(schema) if isinstance(schema, str)
              else schema)
    table = pa.Table.from_pylist([dict(zip(struct.names, r)) for r in rows],
                                 schema=to_arrow_schema(struct))
    return spark.createDataFrame(table, struct)


def cut(df: DataFrame) -> DataFrame:
    """Lazy localCheckpoint of a caller's frame, unless it is already
    materialized (a second cut would re-materialize for nothing)."""
    return df if _is_materialized(df) else df.localCheckpoint(eager=False)


# The one driver-row cap of the dual-path operators (stats' ks/mwu/
# wilcoxon/spearman/kaplan/log_rank/nelson_aalen, metrics.roc_auc_score):
# a distinct-value frame up to this size is accumulated on the driver,
# a larger one stays distributed. 0 forces every dual path distributed.
MAX_DRIVER_ROWS = 65536

# The driver-finish cap of dedup.duplicate_clusters: once the star loop's
# signature counts at most this many edges (~16 MB of long pairs), the
# rest is finished by driver union-find. 0 forces the distributed loop.
MAX_DRIVER_EDGES = 1_000_000


def bounded_head(g: DataFrame, cap: int | None = None):
    """The bounded driver probe of the distinct-value cumulatives: cut
    ``g`` FIRST, so a fallback to prefix_sum reuses it instead of
    re-running the groupBy, then one limit(cap+1) collect. ``cap``
    defaults to ``MAX_DRIVER_ROWS``, read at call time. Returns (cut g,
    head records if they fit else None); a falsy or negative cap skips
    the probe."""
    g = cut(g)
    cap = MAX_DRIVER_ROWS if cap is None else cap
    if not cap or cap < 0:
        return g, None
    # Arrow transfer instead of a Row collect (r13 optimization): the
    # probe moves up to cap+1 rows to the driver, and the pickled-Row
    # path pays ~10x Arrow's cost at the 65k cap. Values are plain
    # non-null doubles by construction (every caller pre-filters
    # NULL/NaN), so the dict records are value-identical to Rows and
    # support the same r["col"] access.
    head_pdf = g.limit(cap + 1).toPandas()
    if len(head_pdf) > cap:
        return g, None
    return g, head_pdf.to_dict("records")


def collect_capped(df: DataFrame, cap: int, message: str) -> list:
    """The bounded driver collect of an operator with a loud cap
    (``max_groups``, ``max_cells``, ...): one ``limit(cap + 1)``
    collect, and ``ValueError(message)`` if more than ``cap`` rows
    come back. Returns the rows."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(message)
    return rows


# in-memory bytes a CV cache partition may hold before right_size_cv_cache
# keeps more partitions than the concurrent consumers need
_CV_CACHE_BYTES_PER_PART = 64 << 20


def right_size_cv_cache(df: DataFrame, n_jobs: int) -> DataFrame:
    """Partition a CV fold cache for CONCURRENT consumers.

    A cached fold feeding n_jobs concurrent (candidate, fold) fits only
    needs ~cores/n_jobs partitions per fit to saturate the machine —
    the concurrent fits supply the rest of the parallelism, and every extra
    partition multiplies per-iteration scheduling cost across EVERY
    LBFGS/IRLS job of every fit (measured: a 600k-row cache at 8
    partitions runs a 6-way grid ~30% faster than at 32).

    Scale safety: the shrink is floored by a bytes-per-partition bound
    from Catalyst plan statistics (parquet row-group metadata x column
    pruning), so a cache whose estimated size needs more partitions
    keeps them; when statistics are unknown (post-shuffle plans report
    Long.Max) the frame is left alone apart from the usual
    under-partitioning floor. A frame whose partition count is unknown
    or shuffle-set keeps its partitioning (see _num_partitions).
    """
    current = _num_partitions(df)
    if current is None:
        return df
    sc = df.sparkSession.sparkContext
    per_fit = max(2, sc.defaultParallelism // max(1, n_jobs))
    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        size = -1
    if size <= 0 or size > (1 << 42):  # unknown / absurd estimate
        target = max(current, sc.defaultParallelism)
    else:
        # deserialized cache is fatter than the scan estimate (vector
        # boxing, java object headers) — budget 4x
        target = max(per_fit, (4 * size) // _CV_CACHE_BYTES_PER_PART + 1)
    return df if target == current else df.repartition(target)


def zip_with_index(df: DataFrame, order_cols, id_col: str = "index",
                   num_partitions: int | None = None):
    """Dense 0-based ids in global ``order_cols`` order, fully
    distributed (no single-partition window, no driver collect of
    data).  The classic two-phase scheme: range-partition + sort by the
    order key, count rows per partition (only #partitions longs reach
    the driver), then id = partition offset + local row_number.

    Returns (indexed_df, persisted_input) — caller unpersists the
    second when done; the persist pins the partitioning so the count
    pass and the id pass see identical splits.
    """
    from pyspark.sql import Window

    if isinstance(order_cols, str):
        order_cols = [order_cols]
    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (df.repartitionByRange(n_parts, *order_cols)
              .sortWithinPartitions(*order_cols)
              .withColumn("__pid", F.spark_partition_id())
              .persist())
    sizes = {r["__pid"]: r["n"] for r in
             ranged.groupBy("__pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    offset_col = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in sorted(offsets)]),
            F.array(*[F.lit(offsets[p]) for p in sorted(offsets)]),
        ),
        F.col("__pid"),
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (ranged.withColumn(
        id_col, (offset_col + F.row_number().over(w) - 1).cast("long"))
           .drop("__pid"))
    return out, ranged


def check_array(df: DataFrame, columns=None, *, accept_spark_dataframe: bool = True,
                ensure_min_features: int = 1, ensure_all_finite: bool = False) -> DataFrame:
    """Validate a feature DataFrame (reference utils.py:123-214).

    The reference fabricates a numpy sample and runs sklearn's
    ``check_array`` on it; on Spark the schema is authoritative, so
    this validates the schema directly: the input must be a DataFrame
    with at least ``ensure_min_features`` numeric feature columns.
    ``ensure_all_finite=True`` adds the reference's NaN/inf scan
    (k_means.py:195-201), which forces one pass over the data.
    """
    if not isinstance(df, DataFrame):
        raise TypeError(f"Expected a pyspark DataFrame, got {type(df).__name__}")
    if not accept_spark_dataframe:
        raise TypeError("Spark DataFrame input was explicitly disallowed")
    cols = resolve_feature_columns(df, columns)
    if len(cols) < ensure_min_features:
        raise ValueError(
            f"Found {len(cols)} feature(s) but ensure_min_features={ensure_min_features}")
    non_numeric = [c for c in cols
                   if not is_numeric_field(df.schema[c])]
    if non_numeric:
        raise ValueError(f"Non-numeric feature columns: {non_numeric}")
    if ensure_all_finite:
        bad = df.where(
            " OR ".join(f"(isnan({c}) OR {c} IS NULL OR abs({c}) = double('inf'))"
                        for c in cols)
        ).limit(1).count()
        if bad:
            raise ValueError("Input contains NaN, infinity, or null values")
    return df


def check_X_y(df: DataFrame, y: str, columns=None, **check_array_kwargs) -> DataFrame:
    """Validate features + a label column in one frame (reference
    utils.py:282-343).  The reference checks X/y length consistency;
    a single DataFrame holding both makes that free — what remains is
    schema validation of both sides."""
    check_array(df, columns, **check_array_kwargs)
    if y not in df.columns:
        raise ValueError(f"Label column {y!r} not in DataFrame")
    if not is_numeric_field(df.schema[y]) and not isinstance(
            df.schema[y].dataType, T.StringType):
        raise ValueError(f"Label column {y!r} must be numeric or string")
    return df


def check_chunks(n_samples: int, n_features: int, chunks=None) -> tuple:
    """Partitioning analog of the reference's chunk normalizer
    (utils.py:444-483): returns ``(rows_per_partition, n_features)``.
    ``chunks=None`` picks one partition per default-parallelism core
    with at least 100 rows per partition, mirroring the reference's
    defaults; an int is interpreted as a partition count."""
    min_rows = 100
    if chunks is None:
        from dask_ml_spark._session import get_spark

        n_parts = get_spark().sparkContext.defaultParallelism
        rows = max(min_rows, (n_samples + n_parts - 1) // max(n_parts, 1))
        return (rows, n_features)
    if isinstance(chunks, int):
        rows = max(min_rows, (n_samples + chunks - 1) // max(chunks, 1))
        return (rows, n_features)
    chunks = tuple(chunks)
    if len(chunks) != 2:
        raise AssertionError("Chunks should be a 2-tuple.")
    return chunks


def copy_learned_attributes(from_estimator, to_estimator) -> None:
    """Copy every fitted attribute (trailing-underscore convention)
    from one estimator to another (reference _utils.py:8-12)."""
    for k, v in vars(from_estimator).items():
        if k.endswith("_") and not k.startswith("_"):
            setattr(to_estimator, k, v)


def handle_zeros_in_scale(scale):
    """Constant features scale by 1 instead of dividing by zero
    (reference utils.py:74-83)."""
    import numbers

    if isinstance(scale, numbers.Number):
        return 1.0 if scale == 0.0 else scale
    s = np.asarray(scale, dtype="float64").copy()
    s[s == 0.0] = 1.0
    return s


def check_random_state(random_state):
    """Normalize None/int/RandomState to a RandomState (reference
    utils.py:235-246, minus the dask-specific branch)."""
    if random_state is None:
        return np.random.RandomState()
    if isinstance(random_state, int):
        return np.random.RandomState(random_state)
    if isinstance(random_state, np.random.RandomState):
        return random_state
    raise TypeError(f"Cannot use {random_state!r} to seed a RandomState")


def assert_estimator_equal(left, right, exclude=None, **kwargs):
    """Compare every learned attribute (trailing-underscore) of two
    fitted estimators (reference utils.py:91-121) — the reference's
    main testing utility; numpy-tolerant via **kwargs (atol/rtol)."""
    exclude = set() if exclude is None else set(exclude)
    l_attrs = {a for a in dir(left) if a.endswith("_") and not a.startswith("_")}
    r_attrs = {a for a in dir(right) if a.endswith("_") and not a.startswith("_")}
    attrs = (l_attrs & r_attrs) - exclude
    assert attrs, "no learned attributes in common"
    for attr in attrs:
        _assert_eq(getattr(left, attr), getattr(right, attr), name=attr, **kwargs)


def _assert_eq(l, r, name=None, **kwargs):
    if isinstance(l, dict):
        assert isinstance(r, dict) and set(l) == set(r), name
        for k in l:
            _assert_eq(l[k], r[k], name=f"{name}[{k}]", **kwargs)
    elif isinstance(l, np.ndarray) or isinstance(r, np.ndarray):
        la, ra = np.asarray(l), np.asarray(r)
        if la.dtype.kind in "fc" or ra.dtype.kind in "fc":
            np.testing.assert_allclose(la, ra, err_msg=str(name), **kwargs)
        else:
            np.testing.assert_array_equal(la, ra, err_msg=str(name))
    elif isinstance(l, float) or isinstance(r, float):
        assert l == pytest_approx(r, **kwargs), f"{name}: {l} != {r}"
    else:
        assert l == r, f"{name}: {l!r} != {r!r}"


def pytest_approx(value, atol=1e-8, rtol=1e-6, **_):
    import math

    class _Approx:
        def __eq__(self, other):
            return math.isclose(other, value, rel_tol=rtol, abs_tol=atol)

    return _Approx()


def ensure_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Cast a TIMESTAMP_NTZ event-time column to TIMESTAMP (LTZ).

    Spark 4.1+ delivers parquet TIMESTAMP(NANOS) as TIMESTAMP_NTZ, which
    `withWatermark` rejects and which cannot be cast straight to long.
    Session timezone is pinned UTC, so the NTZ→LTZ cast is lossless.
    No-op when the column is already a (LTZ) timestamp.
    """
    field = df.schema[ts_col]
    if isinstance(field.dataType, T.TimestampNTZType):
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def salted_join(left: DataFrame, right: DataFrame, on: str, n_salt: int = 16,
                how: str = "inner", hot_keys="auto",
                hot_threshold: int | None = None,
                max_hot_keys: int = 1000) -> DataFrame:
    """Join a key-skewed left side against a right side by splitting
    each HOT key across n_salt sub-keys, leaving the uniform remainder
    on the plain hash join.

    Only detected/listed hot keys are salted: their left rows get a
    random salt (spread over n_salt reducers) and ONLY the matching
    right rows are replicated n_salt times — the naive form that
    replicates the whole right side multiplies right shuffle volume by
    n_salt for every key, skewed or not. The unsalted remainder joins
    normally and the two branches union. AQE skew-join handles the
    same problem adaptively; this is the explicit form for planned
    skew.

    hot_keys:
      - ``"auto"`` (default): detect heavy keys with one exact
        ``groupBy(on).count()`` pass — map-side combine makes the
        detection itself skew-immune (a hot key reduces to one row per
        map partition before the shuffle). Costs one extra count job
        for the default threshold; pass ``hot_threshold`` (or an
        explicit key list) to skip that.
      - ``"all"``: salt every key — the demonstration form
        (right side replicated n_salt times wholesale).
      - an iterable of key values: explicit hot list, no detection
        pass (the production shape when skew is known up front).
    hot_threshold: a key is hot when its left row count exceeds this;
      default is a task's fair share, ``left.count() /
      spark.sql.shuffle.partitions`` (floored at 1000 so small tables
      never salt).
    max_hot_keys: the hot list is collected to the driver for the
      split predicates; above this, prefer AQE skew-join
      (``spark.sql.adaptive.skewJoin.enabled``) over explicit salting.

    Only ``inner`` and ``left`` joins are supported: the right side is
    replicated n_salt times for hot keys, so right/full outer would
    emit each unmatched hot right row once per salt replica. Flip the
    inputs (salting the skewed side as ``left``) for the mirrored
    cases.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "the salt-replicated right side would duplicate unmatched right rows"
        )

    def _salted(l_side: DataFrame, r_side: DataFrame) -> DataFrame:
        salt_l = F.floor(F.rand(seed=0) * n_salt).cast("int")
        salted_l = l_side.withColumn("__salt", salt_l)
        salted_r = r_side.withColumn(
            "__salt", F.explode(F.sequence(F.lit(0).cast("int"),
                                           F.lit(n_salt - 1).cast("int"))))
        return salted_l.join(salted_r, [on, "__salt"], how).drop("__salt")

    if isinstance(hot_keys, str) and hot_keys == "all":
        return _salted(left, right)
    if isinstance(hot_keys, str) and hot_keys == "auto":
        counts = left.groupBy(on).agg(F.count(F.lit(1)).alias("__c"))
        if hot_threshold is None:
            # ONE pass over left: the fair-share total comes from the
            # (persisted) per-key counts, not a second left.count()
            # scan (review-caught — the stated use case is an
            # expensive skewed fact frame)
            counts = counts.persist()
            sp = int(left.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"))
            total = counts.agg(F.sum("__c")).collect()[0][0] or 0
            hot_threshold = max(total // max(sp, 1), 1000)
        hot = counts.where(F.col("__c") > hot_threshold)
        try:
            rows = collect_capped(
                hot.select(on), max_hot_keys,
                f"more than max_hot_keys={max_hot_keys} keys exceed "
                f"hot_threshold={hot_threshold}; use AQE skew-join "
                "(spark.sql.adaptive.skewJoin.enabled) instead of an "
                "explicit hot list this long")
        finally:
            counts.unpersist()
        hot_list = [r[0] for r in rows]
    elif isinstance(hot_keys, str):
        raise ValueError(f"hot_keys must be 'auto', 'all', or a list, "
                         f"got {hot_keys!r}")
    else:
        # NULL keys never equi-match; dropping them from the hot list
        # keeps the split predicates three-valued-logic-safe
        hot_list = [k for k in hot_keys if k is not None]

    if not hot_list:
        return left.join(right, on, how)

    is_hot = F.col(on).isin(hot_list)
    # null-key left rows go to the cold branch (they survive a left
    # join unmatched there; ~isin(NULL) is NULL and would drop them)
    cold = (left.where(~is_hot | F.col(on).isNull())
            .join(right.where(~is_hot), on, how))
    hot = _salted(left.where(is_hot), right.where(is_hot))
    return hot.unionByName(cold)


# single-child plan nodes that never emit more rows than they read (the
# codegen ones wrap a broadcast side when AQE is off)
_ROW_BOUNDED = ("BroadcastExchangeExec", "FilterExec",
                "WholeStageCodegenExec", "InputAdapter")


def _broadcasts_scalar(bnlj) -> bool:
    """Whether a BroadcastNestedLoopJoin's build side is an aggregate
    with no grouping keys (at most one row) under row-bounded nodes."""
    node = (bnlj.right() if "Right" in bnlj.buildSide().toString()
            else bnlj.left())
    while (name := node.getClass().getSimpleName()) in _ROW_BOUNDED:
        node = node.child()
    return (name.endswith("AggregateExec")
            and node.groupingExpressions().isEmpty())


class ScalabilityError(RuntimeError):
    """Raised by assert_scalable when a plan contains a known
    scale-killer shape."""


def assert_scalable(df: DataFrame, *, allow_cartesian: bool = False,
                    allow_row_python: bool = False,
                    allow_broadcast_nested_loop: bool = False) -> DataFrame:
    """Plan lint: raise ScalabilityError if the physical plan contains
    a shape that is quietly fine on test data and catastrophic at
    100 TB — the library's plan-shape regression tests, packaged for
    user pipelines (call it on a DataFrame in CI before the job ships).

    Checks, each individually waivable:
    - CartesianProduct — O(N·M) pairs of two LARGE sides; only ever
      acceptable as an explicitly-chosen brute-force baseline.
    - BatchEvalPython — a ROW-AT-A-TIME Python UDF in the plan (Arrow
      / pandas UDFs show up as ArrowEvalPython and are not flagged).
    - BroadcastNestedLoopJoin WITH a join condition — a non-equi join
      Spark could not hash; usually a missed equi-key or an unbucketed
      range. A condition-free Cross BNLJ is NOT flagged: Spark only
      plans it when one side fits the broadcast threshold, which is
      the scalar-aggregate crossJoin pattern (1-row stats broadcasts)
      this library itself uses — bounded by construction. Nor is a
      conditioned BNLJ that broadcasts a keyless aggregate: that is
      the same pattern with its filter pushed into the join
      (``crossJoin(F.broadcast(agg)).where(col > scalar)``).

    Returns the DataFrame unchanged so it chains:
        assert_scalable(build_pipeline(...)).write.parquet(...)
    """
    found = {name for name, node in _plan_nodes(df)
             if name != "BroadcastNestedLoopJoinExec"
             or (node.condition().isDefined()
                 and not _broadcasts_scalar(node))}
    problems = [msg for name, waived, msg in (
        ("CartesianProductExec", allow_cartesian,
         "CartesianProduct (O(N*M) pair explosion)"),
        ("BatchEvalPythonExec", allow_row_python,
         "BatchEvalPython (row-at-a-time Python UDF; use an Arrow "
         "pandas_udf)"),
        ("BroadcastNestedLoopJoinExec", allow_broadcast_nested_loop,
         "BroadcastNestedLoopJoin with a join condition (non-equi join; "
         "add an equi key or bucket the range)"),
    ) if name in found and not waived]
    if problems:
        raise ScalabilityError(
            "plan contains scale-killer shapes: " + "; ".join(problems)
            + "\n(waive explicitly via allow_* if intentional)")
    return df
