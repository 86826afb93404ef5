"""SparkSession construction with scale-appropriate defaults.

These configs are the ones that matter at 100 TB just as much as on
a local[N] test box: AQE for runtime re-planning (skew joins, partition
coalescing), Arrow for every Python<->JVM boundary, and a shuffle
partition count that AQE can coalesce downward.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive query execution: runtime shuffle-partition coalescing,
    # skew-join splitting, and dynamic join-strategy switching.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow everywhere Python touches data; pandas UDFs are useless
    # without it.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # FIFO job scheduling. FAIR was tried for the multi-threaded search
    # planners (GridSearchCV, Hyperband brackets) but re-measured SLOWER
    # across the board once their training moved into executor-side
    # jobs: at sf0.1, FAIR taxes every single-job query ~1.5x (fair-share
    # bookkeeping per task on 32 local cores: minhash_lsh_pairs 0.61s
    # FIFO vs 0.98s FAIR) and no longer helps the planners either
    # (grid_search_best 5.7s FIFO vs 8.1s FAIR — concurrent jobs from
    # driver threads interleave fine under FIFO because each stage only
    # briefly holds all slots). Revisit only with an allocation file and
    # per-thread pools on a real multi-tenant cluster.
    "spark.scheduler.mode": "FIFO",
    # Broadcast joins for dimension-sized relations (fit state,
    # vocabularies, centers are broadcast variables, not joins, but
    # dictionary joins in encoders benefit).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Nanosecond timestamps in the driver-generated parquet: Spark has
    # no TIMESTAMP(NANOS) type — read them as long (see
    # sources.io.load_table, which converts back to timestamp).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.timestampType": "TIMESTAMP_LTZ",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 flips ANSI mode on by default; the engine's query surface is
    # authored for the lenient (Spark 3) semantics, and the runtime
    # overflow/cast checks cost 2-7x on aggregate-heavy plans (measured on
    # from_json, sha2 dedup, and groupBy-agg queries at sf0.1). Pin it off.
    "spark.sql.ansi.enabled": "false",
    # pyspark.daemon plus a guard that stops every Python task from
    # re-reading the zip/jar directories on the worker's sys.path (~0.2 s
    # of CPU per task before Python 3.13; see _pydaemon). Executors must
    # import dask_ml_spark, as they already do for the package's pickled
    # mapInPandas functions; if they cannot, the job fails with the obscure
    # "EOFException occurred while reading the port number from
    # dask_ml_spark._pydaemon's stdout".
    "spark.python.daemon.module": "dask_ml_spark._pydaemon",
}


def get_spark(
    app_name: str = "dask_ml_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally, or to
    the cores this process may run on when the variable is unset; on a
    real cluster leave it unset and let spark-submit decide.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
