"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every config here is chosen to
also make sense on a multi-executor cluster: AQE for runtime re-plan
(skew joins, partition coalescing), Arrow for the pandas-UDF slow
path, UTC session time so results are reproducible across hosts, and
a shuffle-partition count sized by environment rather than the 200
default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` when it holds an integer, else the number
    of CPUs this process may run on (its scheduler affinity — the
    host's count, or the container's cpuset)."""
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "innercircle_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: the
    CPUs this process may use, ``local_cpus``).
    On a real cluster, pass ``master=None`` with a cluster manager URL
    in the environment and size ``shuffle_partitions`` ~2-3x total
    cores (or leave AQE to coalesce).
    """
    cpus = local_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "90g"))
        .config("spark.ui.enabled", "false")
        # 128 MiB input splits: good default for parquet scans at scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # broadcast threshold: dims like region/nation/supplier always broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long, loaders convert to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def drop_query_caches(spark) -> None:
    """Between-query storage hygiene for long-lived sessions.

    Several operators deliberately pin shared subtrees with eager
    ``localCheckpoint`` (the MinHash shingle table, ep3/ep5's floor
    and leg frames) — the right call WITHIN a query, where two or
    three consumers would otherwise recompute the subtree. But a
    pinned block outlives its query: ``spark.catalog.clearCache()``
    frees table caches only, so a session that runs many queries
    (a verification sweep, a bench, a long-lived cluster job)
    accumulates dead pinned blocks and its later queries run against
    a shrinking execution-memory pool (measured: a 155-query sweep
    and the bench both inflated 25%+ before this existed).

    Call this between queries, after the previous query's result has
    been fully materialized — a localCheckpoint's blocks ARE its
    data, so dropping them mid-consumption would lose the frame
    (lineage is truncated). Blocking removal on purpose: async
    removal competes with the next query's tasks for the block
    manager.
    """
    spark.catalog.clearCache()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            jrdd.unpersist(True)
    except Exception:
        # py4j surface moved — stale blocks only cost memory
        pass
