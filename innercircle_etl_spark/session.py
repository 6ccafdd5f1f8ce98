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


def graft_cpus() -> int:
    """Local parallelism from ``SPARK_GRAFT_CPUS`` (default 32) — the
    one parser for the variable, shared by ``get_spark`` and the
    loaders' shuffle sizing. A malformed or non-positive value raises
    a ``ValueError`` that names the variable."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n <= 0:
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
        )
    return n


def get_spark(
    app_name: str = "innercircle_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32).
    On a real cluster, pass ``master=None`` with a cluster manager URL
    in the environment and size ``shuffle_partitions`` ~2-3x total
    cores (or leave AQE to coalesce).
    """
    cpus = graft_cpus()
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
    """Between-query storage hygiene for long-lived sessions: clear
    the table cache and blocking-unpersist EVERY persisted RDD in the
    session.

    Query code pins shared subtrees with eager ``localCheckpoint``
    and frees the pins it no longer needs with
    ``registry.release``; the pins behind its result outlive the
    query, because ``spark.catalog.clearCache()`` frees table caches
    only. A session that runs many queries (a verification sweep, a
    bench, a long-lived cluster job) would otherwise accumulate dead
    pinned blocks and run its later queries against a shrinking
    execution-memory pool (measured: a 155-query sweep and the bench
    both inflated 25%+ before this existed).

    A runner-level tool only: call it between queries, after the
    previous result has been fully materialized and while no other
    thread is using the session — a localCheckpoint's blocks ARE its
    data (lineage is truncated), so this would lose any live pin.
    Blocking removal on purpose: async removal competes with the next
    query's tasks for the block manager.
    """
    spark.catalog.clearCache()
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            jrdd.unpersist(True)
    except Exception:
        # py4j surface moved — stale blocks only cost memory
        pass
