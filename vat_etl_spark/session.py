"""SparkSession factory tuned for this engine.

Local test profile runs on ``local[N]``; the same config block is what we
would ship to a 1000-executor cluster — AQE on (runtime shuffle-partition
coalescing, skew-join splitting), Arrow for the few Pandas-UDF escape
hatches, UTC session timezone so date semantics are deterministic.
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)


@functools.cache
def _sizing(cpus_env: str | None, heap_env: str | None) -> tuple[int, str]:
    """(cores, driver heap) for ``local[N]``, logged once per setting: one
    core per CPU this process may run on (``os.cpu_count`` ignores CPU
    affinity, so a pinned or containerized process would oversubscribe)
    and half of physical memory (MemTotal), 1-16 GB, as heap — a fixed
    16g default is larger than a 15 GB host. ``SPARK_GRAFT_CPUS`` /
    ``SPARK_GRAFT_DRIVER_MEM`` override either."""
    cpus = int(cpus_env or len(os.sched_getaffinity(0)))
    heap = heap_env
    if heap is None:
        mem_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 30
        heap = f"{max(1, min(16, mem_gb // 2))}g"
    _LOG.info("spark session sizing: local[%d], driver heap %s", cpus, heap)
    return cpus, heap


def host_sizing() -> tuple[int, str]:
    """(cores, driver heap) every session this process builds gets."""
    return _sizing(
        os.environ.get("SPARK_GRAFT_CPUS"), os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    )


def get_spark(
    app_name: str = "vat_etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count — on a real
    cluster you would size this to ~2-3x total executor cores or simply
    rely on AQE coalescing (enabled here) to shrink the default.
    """
    cpus, heap = host_sizing()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ADVICE-r14: Spark's own silent Arrow→pickle degradation would
        # reinstate the Python-worker LocalRelation pathology localrel.py
        # exists to kill, without tripping that helper's loud fallback.
        # With fallback disabled, an Arrow-incompatible type raises inside
        # local_rows_df's try and takes ITS logged fallback path instead.
        # The same holds for the two toPandas() sites, whose schemas are
        # Arrow-native (sinks.write_xlsx: string/double;
        # dedup._export_simhash_sigs: long/long): a future non-Arrow
        # column there raises loudly instead of degrading to pickle.
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "false")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_engine_caches(spark: SparkSession) -> int:
    """Unpersist every DataFrame cache the engine has accumulated
    (ADVICE-r13: registered queries return LAZY plans, so their internal
    ``persist()`` layers — banded-dedup slim/kept/dup frames, pHash
    signature frames, ANN serve inputs — cannot be unpersisted inside the
    query function and accumulate across invocations in a long-lived
    session until LRU pressure). Call after a caller's terminal action
    when memory matters more than re-invocation speed: the SQL
    CacheManager drops every cached plan (``spark.catalog.clearCache``),
    then any straggler persisted RDDs are unpersisted directly. Safe at
    any point — caches rebuild lazily on next use; returns the number of
    persistent RDDs released."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    jrdds = sc._jsc.getPersistentRDDs()  # py4j JavaMap
    n = len(jrdds)
    for jrdd in list(jrdds.values()):
        jrdd.unpersist(False)
    return n
