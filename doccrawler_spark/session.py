"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_heap() -> str:
    """Half the memory this process may use, in [1, 48] GiB: physical
    RAM, or the cgroup limit when a tighter one is set.  A local-mode
    driver holds every executor's heap, so a fixed default either
    wastes a big box or gets OOM-killed on a small one."""
    mem = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            lim = f.read().strip()
        if lim.isdigit():
            mem = min(mem, int(lim))
    except OSError:
        pass
    return f"{max(1024, min(48 << 10, (mem >> 20) // 2))}m"


def get_spark(
    app_name: str = "doccrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session sized for the sandbox; on a real cluster the
    same builder is driven by spark-submit conf instead.

    AQE stays ON (runtime coalesce + skew-join split), Arrow ON (all
    Python is pandas-UDF), timezone pinned UTC for oracle comparisons.
    Sized from the machine unless the environment says otherwise:
    ``SPARK_GRAFT_CPUS`` (default: all cores) and
    ``SPARK_GRAFT_DRIVER_MEM`` (default: see :func:`_driver_heap`).
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or (
        f"local[{os.environ.get('SPARK_GRAFT_CPUS') or os.cpu_count()}]"
    )
    cores = 32
    if master.startswith("local["):
        inner = master[6:-1]
        cores = os.cpu_count() if inner == "*" else int(inner)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # runtime bloom-filter join: prunes the web_pages scan by
        # frontier keys before the shuffle (big win for fetch-join)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_heap())
        # ParallelGC: the crawl allocates a storm of ~10-100 KB byte[]
        # (html pages) per scan; G1's concurrent machinery collapses
        # under it at high thread counts (measured 6x slower decode at
        # 32 threads), while throughput-oriented ParallelGC is flat.
        # Batch engine => pause times are irrelevant.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def iceberg_conf(
    catalog: str = "crawl", warehouse: str = "/tmp/iceberg_warehouse"
) -> dict:
    """Config-only swap to a real Iceberg catalog (SURVEY §7's cluster
    backend for SnapshotCatalog): pass the returned dict as
    ``get_spark(extra_conf=...)`` — or as ``spark-submit --conf``
    pairs — on a cluster whose classpath carries the
    iceberg-spark-runtime jar.  With it, snapshot writes map to
    ``df.writeTo(f"{catalog}.db.{table}").append()`` inside an Iceberg
    snapshot commit and time-travel reads to ``VERSION AS OF``; the
    sandbox (no network, no jar — verified) keeps the
    manifest+parquet backend, which implements the same contract
    (numbered snapshots, atomic publish, time-travel, vacuum).
    Structurally exercised by ``tests/test_crawl_e2e.py``'s
    skip-gated Iceberg test; the jar is the only missing piece."""
    return {
        "spark.sql.extensions":
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions",
        f"spark.sql.catalog.{catalog}":
            "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }
