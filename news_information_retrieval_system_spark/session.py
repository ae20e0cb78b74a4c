"""SparkSession factory with scale-minded defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_heap() -> str:
    """Spark driver heap default: min(16g, 40% of physical RAM). The heap is
    committed up front (-Xms = -Xmx below), so a fixed 16g on a 15 GB
    host gets the JVM OOM-killed."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, min(16 << 10, int(ram * 0.4) >> 20))}m"


def default_cores() -> int:
    """Spark local cores default: $SPARK_GRAFT_CPUS (driver contract), else
    the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "nirs-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local SparkSession.

    ``cores`` defaults to ``default_cores()``.
    The JVM heap is $SPARK_DRIVER_MEM or else ``default_heap()``.
    ``shuffle_partitions`` scales with cores so the same job exercises the
    same plan shape at any parallelism level (scaling-efficiency runs).
    """
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        # Data-dependent, NOT cluster-size-dependent (overridable): real
        # clusters size reducers to the data; tying them to core count
        # changes the plan between scaling-comparison levels.
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(cores * 4, 16))
        )
    mem = os.environ.get("SPARK_DRIVER_MEM") or default_heap()
    gc_threads = max(2, cores // 2)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Measured on this VM class (see package __init__): first-touch
        # page faults are ~30x slower than warm-page writes, so (a) a
        # MODEST heap that recycles warm pages via GC beats a huge lazy
        # heap that keeps faulting fresh ones, (b) Xms=Xmx stops G1 from
        # uncommitting (= re-faulting later), (c) THP cuts fault count
        # 512x for whatever heap does get touched, (d) ParallelGC beats G1
        # 3x on the build at high core counts (G1's concurrent cycle
        # fights the mutators for the memory subsystem).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+UseTransparentHugePages -XX:+UseParallelGC "
            f"-XX:ParallelGCThreads={gc_threads}",
        )
        # Small scan splits bound the size of map-side partial-agg hash
        # tables (term, doc_id) — measured 4x on the postings build at 2M
        # turns: giant per-task tables thrash memory, and partial agg only
        # merges duplicates WITHIN a doc so big tasks buy nothing.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # one FILE = one scan split: the ingest layout writes doc-range
        # clustered files sized ~one posting-block span, and split packing
        # would otherwise glue many small files into a handful of splits,
        # collapsing scan/cache parallelism on small corpora
        .config("spark.sql.files.openCostInBytes", "16m")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
