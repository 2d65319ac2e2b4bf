"""SparkSession factory tuned for the local test harness.

Production deployment is ``spark-submit --py-files geo_linked_open_data_kg_spark.zip``
on a multi-executor cluster; only the master / memory knobs change — every
transform in this package is expressed against the DataFrame API and is
agnostic to executor topology.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries in Spark's generated-class cache (spark.sql.codegen.cache.
# maxEntries, default 100). Sized from the distinct classes one benchmark
# process compiles with the cache unbounded (perfbench, 2,000 places and
# 4,000 documents, 4-core host): 477 for build-docs, 235 for link-drops,
# 757 for a traced run (builds, per-layer pieces, serving and the stream).
# At 100 entries every class of a build was evicted before the next build
# could reuse it: the traced run compiled 2,555 classes, a warm build
# recompiled ~440 of its ~460, and each recompile also threw away the
# class's JIT-compiled code. 1000 holds the largest measured set with
# headroom.
CODEGEN_CACHE_ENTRIES = 1000


def host_cores() -> int:
    """Cores this process may run on: the CPU affinity mask, which a
    cpuset narrows (os.cpu_count() counts every CPU of the machine)."""
    return len(os.sched_getaffinity(0))


def host_driver_memory() -> str:
    """Half of MemTotal, capped at 16g: the driver JVM shares the host
    with its Python workers and the page cache, and a heap sized past
    physical memory gets the JVM OOM-killed on a host without swap."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh
                  if line.startswith("MemTotal:"))
    return f"{min(kb // 2048, 16 * 1024)}m"


def get_spark(app: str = "geo_kg", cores: int | None = None,
              shuffle_partitions: int | None = None,
              master: str | None = None,
              executor_memory: str | None = None) -> SparkSession:
    """`master` override supports `local-cluster[N,cores,mem_mb]` — real
    multi-executor JVMs (own heap/GC/spill per executor), used by the
    scaling bench to evidence the N-vs-4N-executors criterion without a
    cluster manager."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", host_cores()))
    sp = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder
        .master(master or f"local[{cores}]")
        .appName(app))
    if executor_memory:
        b = b.config("spark.executor.memory", executor_memory)
    return (
        b
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        # shuffle codec trade-off (BENCH.md): zstd compresses the wide
        # hit/gram streams tighter (wins when shuffle-IO-bound, i.e.
        # many cores on one box / small network pipes); lz4 costs less
        # CPU (wins on small CPU-bound executors). Overridable per run.
        .config("spark.io.compression.codec",
                os.environ.get("SPARK_GRAFT_IO_CODEC", "zstd"))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Input-split sizing (round 6, guide §6): maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum)),
        # so the 4 MB openCost default FLOORS split size and serializes
        # small-input scans (an 8 MB corpus became 3 map tasks on 32
        # cores — measured as the bench's #1 wall bottleneck). 128 KB
        # matches local NVMe/page-cache seek cost and lets split count
        # track defaultParallelism; at scale bytes/minPartitionNum
        # dominates and splits stay at maxPartitionBytes (128 MB), so
        # this does NOT shrink large-scan splits. On object storage
        # (high per-file open latency) override via SPARK_GRAFT_OPEN_COST
        # back to 4194304.
        .config("spark.sql.files.openCostInBytes",
                os.environ.get("SPARK_GRAFT_OPEN_COST", "131072"))
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or host_driver_memory())
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
