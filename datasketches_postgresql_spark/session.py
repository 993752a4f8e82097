"""SparkSession builder tuned for this engine.

Defaults follow the scale posture in SURVEY.md §7: Arrow on (every sketch
kernel crosses the JVM<->Python boundary as Arrow batches), AQE on with skew
join handling (LSH bucket skew), and a shuffle-partition count sized to the
local core count (on a real cluster this would be ~2-3x total cores; the
code never assumes a specific value).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
MAX_DRIVER_HEAP_MB = 8192


def _driver_heap() -> tuple[str, str]:
    """(maximum heap, heap committed and pre-touched at start).

    ``SPARK_GRAFT_DRIVER_MEM`` sets both. Unset, the heap may grow to 8 GiB
    but only min(8 GiB, physical RAM / 4) is pre-touched, so a second local
    session on a small host does not commit 8 GiB more at once."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem, mem
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{MAX_DRIVER_HEAP_MB}m", f"{min(MAX_DRIVER_HEAP_MB, phys_mb // 4)}m"


def get_spark(
    app_name: str = "datasketches-postgresql-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster, leave it unset and let spark-submit supply it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    max_heap, start_heap = _driver_heap()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow transfer for pandas UDFs / applyInPandas — the engine's hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime coalescing + skew-join splitting (LSH buckets skew by host).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's 64 MB advisory size collapses this sandbox's MB-scale
        # shuffles to 1-4 partitions, serializing the Python stages that
        # consume them (the L-gram verify most of all). 8 MB keeps them
        # parallel at local core counts; a TB-scale deployment overrides.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "8m"),
        )
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Local-scale split sizing: the default 128 MB maxPartitionBytes is
        # right for TB-scale inputs but collapses this sandbox's MB-scale
        # checkpoints to 1-2 read partitions, serializing every
        # post-checkpoint stage. 8 MB keeps small checkpoints parallel; a
        # real deployment overrides via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)),
        )
        .config("spark.driver.memory", max_heap)
        # Fault the starting JVM heap in ONCE at startup: this VM's page-fault
        # path is slow (~8x vs warm pages) and contended under concurrency,
        # so lazy heap growth mid-shuffle shows up as mysterious JVM-stage
        # slowness. (Python-worker equivalent: _alloc.retain_heap at package
        # import.)
        .config("spark.driver.extraJavaOptions", f"-Xms{start_heap} -XX:+AlwaysPreTouch")
        # Python workers churn numpy temporaries; raising glibc's mmap
        # threshold keeps those buffers on the reusable heap instead of
        # fresh mmap/munmap cycles (pathological under concurrent page
        # faults in VM sandboxes).
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "268435456")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
