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
CGROUP_ROOT = "/sys/fs/cgroup"


def _cgroup_limit_bytes(root: str = CGROUP_ROOT, proc_cgroup: str = "/proc/self/cgroup") -> int | None:
    """The smallest memory limit over the driver's cgroup and its ancestors
    (v2 ``memory.max``, v1 ``memory/memory.limit_in_bytes``), None if there
    is none ("max" in v2). Without a private cgroup namespace the cgroup sits
    under the mount at the path /proc/self/cgroup names; inside one, or when
    a container mounts its own cgroup at the root, the root's limit holds."""
    try:
        with open(proc_cgroup) as f:
            own = [line.split(":", 2) for line in f.read().splitlines()]
    except OSError:
        own = []
    v2 = next((path for _, ctrl, path in own if not ctrl), "/")
    v1 = next((path for _, ctrl, path in own if "memory" in ctrl.split(",")), "/")
    limits = []
    for ctrl, name, path in (("", "memory.max", v2), ("memory", "memory.limit_in_bytes", v1)):
        parts = [p for p in path.split("/") if p]
        for depth in range(len(parts) + 1):
            try:
                with open(os.path.join(root, ctrl, *parts[:depth], name)) as f:
                    raw = f.read().strip()
            except OSError:
                continue
            if raw.isdigit():
                limits.append(int(raw))
    return min(limits, default=None)


def _driver_heap() -> tuple[str, str]:
    """(maximum heap, heap committed and pre-touched at start).

    ``SPARK_GRAFT_DRIVER_MEM`` sets both. Unset, they are min(8 GiB,
    memory / 2) and min(8 GiB, memory / 4), memory being the smaller of
    physical RAM and the cgroup limit (an unlimited v1 cgroup reads as a
    huge number), so two local sessions fit the memory they may use."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem, mem
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem_mb = min(phys, _cgroup_limit_bytes() or phys) // 2**20
    return f"{min(MAX_DRIVER_HEAP_MB, mem_mb // 2)}m", f"{min(MAX_DRIVER_HEAP_MB, mem_mb // 4)}m"


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
