"""SparkSession factory with scale-oriented defaults.

All engine entry points accept an existing SparkSession; this module only
centralizes the conf we want on any session we create ourselves (tests,
bench, CLI).
"""

from __future__ import annotations

import os

# one BLAS thread per python worker: 32 workers × N openblas threads
# spin-locks the box into 80%+ system time (measured); partition
# parallelism is the only parallelism we want.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession

from .config import DEFAULT_CONF, EngineConf

#: Arrow batch size for every pandas UDF / mapInPandas kernel
ARROW_BATCH_ROWS = 4096

#: cgroup memory limit files (v2, then v1); the first that exists is read
_CGROUP_MEM_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def driver_heap(meminfo: str, cgroup_max: str | None = None) -> str:
    """Default driver heap: half of the host's memory, as a JVM size.

    ``meminfo`` is the text of /proc/meminfo; ``cgroup_max`` the text of
    the cgroup memory limit file (``"max"`` = unlimited), when there is
    one. The smaller of MemTotal and the cgroup limit is halved and
    clamped to [1g, 24g]: a heap above physical memory gets the JVM
    OOM-killed mid-run instead of spilling, and 24g is the heap the sf1
    local runs were measured at (BENCH.md round 4). A host whose size is
    unknown gets the 24g cap."""
    avail = None
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            avail = int(line.split()[1]) * 1024
            break
    if cgroup_max is not None and cgroup_max.strip().isdigit():
        limit = int(cgroup_max.strip())
        avail = limit if avail is None else min(avail, limit)
    if avail is None:
        return "24g"
    mb = min(max((avail // 2) >> 20, 1024), 24 * 1024)
    return f"{mb}m"


def _host_driver_heap() -> str:
    meminfo = ""
    if os.path.exists("/proc/meminfo"):
        with open("/proc/meminfo") as f:
            meminfo = f.read()
    cgroup_max = None
    for path in _CGROUP_MEM_LIMITS:
        if os.path.exists(path):
            with open(path) as f:
                cgroup_max = f.read()
            break
    return driver_heap(meminfo, cgroup_max)


def get_spark(
    app_name: str = "geospatial-object-matching-spark",
    master: str | None = None,
    conf: EngineConf | None = None,
) -> SparkSession:
    conf = conf or DEFAULT_CONF
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting are load
        # bearing at 100 TB (hot city tiles produce skewed cell keys).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(conf.shuffle_partitions))
        # Arrow transfer for every pandas UDF / mapInPandas kernel.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_BATCH_ROWS),
        )
        # deterministic timestamps regardless of host zone
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # sf1-class local runs in one JVM: 8g forced multi-second GC stalls
        # between python-kernel waves (measured: kNN round-1 46.8 s at 8g
        # vs 40.5 s at 28g, 16 cores — BENCH.md round 4), so the heap is
        # as large as the host allows (driver_heap). Cluster deployments
        # size executors independently; this only affects the local
        # driver JVM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_heap(),
        )
        # the dispatch-capped driver-collect kernels (knn_join_broadcast,
        # dense_cosine_topk) legitimately collect up to their row caps —
        # a 2M x 100-dim float64 index is ~1.6 GB, over the 1g default
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in conf.extra_spark_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
