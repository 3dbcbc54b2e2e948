"""SparkSession factory tuned for the sandbox (local[N]) but configured the
way the engine wants a real cluster: AQE on (runtime re-plan + skew-join),
Arrow enabled for the kernel path, UTC timezone for oracle parity, shuffle
partitions sized to cores rather than the 200 default."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_MAX_HEAP_MB = 16 * 1024
_HEAP_FRACTION = 4  # default heap = 1/4 of the memory this process may use


def _default_driver_memory() -> str:
    """``min(16g, 1/4 of MemTotal or the cgroup memory limit)``: the heap
    is committed and pre-touched at start, so it must fit next to the
    Python workers and whatever else shares the host."""
    mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    for path in (
        "/sys/fs/cgroup/memory.max",  # cgroup v2 ("max" = no limit)
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
    ):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            mb = min(mb, int(raw) // 2**20)
    return f"{min(_MAX_HEAP_MB, mb // _HEAP_FRACTION)}m"


def get_spark(
    app_name: str = "jsonschema_spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:  # else every CPU this process may use
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    mem = os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        # Fixed, pre-touched heap: a growing heap page-faults its way up
        # under multi-threaded allocation pressure (measured: 50-85% kernel
        # time, 10x slowdown at local[32] on the corpus validation pass —
        # see BASELINE.md). Committing+touching the heap once at startup
        # removes the page-zeroing storm from the measured path.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch",
        )
        # vectorized decode for array<int> token columns (off by default in
        # Spark; measured ~1.6x on the corpus scan at local[32])
        .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
        # 256 rows per vectorized batch, not 4096: a 4096-row batch of
        # token arrays is 8 MB or more of column vectors per task, and
        # ValidationJob.run scans its outputs side by side
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame debugging records the Python call site of
        # every Column method on the JVM: 11-21 py4j round trips per call
        # instead of 1, most of compiling and annotating a small shard. A
        # runtime error then lacks the Python call site in its DataFrame
        # context (the SQL-text context stays). A static conf: it holds only
        # on a session this call creates, and PySpark reads it once per
        # process, on the first Column call made with an active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
