"""SparkSession factory tuned for this engine.

Local runs use ``local[$SPARK_GRAFT_CPUS]`` (default: the cores this
process may run on) and a pinned driver heap of ``$SPARK_GRAFT_DRIVER_MEM``
(default: fitted to the box, see ``_fitted_driver_mem``); the same configs are the
ones we'd set cluster-side (AQE on, sensible shuffle partitioning, Arrow
for the Pandas-UDF slow path).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _fitted_driver_mem() -> str:
    """Half the memory this process may use (the cgroup limit or
    ``MemAvailable``, whichever is lower), at most 24g. The heap is pinned
    (``-Xms``), so a default the box cannot reserve kills the JVM at
    start-up instead of at its first large job."""
    candidates = []
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                value = f.read().strip()
        except OSError:
            continue
        if value.isdigit():
            candidates.append(int(value))
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    candidates.append(int(line.split()[1]) * 1024)
    except OSError:
        candidates.append(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"))
    mb = min(min(candidates) // 2, 24 * 1024**3) // 1024**2
    return f"{max(mb, 512)}m"


def get_spark(app_name: str = "hgraphstorage_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession.

    Scale notes: on a real cluster ``spark.sql.shuffle.partitions`` should be
    ~2-3x total cores (or left to AQE coalescing, which we enable); in
    local mode we match the core count so tiny test shuffles don't fan out
    into hundreds of empty tasks.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _fitted_driver_mem()
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
        # the events testdata table stores TIMESTAMP(NANOS) which the Spark
        # reader rejects; read as long and convert (streaming.load_events)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet timestamps without a timezone otherwise read as
        # TIMESTAMP_NTZ (Spark 4 infers NTZ), which unix_micros/window
        # reject or shift; with the session tz pinned to UTC above, plain
        # TIMESTAMP has identical wall-clock values to DuckDB's naive-as-UTC
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # Pin the heap (-Xms == -Xmx): G1 UNCOMMITS heap pages back to
        # the OS after a full GC, so any explicit/periodic GC makes the
        # next allocation-heavy job re-fault and re-zero pages inside
        # its own runtime (measured r13, OPTIMIZATION_r13.md: ~+0.4 s
        # on sub-second queries right after a System.gc() with an
        # unpinned heap; flat with the pin). Standard long-lived-server
        # JVM hygiene, same flag cluster-side. (AlwaysPreTouch was
        # measured too — it removes first-touch cost but costs ~40 s of
        # session startup, so it stays off; first-touch is paid once.)
        .config("spark.driver.extraJavaOptions", "-Xms" + driver_mem)
        .config("spark.ui.enabled", "false")
        # bucketed tables (operators.bucketing) go through the catalog;
        # keep the warehouse out of the repo tree
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/hgs_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
