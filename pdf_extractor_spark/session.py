"""SparkSession factory with scale-oriented defaults.

Tuned for the engine's workload: wide text rows through Arrow batches, AQE for
skew/coalescing, and shuffle partitioning sized for local[32] tests while the
same settings scale to multi-executor clusters (shuffle.partitions is the only
knob to raise at 100 TB).

AQE's coalescing floor is lowered from Spark's 1 MB to 64 KB. With the
default ``parallelismFirst``, AQE packs a shuffle's output into partitions of
``max(total / defaultParallelism, minPartitionSize)`` bytes, so at 1 MB a
shuffle of a few hundred KB to a few MB collapses into one or two tasks. The
curate stages after the per-conversation regroup are CPU-dense per-row text
maps (HOF gram sorts, word stats, PII regexes) whose rows are small on the
wire: at 1 MB every one of them ran as a single task on local[4]. At 64 KB a
small shuffle coalesces to about one partition per core instead; a shuffle
larger than ``defaultParallelism`` MB keeps the partition count it had.
Sweep on the perfbench curate corpus (seed 1, local[4]): 16 KB and 64 KB
give 4-5 partitions at every stage, 256 KB leaves the repetition and final
stages at one.

Module-level UDFs (``functions/udfs.py``) cache the JVM function they build
for the first session, bound to that session's Python accumulator server.
``get_spark`` drops those caches so a session started after ``spark.stop()``
in the same process builds fresh ones; otherwise every task of such a UDF
logs "Failed to update accumulator ... Broken pipe".
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _shm_is_roomy(min_free_bytes: int = 32 * 1024**3) -> bool:
    """True when /dev/shm exists with plenty of free space for shuffles."""
    try:
        st = os.statvfs("/dev/shm")
        return st.f_bavail * st.f_frsize >= min_free_bytes
    except OSError:
        return False


def _reset_module_udfs() -> None:
    """Forget the JVM functions the package's module-level UDFs built for an
    earlier session (see the module docstring)."""
    from .functions import udfs

    for obj in vars(udfs).values():
        if hasattr(obj, "_unwrapped"):
            obj._unwrapped._judf_placeholder = None


def get_spark(
    app_name: str = "pdf-extractor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master == "local[*]":
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting (SURVEY.md §4)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalesce small shuffles to ~one partition per core, not to 1 MB
        # partitions (see the module docstring)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "64KB")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: vectorized pandas-UDF transfer; batch size bounded because
        # payload rows can be hundreds of KB of text each.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Broadcast small dims automatically; AQE converts to broadcast at
        # runtime when post-filter sizes allow.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python Data Source API (sources/synthlog.py): let pushFilters
        # receive the query's predicates. Session-level so query builders
        # never have to mutate a shared session as a side effect.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle spill dir: this sandbox's /tmp sits on a slow virtio disk;
    # production executors write shuffle to fast local NVMe. tmpfs models
    # that here — but only when /dev/shm is actually large (a standard
    # Docker /dev/shm is 64 MB and would fail mid-shuffle), else Spark's
    # disk default stands.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and _shm_is_roomy():
        local_dir = "/dev/shm/spark-local"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    _reset_module_udfs()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
