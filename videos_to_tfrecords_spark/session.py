"""SparkSession factory tuned for this engine.

Replaces the reference's runner selection (reference run_preprocess.py:136-144:
``"DataflowRunner" if args.cloud else "DirectRunner"``) with a single
SparkSession whose physical execution is delegated to Catalyst + AQE.

Scale posture: AQE on (runtime coalesce, skew-join splitting), shuffle
partitions sized by caller (defaults to cores in local mode), UTC session
timezone so results are oracle-comparable, Arrow enabled for every
Python-boundary crossing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: share of host memory the default driver heap takes (local mode: the
#: driver JVM is the executor; the rest is for the JVM's non-heap memory,
#: the Python workers and the OS)
HEAP_FRACTION = 0.5
#: a pre-touched heap commits every page at start-up, so it must leave
#: this share of host memory free for everything else
PRETOUCH_MAX_FRACTION = 0.9

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def host_memory_bytes() -> int:
    """min(physical RAM, cgroup memory limit): the memory this process can
    actually use."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():  # "max" = no limit
            limit = min(limit, int(raw))
    return limit


def _to_bytes(size: str) -> int:
    """JVM size string ("6g", "7680m", "1024") → bytes."""
    s = size.strip().lower()
    return int(s[:-1]) * _UNITS[s[-1]] if s[-1] in _UNITS else int(s)


def driver_jvm_settings() -> tuple[str, str]:
    """(spark.driver.memory, driver JVM options). The heap defaults to
    HEAP_FRACTION of host memory; SPARK_GRAFT_DRIVER_MEM overrides it.

    By default the heap is pinned: Xms=Xmx committed up front and
    pre-touched, so the committed range is faulted once at start-up.
    Without this, G1 uncommits after every full GC and the next query
    re-faults the pages — on hosts with a slow anonymous-fault path
    (measured ~0.33 GB/s vs ~13 GB/s resident) that turns heap churn into
    the dominant query cost. Opt out with SPARK_GRAFT_JVM_PRETOUCH=0. A
    pre-touched heap that does not fit in host memory raises here instead
    of crashing the JVM at start-up."""
    host = host_memory_bytes()
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{int(host * HEAP_FRACTION) >> 20}m"
    if os.environ.get("SPARK_GRAFT_JVM_PRETOUCH", "1") == "0":
        return driver_mem, ""
    if _to_bytes(driver_mem) > host * PRETOUCH_MAX_FRACTION:
        raise RuntimeError(
            f"cannot pre-touch a {driver_mem} driver heap: this host has "
            f"{host >> 20} MiB of memory and a pre-touched heap may take at "
            f"most {PRETOUCH_MAX_FRACTION:.0%} of it. Set SPARK_GRAFT_DRIVER_MEM "
            "to a smaller heap, or SPARK_GRAFT_JVM_PRETOUCH=0 to skip the pre-touch."
        )
    return driver_mem, f"-Xms{driver_mem} -XX:+AlwaysPreTouch"


def get_spark(
    app_name: str = "videos_to_tfrecords_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In local mode there is a single JVM; on a real cluster the same conf
    holds — AQE re-plans shuffles at runtime, which is what makes the
    sf0.001 plans survive a 100 TB scale-up without retuning.
    """
    master = master or os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    driver_mem, driver_jvm_opts = driver_jvm_settings()
    # Python workers allocate/free large Arrow buffers per batch; glibc
    # munmaps them on free, so every batch re-faults fresh pages. Keep the
    # buffers in the reusable heap instead (same slow-fault-path rationale
    # as the JVM pre-touch above). Set in our own env before the JVM (and
    # hence the python daemon) is forked, and mirrored to executorEnv for
    # non-local masters.
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet files whose timestamps are stored without a UTC-adjustment
        # flag (isAdjustedToUTC=false, e.g. pyarrow timestamp[us]) would be
        # inferred as TIMESTAMP_NTZ by Spark 4, which unix_micros()/window()
        # reject or reinterpret. Read them as TIMESTAMP_LTZ under the UTC
        # session zone instead — byte-identical epoch micros either way, and
        # the whole operator surface (event-time windows, as-of joins,
        # unix_micros) expects the instant type.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode: the driver JVM IS the executor, so its heap is sized
        # from the host (driver_jvm_settings)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", driver_jvm_opts)
        .config("spark.ui.enabled", "false")
        # Parquet scans: pushdown + pruning are on by default; keep splits
        # bounded so a 100 TB table yields sane task counts.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "268435456")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
