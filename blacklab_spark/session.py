"""SparkSession factory with scale-appropriate defaults.

Local test mode is ``local[32]`` single-JVM; the configs below are the
ones that also matter on a 1000-executor cluster: AQE (runtime
re-planning + skew-join splitting), Arrow for every Python↔JVM
boundary, shuffle partitions sized to cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half the host's RAM, 1g to 64g: the local driver JVM holds the
    whole heap, and G1 grows it towards the maximum under allocation
    pressure, so a maximum above the host's RAM ends in an OOM kill."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "64g"
    return f"{max(1, min(64, ram // 2**31))}g"


def get_spark(app: str = "blacklab_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    # One BLAS/OMP thread per Python worker: numpy's default spawns
    # n_cores spin-waiting OpenBLAS threads *per worker process*, so a
    # 16-worker stage burns ~512 spinning threads and 3× the CPU
    # (measured). Our kernels are already data-parallel across tasks.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Floor on scan split count: small/mid-size corpora compress to
        # a handful of 128MB byte-splits, which would cap every
        # downstream stage's parallelism below the core count. At real
        # scale file volume yields far more splits than this minimum,
        # so the setting is inert there.
        .config("spark.sql.files.minPartitionNum", str(cores * 2))
    )
    # Shuffle/spill on tmpfs when available: the sandbox's virtio disk
    # has high write-latency variance that swamps job timing; tmpfs
    # models a real executor's local NVMe. Override with
    # SPARK_LOCAL_DIRS; falls back to Spark's default otherwise.
    local_dir = os.environ.get(
        "SPARK_LOCAL_DIRS",
        "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # Opt-in task-level metrics (stage/task timings, GC, shuffle
    # bytes) for scaling diagnosis: SPARK_GRAFT_EVENTLOG=<dir>
    ev_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if ev_dir:
        os.makedirs(ev_dir, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.dir", ev_dir))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # make blacklab_spark importable on executors regardless of how the
    # driver found it (cwd, PYTHONPATH, import-by-path)
    from blacklab_spark.shipping import ship
    ship(spark)
    return spark
