"""SparkSession factory tuned for the KG-construction workload.

Defaults: local[N] over the process's CPU affinity
(``SPARK_GRAFT_CPUS`` overrides) and a 16g driver heap
(``SPARK_DRIVER_MEM`` overrides; set it below the machine's memory on
a box with 16 GB or less).  The same settings scale to a real cluster
because nothing here assumes locality:
AQE handles runtime re-planning and skew joins, shuffle partitions are
sized for the parallelism, and Arrow powers every pandas UDF exchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "octofludb-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) \
        or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    # local-mode shuffle writes from many task threads thrash a slow
    # /tmp; keep shuffle spill on tmpfs when available (a real cluster
    # has per-executor local disks instead)
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # local mode: driver == executor JVM; an undersized heap turns
        # the first driver collect after a big persist into a multi-
        # second GC stall (measured), so size it to the box
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # iterative ops (pagerank/hits/kcore) use reliable checkpoint()
        # when a checkpoint dir is configured; without this flag the
        # checkpoint files outlive every invocation and leak a copy of
        # the edge table per call for the app's lifetime
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
