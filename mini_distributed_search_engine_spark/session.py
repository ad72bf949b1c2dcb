"""SparkSession factory.

Local-mode defaults tuned for the sandbox (single JVM, N executor threads);
on a real cluster every setting here except master/driver-memory carries
over unchanged. AQE is on so skewed shuffles (Zipfian terms, hot role/tool
tokens) get runtime re-planning in addition to our explicit salting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# directory (checkout) or zip (`--py-files`) the package is imported from
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "mdse-spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # heap scales with cores: local[N] stands in for an N-executor
        # cluster, whose total memory grows with N (fair for the N-vs-4N
        # scaling comparison and keeps GC pressure per thread constant)
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(8, int(cores * 1.5))}g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from the package's daemon, which stops each
        # task re-reading pyspark.zip and the spark-core jar (see
        # _daemon.py). The daemon starts before any task puts the py-files
        # on sys.path, so its import root goes on the workers' PYTHONPATH.
        .config("spark.python.daemon.module",
                "mini_distributed_search_engine_spark._daemon")
        .config("spark.executorEnv.PYTHONPATH", _IMPORT_ROOT)
        # Arrow batch size: the fused tokenize+TF pass pays a fixed
        # per-batch Python/serde cost; 40k rows/batch measured ~13% faster
        # than the 10k default on that pass (100k regresses — batches stop
        # fitting comfortably in cache). Still ~100 MB-scale per batch at
        # transcript row widths, safe for executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "40000"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        # Shuffle spill dir: tmpfs when available. The sandbox has ONE cloud
        # disk shared by all threads — shuffle on it serializes every level
        # of parallelism (a real N-executor cluster has N local disks, so
        # I/O bandwidth scales with N). tmpfs restores that proportionality.
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               "/dev/shm/mdse_spark" if os.path.isdir("/dev/shm")
                               else "/tmp"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
