"""SparkSession factory with scale-oriented defaults.

Tuned for one JVM in local[N] mode (the tests and benchmarks run on
4 cores and 15 GB of RAM; ``SPARK_GRAFT_DRIVER_MEM`` sizes the driver)
but every knob is the one you'd set on a real 1000-executor cluster:
AQE + skew-join for hot cells, bounded Arrow batches for the Python
matcher, partition sizing so sf0.1 parquet splits sensibly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "a_tree_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 4096,  # best measured 8->32-core scaling
                                   # (per-worker live set vs shared L3)
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # Worker-process hygiene (inherited by python workers in local mode):
    # - single-threaded BLAS/OMP: N workers x N BLAS threads oversubscribes
    #   and spin-waits; the engine's numpy path is not BLAS-bound anyway
    # - raise malloc's mmap threshold so multi-MB numpy temps recycle in
    #   the arena instead of mmap/munmap per allocation (kernel time)
    os.environ.setdefault("OMP_NUM_THREADS", "1")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ.setdefault("MKL_NUM_THREADS", "1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(64 << 20))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(64 << 20))

    # Make the package importable in executor python workers regardless
    # of the launch directory (broadcast evaluators unpickle there). On
    # a cluster --py-files does this; locally PYTHONPATH is inherited.
    package_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if package_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = (
            f"{package_root}:{existing}" if existing else package_root
        )

    if shuffle_partitions is None:
        # ~2x cores: enough parallelism for local mode without tiny-task
        # overhead; on a real cluster AQE coalesces these at runtime.
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # shuffle/spill to tmpfs: the sandbox's virtio disk has high,
        # variable latency (measured 2-40s swings on a 140MB shuffle);
        # on a real cluster this is local NVMe and not a concern
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided table. Iceberg-first at deployment
    (north_rule input is an Iceberg table), parquet fallback offline —
    the schema contract is identical (SURVEY.md §7.4)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if sf_dir.startswith("iceberg:"):
        return spark.read.format("iceberg").load(f"{sf_dir[len('iceberg:'):]}.{name}")
    return spark.read.parquet(path)
