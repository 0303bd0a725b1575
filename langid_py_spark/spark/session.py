"""SparkSession factory tuned for this engine.

Local-mode defaults follow the sandbox (local[N], single JVM); on a real
cluster the same builder settings apply — AQE on, Arrow on, UTC, shuffle
partitions sized to cores (overridden by AQE coalescing at runtime).
Shuffle/spill files go where Spark puts them: SPARK_LOCAL_DIRS (or
spark.local.dir via `extra_conf`), else the JVM temp dir.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ensure_worker_pythonpath() -> None:
    """Make `langid_py_spark` importable in executor Python workers.

    Local mode: workers are spawned by the JVM and inherit the driver's
    env, NOT driver-side sys.path mutations — so export PYTHONPATH before
    the JVM starts. Cluster mode: ship the package with
    ``spark-submit --py-files langid_py_spark.zip`` instead (the model
    .npz artifacts ride along inside the package dir).
    """
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pp if pp else "")
        )
    # one BLAS/OMP thread per Python UDF worker: with N workers per host,
    # per-worker thread pools oversubscribe N*threads and thrash; the
    # parallelism belongs to Spark, not BLAS
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")


def default_cores() -> int:
    """local[N] width: $SPARK_GRAFT_CPUS, else every core of this host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def default_driver_memory() -> str:
    """$SPARK_DRIVER_MEM, else half of physical RAM capped at 16g.

    Local mode runs every task inside the driver JVM, but the Python UDF
    workers live outside its heap, so the heap must stay well below host
    RAM (a fixed 16g overcommits a 15 GB host)."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mb // 2)}m"


def get_spark(
    cores: int | None = None,
    app_name: str = "langid_py_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _ensure_worker_pythonpath()
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize UDF dispatch; scorer is matmul-bound
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
