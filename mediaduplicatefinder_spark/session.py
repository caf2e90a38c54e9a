"""SparkSession factory tuned for the sandbox (local[N], single JVM).

On a real cluster the same builder is used via ``spark-submit
--py-files``; only master/memory come from the submit environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ensure_importable() -> None:
    """Make the package importable in driver AND python workers without a
    pip install (sandbox has no network): prepend the repo root to
    PYTHONPATH before the JVM forks python workers. On a real cluster
    this is replaced by ``spark-submit --py-files engine.zip``."""
    import sys

    if _REPO_ROOT not in sys.path:
        sys.path.insert(0, _REPO_ROOT)
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pp if pp else "")
        )


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half of the host's physical memory (``MemTotal``) as a Spark size,
    at least 1g; ``4g`` when ``meminfo`` cannot be read (non-Linux).

    The local-mode JVM holds driver and executors in one heap, and the
    python workers and page cache need the other half — a fixed large
    default lets the heap grow past physical memory until the kernel
    OOM-kills the JVM."""
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1, kib // (2 * 1024 * 1024))}g"
    except OSError:
        pass
    return "4g"


def get_spark(
    app_name: str = "mediaduplicatefinder-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    parallelism: local core count; None -> $SPARK_GRAFT_CPUS or all cores.
    Driver heap: $SPARK_DRIVER_MEMORY, else half of physical memory
    (:func:`default_driver_memory`). Local dir: $SPARK_LOCAL_DIRS, else
    /tmp/spark-local. ``extra_conf`` overrides every setting.
    """
    _ensure_importable()
    if parallelism is None:
        parallelism = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(parallelism, 8)

    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle/spill blocks go to disk by default: a tmpfs local dir
        # (/dev/shm) spends RAM on spill, and heap + tmpfs spill beyond
        # physical memory gets the JVM OOM-killed. Hosts with RAM to
        # spare can point SPARK_LOCAL_DIRS at tmpfs; stale spark-local
        # dirs left by killed JVMs must be swept either way.
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp/spark-local"))
        # Split single-file parquet scans into >= core-count partitions so
        # the extraction/signature UDFs parallelize WITHOUT a repartition
        # shuffle of the raw text/html bytes (a cluster reading thousands
        # of files doesn't need this; a local bench reading one file does).
        # 8m: a 122 MB bench file yields ~15 byte-range splits, which only
        # bite if row groups are finer still (datagen writes 2k-row groups).
        .config("spark.sql.files.maxPartitionBytes", "8m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
