"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB design point and documented:

* **AQE on** (+ skew-join): mega-host fan-out (``trustpilot.com/review/*``)
  produces skewed shuffle partitions; AQE splits them at runtime and
  coalesces small ones (north rule, ``BASELINE.json:6``).
* **Arrow on, bounded batches**: the ``html`` column is 0.3–1 MB per row on
  real pages; ``maxRecordsPerBatch`` bounds JVM→Python Arrow batch memory so
  a 1000-executor run never OOMs on wide binary rows.
* **UTC session timezone** (+ driver TZ): reference datetimes are naive-UTC
  (``/root/reference/src/fakepilot/xray.py:240``); byte-identity of
  timestamps requires one timezone everywhere.
* **Codegen class cache sized to the crawl's working set**: one crawl cycles
  through ~141-165 distinct generated classes, but
  ``spark.sql.codegen.cache.maxEntries`` defaults to 100, so the LRU evicts
  each class before its next use and Janino recompiles ~90 classes in every
  150-URL epoch. At 1000 entries a repeat of a 4-epoch test crawl compiles
  8 classes (literal-driven plans) instead of 252-265. It is a static SQL
  conf: only the session builder can set it.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

__all__ = ["get_spark", "DEFAULT_SHUFFLE_PARTITIONS"]

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "fakepilot-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` pins ``local[N]``; default honors ``SPARK_GRAFT_CPUS`` then
    ``local[*]``. On a real cluster the master comes from spark-submit and
    this function only layers SQL confs (safe: they are session-level).
    """
    # Align driver-side Python/JVM clocks with the session timezone so
    # collected naive datetimes mean UTC everywhere.
    os.environ.setdefault("TZ", "UTC")
    try:
        time.tzset()
    except AttributeError:  # pragma: no cover - non-POSIX
        pass

    # Executor Python workers must be able to import this package no matter
    # the caller's cwd. Under spark-submit, --py-files covers it; in local /
    # driver-launched mode, export the package root on PYTHONPATH before the
    # JVM forks workers.
    pkg_root = str(__import__("pathlib").Path(__file__).resolve().parent.parent)
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{pkg_root}:{existing}" if existing else pkg_root

    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cores}]" if env_cores else "local[*]"
    else:
        master = f"local[{cores}]"

    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
        )

    # Scale JVM service threads with the task-slot count, like a real
    # per-executor container does via cgroup-visible CPUs: an unconstrained
    # local[2] JVM runs GC/JIT pools sized for the whole box and overdraws
    # ~20% extra CPU beside its 2 task slots (measured), which both wastes
    # host CPU and distorts any N-vs-4N comparison.
    n_slots = None
    m = master if cores is None else f"local[{cores}]"
    if m.startswith("local[") and m[6:-1].isdigit():
        n_slots = int(m[6:-1])
    jvm_opts = "-Duser.timezone=UTC"
    if n_slots:
        gc_threads = max(n_slots, 1)
        jvm_opts += (
            f" -XX:ParallelGCThreads={gc_threads}"
            f" -XX:ConcGCThreads={max(gc_threads // 2, 1)}"
            f" -XX:CICompilerCount={max(min(n_slots, 4), 2)}"
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "128")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.ui.enabled", "false")
        # Micro-batch epochs issue many small jobs: never idle a core waiting
        # for data locality that local/HDFS-cached inputs already have.
        .config("spark.locality.wait", "0s")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Only force a master when not running under spark-submit on a cluster.
    if "SPARK_SUBMIT_MODE" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", master))
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
