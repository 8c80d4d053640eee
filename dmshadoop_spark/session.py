"""SparkSession factory with scale-oriented defaults.

Tuned for correctness-vs-oracle determinism (UTC session time zone, ANSI on)
and for the 100 TB design point (AQE on, skew-join handling, partial
aggregation pushdown, Arrow for any pandas exchange). On the test rig this
runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same code runs
unchanged — only ``master`` and memory sizing differ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for a 32-core single node; on a 1000-executor cluster the
# only knobs that must change are shuffle partitions (≈ 2-3× total cores) and
# maxPartitionBytes (keep 128m — yields ~800k input splits at 100 TB, which
# is the right granularity for dynamic allocation + AQE coalescing).
_SCALE_CONF = {
    # Adaptive execution: runtime re-planning fixes skew and right-sizes
    # shuffle partitions — mandatory at 100 TB where static planning is blind.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Deterministic comparisons against the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for any driver<->pandas exchange and pandas UDFs.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast small dimensions aggressively (region/nation/supplier are
    # tiny at any scale factor; real dims at 100 TB still fit <64 MB).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime bloom-filter join pruning: when a dim side carries a selective
    # filter, Spark builds a bloom filter from it and prunes the fact side
    # BEFORE its shuffle — at 100 TB that's shuffling the matching fraction
    # instead of the whole fact table. Size thresholds stay at production
    # defaults (creation side <10 MB, application side >10 GB scan), which
    # never fire at test SF; tests/test_plans.py lowers them to pin that
    # injection works.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Input split sizing: 128 MB parquet splits.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.shuffle.partitions": "32",
}


def machine_defaults(usable_cpus: int, physical_bytes: int) -> tuple[str, str]:
    """The local cores and driver heap when ``SPARK_GRAFT_CPUS`` and
    ``SPARK_GRAFT_DRIVER_MEM`` are unset: every usable CPU, and half the
    physical memory in whole GiB, from 1g to 32g (a 32g heap on a 15 GiB
    host lost the JVM partway through a test run)."""
    heap_gib = min(32, max(1, physical_bytes // 2 // 2**30))
    return str(usable_cpus), f"{heap_gib}g"


def get_spark(
    app_name: str = "dmshadoop-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism and the shuffle
    partition count, ``SPARK_GRAFT_DRIVER_MEM`` the driver heap; unset,
    they come from the machine (``machine_defaults``).
    """
    cpus, heap = machine_defaults(
        len(os.sched_getaffinity(0)),
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"),
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", cpus)
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_SCALE_CONF)
    # Local mode runs ALL executor work inside the driver JVM, whose
    # PySpark default heap is 1g — a 32-thread shuffle at sf0.1 OOMs the
    # scheduler (discovered via j10's 50M-candidate stage: the thread
    # pool dies and every later test fails with ConnectionRefused).
    # Honored only at JVM launch, so it must be set on the FIRST session.
    conf["spark.driver.memory"] = os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap)
    # Shuffle partitions sized to the local core count; cluster deployments
    # override via SPARK_CONF or extra_conf.
    conf["spark.sql.shuffle.partitions"] = cpus
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
