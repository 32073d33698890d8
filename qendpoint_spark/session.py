"""SparkSession factory tuned for the graft sandbox (local[N], one JVM).

At cluster scale the same settings apply except master/memory: AQE on
(runtime re-plan + skew-join splitting), shuffle partitions sized to
cores, Arrow enabled for the pandas-UDF extraction stages, UTC pinned so
DuckDB-oracle comparisons are stable.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

#: the directory holding the qendpoint_spark package
_PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)


def _default_driver_mem() -> str:
    """Two thirds of physical memory, in whole GiB: a local[N] driver
    heap sized past the host's RAM gets the JVM killed by the kernel's
    OOM killer instead of failing a task. 48g where the platform does
    not report its memory."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "48g"
    return f"{max(1, total * 2 // 3 // 2**30)}g"


def get_spark(
    app_name: str = "qendpoint_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — at 100 TB on a real cluster
    this would be ~2-4x total executor cores instead; AQE coalesces
    excess partitions either way.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTS", max(cores * 2, 16))
        )
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # Python workers import qendpoint_spark (pandas UDFs pickle the
        # package's functions by reference) whatever the caller's cwd
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p for p in (_PACKAGE_ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
        # deeply composed pipelines (decode∘encode∘build with nested
        # persisted fragments) make plan *pretty-printing* exponential:
        # the SQL listener renders every execution's plan string even
        # with the UI off (observed: a driver thread pinned for minutes
        # in TreeNode.generateTreeString). Cap the rendered length —
        # execution is unaffected.
        .config("spark.sql.maxPlanStringLength", "8192")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd stage writes: measured +12% e2e over snappy on the bench
        # (interleaved A/B, BENCH/BASELINE.md §codec-ab) — the pipeline
        # is write-bandwidth-bound on sorted-table materializations, and
        # zstd's ~2x byte cut beats its CPU cost; at 100 TB the at-rest
        # savings compound into every downstream scan
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
