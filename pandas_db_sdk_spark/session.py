"""SparkSession bootstrap tuned for this engine.

The reference's only session-like object is ``DataFrameClient`` holding an
API URL + bearer token (reference ``client.py:45-64``). Here the analogue is
a properly configured SparkSession: AQE on (runtime re-planning subsumes the
reference's fixed 100K-row chunking, ``README.md:21``), Arrow on (fast
pandas ingest, the analogue of the JSON-records wire at ``client.py:114``),
UTC session time so timestamp semantics are stable across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs that query code may rely on; applied to an existing
# session too (the driver hands us its own session).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS); Spark has no ns timestamp type,
    # so read the raw int64 and convert explicitly (io.Tables normalizes).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deep composed plans (the d116 crawl pipeline: warc walk → robots
    # windows → lexicon-literal language ID → minhash, all one lineage)
    # produce explain strings big enough that AQE's per-plan-update
    # explainString OOMs a default-heap driver building the string alone.
    # 1 MiB of explain text is plenty for debugging; past it, truncate
    # instead of allocating gigabytes (r10).
    "spark.sql.maxPlanStringLength": str(1024 * 1024),
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Set runtime-settable confs on an existing session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime conf on this build; builder path sets it
    return spark


def _driver_memory(phys_bytes: int) -> str:
    """Default ``spark.driver.memory``: half of physical RAM in whole GiB,
    at least 1g and at most 48g. In local mode the driver JVM is the whole
    engine, but the Python workers and the OS need the other half; a fixed
    48g gets the JVM OOM-killed on a small host."""
    return f"{min(max(phys_bytes // 2 // 2**30, 1), 48)}g"


def get_spark(app_name: str = "pandas-db-sdk-spark") -> SparkSession:
    """Build (or reuse) a local session sized from ``SPARK_GRAFT_CPUS``.

    Local mode: one JVM, N threads; ``spark.driver.memory`` is the only
    memory knob (``SPARK_DRIVER_MEM``, else ``_driver_memory`` of this
    host's RAM). On a real cluster the same code runs unchanged — nothing
    here assumes single-node except the master URL.

    ``spark.sql.codegen.cache.maxEntries`` is 1000 (Spark's default: 100).
    One ``prepare_corpus`` plan generates ~140 classes, so under the
    default LRU each new shard would recompile ~125 of them; at 1000 a warm
    shard compiles 0–26. The conf is static: it holds only when this call
    starts the JVM, and a session the caller built keeps its own value.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM")
            or _driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # static, so not in RUNTIME_CONFS; sized in the docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
