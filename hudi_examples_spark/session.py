"""SparkSession factory with scale-aware defaults.

The reference launches every job with Kryo serialization + Hudi session extensions
(``spark/scripts/utils.sh:4-8``, ``glue/S3 Calls benchmarking Code.py:25-43``). We have
no JVM extension to load; the equivalents that matter for a PySpark engine are AQE,
Arrow, and sane shuffle sizing.

Scale stance (100 TB): every knob here is either neutral at cluster scale or explicitly
overridable via env/args. ``spark.sql.shuffle.partitions`` defaults to
``max(local cores, 32)``, never below 32, so a 4-core host runs 32-task shuffle stages;
on a real cluster AQE coalescing makes the static number mostly irrelevant as long as
it is *high enough*, so production callers should pass ``shuffle_partitions`` ~2-3x
total executor cores.

Generated code is compiled once per session (``CODEGEN_CACHE_ENTRIES``). Spark keys its
compiled-class cache on the generated Java source and caps it at 100 entries by default,
but one pass over the engine's queries needs far more: the 8 registry queries of the
perfbench query suite alone compile ~132 distinct classes, so at 100 every entry was
evicted before its next use and every pass recompiled (and re-JITted) the same code.
Stage ids are also left out of class names, so one operator pipeline compiles to one
class whatever codegen stage id it gets in a given plan.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries`` (a static conf: fixed when the session's JVM
#: starts). Measured working set on a 4-core host with an unbounded cache and stage ids
#: out of class names: the 176-query registry sweep at sf0.001 compiles 2503 distinct
#: classes, and the table lifecycle suites (test_table_cow/mor/edge,
#: test_partition_lifecycle) add 311 more: 2814. A repeat of the sweep adds ~80 (key
#: literals Spark inlines). Guava splits the cap over 4 segments that evict on their own,
#: so the constant keeps ~9% headroom over the working set.
CODEGEN_CACHE_ENTRIES = 3072


def graft_cpus() -> int:
    """The local core count the session is sized for (``SPARK_GRAFT_CPUS``)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "hudi-examples-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults are driven by the sandbox env (``SPARK_GRAFT_CPUS``) but every setting
    holds on a multi-executor cluster: AQE handles post-shuffle coalescing and skew
    joins, Arrow accelerates any Pandas-UDF path, UTC session timezone keeps results
    engine-portable (and comparable against the DuckDB oracle).
    """
    cpus = graft_cpus()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # parquet predicate pushdown / column pruning are on by default; keep the
        # vectorized reader explicit because the whole engine depends on it.
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pin BLAS/OpenMP to one thread inside Python workers: the numpy paths
        # (blocked-matmul dedup, multimodal batches) run one task per core, so
        # a multithreaded BLAS oversubscribes CPUs N_tasks × N_blas_threads —
        # measured as 2-3× run-to-run variance on the blocked matmul. One
        # BLAS thread per task is the standard Spark+numpy deployment shape.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # see CODEGEN_CACHE_ENTRIES and the module docstring
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
