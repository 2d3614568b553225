"""SparkSession factory with scale-appropriate defaults.

All knobs here are the ones that matter at 100 TB: AQE (runtime re-planning +
skew-join splitting), Arrow batching for the pandas-UDF kernels, and a
shuffle-partition count sized to the parallelism level. On a real cluster
these come from spark-submit conf; the factory is for local runs and tests.

The generated-code cache is sized to validate()'s working set
(``_CODEGEN_CACHE_ENTRIES``): a session that runs validate() again and again
(a resident validation service, the benchmark, the test suite) re-plans the
same stages every run, and a class found in the cache skips its Janino
compile.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]

#: heap cap: the measured sweet spot at 32 local threads (see get_spark)
_MAX_HEAP_MB = 16 * 1024

#: ``spark.sql.codegen.cache.maxEntries``: a session that sets up and runs
#: seven pruned-resume daily sweeps over a 60k-row table (perfbench
#: ``daily_resume``, 4-core host) compiles ~380 distinct classes, and one
#: sweep with its writes needs ~260. At Spark's default of 100 each sweep
#: evicted the classes the next one needed and compiled all ~260 again;
#: at 1,000 the sweeps after the first compile 2-10. The cache grows only
#: with what the session compiles. A static SQL conf: it takes effect
#: only when the session starts.
_CODEGEN_CACHE_ENTRIES = 1000


def _host_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on
    (what ``nproc`` reports, minus its OMP_NUM_THREADS override)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else half the host's RAM (the
    MemTotal of /proc/meminfo), capped at 16g. In local mode the driver JVM
    runs every task and the Python workers live beside it, so a heap near
    total RAM gets the process OOM-killed instead of collected."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(_MAX_HEAP_MB, ram_mb // 2)}m"


def get_spark(
    app_name: str = "skyline-spark-validate",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = cores or _host_cores()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
        # let AQE coalesce a cached plan's shuffle output like any other
        # plan's: a cached checkpoint-sized aggregate otherwise keeps every
        # shuffle partition, and each read of it runs that many tasks
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # local mode: the driver JVM runs every task. Measured sweep at 32
        # threads on the allocation-heavy stages: 16g + capped GC threads is
        # 2-4x faster than either an 8g heap (collection pressure) or a
        # cores-scaled 68g heap (G1 region scanning + 20+ GC threads spinning
        # — load sat at 18 with 50x the CPU burned for identical results);
        # on a smaller host the heap drops to half its RAM
        .config("spark.driver.memory", _driver_memory())
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ParallelGCThreads=8 -XX:ConcGCThreads=2",
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # ship the package to python workers — same mechanism as
    # `spark-submit --py-files` on a real cluster (north rule)
    from .packaging import attach_package

    attach_package(spark)
    return spark
