"""SparkSession factory tuned for the test harness (local[N]) while keeping
settings that transfer to a real cluster (AQE, shuffle partitions, Arrow).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# HotSpot's tier-4 (C2) invocation thresholds at ten times their JDK 17
# defaults. A job that runs in a fresh session spent more CPU in C2 than
# in its task threads, compiling Catalyst, Janino and py4j code that runs
# a few thousand times per session; at x10 that code stays at C1. The
# back-edge threshold keeps its default, so a long scan's inner loop
# reaches C2 through OSR as soon as before: raising it too made a 2e8-row
# aggregate slower and the task threads run C1 code for longer. C1-only
# made a 2e9-row aggregate 6.5x slower and x100 a 2e8-row one 1.8x slower
# (README design rule 13). Only the driver JVM gets it, which in local[N]
# is also the executor.
_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 "
    "-XX:Tier4CompileThreshold=150000"
)


def _workers_can_import_package() -> bool:
    parent = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    return any(os.path.realpath(r) == parent for r in roots)


def get_spark(app_name: str = "sharepoint_onelake_spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    # r12: shuffle partitions DERIVED from the session's core count instead
    # of a constant tuned for local[32] — one task wave per exchange at any
    # harness core count (the driver also benches at a lower count), and on
    # a real cluster the knob scales with executors while AQE coalescing
    # (below) still merges small post-shuffle partitions by size.
    n_cores = int(cpus) if str(cpus).isdigit() else (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(8, n_cores)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark's LRU of compiled generated classes holds 100 by default;
        # the 9-query relational mix alone needs ~120 and the 225-query
        # gate 3,761, so at 100 every warm query recompiled (and re-JITted)
        # 5-15 classes. Sized to cover the gate's working set.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.driver.extraJavaOptions", _JIT_OPTIONS)
    )
    # Every Python task re-read the central directories of the 16 zip
    # archives on the worker's path, about 170 ms of CPU before its first
    # row (README design rule 7); worker_daemon re-reads an archive only
    # when its stat changed. Workers import it through their working
    # directory (the JVM's, inherited from here) or PYTHONPATH, so the
    # conf is set only when one of them holds this package; otherwise
    # Spark's own daemon runs.
    if _workers_can_import_package():
        builder = builder.config("spark.python.daemon.module", f"{__package__}.worker_daemon")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
