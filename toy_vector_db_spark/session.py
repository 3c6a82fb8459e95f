"""SparkSession factory tuned for the harness (local[N]) but configured the
way a real cluster deployment would be: AQE on, Arrow on, UTC timezone.

At 100 TB the same settings apply cluster-wide; ``shuffle_partitions`` would
be sized to ~2-3× total executor cores (or left to AQE coalescing), and
``spark.sql.files.maxPartitionBytes`` tuned so scan tasks stay ~128-256 MB.

The Python workers get a patch rather than a conf, because no Spark
setting changes what follows. Every PySpark task starts with ``importlib.invalidate_caches()``,
and on CPython 3.11 that re-reads pyspark.zip, the spark-core jar and
the py4j zip once per importer, 26,672 directory entries and 170-390 ms
per task, most of a point request's Python stage. Importing the package
inside a worker (every engine kernel unpickles by reference to an
engine module) runs ``pyworker.install``, which re-reads an archive only
when its stat changed. The driver is never patched, and the patch is a
no-op on CPython 3.12+ (where the refresh is already lazy) and on any
interpreter whose zipimport lacks the 3.11 internals it replaces.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "toy_vector_db_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
    )
    # local-mode default heap is 1 GB shared by all executor threads;
    # oversized off-fixture runs (scripts/scale_evidence_sf1.py --cap:
    # 200k vectors) opt into a larger JVM via env — must be set before
    # the JVM launches, so it's a builder config, not a runtime conf
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        builder = builder.config("spark.driver.memory", mem)
    # The JVM's default 240 MB reserved code cache FILLS over a
    # many-query session (hundreds of whole-stage-codegen classes), the
    # JIT stops compiling, and codegen-heavy plans silently drop to
    # interpreted execution — measured in round 9 as knn_ivfpq_filtered
    # degrading 3.3 s → 8-17 s after ~50 prior keys with identical
    # executed plans, fully cured by raising the cache (dirty-session
    # samples 2.9-3.5 s at 1 GB). Reserved ≠ committed: this costs
    # address space, not resident memory. The flag is APPENDED to any
    # user-supplied options (SPARK_GRAFT_EXTRA_JAVA_OPTS) rather than
    # clobbering them; user flags come last so an explicit
    # -XX:ReservedCodeCacheSize override wins.
    user_opts = os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", "")
    builder = builder.config(
        "spark.driver.extraJavaOptions",
        f"-XX:ReservedCodeCacheSize=1g {user_opts}".strip(),
    )
    return (
        builder
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Round 14 (guide §7.3 driver discipline): PySpark 4's
        # DataFrame-debugging wrapper charges EVERY DataFrame/Column
        # API call ~3 extra py4j round-trips (a conf.get for the stack
        # depth, a PySparkCurrentOrigin.set, a .clear) plus a Python
        # stack inspection, purely to decorate error messages with the
        # user call site. Measured on the IVF serving keys: 20-35% of
        # each key's driver-side plan construction (knn_ivfsq construct
        # 0.55 -> 0.42 s, hybrid_rrf_ivfpq 1.03 -> 0.67 s). A serving
        # head turns this off in production for exactly this reason;
        # results and plans are unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to a session we didn't create (the
    driver passes its own session into ``queries()`` callables)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # a default 200-partition shuffle over-parallelizes local runs (and
    # fixes the streaming state-store partition count at query start)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    # best-effort for externally created sessions: the debugging flag is
    # a BUILD-time conf (conf.set on a live session raises
    # AnalysisException), and pyspark caches its value process-wide in
    # pyspark.errors.utils._enable_debugging_cache at the first wrapped
    # DataFrame call. Writing that cache directly is the documented
    # shape of the flag's fast path (is_debugging_enabled reads it
    # first) and only skips error-message call-site decoration — see
    # the get_spark builder comment for the measured construction cost.
    # Round 15 (advice r14): respect an EXPLICIT opt-in — if the session
    # was built with dataFrameDebugging.enabled=true, leave the cache
    # alone (conf.get with a None default returns the set value only
    # when the user actually set it); and only write the cache on a
    # pyspark whose is_debugging_enabled/_enable_debugging_cache pair
    # exists (the shape this fast path is written against), so a future
    # pyspark that renames the mechanism is left at its defaults.
    try:
        explicit = spark.conf.get(
            "spark.python.sql.dataFrameDebugging.enabled", None
        )
    except Exception:
        explicit = None
    if not (explicit or "").lower() == "true":
        try:
            from pyspark.errors import utils as _errors_utils

            if hasattr(_errors_utils, "is_debugging_enabled") and hasattr(
                _errors_utils, "_enable_debugging_cache"
            ):
                _errors_utils._enable_debugging_cache = False
        except ImportError:
            pass  # older/newer pyspark without the cache: keep defaults
    return spark
