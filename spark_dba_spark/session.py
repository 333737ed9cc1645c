"""SparkSession construction and session-level invariants.

Two concerns:

1. ``get_spark()`` — build a session for our own entry points (tests, bench,
   perfbench, compaction CLI) with the configs a 1000-executor deployment
   would also want: AQE on (runtime re-planning, skew-join splitting,
   partition coalescing), Arrow for any Python exchange, UTC session
   timezone, and a generated-code class cache that holds the engine's
   working set.

   The class cache (``spark.sql.codegen.cache.maxEntries``, Spark default
   100) is an LRU over Janino-compiled classes. One ``query_mix`` pass at
   sf0.01 needs 106 distinct classes and one pass of the 14 bench queries
   about 200-215 (202 at sf0.001), so at the default every pass evicted
   and recompiled most of its own classes: 63-84 recompiles per
   ``query_mix`` pass (~0.7 s of Janino compile under perfbench's C1-only
   JVM) and ~210 per bench pass. At 1000 a repeated pass recompiles 0, and
   the loaded-class count and Metaspace of a long-lived session stop
   growing pass over pass. It is a static conf: the JVM reads it once,
   when the first class is generated, and a runtime ``spark.conf.set``
   cannot change it. A foreign session (the driver harness builds its own)
   therefore only gets it if passed at launch
   (``--conf spark.sql.codegen.cache.maxEntries=1000``); without it the
   engine is correct, it just recompiles.

2. ``ensure_session_invariants(spark)`` — the driver harness constructs its
   *own* SparkSession and hands it to our query builders, so every conf the
   engine's correctness depends on must also be settable at runtime on a
   foreign session. Query builders call this defensively.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Confs that are safe to set at runtime and that correctness depends on.
_RUNTIME_INVARIANTS = {
    # DuckDB-oracle parity: both engines must agree on wall-clock rendering.
    "spark.sql.session.timeZone": "UTC",
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects by default; read as long and convert explicitly (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow for every pandas exchange (similarity / multimodal operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Perf-posture confs for sessions we own. All of these hold on a real
# cluster as well as local[N].
_PERF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Parquet scans: vectorized reader + pushdown are default-on; keep
    # explicit so a conf drift can't silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    # Generated-code class cache, static (see the module docstring).
    # Measured distinct classes per pass: query_mix 106 at sf0.01, the 14
    # bench queries 202 at sf0.001 and ~210 at sf0.1; 1000 is ~5x headroom.
    "spark.sql.codegen.cache.maxEntries": "1000",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)


def get_spark(
    app_name: str = "spark_dba_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``shuffle_partitions`` defaults to the core count — right for local[N];
    on a real cluster you would size it to ~2-3× total executor cores or
    simply let AQE coalesce from a higher initial number.
    """
    cpus = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in {**_PERF_CONFS, **_RUNTIME_INVARIANTS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Per session, the Java map behind its SQLConf (``SQLConf.settings``): every
# conf.get/.set is a py4j round trip, and catalog.load runs this per table
# load (the r14 bench profile billed ~20-50ms of plan-build per query to
# these calls alone), so the fast path reads all set confs in ONE call.
# Weak keys so a stopped session's entry dies with the wrapper object.
_SETTINGS: "weakref.WeakKeyDictionary[SparkSession, object]" = (
    weakref.WeakKeyDictionary()
)


def _holds_invariants(settings_text: str) -> bool:
    """True if a ``java.util.Map.toString`` rendering of the session's set
    confs (``{k1=v1, k2=v2}``) holds every invariant at its value."""
    entries = f", {settings_text[1:-1]}, "
    return all(f", {k}={v}, " in entries for k, v in _RUNTIME_INVARIANTS.items())


def ensure_session_invariants(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable correctness invariants to any session.

    The first call per session applies every invariant (a get per conf, a
    set per drifted one) and keeps a handle on the session's conf map.
    Later calls fetch that map's rendering in one round trip and return if
    every invariant still holds; if any drifted (a harness ``SET``,
    ``conf.unset`` or notebook helper changed session state after we
    ensured it) the full pass runs again, so each of them heals within one
    table load.
    """
    settings = _SETTINGS.get(spark)
    if settings is not None:
        try:
            if _holds_invariants(settings.toString()):
                return spark
        except Exception:
            pass  # fall through to the full pass
    for k, v in _RUNTIME_INVARIANTS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Conf not recognized on some build — never fail a query over it.
            pass
    if settings is None:
        try:
            _SETTINGS[spark] = spark._jsparkSession.sessionState().conf().settings()
        except Exception:
            pass  # no handle: every call takes the full pass
    return spark
