"""SparkSession construction with scale-appropriate defaults.

The engine targets large clusters (100 TB inputs, ~1000 executors) but
tests on local[N]. All settings below are safe in both worlds; the
local-only knobs (driver memory) are applied only when we create the
session ourselves.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf applied to sessions we build AND (where runtime-settable) to
# sessions handed to us by a host harness.
_RUNTIME_CONF = {
    # Deterministic timestamp semantics; required for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (partition coalescing, skew-join splitting,
    # broadcast conversion) — essential at scale, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Skip PySpark's per-Column-call Python call-site capture: the
    # wide generated plans here make thousands of Column calls, and
    # the inspect() walk per call costs whole seconds of driver time.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # The testdata events table stores TIMESTAMP(NANOS), which Spark
    # rejects by default; read as long and convert in the loader
    # (DuckDB truncates nanos→micros the same way).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: Sessions (by applicationId) already carrying _RUNTIME_CONF: the
#: default apply is idempotent, and each spark.conf.set is a py4j
#: round-trip (~30 ms for the full dict), paid once per query without
#: this memo — ~6 s across a 188-query bench run. No query mutates
#: session conf outside this function, so the memo cannot go stale;
#: an explicit `shuffle_partitions` call bypasses it.
_CONF_APPLIED: set[str] = set()


def apply_runtime_conf(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime-settable conf to an existing session (e.g. the
    driver harness's). Never raises if a conf is not settable."""
    if shuffle_partitions is None:
        app = spark.sparkContext.applicationId
        if app in _CONF_APPLIED:
            return spark
        _CONF_APPLIED.add(app)
    else:
        # An explicit shuffle_partitions call mutates session conf
        # outside the memoized default shape — drop the memo so the
        # NEXT default call realigns spark.sql.shuffle.partitions
        # instead of no-opping against a stale memo.
        _CONF_APPLIED.discard(spark.sparkContext.applicationId)
    conf = dict(_RUNTIME_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        # A harness session left on Spark's default 200 pays 200-task
        # scheduling overhead per shuffle on local data; align the
        # initial partition count with the actual slot count (AQE
        # still coalesces further). A session whose LAUNCH conf set
        # the key explicitly (even to 200) is left alone — that intent
        # is visible in the SparkContext conf. Limitation: an explicit
        # runtime `spark.conf.set(..., "200")` is indistinguishable
        # from the default and gets realigned.
        try:
            key = "spark.sql.shuffle.partitions"
            launch_set = spark.sparkContext.getConf().contains(key)
            if not launch_set and spark.conf.get(key) == "200":
                conf[key] = str(spark.sparkContext.defaultParallelism)
        except Exception:
            pass
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


#: Query-scoped cached DataFrames awaiting release. These are
#: `.cache()` sites whose consuming action runs in the CALLER (the
#: bench times exactly one action per query), so the owning function
#: cannot unpersist after materialization itself. The registry wrapper
#: (queries/registry.py:get_queries) releases them when the NEXT query
#: starts, so at most one query's scoped caches occupy executor
#: storage at a time. Round-14 lesson (VERDICT "What's wrong #2"):
#: ~8 such caches with no owner accumulated across the 188-query bench
#: session and perturbed queries whose code had not changed at all
#: (bloom_state_merge ran 36% slower byte-identical).
#:
#: Deliberate CROSS-query materializations are never registered here.
#: The engagement spine (`generate_analysis_files`' imputed grain,
#: column views and A-series tables, memoized once per session by
#: queries/engagement.py)
#: and the jaccard pairs memo are localCheckpoints: they do not survive
#: executor loss (`stage_dir` is the durable mode) and cannot be
#: unpersisted — their blocks are held until the memoized frames are
#: dropped. dedup._shingled calls .cache() directly.
_SCOPED_CACHES: list = []


def scoped_cache(df):
    """`.cache()` a DataFrame and register it for release when the
    next registry query starts (see `_SCOPED_CACHES`). Use for
    self-join upstreams and other single-query materializations."""
    df = df.cache()
    _SCOPED_CACHES.append(df)
    return df


def release_scoped_caches() -> None:
    """Unpersist every registered query-scoped cache (non-blocking —
    executors drop the blocks asynchronously). Caches belonging to an
    already-stopped session unpersist as no-ops or raise; either way
    they are dropped from the registry."""
    global _SCOPED_CACHES
    caches, _SCOPED_CACHES = _SCOPED_CACHES, []
    for df in caches:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session stopped / JVM gone — nothing to release


def get_spark(app_name: str = "engagement-data-pipeline-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or get) a SparkSession.

    Local mode: one JVM; shuffle partitions default to core count, not
    Spark's 200 (over-parallelised for small local data, and AQE
    coalesces anyway).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
