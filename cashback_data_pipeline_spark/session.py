"""SparkSession factory for the engine.

Design notes (100 TB stance):
- AQE on: runtime coalescing, skew-join splitting, and dynamic join
  strategy selection replace hand-tuned partition counts at scale.
- ``spark.sql.ansi.enabled=false``: the reference's cast discipline is
  lenient — bad values become null (pandas ``to_numeric(errors='coerce')``
  in the legacy path, /root/reference/elt.py:51-53; Spark-on-Glue 3.3
  default non-ANSI casts in the deployed path). Spark 4 defaults ANSI on,
  so we pin it off for parity.
- Session timezone pinned to UTC so timestamp semantics are stable across
  the oracle (DuckDB is UTC-naive) and any cluster locale.
- ``partitionOverwriteMode=dynamic``: the reference truncates the
  warehouse prefix before rewriting (pull_data_glue_job_lambda.py:66-78);
  dynamic partition overwrite is the Spark-native equivalent that scales
  (only touched partitions rewritten).
- ``codegen.cache.maxEntries=1024``: Spark's LRU of compiled
  whole-stage-codegen classes holds 100 by default, fewer than one corpus
  iteration's ~260 (curation, index build/upsert/search, IVF), so every
  class was evicted and recompiled by Janino before its next use. 1024 is
  ~4× that working set. A static conf: only :func:`configure` sets it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# Spark fans file listing out to a cluster job once a read names more
# than this many paths (upstream default 32 — tuned for slow object
# stores). Every manifest read_table enumerates its snapshot as explicit
# file paths, so commit-sized tables (>32 files) paid a 32-159-task
# listing job of pure scheduling overhead PER READ (profiled: ~0.4 s
# each on local disk). 512 matches the driver-footer-stats bound: the
# driver lists commit-sized file sets itself (threaded getFileStatus),
# genuinely large snapshots still fan out (OPTIMIZATION r12, guide §6).
DEFAULT_LISTING_THRESHOLD = os.environ.get("SPARK_GRAFT_LISTING_THRESHOLD", "512")

# The engine's session configs: (key, value, launch_only). Both
# configure() and apply_session_conf() read this one table; launch-only
# (static) entries take effect only when a session is built, so
# apply_session_conf() skips them.
ENGINE_CONF: tuple[tuple[str, str, bool], ...] = (
    ("spark.sql.session.timeZone", "UTC", False),
    ("spark.sql.ansi.enabled", "false", False),
    ("spark.sql.adaptive.enabled", "true", False),
    ("spark.sql.adaptive.coalescePartitions.enabled", "true", False),
    ("spark.sql.adaptive.skewJoin.enabled", "true", False),
    ("spark.sql.sources.partitionOverwriteMode", "dynamic", False),
    # cached plans keep AQE partition coalescing (default false): the
    # engine's DML/load paths cache commit-sized intermediates
    # (count + write share one materialization), and without this
    # every post-shuffle stage over a cached relation runs
    # shuffle-partition-many tasks regardless of size — measured
    # ~0.5 s per lifecycle query of pure per-task fixed cost
    # (OPTIMIZATION r12, guide §2.2: fewer, larger partitions)
    ("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true", False),
    ("spark.sql.execution.arrow.pyspark.enabled", "true", False),
    # driver testdata stores TIMESTAMP(NANOS) which Spark's reader
    # rejects; read as long and convert (sources.readers.read_testdata)
    ("spark.sql.legacy.parquet.nanosAsLong", "true", False),
    # INT96 (the legacy default) carries NO parquet footer statistics,
    # which would blind file-level data skipping (sinks/filestats.py)
    # on every timestamp column; micros is the modern interchange type
    ("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS", False),
    # the manifest batch DataSource prunes files from pushed filters
    # (sources/manifest_source.py); off by default in Spark 4.1
    ("spark.sql.python.filterPushdown.enabled", "true", False),
    # the driver's plain session defaults to 200 shuffle partitions —
    # needless task overhead at test scale
    ("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS), False),
    ("spark.sql.sources.parallelPartitionDiscovery.threshold", DEFAULT_LISTING_THRESHOLD, False),
    ("spark.sql.codegen.cache.maxEntries", "1024", True),
)


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine's required configs to any builder.

    Kept separate from :func:`get_spark` so the driver (which owns its own
    SparkSession) and tests can share one source of truth.
    """
    for key, value, _ in ENGINE_CONF:
        builder = builder.config(key, value)
    return builder


def get_spark(app_name: str = "cashback_data_pipeline_spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset so tests
    and bench share sizing; on a real cluster the resource manager decides.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and SparkSession.getActiveSession() is None:
        master = f"local[{DEFAULT_CPUS}]"
    if master is not None:
        builder = builder.master(master)
    if SparkSession.getActiveSession() is None:
        # pre-JVM-launch knobs (no effect on an already-running session):
        # local mode = driver-only, so the driver heap IS the executor heap —
        # the 1g default GC-thrashes wide joins; UI off for non-interactive.
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
        ).config("spark.ui.enabled", "false")
    spark = configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_session_conf(spark: SparkSession) -> SparkSession:
    """Set the engine's runtime-settable configs on an existing session.

    The driver hands us a SparkSession it built; timezone/ANSI/AQE are all
    runtime-settable, so queries behave identically there.
    """
    for key, value, launch_only in ENGINE_CONF:
        if launch_only:
            continue
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-settable on this build — engine still functions
    return spark


def local_rows_df(spark: SparkSession, rows, schema, rows_per_slice: int = 100_000):
    """``createDataFrame`` for DRIVER-LOCAL row lists, sliced by ROWS
    instead of core count (OPTIMIZATION r12, guide §2.6/§4: size task
    counts by data volume). Plain ``createDataFrame(list)`` parallelizes
    into ``defaultParallelism`` pickled slices, so every later scan of a
    commit-sized materialized result launches one task + one Python
    worker PER CORE just to unpickle a handful of rows (~0.2 s per
    worker measured on the bench box — the dominant fixed cost of the
    collect→recreate pattern the oracle-materializing queries use).
    One slice per ``rows_per_slice`` rows keeps one worker per ~100k
    rows with identical row semantics (same pickled-row path, schema
    applied identically); a driver-local list is by construction small
    enough for this to be safe."""
    n = max(1, -(-len(rows) // rows_per_slice))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, n), schema)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of currently persisted RDDs (includes localCheckpoint blocks)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Release the given persisted RDDs (non-blocking). The standard
    cleanup for ``localCheckpoint`` blocks, which have no DataFrame-level
    unpersist handle: a long-running loop (foreachBatch, iterative
    training) that skips this pins one block set per iteration until
    executor storage churns. Prefer :func:`checkpointed_rdd_id` to find
    the exact id to release — a before/after diff of
    :func:`persistent_rdd_ids` can capture a CONCURRENT job's blocks
    landing in the diff window and unpersist its truncated-lineage
    checkpoint (unrecoverable for that job)."""
    for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rid in ids:
            rdd.unpersist(False)


def checkpointed_rdd_id(df) -> int | None:
    """The id of the persisted RDD backing a ``localCheckpoint``-ed
    DataFrame — a precise unpersist handle for the one relation we own,
    immune to concurrent persists on a shared session. A checkpointed
    DataFrame's analyzed plan is a ``LogicalRDD`` wrapping exactly the
    block-backed RDD; returns None for a DataFrame that is not
    checkpoint-backed (defensive: callers then skip the release rather
    than guessing)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            return int(plan.rdd().id())
    except Exception:
        pass
    return None
