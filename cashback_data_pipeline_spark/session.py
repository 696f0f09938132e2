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
from contextlib import contextmanager

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


def local_rows_df(spark: SparkSession, rows, schema):
    """The one way the engine turns driver-side rows (tuples, ``Row``s or
    dicts; ``schema`` a ``StructType`` or DDL string) into a DataFrame:
    one Arrow table, built by pyspark's own list converter, becomes a
    local relation (:func:`local_copy` does the same for a DataFrame).
    Scanning it starts no Python worker."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    rows = list(rows)
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, use_large_var_types=False)
    else:
        table = to_arrow_schema(schema).empty_table()  # the converter rejects []
    return spark.createDataFrame(table, schema)


def local_copy(df):
    """A driver-local copy of ``df`` (collected once through Arrow): the
    result no longer reads ``df``'s sources, so those may be deleted or
    released."""
    return df.sparkSession.createDataFrame(df.toArrow(), df.schema)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of currently persisted RDDs (includes localCheckpoint blocks)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Release the given persisted RDDs (non-blocking); ids that are not
    persisted are ignored. ``localCheckpoint`` blocks have no
    DataFrame-level unpersist handle, so this is how they are freed:
    operators release theirs through :func:`checkpoint_scope`, which
    passes only the exact ids it checkpointed. A before/after diff of
    :func:`persistent_rdd_ids` is no substitute — it can capture a
    CONCURRENT job's blocks landing in the diff window and unpersist its
    truncated-lineage checkpoint (unrecoverable for that job)."""
    for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items():
        if rid in ids:
            rdd.unpersist(False)


def checkpointed_rdd_id(df) -> int | None:
    """The id of the persisted RDD backing a ``localCheckpoint``-ed
    DataFrame — the exact release handle :func:`checkpoint_scope`
    records, immune to concurrent persists on a shared session. A
    checkpointed DataFrame's analyzed plan is a ``LogicalRDD`` wrapping
    exactly the block-backed RDD. Returns None for a plan that is not a
    ``LogicalRDD`` (e.g. a local relation); a ``LogicalRDD`` that was
    never persisted (a :func:`local_copy` over Spark's 48 MB Arrow
    local-relation threshold) yields an id that releasing ignores."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            return int(plan.rdd().id())
    except Exception:
        pass
    return None


#: Row cutoff of :meth:`CheckpointScope.result`: a materialized result of
#: at most this many rows comes back as a driver-local relation and pins
#: nothing; a larger one stays one pinned checkpoint. Sized on 4 cores
#: from a (long, long, double) pair result: the Arrow round trip costs
#: ~0.12 s up to 50k rows (0.22 s at 100k), and a join over the local
#: relation runs within ~0.2 s of the same join over the pinned
#: checkpoint up to 50k rows, but at 2.5x-4.5x its time from 100k on.
SMALL_RESULT_ROWS = 50_000


class CheckpointScope:
    """Owner of an operator's ``localCheckpoint`` intermediates; open one
    with :func:`checkpoint_scope`.

    Ownership rule — every checkpoint is released or handed over exactly
    once:

    - :meth:`checkpoint` materializes a frame, records the exact RDD id
      (:func:`checkpointed_rdd_id`, never a diff of the persisted set)
      and observes its row count (:meth:`rows`) in the same job;
    - :meth:`release` frees one checkpoint early — a per-round loop
      releases round i's state once round i+1's exists;
    - :meth:`adopt` takes over a checkpoint an inner operator handed
      over (a no-op for driver-local rows);
    - an operator whose lazy result still reads a checkpoint returns
      :meth:`result`: the result is materialized once, and at most
      :data:`SMALL_RESULT_ROWS` rows come back as a :func:`local_copy`
      with everything released; a larger result is the ONE checkpoint
      handed over, which the caller releases by adopting it into its own
      scope;
      a result that reads no checkpoint of the scope stays lazy;
    - leaving the ``with`` block, by return or by exception, releases
      everything the scope still owns. An operator that consumes its
      checkpoints internally (an index commit, a training loop) just
      lets the block end; a CAS retry loop opens one scope per attempt.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._owned: dict[int | None, object] = {}  # rdd id -> row-count Observation

    def checkpoint(self, df):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
        self._owned[checkpointed_rdd_id(out)] = obs
        return out

    def rows(self, df) -> int:
        """Row count of a checkpoint this scope took (no extra job)."""
        return int(self._owned[checkpointed_rdd_id(df)].get["n"])

    def release(self, df) -> None:
        rid = checkpointed_rdd_id(df)
        if rid in self._owned:
            del self._owned[rid]
            unpersist_rdd_ids(self.spark, {rid})

    def adopt(self, df):
        rid = checkpointed_rdd_id(df)
        if rid in persistent_rdd_ids(self.spark):
            self._owned.setdefault(rid, None)
        return df

    def result(self, df):
        if not self._owned:
            return df  # reads no checkpoint of this scope: stays lazy
        if self._owned.get(checkpointed_rdd_id(df)) is None:
            df = self.checkpoint(df)
        if self.rows(df) <= SMALL_RESULT_ROWS:
            return local_copy(df)
        del self._owned[checkpointed_rdd_id(df)]
        return df

    def close(self) -> None:
        ids, self._owned = set(self._owned), {}
        if ids:
            unpersist_rdd_ids(self.spark, ids)


@contextmanager
def checkpoint_scope(spark: SparkSession):
    """``with checkpoint_scope(spark) as scope:`` — see
    :class:`CheckpointScope` for the ownership rule."""
    scope = CheckpointScope(spark)
    try:
        yield scope
    finally:
        scope.close()


def release_all(spark: SparkSession) -> None:
    """Drop every cached relation and persisted RDD of the session and
    collect dead py4j handles — the reset between independently timed
    runs, when nothing still reads the freed blocks.

    - Checkpoint blocks a caller never released stay pinned until the
      Python-side DataFrame is garbage-collected (nondeterministic), so
      a long run accumulates dead cached partitions and every later step
      pays the eviction/GC churn (measured: ann_topk_batch 1.1 s in a
      fresh session vs 6.5 s late in the bench sequence).
    - Python-side py4j handles (Broadcast objects, DataFrames) keep their
      JVM twins alive until Python's GC runs; Spark's ContextCleaner can
      only reap broadcasts/shuffles whose refs are gone (measured:
      minhash_trigram 10.2 s fresh → 19.4 s after 16 queries → 2.0 s once
      the dead refs are collected)."""
    import gc

    spark.catalog.clearCache()
    unpersist_rdd_ids(spark, persistent_rdd_ids(spark))
    gc.collect()
