"""Structured Streaming jobs.

The reference is batch-only (SURVEY §2.10): recurrence = re-run the whole
pipeline, idempotence = the NOT-EXISTS load. These jobs are the streaming
generalization of exactly those seams:

- :func:`windowed_counts_stream` — the streaming twin of the batch
  ``windowed_event_counts`` query: tumbling event-time windows + watermark
  for late data. State is bounded by the watermark horizon regardless of
  stream length — the 100 TB/day version runs with the same code.
- :func:`incremental_upsert_stream` — ``foreachBatch`` + the batch
  anti-join append (sinks.append_if_absent): per-micro-batch exactly the
  reference's idempotent load (load_to_redshift_lambda.py:88-100), which
  also makes replays safe (at-least-once source → exactly-once-by-key sink).
- :func:`sessionized_counts_stream` — ``session_window`` gap sessions,
  the streaming twin of the batch ``sessionization`` query.

All take a DataFrame from ``readStream`` so sources are pluggable
(parquet dir for tests, Kafka/Kinesis in production — same plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_events_stream(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over an events directory (parquet/json files
    dropped into ``path``). ``maxFilesPerTrigger`` bounds micro-batch size
    so backlog catch-up doesn't OOM executors."""
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts/sums with a watermark: late rows within
    ``watermark`` still update their window; older state is evicted.
    Same output shape as the batch ``windowed_event_counts`` query."""
    # Exact micro-unit accumulation (quantize 6 dp → integer
    # DECIMAL(18,0) sum, overflow-safe to 1e28): micro-batch arrival
    # order must not change the emitted sum, and the result hashes
    # identically to the batch twin / DuckDB oracle (same formula as
    # queries.dsum2 — exact int sum → double → /1e4 → +0.5 → floor →
    # /100; DECIMAL output would hash-fail the driver gate's
    # canonicalization, and a double sum would depend on order).
    micro = F.floor(F.col("value") * 1_000_000 + 0.5).cast("decimal(18,0)")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.floor(F.sum(micro).cast("double") / 10_000 + 0.5) / 100).alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n", "sum_value")
    )


def sessionized_counts_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based session windows per user (streaming twin of the batch
    ``sessionization`` query): events within ``gap`` of each other merge
    into one session; watermark bounds open-session state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def incremental_upsert_stream(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    key: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """Stream → idempotent serving table: every micro-batch runs the batch
    anti-join append (K6/J3 semantics). Checkpointing + key-dedup together
    give exactly-once-by-key even across restarts — the streaming
    upgrade of the reference's re-runnable load. Returns the started
    StreamingQuery (caller awaits/stops)."""
    from cashback_data_pipeline_spark.sinks import append_if_absent

    def load_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # dedup within the batch first (a micro-batch can carry key dups),
        # then against the target
        deduped = batch_df.dropDuplicates([key])
        append_if_absent(spark, deduped, target_path, key=key)

    writer = source.writeStream.foreachBatch(load_batch).option("checkpointLocation", checkpoint_dir)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def running_user_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user running
    event count + value sum maintained across micro-batches, emitting the
    updated totals for every user seen in each batch.

    This is the seam the built-in windowed aggs can't express: arbitrary
    user-defined state transitions (counters, ML feature state, CDC
    folds). State is one row of two longs/doubles per user — partitioned
    by the group key, so it shards across executors; at 100 TB/day the
    state store (RocksDB in prod config) holds |users| rows, not |events|.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState

    output_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("n_events", T.LongType(), False),
            T.StructField("sum_value", T.DoubleType(), True),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n_events", T.LongType(), False),
            T.StructField("sum_value", T.DoubleType(), False),
        ]
    )

    def update(key: tuple, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [total]})

    return events.groupBy("user_id").applyInPandasWithState(
        update, output_schema, state_schema, "update", "NoTimeout"
    )


def purchases_after_signup_stream(
    events: DataFrame, within: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same user's
    signups that happened in the preceding ``within`` interval.

    Both sides are watermarked so the join state is bounded: a buffered
    signup can be evicted once event time passes signup_ts + within +
    watermark. The equi-key (user_id) shards state; the time bound is the
    interval condition Spark's stream-stream join requires for cleanup."""
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("signup_ts"),
            F.col("event_id").alias("signup_event_id"),
        )
        .withWatermark("signup_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("p_user_id") == F.col("s_user_id"))
        & (F.col("purchase_ts") > F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr(f"INTERVAL {within}"))
    )
    return purchases.join(signups, cond, "inner").select(
        F.col("p_user_id").alias("user_id"),
        "purchase_event_id",
        "signup_event_id",
        "purchase_ts",
        "signup_ts",
        # floor-half-up, not round(): Spark/DuckDB round() diverge at .005
        (F.floor(F.col("purchase_value") * 100 + 0.5) / 100).alias("purchase_value"),
    )


def deduped_stream(events: DataFrame, key: str = "event_id", watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: drop duplicate keys across micro-batches
    within the watermark horizon. State holds one entry per key seen in
    the horizon — the streaming complement to the sink-side anti-join
    (which guards the TABLE; this guards the STREAM, e.g. against
    at-least-once sources double-delivering)."""
    return events.withWatermark("ts", watermark).dropDuplicates([key])


def quality_routed_stream(
    docs: DataFrame,
    weights: list[float],
    bias: float,
    threshold: float = 0.5,
    hash_fn=None,
) -> DataFrame:
    """Streaming corpus quality gate: the hashed-linear-classifier score
    (operators.classify, literal-array strategy) is a STATELESS projection
    — no aggregation, no watermark, no state store — so it composes with
    any streaming source at input rate. Adds ``score`` and a ``route``
    column ('keep'/'drop') for downstream routing."""
    from cashback_data_pipeline_spark.operators import classify

    scored = classify.score_with_weights_array(docs, weights, bias, hash_fn=hash_fn)
    return scored.withColumn(
        "route", F.when(F.col("score") >= threshold, "keep").otherwise("drop")
    )


def _write_epoch_partition(df: DataFrame, path: str, epoch_id: int) -> None:
    """Exactly-once micro-batch commit: write the batch under an
    ``__epoch=<id>`` partition with DYNAMIC partition overwrite, so a
    replayed epoch (restart after a partially-completed micro-batch)
    REPLACES its own partition instead of appending a second copy.
    Spark's checkpointed sources guarantee a replayed batch carries the
    same ``epoch_id`` and the same data, which makes this idempotent —
    the standard foreachBatch exactly-once recipe without a
    transactional table format. Readers see ``__epoch`` as an extra
    int partition column (provenance: which micro-batch wrote the row).

    Empty batches are skipped: partitionBy of zero rows writes no files
    (and could leave an unreadable footer-less directory on a fresh
    path), and a replayed epoch that is empty now was empty before."""
    if df.isEmpty():
        return
    (
        df.withColumn("__epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch")
        .parquet(path)
    )


def vacuum_run_partitions(
    out_path: str,
    keep_runs: list[str] | None = None,
    keep_last: int | None = None,
) -> list[str]:
    """Retention sweep for run-namespaced streaming sinks (VERDICT r6
    item 8): every stream restart under a new ``run_id`` accretes one
    ``__run=<id>`` partition tree on the routed-output sink, forever.
    Deletes whole retired run namespaces — either everything not in
    ``keep_runs`` (explicit incarnation list) or everything but the
    ``keep_last`` most-recently-written runs — and returns the removed
    paths. Exactly one selection mode must be given.

    Safe by construction: run trees are self-contained OUTPUT (routing
    decisions for that incarnation's consumers) — the dedup index keeps
    its own provenance in the manifest table, so deleting an old run's
    output can never flip a future routing decision; and
    :func:`read_epoch_table`'s partition discovery sees only the
    surviving ``__run=*/__epoch=*`` trees, so readers keep working with
    no layout migration. A flat (``__epoch=*``) sink is refused loudly —
    it has no run namespaces to retire (symmetric with
    :func:`_guard_run_layout`). Storage-agnostic via the manifest
    LogStore seam (works on ``scheme://`` sinks)."""
    from cashback_data_pipeline_spark.sinks.logstore import get_log_store

    if (keep_runs is None) == (keep_last is None):
        raise ValueError("pass exactly one of keep_runs= or keep_last=")
    store = get_log_store(out_path)
    try:
        names = store.list_names(out_path)
    except FileNotFoundError:
        return []
    if any(n.startswith("__epoch=") for n in names):
        raise ValueError(
            f"out sink {out_path} holds a flat __epoch layout — there are no "
            "run namespaces to retire (run retention is for __run=*/ sinks)"
        )
    runs = [n for n in names if n.startswith("__run=")]
    if keep_runs is not None:
        for r in keep_runs:
            _validate_run_id(r)
        keep = {f"__run={r}" for r in keep_runs}
    else:
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (a sink with zero runs is a delete)")
        by_age = sorted(runs, key=lambda n: store.mtime(store.join(out_path, n)))
        keep = set(by_age[len(by_age) - keep_last :])
    removed = []
    for n in runs:
        if n in keep:
            continue
        p = store.join(out_path, n)
        store.delete_recursive(p)
        removed.append(p)
    return removed


def read_epoch_table(spark: SparkSession, path: str) -> DataFrame:
    """Read an epoch-partitioned streaming sink (anything written by
    :func:`_write_epoch_partition`) as a plain table: partition pruning
    over ``__epoch`` (and ``__run``, for run-namespaced sinks) still
    applies upstream, the provenance columns just don't leak into the
    user schema."""
    return spark.read.parquet(path).drop("__epoch", "__run")


def _validate_run_id(run_id: str) -> None:
    """``run_id`` becomes a hive partition VALUE in the output path —
    path/partition metacharacters would corrupt the layout (``a/b``
    nests bogus directories, ``a=b`` parses as an extra partition) or
    let two ids collide/escape the namespace."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9._-]+", run_id or ""):
        raise ValueError(
            f"run_id {run_id!r} must be non-empty and contain only "
            "[A-Za-z0-9._-] (it becomes a hive partition value)"
        )


def _guard_run_layout(spark: SparkSession, out_path: str, run_id: str | None) -> None:
    """An out sink is EITHER flat (``__epoch=*`` at the top) or
    run-namespaced (``__run=*/__epoch=*``) — mixing depths makes Spark's
    partition discovery fail for every reader ('Conflicting directory
    structures'). Switching modes on an existing sink is exactly the
    upgrade a rebuilt checkpoint invites, so fail it loudly with the
    migration path instead of bricking the table."""
    from cashback_data_pipeline_spark.sinks.writers import _path_exists

    if not _path_exists(spark, out_path):
        return
    if "://" not in out_path:
        import glob as _glob

        has_flat = bool(_glob.glob(f"{out_path}/__epoch=*"))
        has_run = bool(_glob.glob(f"{out_path}/__run=*"))
    else:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()

        def _glob_any(pattern: str) -> bool:
            hpath = jvm.org.apache.hadoop.fs.Path(pattern)
            st = hpath.getFileSystem(hconf).globStatus(hpath)
            return st is not None and len(st) > 0

        has_flat = _glob_any(f"{out_path}/__epoch=*")
        has_run = _glob_any(f"{out_path}/__run=*")
    if run_id is not None and has_flat:
        raise ValueError(
            f"out sink {out_path} holds a flat __epoch layout; writing run_id="
            f"{run_id!r} would mix partition depths and break every reader. "
            "Use a fresh out_path for the run-namespaced sink (or move the "
            "existing data under __run=<old-id>/ first)."
        )
    if run_id is None and has_run:
        raise ValueError(
            f"out sink {out_path} is run-namespaced (__run=*); pass run_id= "
            "so this incarnation gets its own namespace instead of mixing "
            "partition depths."
        )


def route_batch_to_sinks(batch: DataFrame, epoch_id: int, keep_path: str, drop_path: str) -> None:
    """One routed micro-batch → two parquet sinks, exactly-once: each
    sink write lands in that epoch's ``__epoch=<id>`` partition via
    dynamic overwrite (see :func:`_write_epoch_partition`), so replaying
    the epoch after a crash between the keep and drop writes rewrites
    both partitions instead of duplicating rows. Exposed at module level
    so crash-replay tests can invoke the same code path foreachBatch runs."""
    batch.persist()
    try:
        _write_epoch_partition(batch.filter(F.col("route") == "keep").drop("route"), keep_path, epoch_id)
        _write_epoch_partition(batch.filter(F.col("route") == "drop").drop("route"), drop_path, epoch_id)
    finally:
        batch.unpersist()


def route_stream_to_sinks(scored: DataFrame, keep_path: str, drop_path: str, checkpoint: str):
    """foreachBatch fan-out of a routed stream to two parquet sinks.
    One source pass per micro-batch feeds both sinks (persist the batch;
    two filtered writes). Exactly-once under replay: each epoch commits
    by dynamically overwriting its own ``__epoch`` partition in both
    sinks (:func:`route_batch_to_sinks`), so a restart after a partially
    completed micro-batch replaces, never duplicates. Returns the
    DataStreamWriter (caller calls .start()/.trigger())."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        route_batch_to_sinks(batch, epoch_id, keep_path, drop_path)

    return scored.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)


def route_batch_to_manifest(
    batch: DataFrame, epoch_id: int, table: str, key: str | None = None
) -> bool:
    """One routed micro-batch → ONE manifest commit carrying both routes
    (``route`` stays as a column; readers filter). Strictly stronger
    guarantees than the epoch-partition sinks: the commit is ATOMIC and
    ALL-OR-NOTHING across keep and drop (a single version file makes
    both visible together — the partition-overwrite path has a window
    where keep is rewritten and drop is not), and replay detection is
    explicit: a replayed epoch is SKIPPED instead of rewritten (its
    crashed attempt either committed — then the data is already visible
    — or left only invisible orphan files for vacuum). Returns True if
    this call committed, False if the batch was already committed.

    Two replay-detection modes:

    - ``key=None`` (default): the O(1) epoch gate — each commit carries
      the running ``max_epoch`` in its meta, and a checkpointed stream's
      epoch ids are monotonically increasing, so ``epoch_id <=
      max_epoch`` ⟺ already committed. VALID ONLY WHILE THE CHECKPOINT
      LIVES: a rebuilt checkpoint restarts epoch ids at 0 and this gate
      would silently drop every new batch. Use it when the checkpoint
      directory is durable, or start a fresh table per checkpoint
      incarnation.
    - ``key=<id column>``: CONTENT-BASED — rows whose key already exists
      in the current version are dropped, the rest append (the
      manifest-committed NOT-EXISTS load). Survives rebuilt checkpoints
      and arbitrary epoch-id reuse; costs the anti-join instead of a
      metadata check."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    if key is not None:
        return M.append_table_if_absent(batch.sparkSession, batch, table, key=key) > 0

    # The epoch gate lives INSIDE the commit retry loop (ADVICE r8): a
    # check-then-act gate followed by write_table's own CAS loop lets a
    # concurrent/zombie driver of the same query commit this epoch
    # between the check and the CAS — the loser's retry would then
    # double-append the batch. Re-reading prev_max after every CAS loss
    # makes the gate and the commit one serialized decision (the
    # ManifestStreamWriter.commit discipline).
    files: list[str] | None = None
    schema_json = None
    while True:
        cur = M.current_version(table)
        # normally the latest manifest carries max_epoch (O(1)); the
        # shared walk skips interleaved non-epoch commits (compactions)
        # and tolerates a pruned manifest log
        prev = M.latest_meta_value(table, "max_epoch", cur)
        prev_max = -1 if prev is None else prev
        if epoch_id <= prev_max:
            # already committed (by this driver's crashed attempt or a
            # concurrent one); any files this attempt wrote are
            # unreferenced orphans — vacuum fodder, never visible
            return False
        m = M.read_manifest(table, cur) if cur is not None else None
        mapping = M._extend_mapping(M._mapping(m), batch.columns)
        if files is None:
            # CHECK constraints enforce on the foreachBatch streaming
            # path too (round 10): fail the micro-batch BEFORE writing —
            # the checkpoint replays it after the producer is fixed
            if M._identity(m):
                raise ValueError(
                    f"{table} declares identity column(s) "
                    f"{sorted(M._identity(m))}: the streaming routes cannot "
                    "allocate/advance ids — batch-load identity tables via "
                    "write_table/append_table_if_absent"
                )
            batch = M._apply_generated(batch, M._generated(m), "this micro-batch")
            M._check_constraints(batch, M._constraints(m), "this micro-batch")
            files = M._write_data_files(
                batch, table, mapping=mapping,
                partition_by=M._phys_partitioning(m),
            )
            used_mapping = mapping
            checked_cons = M._constraints(m)
        # the committed schema reconciles against THIS attempt's parent
        # (never narrows an evolved schema back — round-10 review)
        schema_json = (
            batch.schema.json() if m is None
            else M._reconcile_append_schema(m["schema"], batch.schema)
        )
        if M._constraints(m) != checked_cons:
            # a constraint landed between our check and this CAS attempt
            M._check_constraints(batch, M._constraints(m), "this micro-batch")
            checked_cons = M._constraints(m)
        if mapping != used_mapping:
            # a rename/drop landed between this batch's write and its
            # CAS — the written physical layout is stale; fail the
            # micro-batch (the checkpoint replays it against the new
            # mapping) rather than revert the rename
            raise RuntimeError(
                f"column mapping of {table} changed mid-commit; the replay "
                "will re-write this epoch under the new mapping"
            )
        base = m["files"] if m else []
        stats = dict((m or {}).get("stats") or {})
        if M._try_commit(
            table,
            (cur or 0) + 1,
            base + files,
            cur,
            schema_json,
            meta={"epoch": int(epoch_id), "max_epoch": max(int(epoch_id), prev_max)},
            stats=stats or None,
            bloom_conf=M._bloom_table_conf(m),
            dv_files=M._dv_set(m),
            operation="streaming_append",
            # the data files were written under the EXTENDED mapping
            # (new batch columns get identity entries); committing the
            # inherited parent mapping instead would leave those columns
            # unmapped — a later rename/drop rebuilds the mapping over
            # the schema and KeyErrors on them (ADVICE r9)
            column_mapping=used_mapping,
        ):
            return True
        # CAS lost — re-check the gate against the winner's version
        # before recommitting (data files are already on disk, write once)


def route_stream_to_manifest(scored: DataFrame, table: str, checkpoint: str, key: str | None = None):
    """foreachBatch → manifest-committed routed table (exactly-once with
    atomic cross-route visibility; see :func:`route_batch_to_manifest`,
    including the two replay-detection modes — pass ``key`` for
    rebuilt-checkpoint-safe content-based dedup). Readers:
    ``manifest.read_table(spark, table)`` then filter ``route``. Returns
    the DataStreamWriter (caller starts it)."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        route_batch_to_manifest(batch, epoch_id, table, key=key)

    return scored.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)


# micro-unit accumulator: each value quantized to 6 dp and summed as an
# integer DECIMAL — exact and ASSOCIATIVE, so per-epoch partials merge
# into the running view in any replay/re-plan order (the dsum2
# discipline from queries.py, stored at DECIMAL(28,0) so a 100 TB
# group's running total cannot overflow)
def _micro_sum(col: str):
    return F.sum(F.floor(F.col(col) * 1_000_000 + 0.5).cast("decimal(18,0)")).cast(
        "decimal(28,0)"
    )


def maintain_aggregate_batch(
    batch: DataFrame, epoch_id: int, table: str, keys: list[str], value_col: str
) -> bool:
    """ONE micro-batch applied to an INCREMENTALLY MAINTAINED aggregate
    view (the lakehouse materialized-view pattern): the batch collapses
    to per-key partials (count / exact micro-unit sum / min / max — all
    decomposable, so partial ⊕ running = running), which merge into the
    manifest-committed view by one full-outer join keyed on ``keys``.
    The view is GROUP-sized, not data-sized, so the overwrite commit
    rewrites #groups rows however large the stream history grows.

    Exactly-once: the same ``epoch``/``max_epoch`` gate as
    :func:`route_batch_to_manifest` — a replayed epoch is SKIPPED, so a
    crash between view-commit and checkpoint-advance cannot double-add
    a batch's partials (the failure additive maintenance is most
    vulnerable to). Returns True if this call committed."""
    spark = batch.sparkSession
    delta = batch.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        _micro_sum(value_col).alias("sum_micro"),
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )
    return _merge_aggregate_delta(spark, delta, epoch_id, table, keys)


def _merge_aggregate_delta(
    spark: SparkSession, delta: DataFrame, epoch_id: int, table: str, keys: list[str]
) -> bool:
    """Fold per-key partials into the maintained view under ONE
    serialized gate-and-commit loop (ADVICE r8): the epoch gate AND the
    merge base are re-resolved after every CAS loss, so a concurrent or
    zombie driver committing the same epoch (or any interleaved commit
    moving the view) can never cause a double-apply or a lost update —
    the losing attempt re-reads, re-gates, re-merges. Orphaned rewrite
    files from lost attempts are invisible (vacuum fodder)."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    while True:
        cur = M.current_version(table)
        prev = M.latest_meta_value(table, "max_epoch", cur)
        prev_max = -1 if prev is None else prev
        if epoch_id <= prev_max:
            return False
        merged = _merge_view(spark, delta, table, cur, keys)
        m_cur = M.read_manifest(table, cur) if cur is not None else None
        if M._identity(m_cur):
            raise ValueError(
                f"{table} declares identity column(s): the maintained-view "
                "fold cannot allocate/advance ids"
            )
        merged = M._apply_generated(merged, M._generated(m_cur), "the maintained view")
        M._check_constraints(merged, M._constraints(m_cur), "the maintained view")
        mapping = M._extend_mapping(M._mapping(m_cur), merged.columns)
        files = M._write_data_files(
            merged, table, mapping=mapping,
            partition_by=M._phys_partitioning(m_cur),
        )
        if M._try_commit(
            table,
            (cur or 0) + 1,
            files,
            cur,
            merged.schema.json(),
            meta={"epoch": int(epoch_id), "max_epoch": max(int(epoch_id), prev_max)},
            # carry the bloom table property and the EXTENDED mapping the
            # data files were written under — the first maintenance
            # commit must not silently drop either (ADVICE r9)
            bloom_conf=M._bloom_table_conf(m_cur),
            column_mapping=mapping,
            operation="overwrite",
        ):
            return True
        # CAS lost: the merge base at `cur` is stale — loop re-reads the
        # winner's view, re-checks the gate, and recomputes the merge


def _merge_view(
    spark: SparkSession, delta: DataFrame, table: str, cur: int | None, keys: list[str]
) -> DataFrame:
    from cashback_data_pipeline_spark.sinks import manifest as M

    if cur is not None:
        old = M.read_table(spark, table, cur)
        d = delta.select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            F.col("n").alias("__dn"),
            F.col("sum_micro").alias("__dsum"),
            F.col("min_value").alias("__dmin"),
            F.col("max_value").alias("__dmax"),
        )
        # NULL-SAFE key equality: groupBy treats NULL as a group, so the
        # merge must too — a plain equi-join would re-insert the NULL
        # group every epoch instead of accumulating it
        cond = None
        for k in keys:
            c = old[k].eqNullSafe(d[f"__k_{k}"])
            cond = c if cond is None else (cond & c)
        zero = F.lit(0).cast("decimal(28,0)")
        merged = old.join(d, on=cond, how="full_outer").select(
            *[F.coalesce(old[k], d[f"__k_{k}"]).alias(k) for k in keys],
            (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))).alias("n"),
            (
                F.coalesce(F.col("sum_micro"), zero) + F.coalesce(F.col("__dsum"), zero)
            ).cast("decimal(28,0)").alias("sum_micro"),
            # Spark least/greatest skip NULLs (a key present on only one
            # side of the outer join yields the side that exists)
            F.least(F.col("min_value"), F.col("__dmin")).alias("min_value"),
            F.greatest(F.col("max_value"), F.col("__dmax")).alias("max_value"),
        )
    else:
        merged = delta
    return merged


def maintain_aggregate_stream(
    events: DataFrame, table: str, checkpoint: str, keys: list[str], value_col: str
):
    """foreachBatch → incrementally maintained aggregate view (see
    :func:`maintain_aggregate_batch`). Returns the DataStreamWriter."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        maintain_aggregate_batch(batch, epoch_id, table, keys, value_col)

    return events.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)


def read_aggregate_view(spark: SparkSession, table: str) -> DataFrame:
    """The maintained view with the exact micro-unit accumulator
    rendered back to 2-dp money (``sum_value``) — the same IEEE op
    sequence as the batch ``dsum2`` twin, so a drained view hash-matches
    the one-shot batch aggregate."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    view = M.read_table(spark, table)
    money = F.floor(F.col("sum_micro").cast("double") / 10_000 + 0.5) / 100
    return view.select(
        *[c for c in view.columns if c not in ("sum_micro",)],
        money.alias("sum_value"),
    )


def index_ingest_stream(
    docs: DataFrame,
    table: str,
    checkpoint: str,
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming corpus → INCREMENTAL SEARCH INDEX: every micro-batch
    merges into the manifest-committed inverted index
    (retrieval.upsert_inverted_index) as one atomic delta commit, so the
    index is continuously queryable at full BM25 parity while the crawl
    streams in — the streaming composition of VERDICT r5 item 2.

    Exactly-once by CONTENT, not by epoch number: the doclens id
    anti-join drops redelivered docs, which holds across crash-replays
    AND a rebuilt checkpoint. The epoch id is deliberately NOT used as
    the commit's ``delta_id`` — a rebuilt checkpoint restarts epoch ids
    at 0, so ``delta_id="epoch-0"`` would match the metadata of the
    ORIGINAL epoch 0 and silently drop every new document delivered
    under the recycled id before the anti-join could run (the
    review-pass failure the near-dup path fixed the same way; a
    delta_id is the right tool for caller-owned batch identities like
    crawl ids, which never recycle). Readers are never torn — a search
    pins the version current when it starts. Returns the
    DataStreamWriter (caller sets trigger and starts)."""

    def write_batch(batch: DataFrame, epoch_id: int) -> None:
        index_ingest_batch(
            batch, epoch_id, table, n_term_buckets=n_term_buckets,
            id_col=id_col, text_col=text_col,
        )

    return docs.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint)


def index_ingest_batch(
    batch: DataFrame,
    epoch_id: int,
    table: str,
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One micro-batch of :func:`index_ingest_stream` (module-level so
    crash-replay tests drive the exact foreachBatch code path).
    ``epoch_id`` is accepted for the foreachBatch signature but is NOT a
    dedup key (see the stream docstring)."""
    from cashback_data_pipeline_spark.operators import retrieval
    from cashback_data_pipeline_spark.sinks import manifest as M

    if not batch.head(1):
        return
    if M.current_version(table) is None:
        retrieval.build_inverted_index_manifest(
            batch, table, n_term_buckets=n_term_buckets,
            id_col=id_col, text_col=text_col,
        )
    else:
        retrieval.upsert_inverted_index(batch, table)


def near_dup_ingest_stream(
    docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str | None = None,
):
    """Streaming NEAR-dup corpus ingestion: each micro-batch is screened
    against a persisted MinHash index of everything previously ingested —
    the streaming generalization of ``incremental_corpus_dedup`` (which
    is exact/batch) using the LSH machinery of operators.dedup.

    Per micro-batch (foreachBatch):

    1. signatures + band keys for the batch docs
       (dedup.minhash_signatures → hash per ``num_hashes/bands`` slice);
    2. candidates = batch bands ⋈ persisted band index (equi-join on
       (band, bh) — the persisted side holds only (id, band, bh) longs);
    3. verification WITHOUT original texts: the persisted (id, sig)
       store yields a signature-estimated Jaccard (mean of equal
       signature positions — the standard MinHash estimator, ±1/√k), so
       the historical corpus never retains payloads: the index is
       ~(bands+num_hashes) longs per document regardless of doc size;
    4. docs whose best estimate ≥ threshold route ``is_dup`` with
       ``dup_of`` = the matched historical id (lowest id tie-break);
       fresh docs append their bands + signatures to the index.

    Exactly-once under replay: (a) the routed output commits per epoch
    via dynamic ``__epoch`` partition overwrite
    (:func:`_write_epoch_partition`) — a replayed micro-batch rewrites
    its own partition instead of appending a second copy; (b) the index
    append is ONE atomic manifest commit covering bands AND sigs; (c)
    the candidate join excludes same-epoch ``old_id == id`` so a replay
    that already committed the batch's own docs to the index does not
    self-match every doc as a dup; (d) the index append anti-joins on id
    against the loaded history, so any replay — same epoch, changed
    epoch, or a REBUILT CHECKPOINT restarting epoch ids at 0 — cannot
    double-insert a doc's bands/sigs, and genuinely new docs arriving
    under a recycled epoch id still index normally (an epoch-number
    replay gate would silently skip them; deliberately not used).

    THE OUT SINK'S CONTRACT: ``__epoch`` dynamic overwrite is
    exactly-once only while the checkpoint lives — after a REBUILT
    checkpoint, a new batch under a recycled epoch id would overwrite
    the original epoch's routed rows (review-pass finding). Pass a
    fresh ``run_id`` per checkpoint incarnation and each run's output
    lands under its own ``__run=<id>`` partition: recycled epoch ids
    can no longer clobber a previous run, replays within a run stay
    idempotent, and readers see ``__run`` as one more provenance
    partition column. The INDEX needs no such namespace — its dedup is
    content-based (id anti-join).

    Batch order is the dedup order (micro-batch boundaries decide who is
    "first"); within a batch, lower ids win against the in-batch index
    the same way. Returns the DataStreamWriter (caller sets trigger)."""

    def process_batch(batch: DataFrame, epoch_id: int) -> None:
        near_dup_ingest_batch(
            batch,
            epoch_id,
            index_path=index_path,
            out_path=out_path,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            n=n,
            id_col=id_col,
            text_col=text_col,
            run_id=run_id,
        )

    return docs.writeStream.foreachBatch(process_batch).option("checkpointLocation", checkpoint)


def _migrate_legacy_near_dup_index(spark: SparkSession, index_path: str) -> int | None:
    """One-time upgrade of a pre-manifest near-dup index (epoch-partition
    layout: ``<index>/bands`` + ``<index>/sigs`` parquet dirs) to the
    manifest table the ingest path now requires. Handles BOTH prior
    on-disk generations: files written before ``src_epoch`` existed get
    it backfilled as -1 (a value no live epoch can carry, so a backfilled
    row can never be mistaken for a replay self-match — ADVICE r5,
    jobs.py:570), and mixed directories (old files without the column
    next to newer files with it) read under ``mergeSchema`` so neither
    generation's rows are dropped. Returns the committed version (1),
    or None when there is no legacy index to migrate."""
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.sinks.writers import _path_exists

    if not (
        _path_exists(spark, f"{index_path}/bands") and _path_exists(spark, f"{index_path}/sigs")
    ):
        return None
    cid = M.new_commit_id()
    files: list[str] = []
    schemas: dict[str, str] = {}
    store_schemas: dict = {}
    for store in ("bands", "sigs"):
        df = spark.read.option("mergeSchema", "true").parquet(f"{index_path}/{store}")
        if "src_epoch" in df.columns:
            df = df.withColumn(
                "src_epoch", F.coalesce(F.col("src_epoch").cast("int"), F.lit(-1))
            )
        else:
            df = df.withColumn("src_epoch", F.lit(-1))
        # pre-upgrade rows belong to the default ("") run namespace
        if "src_run" not in df.columns:
            df = df.withColumn("src_run", F.lit(""))
        files += M.write_store_files(
            df.drop("__epoch"), index_path, cid, store, schemas=store_schemas
        )
        schemas[store] = df.drop("__epoch").schema.json()
    # the manifest `schema` field means the BANDS store for this table —
    # every commit site (ingest append, compaction, migration) agrees
    meta = M.with_store_schemas({"migrated": True}, None, files, store_schemas)
    if not M._try_commit(index_path, 1, files, None, schemas["bands"], meta=meta):
        return M.current_version(index_path)  # a racing migrator won — use its commit
    from cashback_data_pipeline_spark.sinks.logstore import get_log_store

    log_store = get_log_store(index_path)
    for store in ("bands", "sigs"):
        # the legacy dirs are fully captured by v1; removing them makes
        # the migration single-shot (their presence is the trigger)
        try:
            log_store.delete_recursive(f"{index_path}/{store}")
        except Exception:
            pass  # best-effort cleanup; v1's existence already disarms the trigger
    return 1


def compact_near_dup_index(spark: SparkSession, index_path: str, n_files: int = 8) -> int | None:
    """Periodic maintenance for the streaming near-dup index: thousands
    of micro-batches leave thousands of tiny per-epoch files in
    bands/sigs, and the per-batch history read pays file-open overhead
    proportional to epoch count. Rewrites both stores into ``n_files``
    files as ONE new manifest version (VERDICT r5 item 5): readers and
    in-flight micro-batches stay pinned to the version they resolved —
    compaction can run CONCURRENTLY with ingest (the old swap-based
    compactor required pause/compact/resume and a torn-swap tripwire
    with manual recovery; a crash mid-compaction now just leaves
    unreferenced files for vacuum and NO new version, nothing to
    recover). On CAS loss (an ingest epoch committed meanwhile) the
    compaction retries against the new current version. Returns the
    committed version, or None for a missing/empty index."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    if M.current_version(index_path) is None:
        if _migrate_legacy_near_dup_index(spark, index_path) is None:
            return None
    while True:
        cur = M.current_version(index_path)
        m = M.read_manifest(index_path, cur)
        cid = M.new_commit_id()
        files: list[str] = []
        schemas: dict[str, str] = {}
        store_schemas: dict = {}
        for store in ("bands", "sigs"):
            # mergeSchema, mirroring the ingest's enforced-schema read
            # (ADVICE r6, jobs.py:645): on a mixed-generation index
            # (pre-src_run commits next to newer ones) single-file
            # schema sampling could silently DROP the provenance
            # columns from the compacted snapshot, after which the
            # (src_run, src_epoch) replay guard misroutes a replayed
            # batch's own docs as dups. Backfilling the sentinel
            # values (-1 / "") also means post-compaction rows can
            # never carry NULL provenance into the screening filter.
            snapshot = M.read_store(spark, index_path, store, version=cur, merge_schema=True)
            for pcol, default, ptype in (("src_epoch", -1, "int"), ("src_run", "", "string")):
                if pcol in snapshot.columns:
                    snapshot = snapshot.withColumn(
                        pcol, F.coalesce(F.col(pcol).cast(ptype), F.lit(default).cast(ptype))
                    )
                else:
                    snapshot = snapshot.withColumn(pcol, F.lit(default).cast(ptype))
            files += M.write_store_files(
                snapshot.coalesce(n_files), index_path, cid, store, schemas=store_schemas
            )
            schemas[store] = snapshot.schema.json()
        meta = M.with_store_schemas({"compaction": True}, m, files, store_schemas)
        # manifest `schema` = the bands store, same as every other commit site
        if M._try_commit(index_path, cur + 1, files, cur, schemas["bands"], meta=meta):
            return cur + 1


def near_dup_ingest_batch(
    batch: DataFrame,
    epoch_id: int,
    index_path: str,
    out_path: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    run_id: str | None = None,
) -> None:
    """One micro-batch of :func:`near_dup_ingest_stream` (module-level so
    crash-replay tests drive the exact code path foreachBatch runs —
    calling it twice with the same ``epoch_id`` must leave output, index,
    and routing byte-identical to calling it once).

    The index is a MANIFEST table with two stores (bands, sigs;
    sinks/manifest.py): the history read resolves one pinned version (a
    concurrent compaction or another writer's commit cannot tear it),
    and this batch's index append is ONE atomic commit covering both
    stores — the old epoch-partition layout had a crash window between
    the bands and sigs writes and needed a torn-compaction tripwire with
    manual recovery; both are gone. A pre-manifest index on disk is
    auto-migrated (src_epoch backfilled as -1 for pre-upgrade rows — see
    :func:`_migrate_legacy_near_dup_index`)."""
    from cashback_data_pipeline_spark.operators import dedup as D
    from cashback_data_pipeline_spark.sinks import manifest as M

    if not batch.head(1):
        return
    spark = batch.sparkSession
    if run_id is not None:
        _validate_run_id(run_id)
    _guard_run_layout(spark, out_path, run_id)
    rows_per_band = num_hashes // bands

    if M.current_version(index_path) is None:
        _migrate_legacy_near_dup_index(spark, index_path)

    def band_keys(sig_df: DataFrame) -> DataFrame:
        band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
        return sig_df.select(
            "id",
            F.explode(
                F.transform(
                    band_idx,
                    lambda bi: F.struct(
                        bi.alias("band"),
                        F.hash(F.slice("sig", bi * rows_per_band + 1, rows_per_band)).alias("bh"),
                    ),
                )
            ).alias("b"),
        ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))

    def est_jaccard(a: str, b: str):
        return F.aggregate(
            F.zip_with(F.col(a), F.col(b), lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ) / F.lit(num_hashes)

    # persist (NOT localCheckpoint) the per-batch relations: persist
    # gives DataFrame-scoped unpersist handles, so the finally releases
    # exactly this batch's blocks — a global persistent-RDD diff could
    # race a concurrent query on the same session and unpersist ITS
    # checkpoint blocks (unrecoverable: truncated lineage). Lineage here
    # is one micro-batch deep, so truncation isn't needed.
    keep: list[DataFrame] = []
    sigs = D.minhash_signatures(batch, id_col, text_col, num_hashes, n).persist()
    bks = band_keys(sigs).persist()
    keep += [sigs, bks]

    # Resolve the index ONCE: `cur` pins the exact file set every read
    # below sees (screening and the append's anti-join use one coherent
    # snapshot even if a concurrent compaction commits mid-batch). A
    # read failure FAILS the micro-batch (checkpoint replays it) rather
    # than silently skipping history screening and admitting duplicates.
    cur = M.current_version(index_path)
    cur_run = run_id or ""
    # history reads ENFORCE the expected schema (current relations +
    # provenance columns): a store whose files span schema generations
    # (pre-src_run commits next to newer ones) must read the evolved
    # column as per-file NULLs deterministically, not
    # present-or-absent depending on which file Spark sampled
    bands_hist_schema = T.StructType(
        list(bks.schema.fields)
        + [T.StructField("src_epoch", T.IntegerType()), T.StructField("src_run", T.StringType())]
    )
    sigs_hist_schema = T.StructType(
        list(sigs.schema.fields)
        + [T.StructField("src_epoch", T.IntegerType()), T.StructField("src_run", T.StringType())]
    )
    hist_ids = None
    matches = None
    if cur is not None:
        hist_bands = M.read_store(
            spark, index_path, "bands", version=cur, schema=bands_hist_schema, apply_schema=True
        )
        hist_sigs = M.read_store(
            spark, index_path, "sigs", version=cur, schema=sigs_hist_schema, apply_schema=True
        )
        hist_ids = hist_sigs.select("id")
        cand = (
            bks.join(
                hist_bands.select(
                    F.col("id").alias("old_id"),
                    "band",
                    "bh",
                    "src_epoch",
                    # pre-src_run rows belong to the default ("") namespace
                    F.coalesce("src_run", F.lit("")).alias("src_run"),
                ),
                ["band", "bh"],
            )
            # replay guard, RUN+EPOCH-scoped via (src_run, src_epoch) —
            # the ORIGIN incarnation and micro-batch, carried as data
            # columns so index compaction preserves them (__epoch is only
            # the commit vehicle): the crashed first attempt may have
            # indexed this very batch under THIS (run, epoch) — that
            # self-match is a replay artifact and must be excluded, even
            # if a compaction ran between crash and replay. A self-match
            # from ANY OTHER (run, epoch) is a genuine redelivery of an
            # already-ingested doc — including a rebuilt checkpoint
            # re-reading the source under a RECYCLED epoch number (the
            # review-pass escape: epoch-only scoping let runB's epoch 0
            # redeliveries of runA's epoch-0 docs route fresh again) —
            # and must still route is_dup so the out sink never
            # accumulates two fresh rows for one doc.
            .filter(
                ~(
                    (F.col("old_id") == F.col("id"))
                    & (F.col("src_epoch") == F.lit(int(epoch_id)))
                    & (F.col("src_run") == F.lit(cur_run))
                )
            )
            .select("id", "old_id")
            .distinct()
        )
        matches = (
            cand.join(hist_sigs.select(F.col("id").alias("old_id"), F.col("sig").alias("old_sig")), "old_id")
            .join(sigs.select("id", F.col("sig").alias("new_sig")), "id")
            .withColumn("est_j", est_jaccard("new_sig", "old_sig"))
            .filter(F.col("est_j") >= threshold)
            .groupBy("id")
            .agg(F.min("old_id").alias("dup_of"), F.max("est_j").alias("est_jaccard"))
        )
    # in-batch dedup: lower id wins (same LSH + estimator, batch vs itself)
    in_batch = (
        bks.alias("l")
        .join(bks.alias("r"), (F.col("l.band") == F.col("r.band")) & (F.col("l.bh") == F.col("r.bh")) & (F.col("l.id") > F.col("r.id")))
        .select(F.col("l.id").alias("id"), F.col("r.id").alias("old_id"))
        .distinct()
        .join(sigs.select(F.col("id").alias("old_id"), F.col("sig").alias("old_sig")), "old_id")
        .join(sigs.select("id", F.col("sig").alias("new_sig")), "id")
        .withColumn("est_j", est_jaccard("new_sig", "old_sig"))
        .filter(F.col("est_j") >= threshold)
        .groupBy("id")
        .agg(F.min("old_id").alias("dup_of"), F.max("est_j").alias("est_jaccard"))
    )
    all_matches = in_batch if matches is None else matches.unionByName(in_batch).groupBy("id").agg(
        F.min("dup_of").alias("dup_of"), F.max("est_jaccard").alias("est_jaccard")
    )
    # in-batch transitivity: only match against docs that are themselves
    # fresh is NOT enforced (a dup-of-a-dup maps to its earliest sighting
    # via min(dup_of) — adequate for routing; exact clustering is the
    # batch dedup_clusters job)
    routed = (
        batch.join(all_matches.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn("is_dup", F.col("dup_of").isNotNull())
    )
    routed.persist()
    try:
        # per-run namespace (see the stream docstring): a rebuilt
        # checkpoint's recycled epoch ids land in their own __run
        # partition instead of overwriting a previous run's rows
        out_dir = out_path if run_id is None else f"{out_path}/__run={run_id}"
        _write_epoch_partition(routed, out_dir, epoch_id)
        # NO epoch-number replay gate here: a rebuilt checkpoint restarts
        # epoch ids at 0 while the index's max_epoch stays high, and an
        # `epoch_id <= max_epoch` skip would then silently stop indexing
        # every NEW document (routed but never screened against later) —
        # the review-pass failure scenario. Exactly-once for the index
        # rests on the id anti-join below (a crashed attempt that already
        # committed leaves fresh_ids empty → no second commit) plus the
        # src_epoch self-match exclusion in the screening join.
        fresh_ids = routed.filter(~F.col("is_dup")).select(F.col(id_col).alias("id"))
        if hist_ids is not None:
            # belt-and-braces idempotence: never re-insert an already-indexed
            # id, even if a replay arrived under a different epoch
            fresh_ids = fresh_ids.join(hist_ids, "id", "left_anti")
        fresh_ids.persist()
        keep.append(fresh_ids)
        if not fresh_ids.head(1):
            return  # all-dup batch: nothing to index, no version churn
        src = F.lit(int(epoch_id)).alias("src_epoch")
        srun = F.lit(cur_run).alias("src_run")
        new_bands = bks.join(fresh_ids, "id", "leftsemi").select("*", src, srun)
        new_sigs = sigs.join(fresh_ids, "id", "leftsemi").select("*", src, srun)
        # ONE atomic commit appends both stores; the CAS loop re-reads
        # the current version on loss — data files land once per
        # screening generation, only the commit retries. When the loss
        # is to a version OTHER than the one this batch screened
        # against (a racing ingest writer sharing the index, not just a
        # compaction), the id anti-join is RE-RUN against the winner's
        # sigs and the delta files rewritten (ADVICE r6, jobs.py:860):
        # without that, two concurrent writers could both commit
        # bands/sigs for the same doc id — a permanent duplicate index
        # entry. Mirrors append_table_if_absent, which recomputes its
        # anti-join on CAS loss. Orphaned prior deltas → vacuum.
        cid = M.new_commit_id()
        store_schemas: dict = {}
        files = M.write_store_files(new_bands, index_path, cid, "bands", schemas=store_schemas)
        files += M.write_store_files(new_sigs, index_path, cid, "sigs", schemas=store_schemas)
        screened = cur
        while True:
            cur2 = M.current_version(index_path)
            if cur2 is not None and cur2 != screened:
                winner_ids = (
                    M.read_store(
                        spark,
                        index_path,
                        "sigs",
                        version=cur2,
                        schema=sigs_hist_schema,
                        apply_schema=True,
                    )
                    .select("id")
                    .distinct()
                )
                new_bands = new_bands.join(winner_ids, "id", "left_anti")
                new_sigs = new_sigs.join(winner_ids, "id", "left_anti")
                screened = cur2
                if not new_sigs.head(1):
                    return  # every remaining doc already indexed by the winner
                cid = M.new_commit_id()
                files = M.write_store_files(
                    new_bands, index_path, cid, "bands", schemas=store_schemas
                )
                files += M.write_store_files(
                    new_sigs, index_path, cid, "sigs", schemas=store_schemas
                )
                continue  # re-resolve before committing against cur2
            m2 = M.read_manifest(index_path, cur2) if cur2 is not None else None
            all_files = (m2["files"] if m2 else []) + files
            # meta epoch is PROVENANCE only (which micro-batch committed
            # this version) — never a dedup decision: idempotence rests
            # on the id anti-join, which survives rebuilt checkpoints
            meta = M.with_store_schemas({"epoch": int(epoch_id)}, m2, all_files, store_schemas)
            if M._try_commit(
                index_path,
                (cur2 or 0) + 1,
                all_files,
                cur2,
                new_bands.schema.json(),
                meta=meta,
            ):
                break
    finally:
        routed.unpersist()
        for df_ in keep:
            df_.unpersist()
