"""Structured-Streaming source over a manifest table's change feed.

The manifest layer (sinks/manifest.py) gives batch consumers an
incremental read — ``read_changes`` / ``read_changes_rows`` — but a
streaming job that wants "every row committed to this table, exactly
once, as it lands" previously had to hand-roll the version cursor. This
module closes that gap the idiomatic PySpark-4 way: a **Python
DataSource** (``pyspark.sql.datasource``) whose stream reader treats the
manifest VERSION as the offset, so Spark's own checkpointing provides
the exactly-once cursor — the Delta "stream from a table" shape
(public design: Delta's DeltaSource reads the transaction log as an
offset sequence; the reference itself has no streaming at all,
SURVEY §2.10).

Semantics:

- **Offset** = ``{"version": N}`` — monotone, JSON-checkpointable.
  ``startingVersion`` (default 0) makes the first batch replay the whole
  table; pass the current version to tail only new commits, or
  ``startingTimestamp`` (epoch seconds, Delta's option pair) to start
  from the version visible at that instant (manifest.version_at).
- **A micro-batch** covers manifest versions ``(start, end]``. Each
  ADDED data file becomes one :class:`InputPartition`, so executors read
  files in parallel and a batch's parallelism scales with the commit's
  file count, not with 1.
- **Rewrites** (upsert/compaction/overwrite — a commit that REMOVES
  files) make the file diff unequal to the row diff, exactly as in
  ``read_changes``. Default: raise, telling the consumer to restart from
  a snapshot. With ``skipChangeCommits=true`` (Delta's option name and
  semantics) rewrite commits are skipped ENTIRELY — append-only commits
  in the same window still flow.
- **Schema** is pinned at query start from the table's CURRENT manifest,
  and so is the COLUMN MAPPING (logical→physical names, VERDICT r8 item
  3): a rename mid-stream is a metadata-only commit — physical file
  names never change — so the stream keeps flowing under the names it
  started with instead of failing (the Delta column-mapping stream
  semantic). Files from older commits with a prefix of today's columns
  are null-filled to the pinned schema (additive evolution); on an
  UNMAPPED table a file carrying a column the pinned schema lacks still
  fails loudly — widening mid-stream needs a restart — while a mapped
  table simply never projects unresolved physicals (a dropped column's
  data stays in old files forever).
- ``maxVersionsPerTrigger`` bounds how many commits one micro-batch
  drains; ``maxFilesPerTrigger`` (Delta's option, round 9) bounds the
  ADDED FILES instead — the real backlog unit at scale, where one
  commit may add 1 file or 10⁴ (the clamp walks action records, O(1)
  per version, and always advances at least one version so a jumbo
  commit still drains, just alone; both clamps compose, tighter wins).
  Best-effort on PROCESSING-TIME triggers, and they engage from a
  run's SECOND trigger: the first ``latestOffset`` arrives before the
  reader can learn a restarted query's checkpointed offset, and
  clamping it against ``startingVersion`` would hand Spark an offset
  BELOW the checkpoint — re-delivering old versions. The first batch
  of a run is therefore unclamped (``availableNow``, which plans
  against one latestOffset call, drains in one batch for the same
  reason).

Worker-side reads go through pyarrow (the Python DataSource contract —
``read`` yields Arrow record batches, Spark's vectorized path). Plain
local paths and ``file://`` URIs are supported in this environment;
object-store table roots would plug in via pyarrow's native filesystems
at the single marked seam (:func:`_open_parquet`).

At 100 TB this is the right shape: per trigger the driver touches only
O(#versions in window) small JSON manifests, workers read only the
files those commits added, and state is one integer in the checkpoint.
"""

from __future__ import annotations

import json
from typing import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from cashback_data_pipeline_spark.sinks import manifest as mf

FORMAT_NAME = "manifest_changes"


def _local_path(p: str) -> str:
    """Map a table-root-joined path to something pyarrow can open.

    The seam for remote stores: ``file://`` URIs are stripped to plain
    paths; an ``s3://``-class URI would return a pyarrow-FS handle here.
    """
    if p.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(p).path
    if "://" in p:
        raise NotImplementedError(
            f"manifest_changes worker reads use pyarrow; wire a pyarrow "
            f"filesystem for {p.split('://', 1)[0]}:// table roots here"
        )
    return p


def _normalize_table(table: str) -> str:
    """The source's offset/planning methods run in Spark's Python
    data-source worker — a process with NO JVM, so the Hadoop-backed
    LogStore a ``file://`` root would normally resolve to cannot exist
    there. A file: URI is the same bytes as its plain path, so normalize
    it up front and let the pure-Python LocalLogStore serve the log
    (data correctness is unaffected: the manifest JSON and parquet files
    are store-independent). True remote schemes keep their URI and fail
    with the pyarrow-filesystem seam note above."""
    if table.startswith("file:"):
        from urllib.parse import urlparse

        return urlparse(table).path or table
    return table


class ManifestFilePartition(InputPartition):
    """One added data file (absolute path) + the pinned reader schema +
    the pinned logical→physical column mapping (empty for unmapped
    tables: physical names == logical names)."""

    def __init__(self, path: str, schema_json: str, mapping: dict | None = None):
        self.path = path
        self.schema_json = schema_json
        self.mapping = mapping or {}


class ManifestChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict):
        self._schema = schema
        self._schema_json = schema.json()
        self._table = _normalize_table(options.get("path") or options.get("table") or "")
        if not self._table:
            raise ValueError("manifest_changes needs .option('path', <table root>)")
        ts = options.get("startingtimestamp", options.get("startingTimestamp"))
        if ts is not None and ("startingversion" in options or "startingVersion" in options):
            raise ValueError("pass startingVersion or startingTimestamp, not both")
        if ts is not None:
            # time-travel start (manifest.version_at): the first batch
            # replays everything committed AFTER this instant
            self._starting = mf.version_at(self._table, float(ts))
        else:
            self._starting = int(options.get("startingversion", options.get("startingVersion", 0)))
        self._skip_change = str(
            options.get("skipchangecommits", options.get("skipChangeCommits", "false"))
        ).lower() in ("true", "1", "yes")
        self._max_versions = int(options.get("maxversionspertrigger", 0)) or None
        self._max_files = int(options.get("maxfilespertrigger", 0)) or None
        self._anchor: int | None = None  # last end version Spark finished or planned
        # the logical→physical column mapping, PINNED at query start
        # like the schema: a rename mid-stream is a metadata-only commit
        # (physical file names never change), so the stream keeps
        # flowing under the names it started with — the Delta
        # column-mapping stream semantic
        cur = mf.current_version(self._table)
        self._column_mapping = (
            (mf.read_manifest(self._table, cur).get("column_mapping") or {})
            if cur is not None
            else {}
        )

    # -- offsets ---------------------------------------------------------
    def initialOffset(self) -> dict:
        self._anchor = self._starting
        return {"version": self._starting}

    def latestOffset(self) -> dict:
        cur = mf.current_version(self._table)
        if cur is None:
            raise FileNotFoundError(f"no committed version in {self._table}")
        # rate-limit clamp ONLY once an anchor is known from this run's
        # partitions()/commit() calls. On a checkpoint RESTART the first
        # latestOffset arrives before any of those, and clamping against
        # startingVersion would return an offset BELOW the checkpointed
        # one — Spark would then re-plan already-delivered versions
        # (duplicate rows). Unclamped-first-batch is the safe direction.
        if self._max_versions and self._anchor is not None:
            cur = min(cur, self._anchor + self._max_versions)
        if self._max_files and self._anchor is not None and cur > self._anchor:
            # clamp by ADDED FILES (Delta's maxFilesPerTrigger — the real
            # backlog unit at scale: one commit may add 1 file or 10⁴).
            # Each step reads ONE action record (O(1) since the format-2
            # log); the window always advances at least one version, so
            # a single jumbo commit still drains — just alone.
            budget = self._max_files
            v = self._anchor
            while v < cur:
                budget -= len(mf.version_changes(self._table, v + 1)["added"])
                if budget < 0 and v > self._anchor:
                    break
                v += 1
            cur = v
        self._anchor = max(cur, self._anchor or 0)
        return {"version": cur}

    def commit(self, end: dict) -> None:
        self._anchor = max(self._anchor or 0, int(end["version"]))

    # -- planning (driver) -------------------------------------------------
    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        start_v, end_v = int(start["version"]), int(end["version"])
        # a restarted query replays its pending batch through here before
        # any commit() — learn the true progress so the clamp never
        # regresses below the checkpointed offsets
        self._anchor = max(self._anchor or 0, end_v)
        store = mf.get_log_store(self._table)
        added = mf._appended_files(
            self._table, start_v, end_v, None if self._skip_change else self._refuse
        )
        return [
            ManifestFilePartition(
                store.join(self._table, f), self._schema_json, self._column_mapping
            )
            for f in added
        ]

    def _refuse(self, v: int, delta: dict) -> None:
        what = (
            f"removed {len(delta['removed'])} file(s) "
            "(upsert/compaction/overwrite)"
            if delta["removed"]
            else "changed its deletion vectors (merge-on-read DELETE)"
        )
        raise ValueError(
            f"{self._table} v{v} {what}: the file diff is not the row "
            "diff. Restart the stream from a snapshot, or set "
            ".option('skipChangeCommits', 'true') to skip change commits."
        )

    # -- execution (workers) -----------------------------------------------
    def read(self, partition: ManifestFilePartition) -> Iterator:
        yield from _read_file_partition(partition)


def _read_file_partition(partition: ManifestFilePartition | None) -> Iterator:
    """Worker-side Arrow read of one added file under the pinned schema
    + column mapping — shared by the stream reader and the batch window
    reader. ``None`` is what Spark hands the reader when ``partitions()``
    returned none (a window that adds no files): it reads nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    if partition is None:
        return
    target = to_arrow_schema(T.StructType.fromJson(json.loads(partition.schema_json)))
    mapping = getattr(partition, "mapping", {}) or {}
    phys_of = {n: mapping.get(n, n) for n in target.names}
    pf = pq.ParquetFile(_local_path(partition.path))
    file_cols = set(pf.schema_arrow.names)
    # files store PHYSICAL names. On an UNMAPPED table an unresolved
    # file column means the schema widened after the stream started
    # — fail loudly (restart picks it up). On a MAPPED table,
    # unresolved physicals are expected (a dropped column's data
    # stays in old files forever) and are simply never projected.
    if not mapping:
        extra = file_cols - set(phys_of.values())
        if extra:
            raise ValueError(
                f"{partition.path} carries column(s) {sorted(extra)} absent from "
                "the pinned stream schema; restart the stream to pick up the "
                "new schema"
            )
    # hive-layout partition values live in the PATH, not the file (the
    # manifest partition_by layout) — the same segments read_table
    # recovers from _metadata.file_path
    from urllib.parse import unquote

    path_vals: dict[str, str | None] = {}
    for seg in partition.path.replace("\\", "/").split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            path_vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    for batch in pf.iter_batches():
        tbl = pa.Table.from_batches([batch])
        n = len(tbl)
        arrays = []
        for field in target:
            phys = phys_of[field.name]
            if phys in file_cols:
                arrays.append(tbl.column(phys).cast(field.type))
            elif path_vals.get(phys) is not None:
                const = pa.scalar(path_vals[phys], type=pa.string())
                arrays.append(
                    pa.chunked_array([pa.nulls(n, type=pa.string()).fill_null(const)]).cast(
                        field.type
                    )
                )
            else:
                arrays.append(pa.nulls(n, type=field.type))
        for out in pa.Table.from_arrays(arrays, schema=target).to_batches():
            yield out


class ManifestChangesBatchReader(DataSourceReader):
    """BATCH read of the change feed — ``spark.read.format(
    "manifest_changes").option("startingVersion", a)[.option(
    "endingVersion", b)].load(table)``: the rows commits in the
    append-only window ``(a, b]`` added (b defaults to current), the
    Delta ``table_changes`` batch shape beside the streaming tail. A
    rewrite/DV change inside the window raises exactly like
    ``read_changes`` (the file diff is not the row diff) unless
    ``skipChangeCommits=true`` skips those commits. Schema + mapping
    pin at the window END, so the batch answers under that version's
    own names; per-added-file partitions, same worker read path as the
    stream."""

    def __init__(self, options: dict):
        self._table = _normalize_table(
            options.get("path") or options.get("table") or ""
        )
        if not self._table:
            raise ValueError("manifest_changes needs .load(<table root>)")
        start = options.get("startingversion", options.get("startingVersion"))
        if start is None:
            raise ValueError(
                "batch manifest_changes needs .option('startingVersion', n) "
                "(exclusive window start; 0 = the whole table)"
            )
        self._start = int(start)
        end = options.get("endingversion", options.get("endingVersion"))
        self._end = int(end) if end is not None else _required_current(self._table)
        self._skip_change = str(
            options.get("skipchangecommits", options.get("skipChangeCommits", "false"))
        ).lower() in ("true", "1", "yes")

    def partitions(self) -> Sequence[InputPartition]:
        if self._start > self._end:
            raise ValueError(f"startingVersion {self._start} > endingVersion {self._end}")
        m_end = mf.read_manifest(self._table, self._end)
        store = mf.get_log_store(self._table)
        added = mf._appended_files(
            self._table, self._start, self._end, None if self._skip_change else self._refuse
        )
        mapping = mf._mapping(m_end) or {}
        return [
            ManifestFilePartition(store.join(self._table, f), m_end["schema"], mapping)
            for f in added
        ]

    def _refuse(self, v: int, delta: dict) -> None:
        raise ValueError(
            f"{self._table} v{v} rewrote files or changed deletion "
            "vectors: the file diff is not the row diff. Use "
            "read_changes_rows(key=...) for a keyed diff, or "
            ".option('skipChangeCommits', 'true')."
        )

    def read(self, partition: ManifestFilePartition) -> Iterator:
        yield from _read_file_partition(partition)


def _required_current(table: str) -> int:
    cur = mf.current_version(table)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table}")
    return cur


class ManifestChangesDataSource(DataSource):
    """``spark.readStream.format("manifest_changes").option("path", table)``
    (streaming tail) and ``spark.read.format("manifest_changes")``
    (batch window — :class:`ManifestChangesBatchReader`).

    Register once per session with :func:`register`.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:
        table = _normalize_table(self.options.get("path") or self.options.get("table") or "")
        if not table:
            raise ValueError("manifest_changes needs .option('path', <table root>)")
        end = self.options.get("endingversion", self.options.get("endingVersion"))
        v = int(end) if end is not None else _required_current(table)
        pinned = T.StructType.fromJson(json.loads(mf.read_manifest(table, v)["schema"]))
        # all-nullable, like Spark's own file sources: older commits in an
        # evolved history are null-filled for late-added columns, so a
        # non-null marking from one writer's literal would be a lie here
        return T.StructType(
            [T.StructField(f.name, f.dataType, True, f.metadata) for f in pinned.fields]
        )

    def streamReader(self, schema: T.StructType) -> ManifestChangesStreamReader:
        return ManifestChangesStreamReader(schema, dict(self.options))

    def reader(self, schema: T.StructType) -> ManifestChangesBatchReader:
        return ManifestChangesBatchReader(dict(self.options))


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(ManifestChangesDataSource)


def read_manifest_stream(spark, table: str, **options):
    """Convenience: a streaming DataFrame of ``table``'s change feed."""
    register(spark)
    reader = spark.readStream.format(FORMAT_NAME).option("path", table)
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
