"""Structured-Streaming SINK into manifest tables — a PySpark 4 Python
DataSource (``writeStream.format("manifest")``).

The foreachBatch route (:func:`streaming.jobs.route_stream_to_manifest`)
already gives exactly-once manifest commits, but it is a workaround
shape: the user writes a callback, and Spark sees an opaque sink. This
module makes the manifest table a FIRST-CLASS streaming sink with the
same guarantees, via the Python DataSource write protocol's two-phase
commit:

- **Phase 1 (executors)**: each task streams its Arrow batches straight
  into ONE parquet file under its own immutable ``data/<uuid>/`` dir —
  written but INVISIBLE (no manifest references it). The task returns
  the file's table-relative path, row count, and per-column footer-style
  stats hook as its commit message. A failed/speculated task leaves only
  unreferenced files, which ``vacuum`` sweeps by age.
- **Phase 2 (driver-side commit)**: ``commit(messages, batchId)``
  publishes ONE manifest version referencing exactly the files the
  successful tasks reported, carrying the epoch-gate meta
  (``epoch``/``max_epoch`` — the same convention as
  ``route_batch_to_manifest``, so readers and tools compose). A REPLAYED
  micro-batch (restart after a crash between sink-commit and checkpoint
  advance) is detected by ``batchId <= max_epoch`` and SKIPPED — its
  just-written files are deleted eagerly instead of waiting for vacuum.
  ``abort()`` deletes the reported files best-effort.

Data skipping stays alive under the streaming sink: when the parent
version tracks stats columns, the commit reads the NEW files' parquet
footers (pyarrow, metadata pages only — the same fold as
``filestats.collect_file_stats``) and attaches min/max/null-count
entries, so a table fed by a stream keeps pruning time-ranged reads.
Bloom sidecars are NOT built here (they need a data scan and a Spark
job; the commit phase runs in Spark's JVM-less Python worker) — new
files are simply unfiltered, which bloom pruning treats as keep.

The commit phase runs in the Python data-source worker: no JVM, so the
table root must be a plain local path or ``file://`` URI (normalized,
like the reader's); an object-store root would plug a pure-Python
conditional-put client into the same seam. Output mode: append only —
a manifest version IS an append; complete/update rewrites belong to
batch ``write_table``/``upsert_table``.

Column-mapped tables (round 9): the sink PINS the table's
logical→physical mapping at stream start (the CDF reader's
discipline) — executors rename the Arrow batches to physical names
before writing, so a streamed append into a renamed table keeps the
frozen physical layout; a rename landing mid-stream fails the
micro-batch loudly at commit time (the checkpoint replays; a restart
re-pins), never silently reverts the rename.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Iterator, List, Optional

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from cashback_data_pipeline_spark.sinks import manifest as mf
from cashback_data_pipeline_spark.streaming.cdf_source import _normalize_table

FORMAT_NAME = "manifest"


@dataclass
class ManifestWriteMessage(WriterCommitMessage):
    files: List[str] = field(default_factory=list)  # table-relative
    rows: int = 0


class ManifestStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, schema: T.StructType, options: dict):
        self._table = _normalize_table(options.get("path") or options.get("table") or "")
        if not self._table:
            raise ValueError("manifest sink needs .option('path', <table root>)")
        if "://" in self._table:
            raise NotImplementedError(
                "the manifest sink's commit phase runs without a JVM; plug a "
                "pure-Python conditional-put client for remote table roots"
            )
        self._schema = schema
        # column mapping PINNED at stream start (the CDF reader's
        # discipline): executors write PHYSICAL column names, so a
        # column-mapped target table keeps its frozen physical layout
        # under a streamed append; a rename landing mid-stream is
        # detected at commit time (fail the batch, checkpoint replays)
        cur = mf.current_version(self._table)
        m0 = mf.read_manifest(self._table, cur) if cur is not None else None
        table_map = mf._mapping(m0)
        self._mapping = mf._extend_mapping(table_map, [f.name for f in schema.fields])
        if mf._constraints(m0):
            # executors stream Arrow batches with no SQL engine to
            # evaluate CHECK expressions — refuse loudly rather than
            # silently skip enforcement; route_stream_to_manifest
            # (foreachBatch) is the enforced streaming write path
            raise ValueError(
                f"{self._table} carries CHECK constraints "
                f"{sorted(mf._constraints(m0))}: the raw manifest sink "
                "cannot enforce them — write through foreachBatch "
                "(streaming.route_stream_to_manifest) instead"
            )
        if mf._generated(m0):
            raise ValueError(
                f"{self._table} declares generated columns "
                f"{sorted(mf._generated(m0))}: the raw manifest sink cannot "
                "materialize/validate them — write through foreachBatch "
                "(streaming.route_stream_to_manifest) instead"
            )
        if mf._identity(m0):
            raise ValueError(
                f"{self._table} declares identity column(s) "
                f"{sorted(mf._identity(m0))}: the raw manifest sink cannot "
                "allocate/advance ids — write through write_table in "
                "foreachBatch instead"
            )
        if mf._partitioning(m0):
            # executors write flat Arrow files; a partitioned table needs
            # the hive layout (write_table / foreachBatch) — refuse here
            # rather than fail at the commit guard with a plumbing error
            raise ValueError(
                f"{self._table} is partitioned by {mf._partitioning(m0)}: "
                "the raw manifest sink writes flat files — stream through "
                "foreachBatch with write_table(mode='append') instead"
            )

    # -- phase 1: executors ------------------------------------------------
    def write(self, iterator: Iterator) -> ManifestWriteMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        logical = to_arrow_schema(self._schema)
        target = logical
        if self._mapping:
            # files of a column-mapped table store PHYSICAL names: cast
            # to the logical schema (type discipline), then rename
            target = pa.schema(
                [f.with_name(self._mapping.get(f.name, f.name)) for f in logical]
            )
        rel_dir = f"data/{uuid.uuid4().hex[:12]}"
        writer = None
        path = None
        rows = 0
        for batch in iterator:
            tbl = pa.Table.from_batches([batch]).cast(logical)
            if self._mapping:
                tbl = tbl.rename_columns(list(target.names))
            if writer is None:
                os.makedirs(os.path.join(self._table, rel_dir), exist_ok=True)
                path = f"{rel_dir}/part-0.parquet"
                writer = pq.ParquetWriter(os.path.join(self._table, path), target)
            writer.write_table(tbl)
            rows += len(tbl)
        if writer is None:
            return ManifestWriteMessage(files=[], rows=0)  # empty partition: no file
        writer.close()
        return ManifestWriteMessage(files=[path], rows=rows)

    # -- phase 2: driver-side python worker ---------------------------------
    @staticmethod
    def _prev_max_epoch(table: str, cur: int | None) -> int:
        prev = mf.latest_meta_value(table, "max_epoch", cur)
        return -1 if prev is None else prev

    def _delete_files(self, messages) -> None:
        for msg in messages:
            for rel in getattr(msg, "files", None) or []:
                try:
                    os.unlink(os.path.join(self._table, rel))
                except OSError:
                    pass

    def _footer_stats(self, new_files: list[str], stats_cols: list[str]) -> dict:
        """min/max/null-count for the new files from their parquet
        FOOTERS — pyarrow metadata pages only, no data I/O, no Spark
        (the commit phase has neither a JVM nor executors)."""
        import pyarrow.parquet as pq

        from cashback_data_pipeline_spark.sinks import filestats

        out = {}
        for rel in new_files:
            md = pq.ParquetFile(os.path.join(self._table, rel)).metadata
            rows, cols = filestats._fold_parquet_metadata(md, set(stats_cols))
            out[rel] = {"rows": rows, "cols": cols}
        return out

    def _check_schema_compatible(self, m: Optional[dict]) -> None:
        """The sink's schema must not NARROW the table's (ADVICE r8):
        publishing the stream's schema wholesale would silently drop a
        wider/evolved column from the recorded table schema — changing
        empty-read results and the CDF source's pinned schema on
        restart. Additive evolution (stream carries NEW columns) passes;
        a missing or retyped existing column fails loudly, like the CDF
        reader's narrowing check."""
        if m is None:
            return
        # the executors wrote this epoch's files under the mapping PINNED
        # at stream start; a rename/drop landing mid-stream makes that
        # physical layout stale — fail the micro-batch loudly (the
        # checkpoint replays it; a restarted stream re-pins), never
        # silently revert the rename
        table_map = mf._extend_mapping(
            mf._mapping(m), [f.name for f in self._schema.fields]
        )
        if table_map != self._mapping:
            raise ValueError(
                f"column mapping of {self._table} changed since this stream "
                "started; restart the stream to re-pin the physical layout"
            )
        current = T.StructType.fromJson(json.loads(m["schema"]))
        incoming = {f.name: f.dataType for f in self._schema.fields}
        missing = [f.name for f in current.fields if f.name not in incoming]
        retyped = [
            f.name
            for f in current.fields
            if f.name in incoming and incoming[f.name] != f.dataType
        ]
        if missing or retyped:
            raise ValueError(
                f"stream schema would narrow table {self._table}: "
                f"missing columns {missing}, retyped columns {retyped}; "
                "restart the sink with a schema carrying every table column"
            )

    def commit(self, messages: List[Optional[WriterCommitMessage]], batchId: int) -> None:
        new_files = [f for m in messages if m is not None for f in m.files]

        def attempt(cur, m):
            self._check_schema_compatible(m)
            prev_max = self._prev_max_epoch(self._table, cur)
            if batchId <= prev_max:
                # replayed epoch: its previous attempt's commit is the
                # visible one — this attempt's files are orphans; reclaim
                # them now instead of leaving them to vacuum
                self._delete_files(messages)
                return
            tracked = sorted(
                {c for e in ((m or {}).get("stats") or {}).values() for c in (e.get("cols") or {})}
            )
            # streamed appends keep tombstones in effect; a lost CAS
            # recomputes against the winner's version (files are already
            # on disk, write once)
            return mf._Commit(
                files=(m["files"] if m else []) + new_files,
                schema=self._schema.json(),
                meta={"epoch": int(batchId), "max_epoch": max(int(batchId), prev_max)},
                stats=self._footer_stats(new_files, tracked) if tracked and new_files else None,
                operation="streaming_append",
                props={"column_mapping": self._mapping},
            )

        mf._commit(self._table, attempt, create=True)

    def abort(self, messages: List[Optional[WriterCommitMessage]], batchId: int) -> None:
        self._delete_files(messages)


class ManifestSinkDataSource(DataSource):
    """``df.writeStream.format("manifest").option("path", table)``.

    Register once per session with :func:`register`.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> T.StructType:  # pragma: no cover - sinks get schemas from Spark
        raise NotImplementedError("the manifest format is a streaming sink")

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> ManifestStreamWriter:
        if overwrite:
            raise NotImplementedError(
                "manifest sink is append-only (a manifest version IS an append); "
                "complete/update modes belong to batch write_table/upsert_table"
            )
        return ManifestStreamWriter(schema, dict(self.options))


def register(spark) -> None:
    """Idempotently register the sink on a session."""
    spark.dataSource.register(ManifestSinkDataSource)


def write_manifest_stream(df, table: str, checkpoint: str, **options):
    """Convenience: start an append stream of ``df`` into ``table``."""
    register(df.sparkSession)
    writer = (
        df.writeStream.format(FORMAT_NAME)
        .option("path", table)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    for k, v in options.items():
        writer = writer.option(k, str(v))
    return writer
