"""Manifest-committed table protocol: multi-writer safety without a
transactional table format in the image.

The reference's loads are single-writer (one Lambda, one Glue job —
SURVEY §2.7 C4); ``merge_upsert``/``scd2_upsert``/``compact_warehouse``
upgrade that to rename-swap atomicity, which is still last-writer-wins
under CONCURRENT writers and exposes readers to a two-rename window.
This module closes the gap the way Delta/Iceberg do it (public designs:
Delta's transaction log + LogStore, Iceberg's metadata pointer):

- Data files are IMMUTABLE and write-once, under ``<table>/data/<commit
  uuid>/``. A commit never mutates or deletes a data file.
- A table VERSION is an ACTION RECORD ``<table>/_manifests/v<N>.json``
  — the files this commit added/removed vs its parent plus its
  schema/meta/properties, O(the change), never O(table files). Every
  CHECKPOINT_INTERVAL-th commit also writes a consolidated parquet
  checkpoint ``ckpt_v<N>.parquet`` of the full snapshot and advances
  the ``_last_checkpoint`` pointer; readers reconstruct any version
  from the nearest checkpoint plus a bounded action replay, and
  version discovery probes forward from the pointer instead of listing
  every version ever written. (The Delta log-of-actions + checkpoint +
  ``_last_checkpoint`` design; pre-checkpoint "full snapshot per
  version" records are still read transparently as self-anchoring.)
  This is what keeps a trickle-append into a 10⁵–10⁶-file table from
  serializing tens of MB of metadata on the driver per commit.
- Publishing version N+1 is ONE atomic create-if-absent, provided by a
  pluggable :mod:`logstore` (Delta's LogStore contract): O_EXCL link on
  local paths, FileContext no-overwrite rename on ``scheme://`` paths
  (HDFS-atomic — the store a real cluster has). Two concurrent writers
  racing to the same version: exactly one wins; the loser re-reads the
  new current version and RETRIES its whole operation against it
  (optimistic concurrency, serializable commits). Every writer
  publishes through the one loop that does this, :func:`_commit`.
- Readers resolve the manifest ONCE and then read a PINNED file list:
  a concurrent commit cannot tear a running read, because the files it
  references are never touched. ``vacuum`` deletes only data dirs
  unreferenced by the last ``keep_last`` versions.

This is the 100 TB-safe shape: a commit writes O(its own change)
metadata behind one CAS, snapshot state is consolidated off the hot
path in periodic columnar checkpoints, compaction/upserts rewrite only
their own new files, and nothing ever blocks readers.

On top of the commit protocol the module carries the full lakehouse
table surface (each feature's own docstring cites the public design it
follows): file-level data skipping from per-file min/max/null stats
(``stats_cols=``/``skip=``), Bloom-filter point-lookup pruning as a
rewrite-proof table property (``bloom_cols=``, per-commit sidecars),
clustered and Z-ordered layouts (``cluster_by=``/``zorder_by=``, plus
``compact_table`` as OPTIMIZE / OPTIMIZE ZORDER), DML — file-pruned
MERGE (``upsert_table``), idempotent NOT-EXISTS loads
(``append_table_if_absent``), copy-on-write DELETE/UPDATE
(``delete_where``/``update_where``) and merge-on-read DELETE via
deletion vectors (``delete_where(mode="merge_on_read")``) — version
and timestamp time travel (``read_table(version=/as_of_ts=)``),
RESTORE as a forward metadata-only commit (``restore_table``), file-
and row-level change feeds (``read_changes``/``read_changes_rows``)
with CDC apply into follower tables (``apply_changes``), and retention
(``vacuum``, optional manifest-log pruning). The streaming halves live
in :mod:`streaming.cdf_source` (version-offset readStream source) and
:mod:`streaming.manifest_sink` (epoch-gated two-phase writeStream
sink).
"""

from __future__ import annotations

import json
import os
import re as _re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cashback_data_pipeline_spark.session import local_rows_df
from cashback_data_pipeline_spark.sinks.logstore import TMP_PREFIX, get_log_store

_MANIFEST_DIR = "_manifests"

# Every CHECKPOINT_INTERVAL-th commit also writes a consolidated parquet
# checkpoint of the full snapshot, and moves the `_last_checkpoint`
# pointer. Between checkpoints, a commit is O(its own change) — the
# Delta log design (actions + checkpoints + _last_checkpoint), which is
# what keeps trickle-appends into a 10⁵–10⁶-file table from serializing
# the whole file list on the driver at every commit.
CHECKPOINT_INTERVAL = 10
_LAST_CKPT = "_last_checkpoint"

# The table properties (the Delta ``metaData.configuration`` map), in
# the order they appear as top-level keys of commit records and
# checkpoints. Every commit carries each one from its parent unless the
# commit's ``props`` overrides it (see :func:`_try_commit`).
TABLE_PROPS = (
    "bloom_conf", "column_mapping", "constraints", "layout", "partitioning",
    "generated", "identity",
)


def _version_name(version: int) -> str:
    return f"v{version:020d}.json"


def _ckpt_name(version: int) -> str:
    return f"ckpt_v{version:020d}.parquet"


def _manifest_path(table: str, version: int) -> str:
    store = get_log_store(table)
    return store.join(table, _MANIFEST_DIR, _version_name(version))


def _read_pointer(store, table: str) -> int | None:
    """The `_last_checkpoint` hint: version of the newest checkpoint a
    committer recorded. ADVISORY — may lag (pointer moves are
    best-effort overwrites), may name a checkpoint vacuum later pruned;
    every reader verifies against real files. Never ahead of the
    committed maximum (it is written only after its commit)."""
    try:
        doc = json.loads(
            store.read_text(store.join(table, _MANIFEST_DIR, _LAST_CKPT))
        )
        return int(doc["version"])
    except FileNotFoundError:
        return None
    except (ValueError, KeyError, TypeError):
        return None  # corrupt hint: a hint, not a source of truth


def _probe_up(store, table: str, v: int) -> int:
    mdir = store.join(table, _MANIFEST_DIR)
    while store.exists(store.join(mdir, _version_name(v + 1))):
        v += 1
    return v


def current_version(table: str) -> int | None:
    """Highest committed version, or None for a not-yet-created table.

    Fast path: start from the `_last_checkpoint` hint and probe FORWARD
    by existence checks — O(commits since the last checkpoint), never a
    listing of every version ever written (the r8 verdict's design
    item; versions above the newest checkpoint are dense because the
    CAS assigns cur+1 and vacuum prunes only below the horizon). If the
    probe raced a log prune (the hint was read before the pruner moved
    it), the re-read pointer is ahead of the probe result and the probe
    restarts from it — the pruner moves the pointer BEFORE deleting
    anything, so on a read-after-write-consistent store the restart
    sees a valid anchor.

    Fallback (no/duff pointer, legacy tables): a raw directory listing,
    never a glob — a transient FS error must PROPAGATE (for
    screening-critical readers like the streaming near-dup ingest it
    fails the micro-batch, which the checkpoint replays) rather than
    silently read as "table does not exist" and admit every duplicate.
    Only a true FileNotFoundError means not-yet-created."""
    store = get_log_store(table)
    mdir = store.join(table, _MANIFEST_DIR)
    hint = _read_pointer(store, table)
    if hint is not None and (
        store.exists(store.join(mdir, _version_name(hint)))
        or store.exists(store.join(mdir, _ckpt_name(hint)))
    ):
        v = _probe_up(store, table, hint)
        hint2 = _read_pointer(store, table)
        if hint2 is not None and hint2 > v:
            v = _probe_up(store, table, hint2)
        return v
    try:
        names = store.list_names(mdir)
    except FileNotFoundError:
        return None
    versions = [
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    ]
    return max(versions) if versions else None


def _read_commit_doc(table: str, version: int) -> dict:
    """The RAW commit record for one version: either a format-2 action
    record (``add``/``remove`` + properties) or a legacy full-snapshot
    document (``files``). Meta/operation live here either way, so
    history walkers pay O(1) per version."""
    return json.loads(get_log_store(table).read_text(_manifest_path(table, version)))


def _encode_checkpoint(snap: dict, meta_latest: dict | None = None) -> bytes:
    """Serialize a full snapshot as a parquet checkpoint: one row per
    data file (with its stats entry as JSON), one per deletion-vector
    file, one table row carrying schema/meta/properties. Parquet (via
    pyarrow, in memory) so a million-file checkpoint stays columnar,
    compressed, and cheap to decode — the Delta checkpoint shape.
    ``meta_latest`` is the FOLDED latest value per meta key across the
    whole history up to this version (the Delta SetTransaction-in-
    checkpoint idea): it is what keeps epoch gates (``max_epoch``) and
    other cursor meta alive after ``vacuum(prune_manifests=True)``
    deletes the commits that carried them."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    stats = snap.get("stats") or {}
    kinds, paths, payloads = [], [], []
    for f in snap["files"]:
        kinds.append("file")
        paths.append(f)
        e = stats.get(f)
        payloads.append(json.dumps(e) if e is not None else None)
    for f in snap.get("dv_files") or []:
        kinds.append("dv")
        paths.append(f)
        payloads.append(None)
    table_row = {
        k: snap[k]
        for k in ("version", "parent", "schema", "meta", *TABLE_PROPS)
        if snap.get(k) is not None
    }
    table_row.setdefault("version", snap["version"])
    if meta_latest is not None:
        table_row["meta_latest"] = meta_latest
    kinds.append("table")
    paths.append(None)
    payloads.append(json.dumps(table_row))
    buf = io.BytesIO()
    pq.write_table(
        pa.table(
            {
                "kind": pa.array(kinds, type=pa.string()),
                "path": pa.array(paths, type=pa.string()),
                "payload": pa.array(payloads, type=pa.string()),
            }
        ),
        buf,
    )
    return buf.getvalue()


def _decode_checkpoint(data: bytes) -> dict:
    import io

    import pyarrow.parquet as pq

    t = pq.read_table(io.BytesIO(data))
    files: list[str] = []
    dv: list[str] = []
    stats: dict = {}
    table_row: dict = {}
    for kind, path, payload in zip(
        t.column("kind").to_pylist(),
        t.column("path").to_pylist(),
        t.column("payload").to_pylist(),
    ):
        if kind == "file":
            files.append(path)
            if payload is not None:
                stats[path] = json.loads(payload)
        elif kind == "dv":
            dv.append(path)
        elif kind == "table":
            table_row = json.loads(payload)
    snap = {
        "version": table_row["version"],
        "parent": table_row.get("parent"),
        "files": sorted(files),
        "schema": table_row["schema"],
    }
    for k in ("meta", *TABLE_PROPS):
        if table_row.get(k):
            snap[k] = table_row[k]
    if dv:
        snap["dv_files"] = sorted(dv)
    if stats:
        snap["stats"] = stats
    return snap


_EMPTY_SNAPSHOT = {"version": 0, "parent": None, "files": [], "schema": None}


def _apply_action(base: dict, doc: dict) -> dict:
    """Fold one format-2 action record onto a snapshot: removed files
    drop (with their stats), added files join (with their add_stats),
    deletion vectors likewise; schema/meta/properties are the record's
    own (every commit states them — meta is per-commit, never merged).
    Stats for CARRIED files persist from the parent, so a writer states
    stats for the files it adds only (the :func:`_commit` carry rule) —
    an action record therefore costs O(changed files), not O(table)."""
    removed = set(doc.get("remove") or [])
    files = sorted((set(base["files"]) - removed) | set(doc.get("add") or []))
    stats = {
        f: e for f, e in (base.get("stats") or {}).items() if f not in removed
    }
    stats.update(doc.get("add_stats") or {})
    dv = (set(base.get("dv_files") or []) - set(doc.get("dv_remove") or [])) | set(
        doc.get("dv_add") or []
    )
    snap = {
        "version": doc["version"],
        "parent": doc.get("parent"),
        "files": files,
        "schema": doc["schema"],
    }
    for k in ("meta", *TABLE_PROPS):
        if doc.get(k):
            snap[k] = doc[k]
    if dv:
        snap["dv_files"] = sorted(dv)
    if stats:
        snap["stats"] = {f: stats[f] for f in files if f in stats}
    return snap


# In-process snapshot cache (the Delta Snapshot-caching idea): a
# committed version's content is IMMUTABLE, so a sequential committer
# (streaming sink, trickle loader, CAS retry loop) reconstructs version
# N from the cached N-1 plus one action record — O(the change) instead
# of a checkpoint decode per commit. Entries validate against the
# commit record's mtime on every hit (one stat), which also catches a
# table deleted and recreated at the same path.
_SNAPSHOT_CACHE: dict[tuple[str, int], tuple[float, dict]] = {}
_SNAPSHOT_CACHE_MAX = 8


def _copy_snapshot(snap: dict) -> dict:
    out = dict(snap)
    out["files"] = list(snap["files"])
    if "stats" in out:
        out["stats"] = dict(out["stats"])
    if "dv_files" in out:
        out["dv_files"] = list(out["dv_files"])
    return out


def _cache_lookup(store, table: str, version: int) -> dict | None:
    hit = _SNAPSHOT_CACHE.get((table, version))
    if hit is None:
        return None
    mt, snap = hit
    try:
        if store.mtime(_manifest_path(table, version)) == mt:
            return snap
    except FileNotFoundError:
        pass  # record pruned (or table recreated): revalidate via the walk
    _SNAPSHOT_CACHE.pop((table, version), None)
    return None


def _cache_store(store, table: str, version: int, snap: dict) -> None:
    try:
        mt = store.mtime(_manifest_path(table, version))
    except FileNotFoundError:
        return  # anchored at a checkpoint of a pruned record: skip caching
    _SNAPSHOT_CACHE[(table, version)] = (mt, _copy_snapshot(snap))
    while len(_SNAPSHOT_CACHE) > _SNAPSHOT_CACHE_MAX:
        _SNAPSHOT_CACHE.pop(next(iter(_SNAPSHOT_CACHE)))


def read_manifest(table: str, version: int) -> dict:
    """The full SNAPSHOT at ``version`` — same shape as ever (files,
    schema, meta, stats, dv_files, properties), reconstructed from the
    nearest anchor at or below it: the in-process cache, a parquet
    checkpoint, a legacy full-snapshot document, or the table's
    beginning. The walk is bounded by CHECKPOINT_INTERVAL in steady
    state (and is usually one cached step for a sequential committer);
    a pruned intermediate record cannot strand a retained version
    because ``vacuum(prune_manifests=True)`` writes a checkpoint at the
    horizon before deleting anything below it."""
    store = get_log_store(table)
    mdir = store.join(table, _MANIFEST_DIR)
    chain: list[dict] = []
    v = version
    snap = None
    while v > 0:
        cached = _cache_lookup(store, table, v)
        if cached is not None:
            snap = cached
            break
        if store.exists(store.join(mdir, _ckpt_name(v))):
            snap = _decode_checkpoint(store.read_bytes(store.join(mdir, _ckpt_name(v))))
            break
        doc = _read_commit_doc(table, v)
        if "files" in doc:  # legacy full-snapshot record: self-anchoring
            snap = doc
            break
        chain.append(doc)
        v -= 1
    if snap is None:
        snap = dict(_EMPTY_SNAPSHOT)
    for doc in reversed(chain):
        snap = _apply_action(snap, doc)
    if chain or snap.get("version") == version:
        _cache_store(store, table, version, snap)
    return _copy_snapshot(snap)


def version_changes(table: str, version: int) -> dict:
    """What ONE commit changed: ``{"added": [...], "removed": [...],
    "dv_changed": bool}`` — for incremental consumers (the streaming CDF
    source's per-version planning). Format-2 action records answer from
    the record alone, O(1); legacy full-snapshot records fall back to a
    parent-snapshot diff."""
    doc = _read_commit_doc(table, version)
    if "files" not in doc:
        return {
            "added": sorted(doc.get("add") or []),
            "removed": sorted(doc.get("remove") or []),
            "dv_changed": bool(doc.get("dv_add") or doc.get("dv_remove")),
        }
    prev = read_manifest(table, version - 1) if version > 1 else dict(_EMPTY_SNAPSHOT)
    old, new = set(prev["files"]), set(doc["files"])
    return {
        "added": sorted(new - old),
        "removed": sorted(old - new),
        "dv_changed": set(_dv_set(prev)) != set(_dv_set(doc)),
    }


def _appended_files(table: str, start: int, end: int, refuse=None) -> list[str]:
    """The files versions ``start`` (exclusive) to ``end`` (inclusive)
    added, in commit order — the one per-version walk of the
    append-only change-feed readers (:mod:`streaming.cdf_source`). Each
    step reads ONE action record (:func:`version_changes`), never a
    snapshot reconstruction per version. A CHANGE commit — one that
    removed files, or changed its deletion vectors (a merge-on-read
    DELETE modifies rows without touching the file list) — adds
    nothing: the walk calls ``refuse(version, changes)`` for it, which
    raises the reader's error unless the reader skips change commits
    (``refuse=None``)."""
    added: list[str] = []
    for v in range(start + 1, end + 1):
        delta = version_changes(table, v)
        if delta["removed"] or delta["dv_changed"]:
            if refuse is not None:
                refuse(v, delta)
        else:
            added.extend(delta["added"])
    return added


def _read_ckpt_meta_latest(table: str, version: int) -> dict | None:
    """The folded latest-meta map a checkpoint at ``version`` carries,
    or None when there is no checkpoint there / it predates the fold
    (pre-r9-upgrade checkpoints) — callers must keep walking in the
    None case and may STOP in the dict case (the fold is complete for
    everything at or below the checkpoint)."""
    store = get_log_store(table)
    path = store.join(table, _MANIFEST_DIR, _ckpt_name(version))
    try:
        data = store.read_bytes(path)
    except FileNotFoundError:
        return None
    import io

    import pyarrow.parquet as pq

    t = pq.read_table(io.BytesIO(data), columns=["kind", "payload"])
    for kind, payload in zip(t.column("kind").to_pylist(), t.column("payload").to_pylist()):
        if kind == "table":
            row = json.loads(payload)
            ml = row.get("meta_latest")
            return dict(ml) if ml is not None else None
    return None


def _fold_meta_latest(table: str, version: int) -> dict:
    """Latest value per meta key across versions 1..``version``:
    anchored at the nearest older checkpoint that carries a fold, plus
    the action records above it (O(interval) steady-state; the first
    post-upgrade checkpoint on a long history walks it once). A pruned
    record below an unfolded stretch simply bounds the fold — never an
    error (gap-tolerant, like every meta walker)."""
    store = get_log_store(table)
    mdir = store.join(table, _MANIFEST_DIR)
    metas: list[dict] = []
    base: dict = {}
    v = version
    while v >= 1:
        if v < version and store.exists(store.join(mdir, _ckpt_name(v))):
            ml = _read_ckpt_meta_latest(table, v)
            if ml is not None:
                base = ml
                break
        try:
            doc = _read_commit_doc(table, v)
        except FileNotFoundError:
            break  # pruned below: fold what survives
        m = doc.get("meta")
        if m:
            metas.append(m)
        v -= 1
    out = dict(base)
    for m in reversed(metas):
        out.update(m)
    return out


def _write_checkpoint(table: str, version: int) -> bool:
    """Publish the parquet checkpoint for ``version`` (create-if-absent
    — concurrent checkpointers of the same version write identical
    content, one wins, both outcomes are fine) and move the
    `_last_checkpoint` pointer forward. Returns True if the checkpoint
    exists when we're done."""
    store = get_log_store(table)
    mdir = store.join(table, _MANIFEST_DIR)
    if not store.exists(store.join(mdir, _ckpt_name(version))):
        data = _encode_checkpoint(
            read_manifest(table, version), _fold_meta_latest(table, version)
        )
        store.publish_atomic_bytes(mdir, _ckpt_name(version), data)
        if not store.exists(store.join(mdir, _ckpt_name(version))):
            return False
    prev = _read_pointer(store, table)
    if prev is None or prev < version:
        store.write_overwrite(
            mdir, _LAST_CKPT, json.dumps({"version": version}).encode("utf-8")
        )
    return True


def _maybe_checkpoint(table: str, version: int) -> None:
    """Best-effort interval checkpoint after a successful commit: a
    failed checkpoint must never fail the commit — readers simply keep
    replaying the action chain until the next committer succeeds."""
    if version % CHECKPOINT_INTERVAL != 0:
        return
    try:
        _write_checkpoint(table, version)
    except Exception:
        import warnings

        warnings.warn(
            f"checkpoint at {table} v{version} failed; log replay continues",
            RuntimeWarning,
            stacklevel=2,
        )


def _try_commit(
    table: str,
    version: int,
    files: list[str],
    parent: int | None,
    schema_json: str,
    meta: dict | None = None,
    stats: dict | None = None,
    dv_files: list[str] | None = None,
    operation: str | None = None,
    props: dict | None = None,
) -> bool:
    """Atomically publish ``version``; False if another writer won it.
    Writers do not call this directly: they publish through
    :func:`_commit`, the one loop that picks ``version``/``parent`` and
    retries on a lost race (the protocol is stated there).

    Publication is the LogStore's create-if-absent (logstore module
    docstring): the complete record appears in one atomic op — a reader
    or racing writer can never observe a half-written record, and a
    crash mid-commit leaves only a temp file (swept by vacuum), never a
    bricked version. The record is an ACTION (format 2): the files
    added/removed vs the parent snapshot plus this commit's
    schema/meta/properties — O(the commit's own change), never O(table
    files); full snapshots materialize only in interval checkpoints.
    ``meta`` rides in the record (e.g. a streaming epoch id).

    Table properties (:data:`TABLE_PROPS`: the bloom conf, column
    mapping, CHECK constraints, declared layout, partition columns,
    generated and identity columns) follow ONE rule: every property
    carries from the parent snapshot; a key in ``props`` overrides it;
    an explicit None clears it. So every write path keeps the table's
    properties without threading them, and only the commits that change
    a property (DDL, an overwrite re-declaring its layout, an identity
    advance, RESTORE, CLONE) name it."""
    store = get_log_store(table)
    parent_snap = read_manifest(table, parent) if parent is not None else None
    parent_files = set(parent_snap["files"]) if parent_snap else set()
    parent_dv = set(_dv_set(parent_snap))
    file_set = set(files)
    dv_set = set(dv_files or [])
    if operation:
        # the audit-log entry every writer stamps (surfaced by
        # table_history — the DESCRIBE HISTORY shape). It OVERRIDES any
        # "operation" already in meta: several writers carry the
        # parent's meta forward (epoch gates), and a stale parent
        # operation must not masquerade as this commit's
        meta = {**(meta or {}), "operation": operation}
    unknown = set(props or ()) - set(TABLE_PROPS)
    if unknown:
        raise ValueError(f"unknown table properties {sorted(unknown)}")
    props = {k: (parent_snap or {}).get(k) for k in TABLE_PROPS} | (props or {})
    doc = {
        "format": 2,
        "version": version,
        "parent": parent,
        "schema": schema_json,
        "add": sorted(file_set - parent_files),
        "remove": sorted(parent_files - file_set),
    }
    if meta:
        doc["meta"] = meta
    for k in TABLE_PROPS:
        if props[k]:
            doc[k] = props[k]
    dv_add = sorted(dv_set - parent_dv)
    dv_remove = sorted(parent_dv - dv_set)
    if dv_add:
        # merge-on-read deletion vectors (module functions below): the
        # (file, row_index) tombstone relations in effect for this version
        doc["dv_add"] = dv_add
    if dv_remove:
        doc["dv_remove"] = dv_remove
    # per-file column stats (sinks/filestats.py) — optional, additive:
    # readers treat a missing entry as "keep the file", so mixed
    # stats/no-stats histories stay correct. Only ADDED files'
    # entries ride in the record; carried files keep the parent's
    # (:func:`_apply_action`).
    add_stats = {f: stats[f] for f in doc["add"] if f in stats} if stats else {}
    if props["partitioning"]:
        # EXACT partition-value stats from the added files' paths (zero
        # I/O) + the loud mixed-layout guard — every write path funnels
        # through here, so partition pruning can never erode
        add_stats = _inject_partition_stats(
            doc["add"], add_stats, list(props["partitioning"]), schema_json,
            props["column_mapping"],
        )
    if add_stats:
        doc["add_stats"] = add_stats
    ok = store.publish_atomic(
        store.join(table, _MANIFEST_DIR), _version_name(version), json.dumps(doc)
    )
    if ok:
        _maybe_checkpoint(table, version)
    return ok


class _Commit(dict):
    """The action one :func:`_commit` attempt publishes, as keywords:
    ``files``, ``schema``, ``meta``, ``stats``, ``dv_files``,
    ``operation``, ``props`` (the :func:`_try_commit` arguments) and
    ``result``. A key left out follows the carry rule of the loop."""


def _commit(table: str, attempt, create: bool = False):
    """THE commit loop: every manifest writer publishes through this one
    optimistic-concurrency protocol (the Delta optimistic-transaction
    shape — one place reads the snapshot, applies the action, and
    retries on conflict):

    1. read the current version ``cur`` and its snapshot ``m``. A table
       with no version yet raises FileNotFoundError, unless the writer
       may ``create`` it: then ``cur`` and ``m`` are None;
    2. call ``attempt(cur, m)``. A :class:`_Commit` is the action to
       publish; any other return value (a no-op ``cur``, ``0``,
       ``False``, None) is returned as is and nothing is published;
    3. publish the action as version ``(cur or 0) + 1`` over parent
       ``cur`` with :func:`_try_commit`'s atomic create-if-absent. When
       another writer won that version, go back to 1: ``attempt`` runs
       again against the winner's snapshot, so every check it makes is
       made again and concurrent writers serialize.

    What the action does not state carries from ``m``: the file list,
    the schema, the deletion vectors (an action that drops them says
    ``dv_files=[]``) and every table property (:func:`_try_commit`'s
    ``props`` rule). ``stats`` is read only for the files the action
    ADDS — carried files keep the parent's entries (:func:`_apply_action`).
    ``meta`` and ``operation`` belong to the one commit and never carry.

    Returns the published version, or the action's ``result`` when it
    names one. Data files an attempt wrote before losing the race stay
    unreferenced (vacuum reclaims them)."""
    while True:
        cur = current_version(table)
        if cur is None and not create:
            raise FileNotFoundError(f"no committed version in {table}")
        m = read_manifest(table, cur) if cur is not None else None
        action = attempt(cur, m)
        if not isinstance(action, _Commit):
            return action
        base = m or _EMPTY_SNAPSHOT
        version = (cur or 0) + 1
        if _try_commit(
            table,
            version,
            action.get("files", base["files"]),
            cur,
            action.get("schema", base["schema"]),
            meta=action.get("meta"),
            stats=action.get("stats"),
            dv_files=action.get("dv_files", _dv_set(m)),
            operation=action.get("operation"),
            props=action.get("props"),
        ):
            return action.get("result", version)


def _write_data_files(
    df: DataFrame,
    table: str,
    mapping: dict | None = None,
    partition_by: list[str] | None = None,
) -> list[str]:
    """Write one commit's immutable data dir; return table-relative file
    paths. Files exist but are INVISIBLE until a manifest references
    them — a crash here leaves only unreferenced files for vacuum.
    ``mapping`` (logical→physical) renames the frame to its physical
    column names before writing, so every data file of a column-mapped
    table uniformly stores physical names. ``partition_by`` (PHYSICAL
    names — callers pass :func:`_phys_partitioning`) lays the commit
    out hive-style (``dt=value/`` segments under the commit dir) for a
    partitioned table; :func:`_try_commit` refuses a partitioned
    table's commit whose files lack the segments, so no write path can
    silently skip this."""
    if mapping:
        df = df.select(*[F.col(c).alias(mapping.get(c, c)) for c in df.columns])
    store = get_log_store(table)
    commit_id = uuid.uuid4().hex[:12]
    data_dir = store.join(table, "data", commit_id)
    writer = df.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    return [
        store.relativize(table, p)
        for p in store.list_files_recursive(data_dir, suffix=".parquet")
    ]


def new_commit_id() -> str:
    return uuid.uuid4().hex[:12]


_ZORDER_OK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.TimestampType,
    T.TimestampNTZType,
    T.StringType,  # byte-prefix axis (writers.zorder_axis — r9 item 8)
    T.DateType,  # epoch-day axis
)


def _zorder_layout(df: DataFrame, cols: list[str], n_files: int | None) -> DataFrame:
    """Range-partition + sort the commit on the Morton code of ``cols``
    (sinks/writers.zorder_column): file boundaries become z-contiguous
    ≈ hyper-rectangles in every named dimension. Every column scales to
    a numeric axis — numerics/timestamps directly, strings via the
    fixed-width byte-prefix axis, dates via epoch days (the Delta
    OPTIMIZE ZORDER domain, r9 item 8); unsupported types (arrays,
    maps, structs) are rejected loudly."""
    from cashback_data_pipeline_spark.sinks.writers import zorder_column

    by_name = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"zorder column {c!r} not in schema {sorted(by_name)}")
        if not isinstance(by_name[c], _ZORDER_OK_TYPES):
            raise ValueError(
                f"zorder column {c!r} has type {by_name[c].simpleString()}; "
                "z-ordering needs a numeric/timestamp/string/date axis"
            )
    zdf = zorder_column(df, cols)
    zdf = (
        zdf.repartitionByRange(n_files, "__z") if n_files else zdf.repartitionByRange("__z")
    )
    return zdf.sortWithinPartitions("__z").drop("__z")


def _bloom_table_conf(m: dict | None) -> dict | None:
    """The table's bloom TABLE PROPERTY as of manifest ``m`` (set by the
    first write_table(bloom_cols=), carried by every later commit)."""
    return (m or {}).get("bloom_conf")


# ---------------------------------------------------------------------------
# Column mapping (VERDICT r8 item 3 — the Delta/Iceberg column-mapping
# idea, name mode): the manifest may carry a ``column_mapping`` table
# property {logical name → physical name}. PHYSICAL names are frozen at
# column birth and are what every data file stores; RENAME is a
# metadata-only commit that re-points a logical name at its physical
# twin, DROP removes the logical entry — zero data rewrite either way,
# and time travel to a pre-rename version reads under that version's
# own names. Write paths translate logical→physical before writing,
# read paths translate back after scanning, and skip-predicates
# translate for stats/bloom pruning (stats are keyed by physical
# names, since they are collected from the files).
# ---------------------------------------------------------------------------


def _mapping(m: dict | None) -> dict | None:
    return (m or {}).get("column_mapping")


def _mapping_pairs(m: dict | None) -> list[tuple[str, str]] | None:
    """(logical, physical) pairs in the snapshot schema's field order,
    or None for an unmapped table."""
    mapping = _mapping(m)
    if not mapping:
        return None
    fields = [f["name"] for f in json.loads(m["schema"])["fields"]]
    return [(n, mapping.get(n, n)) for n in fields]


def _phys_cols(mapping: dict | None, cols: list[str]) -> list[str]:
    return [mapping.get(c, c) for c in cols] if mapping else list(cols)


def _phys_predicates(spec, mapping: dict | None):
    """The skip-tree spec with logical column names replaced by physical
    ones — what stats/bloom pruning needs on a mapped table."""
    if not mapping:
        return spec
    if isinstance(spec, list):
        return [_phys_predicates(s, mapping) for s in spec]
    if (
        len(spec) == 2
        and spec[0] in ("and", "or")
        and isinstance(spec[1], (list, tuple))
    ):
        return (spec[0], [_phys_predicates(s, mapping) for s in spec[1]])
    if len(spec) == 2 and spec[0] == "not" and isinstance(spec[1], (list, tuple)):
        return ("not", _phys_predicates(spec[1], mapping))
    return (mapping.get(spec[0], spec[0]), *spec[1:])


def _extend_mapping(mapping: dict | None, logical_cols: list[str]) -> dict | None:
    """The table's mapping extended for columns this write introduces
    (physical = logical at column birth). A new logical name whose
    physical twin is already claimed by a RENAMED column would make two
    logical columns share one physical — refused loudly."""
    if mapping is None:
        return None
    out = dict(mapping)
    used = set(out.values())
    for c in logical_cols:
        if c in out:
            continue
        if c in used:
            owner = next(k for k, v in out.items() if v == c)
            raise ValueError(
                f"cannot add column {c!r}: its physical name is already "
                f"claimed by renamed column {owner!r} — pick another name"
            )
        out[c] = c
        used.add(c)
    return out


# ---------------------------------------------------------------------------
# Partition columns (VERDICT r10 item 3 — the Delta/Iceberg first-class
# partitioning the reference's warehouse relies on for lifecycle ops,
# ref: glue_script.py:77 date-partitioned layout): ``write_table(
# partition_by=["dt"])`` lays every commit's data files out
# hive-style (``data/<commit>/dt=2024-01-01/part-*.parquet``) and
# records ``partitioning`` as an auto-carried table property. The
# partition VALUES live in the paths, so:
#
# - every commit gets EXACT per-file stats for the partition columns
#   injected from the path alone (min == max == value, zero I/O) —
#   partition pruning is just stats pruning, shared by read_table(skip=)
#   and every DML op, no second pruning engine;
# - ``drop_partition`` and dynamic partition overwrite
#   (``mode="overwrite_partitions"``) are METADATA-ONLY commits that
#   select files by parsed path values — retention on a 100 TB
#   date-partitioned history never opens a data file;
# - scans recover the partition columns from the path segments
#   (:func:`_physical_scan`), so a SQL filter on one is a filter on
#   ``_metadata.file_path`` that Spark's file index prunes files by.
#
# Every data-writing path threads the table's partitioning into
# ``_write_data_files``; ``_try_commit`` REFUSES any added data file
# that lacks the expected ``key=value`` segments, so a forgotten path
# fails loudly instead of committing a mixed layout.
# ---------------------------------------------------------------------------

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_PARTITION_OK_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.StringType,
    T.DateType,
    T.BooleanType,
)


def _partitioning(m: dict | None) -> list[str]:
    """The table's declared partition columns (LOGICAL names), or []."""
    return list((m or {}).get("partitioning") or [])


def _phys_partitioning(m: dict | None) -> list[str] | None:
    """Partition columns as PHYSICAL names (what paths and data files
    store), or None for an unpartitioned table — the ``partition_by``
    argument every write path hands to :func:`_write_data_files`."""
    p = _partitioning(m)
    return _phys_cols(_mapping(m), p) if p else None


def _validate_partition_cols(schema: T.StructType, cols: list[str]) -> None:
    by_name = {f.name: f.dataType for f in schema.fields}
    for c in cols:
        if c not in by_name:
            raise ValueError(f"partition column {c!r} not in schema {sorted(by_name)}")
        if not isinstance(by_name[c], _PARTITION_OK_TYPES):
            raise ValueError(
                f"partition column {c!r} has type {by_name[c].simpleString()}; "
                "hive-layout partitioning needs an int/string/date/boolean "
                "column (timestamps/doubles don't render to stable path "
                "segments — derive a date/string column instead)"
            )


def _partition_values_from_path(rel_path: str) -> dict[str, str | None]:
    """RAW ``key=value`` segments of one data file's table-relative path
    (unquoted; hive NULL sentinel → None). Paths are authoritative for
    partition values — files store only the non-partition columns."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    for seg in rel_path.replace(os.sep, "/").split("/")[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            out[k] = None if v == _HIVE_NULL else unquote(v)
    return out


def _hive_render(value) -> str | None:
    """A Python literal as hive writes it into a path segment (None for
    SQL NULL — callers compare against the sentinel separately)."""
    import datetime as _dt

    if value is None:
        return None
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (_dt.date, _dt.datetime)):
        return value.isoformat()
    return str(value)


def _coerce_partition_stat(raw: str | None, simple_type: str):
    """A raw path value coerced into the stats comparison domain of the
    column's type (sinks/filestats._coerce): ints as int, booleans as
    bool, dates as ISO strings (the _json_val rendering), strings as-is.
    None (unparseable) keeps pruning conservative."""
    if raw is None:
        return None
    try:
        if simple_type in (
            "byte", "short", "integer", "long",  # schema-JSON names
            "tinyint", "smallint", "int", "bigint",  # DDL names
        ):
            return int(raw)
        if simple_type == "boolean":
            return raw.lower() == "true"
        return raw  # string / date (ISO string is the stats rendering)
    except ValueError:
        return None


def _inject_partition_stats(
    add_files: list[str],
    add_stats: dict,
    partitioning: list[str],
    schema_json: str,
    mapping: dict | None,
) -> dict:
    """EXACT stats for the partition columns of a commit's added files,
    parsed from the paths alone (min == max == value, nulls == 0 for a
    non-null partition) — what makes partition pruning ride the one
    stats engine. Raises if an added file lacks a partition segment:
    a write path that forgot the layout must fail loudly, never commit
    a mixed-layout table."""
    types = {
        f["name"]: f["type"] if isinstance(f["type"], str) else "string"
        for f in json.loads(schema_json)["fields"]
    }
    pmap = mapping or {}
    out = dict(add_stats)
    for rel in add_files:
        vals = _partition_values_from_path(rel)
        entry = dict(out.get(rel) or {})
        cols = dict(entry.get("cols") or {})
        for c in partitioning:
            phys = pmap.get(c, c)
            if phys not in vals:
                raise RuntimeError(
                    f"data file {rel!r} lacks the {phys}= partition segment "
                    f"of this table's declared partitioning {partitioning}; "
                    "the write path that produced it did not thread "
                    "partition_by through _write_data_files"
                )
            raw = vals[phys]
            if raw is None:
                st: dict = {"min": None, "max": None}
                if entry.get("rows") is not None:
                    st["nulls"] = entry["rows"]
            else:
                v = _coerce_partition_stat(raw, types.get(c, "string"))
                st = {"min": v, "max": v, "nulls": 0}
            cols[phys] = st
        entry["cols"] = cols
        out[rel] = entry
    return out


def _build_bloom_sidecar(
    spark: SparkSession,
    table: str,
    new_files: list[str],
    schema: T.StructType,
    conf: dict | None,
    stats: dict | None,
) -> dict | None:
    """Build Bloom filters for a commit's NEW files per the table's
    bloom conf, publish the per-commit sidecar into the immutable data
    dir, and return ``stats`` with the sidecar refs added. Conf columns
    absent from this commit's schema (or no longer bloom-typed) are
    skipped — those files simply stay unfiltered, which pruning treats
    as keep (conservative, never wrong)."""
    from cashback_data_pipeline_spark.sinks import filestats

    if not conf or not new_files:
        return stats
    by_name = {f.name: f.dataType for f in schema.fields}
    cols = [
        c
        for c in conf.get("cols", [])
        if isinstance(by_name.get(c), filestats._BLOOM_OK_TYPES)
    ]
    if not cols:
        return stats
    blooms = filestats.collect_bloom_filters(
        spark, table, new_files, cols, schema,
        int(conf.get("bits") or filestats.BLOOM_DEFAULT_BITS),
    )
    store = get_log_store(table)
    data_dir = new_files[0].rsplit("/", 1)[0]
    store.publish_atomic(
        store.join(table, data_dir), filestats.BLOOM_SIDECAR, json.dumps(blooms)
    )
    sidecar_rel = f"{data_dir}/{filestats.BLOOM_SIDECAR}"
    out = dict(stats or {})
    for rel in new_files:
        entry = dict(out.get(rel) or {})
        entry["bloom"] = sidecar_rel
        out[rel] = entry
    return out


def _add_files(
    spark: SparkSession,
    table: str,
    m: dict | None,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    props: dict | None = None,
) -> tuple[list[str], dict | None, dict]:
    """THE write tail: write ``df`` as one commit's new data files and
    collect their per-file metadata. Every file-adding writer hands it
    its frame and snapshot, then commits ``files`` (next to the files
    it carries), ``stats`` and ``props``. The new files follow the table's
    properties as of ``m`` overlaid with ``props``, the ones this
    commit states (:func:`_try_commit`'s carry rule), so no write path
    can erode a property file by file:

    - layout: the frame is written under the column mapping extended by
      its new columns, partitioned by the partition columns;
    - stats: entries for ``stats_cols`` (PHYSICAL names) when the writer
      has its own rule, else for every column the parent tracks in any
      file plus the identity columns — pruning compounds across commits,
      and a stats-less parent stays stats-less;
    - bloom: a sidecar for the bloom property's columns, written into
      the commit's immutable data dir before the CAS (a reader that
      sees the commit sees its blooms; vacuum reclaims both together);
    - identity: each high-water advances past the largest id the new
      files hold (:func:`_advance_identity` reads the stats above).

    Returns ``(files, stats, props)``, ``props`` with the advanced
    ``identity``."""
    from cashback_data_pipeline_spark.sinks import filestats

    props = dict(props or {})
    eff = {**(m or {}), **props}
    files = _write_data_files(
        df, table, mapping=_extend_mapping(_mapping(eff), df.columns),
        partition_by=_phys_partitioning(eff),
    )
    ident = _identity(eff)
    if stats_cols is None:
        stats_cols = sorted(
            {c for e in ((m or {}).get("stats") or {}).values() for c in (e.get("cols") or {})}
            | set(ident)
        )
    stats = filestats.collect_file_stats(spark, table, files, stats_cols) if stats_cols else None
    stats = _build_bloom_sidecar(spark, table, files, df.schema, _bloom_table_conf(eff), stats)
    if ident:
        props["identity"] = _advance_identity(ident, files, stats or {})
    return files, stats, props


def _candidates(table: str, m: dict, preds) -> tuple[list[str], list[str]]:
    """THE candidate pruner: split snapshot ``m``'s files into
    ``(cand, carried)`` for the skip-tree ``preds`` over LOGICAL names
    (None or empty: every file is a candidate). Reads and every DML,
    MERGE and maintenance scope prune through it, in one order:

    1. derived conjuncts for monotone generated columns join the tree
       (:func:`_augment_generated_predicates`);
    2. names translate to physical, the key of stats and blooms;
    3. min/max/null stats drop files whose bounds exclude every match
       (``filestats.prune_files``);
    4. the survivors' bloom sidecars drop files that hold none of an
       ``==``/``in`` leaf's values (``filestats.prune_files_bloom``).

    Sound: each step drops a file only when its metadata PROVES no row
    matches — a derived conjunct is implied by its base predicate, and a
    Bloom filter has no false negatives — and a missing entry or sidecar
    keeps the file. A carried file therefore holds no matching row."""
    from cashback_data_pipeline_spark.sinks import filestats

    files = m["files"]
    if not preds:
        return list(files), []
    stats = m.get("stats")
    phys = _phys_predicates(_augment_generated_predicates(preds, m), _mapping(m))
    cand, _ = filestats.prune_files(files, stats, phys)
    cand, _ = filestats.prune_files_bloom(get_log_store(table), table, cand, stats, phys)
    cand_set = set(cand)
    return cand, [f for f in files if f not in cand_set]


def _rel_file_col() -> F.Column:
    """Table-relative path of the file a row came from, recovered from
    the scan's ``_metadata.file_path``: every manifest data file lives
    under ``<table>/data/<commit>/``, so the segment after the LAST
    ``/data/`` is the relative path (a ``/data/`` inside the table root
    itself splits earlier and is discarded)."""
    return F.concat(
        F.lit("data/"), F.element_at(F.split(F.col("_metadata.file_path"), "/data/"), -1)
    )


def _physical_scan(
    spark: SparkSession,
    table: str,
    rel_files: list[str],
    schema_json: str | None = None,
    mapping: dict | None = None,
    partitioning: list[str] | None = None,
    with_meta: bool = False,
):
    """PHYSICAL-name scan of a manifest file list — ONE scan relation
    however many commits the list spans. ``schema_json`` (the commit's
    logical schema) pins the scan schema under the column mapping.

    Partition columns are NOT in the files (the hive layout) and Spark's
    directory discovery cannot span multiple commit dirs (its base-path
    walk stops at the first non-``key=value`` segment, so a two-commit
    partitioned list reads as "conflicting directory structures").
    Instead the values are recovered from ``_metadata.file_path`` with
    ``regexp_extract`` + ``url_decode`` + a cast to the committed type —
    pure whole-stage-codegen expressions over the one scan, no
    discovery, and it works identically for files referenced across
    table roots (shallow clones). ``with_meta`` adds ``__row_file`` /
    ``__row_ri`` (the deletion-vector join keys) in the same projection,
    so metadata columns never need to survive a later node."""
    store = get_log_store(table)
    pmap = dict(mapping) if mapping else {}
    part_set = set(partitioning or [])
    if part_set and schema_json is None:
        raise ValueError("partitioned scans need the committed schema")
    logical = (
        T.StructType.fromJson(json.loads(schema_json)) if schema_json else None
    )
    reader = spark.read
    if logical is not None:
        reader = reader.schema(
            T.StructType(
                [
                    T.StructField(
                        pmap.get(f.name, f.name), f.dataType, True, f.metadata
                    )
                    for f in logical.fields
                    if f.name not in part_set
                ]
            )
        )
    out = reader.parquet(*[store.join(table, f) for f in rel_files])
    if not part_set and not with_meta:
        return out
    rel = _rel_file_col()
    if logical is not None:
        cols = []
        for f in logical.fields:
            phys = pmap.get(f.name, f.name)
            if f.name in part_set:
                raw = F.regexp_extract(
                    rel, "(?:^|/)" + _re.escape(phys) + "=([^/]+)/", 1
                )
                cols.append(
                    F.when(
                        (raw == "") | (raw == F.lit(_HIVE_NULL)), F.lit(None)
                    )
                    .otherwise(F.url_decode(raw))
                    .cast(f.dataType)
                    .alias(phys)
                )
            else:
                cols.append(F.col(phys))
    else:
        cols = [F.col(c) for c in out.columns]
    extra = (
        [rel.alias("__row_file"), F.col("_metadata.row_index").alias("__row_ri")]
        if with_meta
        else []
    )
    return out.select(*cols, *extra)


def _read_files(
    spark: SparkSession,
    table: str,
    rel_files: list[str],
    m: dict,
    dv_files: list[str] | None = None,
) -> DataFrame:
    """Scan ``rel_files`` (a subset of snapshot ``m``'s files) with the
    snapshot's DELETION VECTORS applied (the Delta merge-on-read read
    path): rows whose ``(file, row_index)`` appears in a tombstone
    relation are anti-joined away. DV relations are row-count-sized for
    the deletes, not the table, so AQE plans the anti-join as a
    broadcast for every sane DV size; a table accumulating massive DVs
    should ``compact_table`` (which materializes deletes and drops the
    DVs). No DVs ⇒ the plain parquet scan, zero overhead. ``dv_files``
    overrides the snapshot's DVs (the change feed reads added files
    with ``[]``).

    Everything else derives from the snapshot. Its column mapping
    (:func:`_mapping_pairs`): the scan sees physical names, the returned
    frame logical ones — a drop is simply an unselected physical. Its
    schema pins the SCAN schema instead of letting Spark infer it from
    one file: files written before a column existed read that column as
    NULL (the Delta schema-evolution / metadata-only ADD COLUMN
    semantics), and the parquet readers' widening promotions (Spark 4:
    int→long, float→double) resolve narrower old files under the
    committed wider type. Its partition columns
    (:func:`_scan_partitioning`) are recovered from the hive
    ``key=value`` path segments (:func:`_physical_scan`) — they are NOT
    in the files, exactly like Delta."""
    mapping = _mapping_pairs(m)
    if dv_files is None:
        dv_files = _dv_set(m)

    def _logical(df: DataFrame) -> DataFrame:
        if not mapping:
            return df
        return df.select(*[F.col(p).alias(n) for n, p in mapping])

    store = get_log_store(table)
    tagged = _physical_scan(
        spark, table, rel_files, schema_json=m["schema"],
        mapping=dict(mapping) if mapping else None,
        partitioning=_scan_partitioning(m) or None, with_meta=bool(dv_files),
    )
    if not dv_files:
        return _logical(tagged)
    cols = [c for c in tagged.columns if c not in ("__row_file", "__row_ri")]
    dv = spark.read.parquet(*[store.join(table, f) for f in dv_files]).select(
        F.col("file").alias("__dv_file"), F.col("row_index").alias("__dv_ri")
    )
    kept = tagged.join(
        dv,
        (tagged["__row_file"] == dv["__dv_file"]) & (tagged["__row_ri"] == dv["__dv_ri"]),
        "left_anti",
    )
    return _logical(kept.select(*cols))


def _dv_set(m: dict | None) -> list[str]:
    return list((m or {}).get("dv_files") or [])


def write_store_files(
    df: DataFrame,
    table: str,
    commit_id: str,
    store: str,
    partition_by: str | None = None,
    schemas: dict | None = None,
) -> list[str]:
    """Multi-STORE commits: several logical relations (e.g. an index's
    postings / doclens / termstats) versioned together under ONE
    manifest, so a commit is atomic ACROSS stores — a reader can never
    observe new postings with old termstats. Each store's files land under
    ``data/<commit>/<store>/``; store membership is recoverable from the
    path (see :func:`store_files`), and ``partition_by`` lays the store
    out hive-partitioned so readers can prune FILES from the manifest's
    metadata alone, no directory listing. Returns table-relative paths —
    invisible until a manifest references them, like every data write.

    ``schemas`` (a dict the caller owns) receives ``store`` → the
    schema :func:`read_store` should read these files with; the caller
    records it in the commit through :func:`with_store_schemas`."""
    log_store = get_log_store(table)
    data_dir = log_store.join(table, "data", commit_id, store)
    writer = df.write
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(data_dir)
    if schemas is not None:
        written = _store_schema(df.schema, partition_by)
        # two writes of one store in one commit must agree, else no entry
        schemas[store] = written if schemas.get(store, written) == written else None
    return [
        log_store.relativize(table, p)
        for p in log_store.list_files_recursive(data_dir, suffix=".parquet")
    ]


def _nullable_json(dt):
    """A type's jsonValue with every nested field, element and map value
    nullable, as Spark's parquet reader resolves it (``asNullable``)."""
    if not isinstance(dt, dict):
        return dt
    if dt["type"] == "struct":
        return {
            **dt,
            "fields": [
                {**f, "type": _nullable_json(f["type"]), "nullable": True} for f in dt["fields"]
            ],
        }
    if dt["type"] == "array":
        return {**dt, "elementType": _nullable_json(dt["elementType"]), "containsNull": True}
    if dt["type"] == "map":
        return {
            **dt,
            "keyType": _nullable_json(dt["keyType"]),
            "valueType": _nullable_json(dt["valueType"]),
            "valueContainsNull": True,
        }
    return dt


def _store_schema(schema: T.StructType, partition_by: str | None) -> list:
    """What Spark infers from a store's files given as explicit paths,
    compactly for the commit record: one ``[name, type]`` pair per field
    (plus the field's metadata when it has any), all fields nullable,
    and no ``partition_by`` column — its values live in the path, which
    a file-list read does not discover."""
    return [
        [f.name, _nullable_json(f.dataType.jsonValue())] + ([f.metadata] if f.metadata else [])
        for f in schema.fields
        if f.name != partition_by
    ]


def _store_struct(entry: list) -> T.StructType:
    """The StructType of a :func:`_store_schema` entry."""
    return T.StructType.fromJson(
        {
            "type": "struct",
            "fields": [
                {"name": name, "type": dt, "nullable": True, "metadata": md[0] if md else {}}
                for name, dt, *md in entry
            ],
        }
    )


_STORE_SCHEMAS = "store_schemas"


def with_store_schemas(
    meta: dict | None, prev: dict | None, files: list[str], written: dict
) -> dict:
    """``meta`` plus the commit's per-store read schemas: the entry
    :func:`write_store_files` put in ``written`` for each store this
    commit wrote, and the parent's entry for each store it carries
    untouched. An entry must describe EVERY file of its store, so a
    store that keeps parent files and gains new ones keeps an entry
    only when the parent recorded the same schema; otherwise it gets
    none and :func:`read_store` infers, as for commits that predate
    these entries."""
    old = ((prev or {}).get("meta") or {}).get(_STORE_SCHEMAS) or {}
    keep = set(files)
    out = {}
    for store in set(old) | set(written):
        carried = prev is not None and any(f in keep for f in store_files(prev, store))
        if store not in written:
            if carried:
                out[store] = old[store]
        elif written[store] is not None and (not carried or old.get(store) == written[store]):
            out[store] = written[store]
    return {**(meta or {}), _STORE_SCHEMAS: out} if out else dict(meta or {})


def store_files(manifest_doc: dict, store: str) -> list[str]:
    """The manifest's files belonging to one store (``data/<commit>/
    <store>/...``), as table-relative paths."""
    needle = f"/{store}/"
    return [f for f in manifest_doc["files"] if needle in "/" + f.replace(os.sep, "/") + "/"]


def read_store(
    spark: SparkSession,
    table: str,
    store: str,
    version: int | None = None,
    file_filter=None,
    schema: T.StructType | None = None,
    apply_schema: bool = False,
    merge_schema: bool = False,
    skip=None,
) -> DataFrame:
    """Read one store of a multi-store manifest table at a PINNED
    version. ``file_filter(relpath) -> bool`` prunes files from manifest
    metadata alone (e.g. by hive partition segment in the path) — the
    manifest IS the file index, so pruning costs zero I/O. ``schema``
    makes an all-files-pruned (or empty-store) read return an empty
    DataFrame instead of failing schema inference; with
    ``apply_schema=True`` it is also ENFORCED on the read — essential
    when a store's files span schema generations (an evolved column is
    NULL in pre-evolution files for every row, deterministically,
    instead of present-or-absent depending on which file Spark sampled
    for inference). ``merge_schema=True`` is the alternative for a
    caller that does NOT know the expected schema up front (e.g. a
    compactor rewriting whatever the store holds): the read unions every
    file's schema instead of sampling one file, so an evolved column can
    never silently vanish from the snapshot. Without ``apply_schema``,
    a schema the commit recorded for the store (:func:`with_store_schemas`)
    is applied instead, which spares the footer-inference job a bare
    file-list read runs. ``skip=`` is stats-based file pruning + exact
    residual filter, as in :func:`read_table`."""
    from cashback_data_pipeline_spark.sinks import filestats

    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table}")
    m = read_manifest(table, v)
    files = store_files(m, store)
    if file_filter is not None:
        files = [f for f in files if file_filter(f)]
    if skip:
        files, _ = filestats.prune_files(files, m.get("stats"), skip)
    if not files:
        if schema is None:
            raise FileNotFoundError(f"store {store!r} has no files at v{v} and no schema given")
        return local_rows_df(spark, [], schema)
    reader = spark.read
    recorded = ((m.get("meta") or {}).get(_STORE_SCHEMAS) or {}).get(store)
    if apply_schema:
        if schema is None:
            raise ValueError("apply_schema=True requires schema")
        reader = reader.schema(schema)
    elif recorded is not None:
        # the schema every file of the store was written with: no
        # footer-inference job, and nothing left for mergeSchema to add
        reader = reader.schema(_store_struct(recorded))
    elif merge_schema:
        reader = reader.option("mergeSchema", "true")
    log_store = get_log_store(table)
    out = reader.parquet(*[log_store.join(table, f) for f in files])
    if skip:
        out = out.filter(filestats.skip_condition(skip))
    return out


def _reconcile_append_schema(parent_schema_json: str, df_schema: T.StructType) -> str:
    """The committed schema of an APPEND: the parent's schema widened by
    the batch, never narrowed (round-10 review finding — previously an
    old-shape append committed its own schema verbatim, silently
    REVERTING a metadata-only ADD COLUMN or type widening, and under
    the pinned-schema scan a reverted widening even breaks reads of the
    wider files). Rules per column: present in both with equal types →
    unchanged; one side wider under the parquet-resolvable promotions
    (:data:`_WIDENINGS`) → the wider type wins; incompatible retype →
    loud error. Parent-only columns stay (old files and the batch both
    null-fill); batch-only columns append at the end (additive
    evolution, the previous implicit-ADD behavior)."""
    parent = T.StructType.fromJson(json.loads(parent_schema_json))
    by_name = {f.name: f for f in df_schema.fields}
    out = []
    for f in parent.fields:
        g = by_name.get(f.name)
        if g is None or g.dataType == f.dataType:
            out.append(f)
            continue
        fs, gs = f.dataType.simpleString(), g.dataType.simpleString()
        if gs in _WIDENINGS.get(fs, ()):
            out.append(T.StructField(f.name, g.dataType, True, f.metadata))
        elif fs in _WIDENINGS.get(gs, ()):
            out.append(f)  # parent already wider — keep it
        else:
            raise ValueError(
                f"append retypes column {f.name!r} from {fs} to {gs}: only "
                "widening promotions reconcile; anything else needs an "
                "explicit overwrite"
            )
    parent_names = {f.name for f in parent.fields}
    out.extend(
        T.StructField(g.name, g.dataType, True, g.metadata)
        for g in df_schema.fields
        if g.name not in parent_names
    )
    return T.StructType(out).json()


def create_table(
    table: str,
    schema: "T.StructType | str",
    if_not_exists: bool = False,
    meta: dict | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """``CREATE TABLE [IF NOT EXISTS]`` as a manifest commit (VERDICT
    r10 item 1 — the reference's serving lambda issues exactly this
    statement before its NOT-EXISTS load, ref:
    load_to_redshift_lambda.py:78-84): version 1 carries the declared
    schema and an EMPTY file list, so the table exists, reads as zero
    rows, and every later write reconciles against the declared schema
    (an append that retypes a column fails loudly instead of silently
    redefining the table). ``schema`` is a StructType or a DDL string
    (``"a INT, b STRING"``). With ``if_not_exists`` an existing table is
    a no-op returning its CURRENT version — the idempotent serving-DDL
    shape; without it, an existing table raises. Metadata-only either
    way; concurrency rides the commit CAS (two racing creators
    serialize — one creates, the other sees the winner). ``partition_by``
    declares the hive partition columns up front (the
    ``write_table(partition_by=)`` property) so the first INSERT already
    lands partitioned."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if partition_by:
        _validate_partition_cols(schema, list(partition_by))

    def attempt(cur, m):
        if cur is not None:
            if if_not_exists:
                return cur
            raise ValueError(
                f"table already exists at {table} (v{cur}); use IF NOT EXISTS "
                "for the idempotent form"
            )
        return _Commit(
            files=[], schema=schema.json(), meta=meta, operation="create",
            props={"partitioning": list(partition_by) if partition_by else None},
        )

    return _commit(table, attempt, create=True)


def clone_table(src: str, dst: str, version: int | None = None) -> int:
    """SHALLOW CLONE (VERDICT r10 item 4 — the Delta ``CREATE TABLE ..
    SHALLOW CLONE`` shape): publish ``dst`` version 1 whose manifest
    REFERENCES ``src``'s data files (and deletion vectors, stats, bloom
    sidecars, and every table property) at ``version`` (default
    current) — an O(metadata) commit, ZERO data movement, however large
    the source. The fork-and-experiment primitive before risky
    maintenance on a 100 TB table: reads of the clone answer exactly as
    the source did at the cloned version, while writes/DML/OPTIMIZE on
    the clone land NEW files under the clone's own root and never touch
    the source's.

    Mechanics: foreign entries are stored as ABSOLUTE paths (the
    stores' ``join`` restarts at an absolute part, so every existing
    reader resolves them unchanged); partition values still parse from
    the path tail, deletion-vector relations still match on the
    ``data/..``-relative suffix.

    OWNERSHIP RULE (the Delta shallow-clone contract, stated not
    hidden): the SOURCE owns the shared files. ``vacuum`` on the clone
    can never remove them (it only sweeps the clone's own data root,
    and foreign entries are never "unreferenced local dirs"), but a
    vacuum or destructive rewrite on the SOURCE can orphan the clone's
    references — retain the cloned version on the source, or compact
    the clone (rewriting localizes the data) before vacuuming the
    source."""
    src_cur = current_version(src)
    if src_cur is None:
        raise FileNotFoundError(f"no committed version in {src}")
    v = src_cur if version is None else version
    m = read_manifest(src, v)
    src_store = get_log_store(src)

    def _absolute(rel: str) -> str:
        p = src_store.join(src, rel)
        # a relative LOCAL source root would make entries depend on the
        # reader's CWD — resolve once, at clone time
        if "://" not in p and not os.path.isabs(p):
            p = os.path.abspath(p)
        return p

    files = [_absolute(f) for f in m["files"]]
    abs_of = dict(zip(m["files"], files))
    stats = None
    if m.get("stats"):
        stats = {}
        for rel, e in m["stats"].items():
            if rel not in abs_of:
                continue
            e = dict(e)
            if e.get("bloom"):
                e["bloom"] = _absolute(e["bloom"])
            stats[abs_of[rel]] = e
    dv = [_absolute(f) for f in _dv_set(m)]

    def attempt(cur, _m):
        if cur is not None:
            raise ValueError(f"clone target {dst} already exists")
        return _Commit(
            files=files,
            schema=m["schema"],
            meta={"clone": {"source": src, "of_version": v}},
            stats=stats,
            dv_files=dv,
            operation="clone",
            props={k: m.get(k) for k in TABLE_PROPS},
        )

    return _commit(dst, attempt, create=True)


def convert_to_table(
    spark: SparkSession, table: str, stats_cols: list[str] | None = None
) -> int:
    """``CONVERT TO MANIFEST`` (the Delta ``CONVERT TO DELTA`` shape):
    register every parquet file already under ``table`` — a plain or
    hive-partitioned warehouse directory like the reference's
    (ref: glue_script.py:77) — as manifest version 1 IN PLACE: zero
    copy, zero rewrite, one metadata commit. After conversion the
    directory IS a manifest table: time travel, appends/DML/OPTIMIZE,
    CHECK constraints, the SQL front door, and the batch/streaming
    sources all work; new commits land under the native
    ``data/<commit>/`` tree beside the imported files.

    Hive ``key=value`` layouts convert with their partition columns
    intact: Spark's own discovery types them, the ``partitioning``
    property records them, and exact path-derived stats inject at the
    commit — a converted date-partitioned warehouse is immediately
    partition-prunable. ``stats_cols`` additionally collects per-file
    footer min/max for the named data columns (no data scan).

    Boundaries, stated: imported files are OWNED BY THE IMPORTER —
    ``vacuum`` reclaims only manifest-native ``data/`` dirs, so files a
    later rewrite drops remain on disk until removed out of band (the
    Delta CONVERT posture: the original files are never deleted).
    Merge-on-read DELETE refuses while imported files are candidates
    (deletion-vector bookkeeping is native-layout-keyed) — run
    ``compact_table``/``optimize_table`` first, which migrates data
    into the native tree."""
    if current_version(table) is not None:
        raise ValueError(f"{table} is already a manifest table")
    store = get_log_store(table)
    files = sorted(
        store.relativize(table, p)
        for p in store.list_files_recursive(table, suffix=".parquet")
    )
    if not files:
        raise FileNotFoundError(f"no parquet files under {table} to convert")
    # Spark's own discovery supplies the schema AND typed partition
    # columns for hive layouts (inconsistent layouts fail loudly here)
    df = spark.read.option("basePath", table).parquet(table)
    schema = df.schema
    path_keys: set[str] = set()
    for f in files:
        path_keys |= set(_partition_values_from_path(f))
    partitioning = [f.name for f in schema.fields if f.name in path_keys]
    if partitioning:
        _validate_partition_cols(schema, partitioning)
    stats = None
    if stats_cols:
        from cashback_data_pipeline_spark.sinks import filestats

        filestats.validate_stats_cols(schema, list(stats_cols))
        stats = filestats.collect_file_stats(spark, table, files, list(stats_cols))

    def attempt(cur, m):
        if cur is not None:
            raise ValueError(f"{table} is already a manifest table")
        return _Commit(
            files=files,
            schema=schema.json(),
            meta={"convert": {"n_files": len(files)}},
            stats=stats,
            operation="convert",
            props={"partitioning": partitioning or None},
        )

    return _commit(table, attempt, create=True)


def write_table(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    meta: dict | None = None,
    stats_cols: list[str] | None = None,
    cluster_by: list[str] | None = None,
    cluster_files: int | None = None,
    bloom_cols: list[str] | None = None,
    bloom_bits: int | None = None,
    zorder_by: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new version. ``overwrite`` replaces the file
    list; ``append`` unions with the current version's;
    ``overwrite_partitions`` is DYNAMIC PARTITION OVERWRITE on a
    partitioned table — exactly the partitions the batch carries are
    replaced, every other partition's files carry forward untouched
    (selected from path metadata alone, zero data I/O — the Delta
    ``replaceWhere``/dynamic-overwrite shape the reference's
    date-partitioned reload needs, ref: glue_script.py:77). Returns the
    committed version. Concurrency: data files land once; only the CAS
    retries, so a losing appender re-commits WITHOUT rewriting data.

    ``stats_cols`` opts the commit into file-level data skipping
    (sinks/filestats.py): per-file min/max/null-count for these columns
    ride in the manifest (footer-read, no data re-scan on local stores),
    and :func:`read_table`'s ``skip=`` predicates prune files from
    metadata alone (:func:`_candidates`). Without it an append collects
    the columns the parent tracks. Generated and identity columns are
    always tracked; the new files' stats, bloom sidecar and identity
    advance follow the write tail's rule (:func:`_add_files`).

    ``cluster_by`` range-partitions (+ sorts within partitions) the
    commit's rows on those columns before writing, so each file covers a
    DISJOINT value range — the layout that makes ``skip=`` pruning
    maximal (a point/range predicate hits ~files_matching instead of
    every file that happens to straddle the value). One extra shuffle at
    write time, bought once; the Delta/Iceberg ``OPTIMIZE``-style
    clustering discipline. Implies ``stats_cols=cluster_by`` unless
    stats_cols is given explicitly (clustering without stats would be
    pointless). ``cluster_files`` pins the range-partition count —
    without it AQE may coalesce a small commit into one file, which is
    optimal I/O but leaves nothing for per-file pruning to skip (at
    cluster scale the range shuffle is naturally many files).

    ``bloom_cols`` additionally builds per-(file, column) Bloom filters
    for these integer/string key columns (sinks/filestats.py bloom
    section — the Delta bloom-index design): equality/IN predicates on
    a high-cardinality key prune files even in the hash-distributed
    layout where every file spans the full min/max range. Filters live
    in a per-commit sidecar (``data/<commit>/_blooms.json``) inside the
    commit's immutable data dir — the manifest carries only the sidecar
    path per file, readers load it lazily for ``==``/``in`` reads, and
    vacuum reclaims it with the commit. ``bloom_bits`` sizes each
    filter (default 32768 bits = 4 KiB, ~1% false positives at 4k
    distinct keys per file; false positives only ever KEEP a file).

    ``zorder_by`` (mutually exclusive with ``cluster_by``) lays the
    commit out on the MORTON interleaving of the named numeric/temporal
    columns (sinks/writers.zorder_column — the Delta OPTIMIZE ZORDER
    idea): each file covers ≈ a hyper-rectangle in ALL the columns, so
    min/max pruning stays selective for a predicate on ANY of them — a
    lexicographic ``cluster_by`` clusters only its leading column.
    Implies ``stats_cols=zorder_by`` unless given; ``cluster_files``
    pins the file count as for ``cluster_by``.

    ``partition_by`` declares (or re-declares, on overwrite) hive-style
    PARTITION COLUMNS — a table property every later commit carries (see
    the partitioning section above :func:`_partitioning`): data files
    land under ``key=value`` segments, partition values become exact
    per-file stats injected from the paths, and appends inherit the
    layout without re-passing it (an append declaring a DIFFERENT
    layout refuses). Composes with cluster_by/zorder_by (ordering
    within partitions) and stats/bloom on OTHER columns; bloom on a
    partition column is refused (its values are not in the files —
    exact path stats already prune equality on it)."""
    from cashback_data_pipeline_spark.sinks import filestats

    if mode not in ("overwrite", "append", "overwrite_partitions"):
        raise ValueError(f"unsupported mode {mode!r}")
    cur0 = current_version(table)
    cur0_doc = read_manifest(table, cur0) if cur0 is not None else None
    parent_part = _partitioning(cur0_doc)
    if mode == "overwrite":
        partitioning = list(partition_by) if partition_by else None
    else:
        if partition_by is not None and list(partition_by) != parent_part:
            raise ValueError(
                f"{mode} declares partition_by={list(partition_by)} but the "
                f"table is partitioned by {parent_part}; re-partitioning "
                "needs an explicit overwrite"
            )
        partitioning = parent_part or None
        if mode == "overwrite_partitions" and not partitioning:
            raise ValueError(
                "overwrite_partitions needs a partitioned table (declare "
                "partition_by on the initial overwrite)"
            )
    if partitioning:
        _validate_partition_cols(df.schema, partitioning)
        if bloom_cols and set(bloom_cols) & set(partitioning):
            raise ValueError(
                f"bloom_cols {sorted(set(bloom_cols) & set(partitioning))} "
                "are partition columns — their values live in paths, not "
                "files; exact path stats already prune them"
            )
    # generated columns materialize/validate FIRST (they may be cluster
    # keys or stats columns below); declarations are frozen once the
    # table holds data, and one declared while this write runs fails it
    # at the CAS below
    gen0 = _generated(cur0_doc)
    df = _apply_generated(df, gen0, "this write")
    ident0 = _identity(cur0_doc)
    df, _ident_assigned = _assign_identity(df, ident0)
    # column mapping resolves BEFORE the data write: files of a mapped
    # table store physical names, whatever mode/layout follows
    mapping = _extend_mapping(_mapping(cur0_doc), df.columns)
    # the properties this write states; the rest carry from the parent.
    # Overwrite states the partitioning explicitly (None CLEARS a
    # previous one); append/dynamic-overwrite restate the parent's,
    # verified unchanged at the CAS below. The declared layout carries
    # unless this write declares one (maintenance ops re-lay by it)
    props: dict = {"column_mapping": mapping, "partitioning": partitioning}
    if zorder_by:
        if cluster_by:
            raise ValueError("pass cluster_by or zorder_by, not both")
        df = _zorder_layout(df, list(zorder_by), cluster_files)
        props["layout"] = {"zorder_by": list(zorder_by)}
        if stats_cols is None:
            stats_cols = list(zorder_by)
    if cluster_by:
        filestats.validate_stats_cols(df.schema, list(cluster_by))
        props["layout"] = {"cluster_by": list(cluster_by)}
        if stats_cols is None:
            stats_cols = list(cluster_by)
        if cluster_files:
            df = df.repartitionByRange(cluster_files, *cluster_by)
        else:
            df = df.repartitionByRange(*cluster_by)
        df = df.sortWithinPartitions(*cluster_by)
    checked_cons = _constraints(cur0_doc)
    _check_constraints(df, checked_cons, "this write")
    # this write's stats rule, in PHYSICAL names for the write tail
    # (:func:`_add_files`): the named columns, else on an append the
    # columns the parent tracks (stats are a table property in effect —
    # a plain append must not add an unprunable file); generated and
    # identity columns always (derived-column predicates prune, and the
    # identity high-water advances from these entries)
    phys_stats_cols: list[str] = []
    if stats_cols:
        # LOGICAL names validate against the logical schema, so a bad
        # column fails as loudly on a column-mapped table
        filestats.validate_stats_cols(df.schema, list(stats_cols))
        phys_stats_cols = _phys_cols(mapping, list(stats_cols))
    elif mode == "append" and cur0_doc is not None:
        parent_tracked = {
            c for e in (cur0_doc.get("stats") or {}).values()
            for c in (e.get("cols") or {})
        }
        phys_stats_cols = sorted(parent_tracked & set(_phys_cols(mapping, df.columns)))
    if gen0 or ident0:
        by_name = {f.name: f.dataType for f in df.schema.fields}
        extra = [
            n for n in (*gen0, *ident0)
            if isinstance(by_name.get(n), filestats._STATS_OK_TYPES)
            and n not in (partitioning or [])
        ]
        phys_stats_cols = sorted(set(phys_stats_cols) | set(_phys_cols(mapping, extra)))
    if bloom_cols:
        filestats.validate_bloom_cols(df.schema, list(bloom_cols))
        if mapping and any(mapping.get(c, c) != c for c in bloom_cols):
            raise ValueError(
                "bloom_cols on a RENAMED column are unsupported (the sidecar "
                "path operates on physical names); rename_column refuses "
                "bloom-indexed columns for the same reason"
            )
        props["bloom_conf"] = {
            "cols": sorted(bloom_cols),
            "bits": int(bloom_bits or filestats.BLOOM_DEFAULT_BITS),
        }
    bloom_conf = props.get("bloom_conf") or _bloom_table_conf(cur0_doc)
    if bloom_conf and partitioning and set(bloom_conf.get("cols") or []) & set(
        partitioning
    ):
        raise ValueError(
            "the table's bloom property covers a partition column; "
            "partition values live in paths, not files — rebuild without "
            "bloom on that column before partitioning on it"
        )
    files, stats, props = _add_files(
        df.sparkSession, table, cur0_doc, df, phys_stats_cols, props
    )
    schema_json = df.schema.json()
    touched: set[tuple] | None = None
    if mode == "overwrite_partitions":
        # the batch's own partitions, rendered as hive path values — a
        # driver collect bounded by the number of partitions TOUCHED,
        # never the table's (the dynamic-overwrite contract)
        touched = {
            tuple(_hive_render(r[c]) for c in partitioning)
            for r in df.select(*partitioning).distinct().collect()
        }

    def attempt(cur, cur_doc):
        nonlocal checked_cons
        # the data files were written under `mapping`; a concurrent
        # rename/drop landing between the write and this CAS would make
        # that layout stale, and silently committing OUR mapping would
        # revert the winner's rename — loud, never silent
        if _extend_mapping(_mapping(cur_doc), df.columns) != mapping:
            raise RuntimeError(
                f"column mapping of {table} changed concurrently with this "
                "write; re-run the write against the new table schema"
            )
        if _constraints(cur_doc) != checked_cons:
            # a constraint landed between the pre-write check and this
            # CAS attempt — rows must never commit under a constraint
            # they were not checked against (round-10 review)
            checked_cons = _constraints(cur_doc)
            _check_constraints(df, checked_cons, "this write")
        if _generated(cur_doc) != gen0:
            # a generated column was declared between the write and this
            # CAS: the written files hold none of its values, so they
            # would read NULL where the table promises the expression —
            # loud, never silent (the files become vacuum fodder)
            raise RuntimeError(
                f"generated columns of {table} changed concurrently with "
                "this write; re-run it"
            )
        if ident0 and _identity(cur_doc) != ident0:
            # the high-water moved under us: system-assigned ids in the
            # written files could collide with the winner's — loud,
            # never silent (the written files become vacuum fodder)
            raise RuntimeError(
                f"identity high-water of {table} advanced concurrently "
                "with this write; re-run it"
            )
        if mode != "overwrite" and _partitioning(cur_doc) != parent_part:
            raise RuntimeError(
                f"partitioning of {table} changed concurrently with this "
                "write; re-run against the new table layout"
            )
        if mode == "overwrite" or cur_doc is None:
            # overwrite replaces the data, so its tombstones die with it
            return _Commit(
                files=files, schema=schema_json, meta=meta, stats=stats,
                dv_files=[], operation=mode, props=props,
            )
        base = cur_doc["files"]
        if touched is not None:
            # dynamic partition overwrite: the batch's partitions drop
            # their old files (path metadata alone — zero I/O), every
            # other partition carries forward
            phys_part = _phys_cols(_mapping(cur_doc), parent_part)
            base = [
                f for f in base
                if tuple(
                    _partition_values_from_path(f).get(c) for c in phys_part
                ) not in touched
            ]
        # appends commit the RECONCILED schema (parent widened by the
        # batch, never narrowed) — resolved against the parent this CAS
        # attempt actually lands on — and keep the parent's deletion
        # vectors in effect
        return _Commit(
            files=base + files,
            schema=_reconcile_append_schema(cur_doc["schema"], df.schema),
            meta=meta, stats=stats, operation=mode, props=props,
        )

    return _commit(table, attempt, create=True)


def drop_partition(table: str, values: dict) -> int:
    """``ALTER TABLE .. DROP PARTITION (col = value, ...)`` — partition
    retention as ONE METADATA-ONLY commit: files whose path-encoded
    partition values match ``values`` (a subset of the declared
    partition columns selects every matching composite partition) drop
    from the manifest without being read, rewritten, or deleted —
    storage reclaim is vacuum's job, time travel still reaches the
    dropped data, and the commit is O(#files) path matching. The
    lifecycle op a date-partitioned 100 TB history runs daily; at that
    scale the difference between this and ``delete_where`` is a JSON
    commit vs reading the partition. Returns the committed version
    (unchanged if no file matches)."""
    if not values:
        raise ValueError("DROP PARTITION needs at least one col=value pair")

    def attempt(cur, m):
        part = _partitioning(m)
        unknown = [c for c in values if c not in part]
        if unknown:
            raise ValueError(
                f"DROP PARTITION names non-partition column(s) {unknown}; "
                f"{table} is partitioned by {part or 'nothing'}"
            )
        pmap = _mapping(m) or {}
        want = {
            pmap.get(c, c): (None if v is None else _hive_render(v))
            for c, v in values.items()
        }

        def _matches(rel: str) -> bool:
            vals = _partition_values_from_path(rel)
            return all(vals.get(c, object()) == v for c, v in want.items())

        dropped = [f for f in m["files"] if _matches(f)]
        if not dropped:
            return cur  # no matching partition — no version churn
        dropped_set = set(dropped)
        meta = dict(m.get("meta") or {})
        meta["drop_partition"] = {
            "values": {c: _hive_render(v) for c, v in values.items()},
            "files_dropped": len(dropped),
        }
        # tombstones referencing dropped files match nothing; ones on
        # kept files stay in effect
        return _Commit(
            files=[f for f in m["files"] if f not in dropped_set],
            meta=meta, operation="drop_partition",
        )

    return _commit(table, attempt)


def delete_keys(spark: SparkSession, keys_df: DataFrame, table: str, key: str) -> int:
    """Keyed DELETE driven by a RELATION (no driver-side key list):
    files whose key stats/blooms provably miss every delete key carry
    forward untouched (the :func:`_key_predicates` pruning),
    candidates rewrite via one distributed anti-join. The scalable twin
    of ``delete_where((key, "in", [...]))`` for key sets too large to
    be predicate literals — e.g. a CDC batch's delete keys. Returns the
    committed version (unchanged if no file could hold a delete key)."""
    keys_only = keys_df.select(key).distinct()

    def attempt(cur, m):
        cand, carried = _candidates(table, m, _key_predicates(m, key, keys_only))
        if not cand:
            return cur  # no file can hold any delete key — no version churn
        # NULL-SAFE key matching (ADVICE r8): a NULL delete key must
        # remove the NULL-keyed row — the one-row-per-key invariant
        # treats NULL as a key group, so the DML surface must too
        target = _read_files(spark, table, cand, m)
        dk = keys_only.select(F.col(key).alias("__del_key"))
        survivors = target.join(
            dk, on=target[key].eqNullSafe(dk["__del_key"]), how="left_anti"
        )
        new_files, stats, props = _add_files(spark, table, m, survivors)
        meta = dict(m.get("meta") or {})
        meta["delete"] = {"mode": "keyed", "rewritten": len(cand), "carried": len(carried)}
        return _Commit(
            files=carried + new_files, meta=meta, stats=stats, operation="delete",
            props=props,
        )

    return _commit(table, attempt)


def apply_changes(
    spark: SparkSession,
    source: str,
    target: str,
    key: str,
    from_version: int,
    to_version: int | None = None,
) -> dict:
    """APPLY CHANGES INTO (the Delta Live Tables / CDC-merge shape):
    consume ``source``'s row-level change feed over the window and fold
    it into ``target`` — inserts and update POSTIMAGES upsert by key,
    deletes remove by key (file-pruned on both legs). One call per
    consumer cursor advance; re-applying the same window is idempotent
    (same upsert values, already-absent delete keys). Preimages are
    informational in the feed and skipped here. Returns
    ``{"upserts": n, "deletes": n}``. At 100 TB this is how a
    downstream table follows an upstream one without rescans: the feed
    is delta-sized, and both merge legs rewrite only straddling files."""
    delta = read_changes_rows(spark, source, from_version, to_version, key=key)
    delta = delta.persist()
    try:
        ups = delta.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type")
        dels = delta.filter(F.col("_change_type") == "delete").select(key)
        n_up, n_del = ups.count(), dels.count()
        if n_up:
            upsert_table(spark, ups, target, key=key)
        if n_del:
            delete_keys(spark, dels, target, key=key)
        return {"upserts": n_up, "deletes": n_del}
    finally:
        delta.unpersist()


def _rename_in_layout(layout: dict | None, old: str, new: str):
    """The declared layout with ``old`` renamed to ``new`` — explicit
    None (clears) when there was none; commit-arg shaped."""
    if not layout:
        return None
    return {
        k: [new if c == old else c for c in cols] for k, cols in layout.items()
    }


def _drop_from_layout(layout: dict | None, col: str):
    """The declared layout without ``col``; a layout emptied by the drop
    clears entirely (maintenance falls back to plain coalesce)."""
    if not layout:
        return None
    out = {
        k: [c for c in cols if c != col] for k, cols in layout.items()
    }
    out = {k: cols for k, cols in out.items() if cols}
    return out or None


def rename_column(table: str, old: str, new: str) -> int:
    """``ALTER TABLE .. RENAME COLUMN`` with ZERO data rewrite (VERDICT
    r8 item 3 — Delta/Iceberg column mapping, name mode): one
    metadata-only commit re-points the logical name at its frozen
    PHYSICAL twin; every data file — past and future — keeps storing
    physical names, reads resolve through the mapping, and time travel
    to a pre-rename version reads under that version's own names.
    Refused for bloom-indexed columns (the sidecar path is physical;
    drop the bloom property first). Returns the committed version."""

    def attempt(cur, m):
        schema = json.loads(m["schema"])
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r} in {table} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists in {table}")
        _refuse_constrained_column_change(m, old, "rename")
        _refuse_generated_column_change(m, old, "rename")
        if old in _identity(m):
            raise ValueError(f"cannot rename identity column {old!r}")
        if old in _partitioning(m):
            raise ValueError(
                f"column {old!r} is a partition column; its name is baked "
                "into every data file's path — re-partition via an explicit "
                "overwrite instead"
            )
        conf = _bloom_table_conf(m)
        if conf and old in (conf.get("cols") or []):
            raise ValueError(
                f"column {old!r} is bloom-indexed; the bloom sidecar path "
                "operates on physical names — rebuild the table without "
                "bloom_cols before renaming"
            )
        mapping = dict(_mapping(m) or {n: n for n in names})
        mapping[new] = mapping.pop(old, old)
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        # identity default for any column a partial historical mapping
        # missed (ADVICE r9) — a partial mapping stays usable
        mapping = {f["name"]: mapping.get(f["name"], f["name"]) for f in schema["fields"]}
        # the declared layout FOLLOWS the rename (round-10 review: an
        # unreconciled layout bricks every later bare OPTIMIZE/compact)
        layout = _rename_in_layout(m.get("layout"), old, new)
        return _Commit(
            schema=json.dumps(schema),
            meta={"rename_column": {"from": old, "to": new}},
            operation="rename_column",
            props={"column_mapping": mapping, "layout": layout},
        )

    return _commit(table, attempt)


def drop_column(table: str, col: str) -> int:
    """``ALTER TABLE .. DROP COLUMN`` with ZERO data rewrite: one
    metadata-only commit removes the logical column from the schema and
    the mapping — its physical data stays in the files, simply never
    selected again (vacuumed storage comes from the next compaction,
    which rewrites without it). Refused for bloom-indexed columns and
    for the last remaining column. Returns the committed version."""

    def attempt(cur, m):
        schema = json.loads(m["schema"])
        names = [f["name"] for f in schema["fields"]]
        if col not in names:
            raise ValueError(f"no column {col!r} in {table} (have {names})")
        if len(names) == 1:
            raise ValueError(f"cannot drop the last column of {table}")
        _refuse_constrained_column_change(m, col, "drop")
        _refuse_generated_column_change(m, col, "drop")
        if col in _identity(m):
            raise ValueError(f"cannot drop identity column {col!r}")
        if col in _partitioning(m):
            raise ValueError(
                f"column {col!r} is a partition column; drop the partitions "
                "(or re-partition via an explicit overwrite) first"
            )
        conf = _bloom_table_conf(m)
        if conf and col in (conf.get("cols") or []):
            raise ValueError(
                f"column {col!r} is bloom-indexed; rebuild without bloom_cols "
                "before dropping"
            )
        mapping = dict(_mapping(m) or {n: n for n in names})
        mapping.pop(col, None)
        schema["fields"] = [f for f in schema["fields"] if f["name"] != col]
        mapping = {f["name"]: mapping.get(f["name"], f["name"]) for f in schema["fields"]}
        layout = _drop_from_layout(m.get("layout"), col)
        return _Commit(
            schema=json.dumps(schema),
            meta={"drop_column": {"column": col}},
            operation="drop_column",
            props={"column_mapping": mapping, "layout": layout},
        )

    return _commit(table, attempt)


def add_column(table: str, name: str, dtype: "T.DataType | str") -> int:
    """``ALTER TABLE .. ADD COLUMN`` with ZERO data rewrite (VERDICT r9
    item 6): one metadata-only commit widens the schema; every existing
    file simply lacks the column and the pinned-schema scan
    (:func:`_read_files`) null-fills it — the Delta additive-evolution
    semantics, now explicit instead of implied by the next write.

    Physical naming guards against RESURRECTION: on a column-mapped
    table (one that has seen a rename/drop) the new logical name gets a
    FRESH physical twin (``<name>__v<version>``), so re-adding a
    previously dropped column can never read the dropped column's stale
    physical data back out of old files. Never-mapped tables keep
    identity naming (no drop ever happened, so no stale physical can
    exist). Returns the committed version."""
    if isinstance(dtype, str):
        dtype = T._parse_datatype_string(dtype)

    def attempt(cur, m):
        schema = json.loads(m["schema"])
        names = [f["name"] for f in schema["fields"]]
        if name in names:
            raise ValueError(f"column {name!r} already exists in {table}")
        schema["fields"].append(
            json.loads(T.StructField(name, dtype, True).json())
        )
        mapping = _mapping(m)
        if mapping is not None:
            mapping = dict(mapping)
            phys = name
            if phys in mapping.values():
                raise ValueError(
                    f"cannot add column {name!r}: its physical name is "
                    "claimed by a renamed column — pick another name"
                )
            # fresh physical on mapped tables (a drop may have left the
            # identity physical behind in old files)
            phys = f"{name}__v{cur + 1}"
            while phys in mapping.values():
                phys += "_"
            mapping[name] = phys
        return _Commit(
            schema=json.dumps(schema),
            meta={"add_column": {"column": name, "type": dtype.simpleString()}},
            operation="add_column",
            props={"column_mapping": mapping},
        )

    return _commit(table, attempt)


# sound type promotions the parquet readers resolve at scan time
# (Spark 4 widening promotions; pyarrow cast for the Python source)
_WIDENINGS: dict[str, tuple[str, ...]] = {
    "tinyint": ("smallint", "int", "bigint"),
    "smallint": ("int", "bigint"),
    "int": ("bigint",),
    "float": ("double",),
}


def widen_column(table: str, name: str, new_type: "T.DataType | str") -> int:
    """``ALTER TABLE .. ALTER COLUMN .. TYPE`` — metadata-only type
    WIDENING (int→long, float→double and the smaller-int chains): the
    committed schema changes, data files don't; readers resolve narrower
    old files under the wider type at scan (Spark 4's parquet widening
    promotions; the CDF source casts per batch). Narrowing or
    any other conversion is rejected loudly — it would need a rewrite
    and can silently corrupt (use an explicit overwrite instead).
    Returns the committed version."""
    if isinstance(new_type, str):
        new_type = T._parse_datatype_string(new_type)

    def attempt(cur, m):
        schema = json.loads(m["schema"])
        field = next((f for f in schema["fields"] if f["name"] == name), None)
        if field is None:
            names = [f["name"] for f in schema["fields"]]
            raise ValueError(f"no column {name!r} in {table} (have {names})")
        old_s = (
            T.StructType.fromJson({"type": "struct", "fields": [field]})
            .fields[0].dataType.simpleString()
        )
        new_s = new_type.simpleString()
        if new_s == old_s:
            return cur  # no-op: already that type
        if new_s not in _WIDENINGS.get(old_s, ()):
            raise ValueError(
                f"cannot alter {name!r} from {old_s} to {new_s}: only widening "
                f"promotions are metadata-only ({_WIDENINGS}); anything else "
                "needs an explicit rewrite"
            )
        field["type"] = json.loads(T.StructField(name, new_type, True).json())["type"]
        return _Commit(
            schema=json.dumps(schema),
            meta={"widen_column": {"column": name, "from": old_s, "to": new_s}},
            operation="widen_column",
        )

    return _commit(table, attempt)


def _constraints(m: dict | None) -> dict:
    """The table's CHECK constraints as of manifest ``m`` —
    ``{name: sql_expr}``, carried by every commit once set."""
    return dict((m or {}).get("constraints") or {})


def _check_constraints(df: DataFrame, cons: dict, context: str) -> None:
    """Enforce CHECK constraints on rows about to commit: a constraint
    is VIOLATED only when its expression evaluates FALSE (SQL CHECK
    semantics — NULL passes, like Delta). One combined column-pruned
    pass over the incoming rows (never the table), stopping at the
    first violation."""
    if not cons:
        return
    names = sorted(cons)
    checks = [
        F.expr(cons[n]).eqNullSafe(F.lit(False)).alias(f"__viol_{i}")
        for i, n in enumerate(names)
    ]
    probe = df.select(*checks)
    any_viol = None
    for i in range(len(names)):
        c = F.col(f"__viol_{i}")
        any_viol = c if any_viol is None else (any_viol | c)
    hit = probe.filter(any_viol).limit(1).collect()
    if hit:
        row = hit[0]
        bad = [names[i] for i in range(len(names)) if row[f"__viol_{i}"]]
        raise ValueError(
            f"CHECK constraint {bad} violated by {context}: "
            + "; ".join(f"{n}: {cons[n]!r}" for n in bad)
        )


def add_constraint(spark: SparkSession, table: str, name: str, expr: str) -> int:
    """``ALTER TABLE .. ADD CONSTRAINT name CHECK (expr)`` — the Delta
    CHECK-constraint shape (round 10): a metadata-only commit records
    the constraint as a table property; EVERY batch write path
    (write_table / upsert_table / merge_table / append_table_if_absent
    / update_where / stage_commit / the foreachBatch streaming routes)
    enforces it on the rows it is about to commit — one column-pruned
    pass over the incoming data, never the table. Violation = the
    expression evaluates FALSE (NULL passes — SQL CHECK semantics).
    Like Delta, ADDING a constraint first verifies the CURRENT rows
    satisfy it (one scan), so a green add means the whole table
    complies from that version on. The raw ``writeStream.format(
    "manifest")`` sink REFUSES constrained tables loudly (its executors
    stream Arrow batches with no SQL engine to evaluate expressions) —
    route through foreachBatch for enforced streaming writes."""
    import re as _re

    if not _re.match(r"^[A-Za-z_][A-Za-z0-9_]*$", name):
        raise ValueError(f"constraint name {name!r} must be an identifier")

    def attempt(cur, m):
        cons = _constraints(m)
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists: {cons[name]!r}")
        # existing rows must comply — the Delta ADD CONSTRAINT contract
        _check_constraints(
            read_table(spark, table, cur), {name: expr},
            f"the existing rows of {table} v{cur}",
        )
        cons[name] = expr
        return _Commit(
            meta={"add_constraint": {"name": name, "expr": expr}},
            operation="add_constraint",
            props={"constraints": cons},
        )

    return _commit(table, attempt)


def drop_constraint(table: str, name: str) -> int:
    """``ALTER TABLE .. DROP CONSTRAINT name`` — metadata-only."""

    def attempt(cur, m):
        cons = _constraints(m)
        if name not in cons:
            raise ValueError(f"no constraint {name!r} on {table} (have {sorted(cons)})")
        cons.pop(name)
        return _Commit(
            meta={"drop_constraint": {"name": name}},
            operation="drop_constraint",
            props={"constraints": cons or None},
        )

    return _commit(table, attempt)


def _refuse_constrained_column_change(m: dict, col: str, what: str) -> None:
    """rename/drop of a column a CHECK constraint mentions would break
    the expression — refuse loudly (conservative word-boundary text
    match; a false positive refuses, never corrupts)."""
    import re as _re

    for name, expr in _constraints(m).items():
        # backticks are quoting, not part of the identifier — strip them
        # so `price` and price both match (round-10 review)
        bare = expr.replace("`", "")
        if _re.search(rf"(?<![A-Za-z0-9_]){_re.escape(col)}(?![A-Za-z0-9_])", bare):
            raise ValueError(
                f"cannot {what} column {col!r}: CHECK constraint {name!r} "
                f"references it ({expr!r}); drop the constraint first"
            )


# ---------------------------------------------------------------------------
# Generated columns (VERDICT r10 item 6 — the Delta GENERATED ALWAYS AS
# shape): a ``generated`` table property {name: {"expr": sql, "type":
# ddl}} declared while the table is EMPTY (Delta's creation-time rule).
# Every batch write path MATERIALIZES a missing generated column from
# its expression and VALIDATES a supplied one (null-safe equality
# against the expression — an inconsistent value refuses the write),
# so the stored column is always derivable and therefore trustworthy
# for pruning: write_table auto-tracks generated columns in per-file
# stats, making a predicate on the derived column (`order_month =
# '1996-03'`) skip files exactly like any stats column — the Delta
# partition-pruning trick without partitioning the layout.
# ---------------------------------------------------------------------------


def _generated(m: dict | None) -> dict:
    """The table's generated-column property as of manifest ``m`` —
    ``{name: {"expr": sql, "type": ddl}}``, carried by every commit."""
    return dict((m or {}).get("generated") or {})


def _apply_generated(df: DataFrame, gen: dict, context: str) -> DataFrame:
    """Materialize missing generated columns and VALIDATE supplied ones
    (one column-pruned early-exit pass, like _check_constraints): a
    supplied value that differs null-safely from the expression refuses
    the write — Delta's GENERATED ALWAYS AS contract."""
    if not gen:
        return df
    supplied = [n for n in gen if n in df.columns]
    for n, spec in gen.items():
        if n not in df.columns:
            df = df.withColumn(n, F.expr(spec["expr"]).cast(spec["type"]))
    if supplied:
        checks = [
            (~F.col(n).eqNullSafe(F.expr(gen[n]["expr"]).cast(gen[n]["type"]))).alias(
                f"__gviol_{i}"
            )
            for i, n in enumerate(supplied)
        ]
        hit = df.select(*checks).filter(
            F.greatest(*[F.col(f"__gviol_{i}") for i in range(len(supplied))])
            if len(supplied) > 1
            else F.col("__gviol_0")
        ).limit(1).collect()
        if hit:
            row = hit[0]
            bad = [supplied[i] for i in range(len(supplied)) if row[f"__gviol_{i}"]]
            raise ValueError(
                f"generated column(s) {bad} supplied with values inconsistent "
                f"with their expressions by {context}: "
                + "; ".join(f"{n}: {gen[n]['expr']!r}" for n in bad)
            )
    return df


# Recognized MONOTONE generated-column expressions, for the derived-
# predicate rewrite (the Delta generated-partition-pruning trick): a
# predicate on the BASE column derives a sound conjunct on the derived
# column, whose stats every commit auto-tracks. Only nondecreasing
# date-family mappings qualify (month()/dayofweek() are cyclic).
_MONO_PATTERNS = (
    (_re.compile(r"(?is)^date_format\(\s*(\w+)\s*,\s*'(yyyy(?:-MM(?:-dd)?)?)'\s*\)$"),
     "fmt"),
    (_re.compile(r"(?is)^year\(\s*(\w+)\s*\)$"), "year"),
    (_re.compile(r"(?is)^(?:to_date|date)\(\s*(\w+)\s*\)$"), "date"),
    (_re.compile(r"(?is)^cast\(\s*(\w+)\s+as\s+date\s*\)$"), "date"),
    (_re.compile(r"(?is)^date_trunc\(\s*'(year|month|day)'\s*,\s*(\w+)\s*\)$"),
     "trunc"),
)

_FMT_STRFTIME = {"yyyy": "%Y", "yyyy-MM": "%Y-%m", "yyyy-MM-dd": "%Y-%m-%d"}


def _parse_monotone_expr(expr: str):
    """(base_col, F) for a recognized monotone generated expression, or
    None. F maps a Python date/datetime literal into the derived
    column's comparison domain (None when the literal type is unusable
    — the caller simply derives nothing, staying conservative)."""
    import datetime as _dt

    e = expr.strip().strip("`")
    for pat, kind in _MONO_PATTERNS:
        m = pat.match(e)
        if not m:
            continue
        if kind == "fmt":
            col, fmt = m.group(1), _FMT_STRFTIME[m.group(2)]

            def F(lit, fmt=fmt):
                return lit.strftime(fmt) if isinstance(lit, (_dt.date, _dt.datetime)) else None
        elif kind == "year":
            col = m.group(1)

            def F(lit):
                return lit.year if isinstance(lit, (_dt.date, _dt.datetime)) else None
        elif kind == "date":
            col = m.group(1)

            def F(lit):
                if isinstance(lit, _dt.datetime):
                    return lit.date()
                return lit if isinstance(lit, _dt.date) else None
        else:  # trunc
            unit, col = m.group(1).lower(), m.group(2)

            def F(lit, unit=unit):
                if not isinstance(lit, (_dt.date, _dt.datetime)):
                    return None
                y, mo, d = lit.year, lit.month, lit.day
                if unit == "year":
                    return _dt.datetime(y, 1, 1)
                if unit == "month":
                    return _dt.datetime(y, mo, 1)
                return _dt.datetime(y, mo, d)
        return col, F
    return None


_DERIVE_OPS = {"==": "==", "=": "==", "<": "<=", "<=": "<=", ">": ">=", ">=": ">="}


def _augment_generated_predicates(spec, m: dict | None):
    """The skip spec with SOUND derived conjuncts added for generated
    columns whose expressions are recognized monotone mappings of a
    predicated base column — so a ``ts``-range query prunes via the
    derived column's auto-tracked stats even when nothing tracks ``ts``
    itself (the Delta generated-column partition-pruning rewrite).
    Soundness: F nondecreasing ⇒ base < lit implies F(base) <= F(lit)
    (and symmetrically), equality maps to equality; ``!=``/negations
    derive nothing (F is not injective), and nothing derives under a
    NOT node. The ORIGINAL spec always rides along — the rewrite can
    only prune more, never change row semantics (callers filter rows
    with the original predicate as ever)."""
    gen = _generated(m)
    if not gen or spec is None:
        return spec
    derivers: dict[str, list] = {}
    for gcol, g in gen.items():
        parsed = _parse_monotone_expr(g["expr"])
        if parsed:
            derivers.setdefault(parsed[0], []).append((gcol, parsed[1]))
    if not derivers:
        return spec

    def leaf_derived(node):
        if len(node) != 3 or node[0] not in derivers:
            return []
        col, op, lit = node
        out = []
        for gcol, F in derivers[col]:
            if op == "in" and isinstance(lit, (list, tuple, set, frozenset)):
                vals = [F(v) for v in lit]
                if vals and all(v is not None for v in vals):
                    out.append((gcol, "in", vals))
            elif op in _DERIVE_OPS:
                v = F(lit)
                if v is not None:
                    out.append((gcol, _DERIVE_OPS[op], v))
        return out

    def walk(node):
        if isinstance(node, list):
            return [walk(s) for s in node]
        if (
            len(node) == 2
            and node[0] in ("and", "or")
            and isinstance(node[1], (list, tuple))
        ):
            return (node[0], [walk(s) for s in node[1]])
        if len(node) == 2 and node[0] == "not":
            return node  # never derive under negation
        extra = leaf_derived(node)
        return ("and", [node, *extra]) if extra else node

    return walk(spec)


def add_generated_column(table: str, name: str, dtype: "T.DataType | str", expr: str) -> int:
    """``ALTER TABLE .. ADD COLUMN name type GENERATED ALWAYS AS (expr)``
    — refused on a non-empty table (Delta's rule: generated columns are
    declared at creation; existing files could not be back-filled
    without a rewrite, and a NULL-filled read would violate the
    contract). The CREATE TABLE → ALTER → INSERT serving flow declares
    them before any data lands. Returns the committed version."""
    dt_parsed = T._parse_datatype_string(dtype) if isinstance(dtype, str) else dtype

    def attempt(cur, m):
        if m["files"]:
            raise ValueError(
                f"cannot add generated column {name!r} to non-empty {table}: "
                "generated columns are declared while the table is empty "
                "(the Delta creation-time rule) — existing rows cannot be "
                "back-filled without a rewrite"
            )
        schema = json.loads(m["schema"])
        names = [f["name"] for f in schema["fields"]]
        if name in names:
            raise ValueError(f"column {name!r} already exists in {table}")
        schema["fields"].append(json.loads(T.StructField(name, dt_parsed, True).json()))
        gen = _generated(m)
        gen[name] = {"expr": expr, "type": dt_parsed.simpleString()}
        return _Commit(
            schema=json.dumps(schema),
            meta={"add_generated_column": {"column": name, "expr": expr}},
            operation="add_generated_column",
            props={"generated": gen},
        )

    return _commit(table, attempt)


# ---------------------------------------------------------------------------
# Identity columns (the Delta GENERATED BY DEFAULT AS IDENTITY shape,
# completing the generated-column family): an ``identity`` table
# property {name: {"start": s, "step": st, "next": n}} declared while
# the table is EMPTY. A batch write missing the column gets ids
# assigned as ``next + step * monotonically_increasing_id()`` — unique
# and increasing across commits, NOT contiguous (exactly Delta's
# contract: tasks allocate sparse ranges; gaps are normal). A batch
# SUPPLYING the column is accepted verbatim (the BY DEFAULT semantics —
# explicit ids are the caller's responsibility, e.g. CDC replication).
# Either way the high-water ``next`` advances from the WRITTEN files'
# footer stats (the identity column auto-tracks like generated
# columns), so the allocator never re-evaluates a nondeterministic
# expression and the property update rides the same commit CAS —
# concurrent allocators SERIALIZE, and a writer whose parent's
# high-water moved mid-flight fails loudly instead of committing
# colliding ids. Write paths that cannot safely allocate/advance
# (stage/publish, the raw Arrow sink, the foreachBatch streaming
# routes) refuse identity tables loudly.
# ---------------------------------------------------------------------------


def _identity(m: dict | None) -> dict:
    return dict((m or {}).get("identity") or {})


def add_identity_column(table: str, name: str, start: int = 1, step: int = 1) -> int:
    """``ALTER TABLE .. ADD COLUMN name BIGINT GENERATED BY DEFAULT AS
    IDENTITY (START WITH s INCREMENT BY st)`` — refused on a non-empty
    table (the generated-column creation-time rule; existing rows have
    no ids to back-fill without a rewrite). Positive ``step`` only
    (monotone-increasing allocation is what the footer-stats advance
    relies on). Returns the committed version."""
    if step <= 0:
        raise ValueError(f"identity step must be positive, got {step}")

    def attempt(cur, m):
        if m["files"]:
            raise ValueError(
                f"cannot add identity column {name!r} to non-empty {table}: "
                "identity columns are declared while the table is empty"
            )
        schema = json.loads(m["schema"])
        names = [f["name"] for f in schema["fields"]]
        if name in names:
            raise ValueError(f"column {name!r} already exists in {table}")
        schema["fields"].append(
            json.loads(T.StructField(name, T.LongType(), True).json())
        )
        ident = _identity(m)
        ident[name] = {"start": int(start), "step": int(step), "next": int(start)}
        return _Commit(
            schema=json.dumps(schema),
            meta={"add_identity_column": {"column": name, "start": start, "step": step}},
            operation="add_identity_column",
            props={"identity": ident},
        )

    return _commit(table, attempt)


def _assign_identity(df: DataFrame, ident: dict) -> tuple[DataFrame, bool]:
    """Assign ids for identity columns the batch does not carry;
    supplied columns pass through verbatim (BY DEFAULT). Returns
    (df, assigned_any) — the flag drives the CAS-loop collision check."""
    assigned = False
    for name, spec in ident.items():
        if name not in df.columns:
            df = df.withColumn(
                name,
                (
                    F.lit(int(spec["next"]))
                    + F.lit(int(spec["step"])) * F.monotonically_increasing_id()
                ).cast("long"),
            )
            assigned = True
    return df, assigned


def _advance_identity(ident: dict, new_files: list[str], stats: dict) -> dict:
    """The identity property with each column's high-water advanced past
    the maximum id the NEW files actually hold (their footer stats —
    the identity column auto-tracks, so the entries already exist).
    A new file with no usable entry for an identity column means the
    advance cannot be proven — refuse rather than risk re-allocation."""
    if not ident or not new_files:
        return ident
    out = {k: dict(v) for k, v in ident.items()}
    for name, spec in out.items():
        hi = None
        for f in new_files:
            e = (stats.get(f) or {}).get("cols", {}).get(name)
            if e is not None and e.get("nulls"):
                raise ValueError(
                    f"identity column {name!r} cannot hold NULLs "
                    f"({e['nulls']} in {f!r})"
                )
            if e is None or e.get("max") is None:
                rows = (stats.get(f) or {}).get("rows")
                if rows == 0:
                    continue  # an empty file allocates nothing
                raise RuntimeError(
                    f"cannot advance identity {name!r}: written file {f!r} "
                    "has no usable footer stats for it"
                )
            hi = e["max"] if hi is None else max(hi, e["max"])
        if hi is not None:
            spec["next"] = max(int(spec["next"]), int(hi) + int(spec["step"]))
    return out


def _refuse_identity_missing(incoming_cols, m: dict | None, context: str) -> None:
    """MERGE-family flows accept identity tables only when the batch
    CARRIES the column (BY DEFAULT): silent null-fill through schema
    reconciliation would violate the id contract."""
    missing = [c for c in _identity(m) if c not in incoming_cols]
    if missing:
        raise ValueError(
            f"{context} must supply identity column(s) {missing} explicitly "
            "(BY DEFAULT semantics); automatic allocation happens on "
            "write_table/append_table_if_absent"
        )


def _refuse_generated_column_change(m: dict, col: str, what: str) -> None:
    """rename/drop of a generated column, or of a column its expression
    mentions, would break the derivation — refuse loudly (same
    conservative word-boundary match as the constraints guard)."""
    gen = _generated(m)
    if col in gen:
        raise ValueError(
            f"cannot {what} generated column {col!r}; its values are "
            f"derived ({gen[col]['expr']!r}) — recreate the table instead"
        )
    for name, spec in gen.items():
        bare = spec["expr"].replace("`", "")
        if _re.search(rf"(?<![A-Za-z0-9_]){_re.escape(col)}(?![A-Za-z0-9_])", bare):
            raise ValueError(
                f"cannot {what} column {col!r}: generated column {name!r} "
                f"derives from it ({spec['expr']!r})"
            )


def restore_table(table: str, version: int | None = None, as_of_ts: float | None = None) -> int:
    """``RESTORE TABLE ... TO VERSION/TIMESTAMP AS OF`` (the Delta
    RESTORE shape): publish a NEW version whose file list, schema,
    stats, deletion vectors, and bloom property are exactly the target
    version's — a metadata-only commit, zero data movement, and the bad
    history stays inspectable (time travel still reaches it; RESTORE is
    a forward commit, never a rewind of the log). Restored files become
    referenced again, so a vacuum AFTER the restore keeps them; a vacuum
    that already reclaimed the target's data dirs makes that version
    unrestorable (the Delta retention trade) — the restore itself
    succeeds on metadata, so callers restoring near the retention
    horizon should verify with a read. Change-feed consumers see the
    restore as a rewrite (files reappear ⇒ keyed diff), never a silent
    rewind. Returns the new version."""
    if (version is None) == (as_of_ts is None):
        raise ValueError("pass exactly one of version= or as_of_ts=")
    if as_of_ts is not None:
        version = version_at(table, as_of_ts)
    cur0 = current_version(table)
    if cur0 is None:
        raise FileNotFoundError(f"no committed version in {table}")
    if version > cur0:
        raise ValueError(f"cannot restore {table} to future version {version} (current {cur0})")
    target = read_manifest(table, version)
    # the restored version's OWN files, schema, stats, tombstones and
    # table properties, every one named (None clears): inheriting the
    # CURRENT parent's constraints or layout could reference columns the
    # restored schema no longer has, bricking every later write/OPTIMIZE.
    # Restoring also restores the identity HIGH-WATER — ids allocated
    # after the restored version may be re-issued (they exist only in the
    # no-longer-current history), the Delta RESTORE + identity caveat
    restored = _Commit(
        files=target["files"],
        schema=target["schema"],
        meta={"restore": {"of_version": version}},
        stats=target.get("stats"),
        dv_files=_dv_set(target),
        operation="restore",
        props={k: target.get(k) for k in TABLE_PROPS},
    )
    return _commit(table, lambda cur, m: restored)


# describe_detail's property columns: bloom_conf comes last there
_DETAIL_PROPS = (*TABLE_PROPS[1:], TABLE_PROPS[0])


def describe_detail(spark: SparkSession, table: str) -> DataFrame:
    """``DESCRIBE DETAIL`` (the Delta shape): ONE row describing the
    CURRENT version from metadata alone — version/parent/operation,
    file + deletion-vector counts, total data bytes (store stat per
    file, no data I/O), the schema, and every table property as a JSON
    string (NULL when unset): column mapping, CHECK constraints,
    declared layout, partition columns, generated columns, identity
    columns and bloom conf, in that column order. The SQL front door
    dispatches ``DESCRIBE DETAIL <t>``."""
    cur = current_version(table)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table}")
    m = read_manifest(table, cur)
    store = get_log_store(table)
    from cashback_data_pipeline_spark.sinks.filestats import _local_path

    size = 0
    for f in m["files"]:
        p = _local_path(store.join(table, f))
        if p is None:
            size = None  # remote store: byte total needs a stat API
            break
        try:
            size += os.path.getsize(p)
        except OSError:
            size = None
            break
    row = {
        "location": table,
        "version": cur,
        "parent": m.get("parent"),
        "operation": (m.get("meta") or {}).get("operation"),
        "num_files": len(m["files"]),
        "num_dv_files": len(_dv_set(m)),
        "size_bytes": size,
        "schema_json": m["schema"],
        **{k: json.dumps(m[k]) if m.get(k) else None for k in _DETAIL_PROPS},
    }
    schema = T.StructType(
        [
            T.StructField("location", T.StringType()),
            T.StructField("version", T.LongType()),
            T.StructField("parent", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("num_files", T.LongType()),
            T.StructField("num_dv_files", T.LongType()),
            T.StructField("size_bytes", T.LongType()),
            T.StructField("schema_json", T.StringType()),
            *[T.StructField(k, T.StringType()) for k in _DETAIL_PROPS],
        ]
    )
    return local_rows_df(spark, [row], schema)


def table_history(spark: SparkSession, table: str) -> DataFrame:
    """``DESCRIBE HISTORY`` (the Delta shape): one row per surviving
    manifest version — version, parent, the operation every writer
    stamps (``append``/``overwrite``/``merge``/``append_if_absent``/
    ``delete``/``update``/``compact``/``restore``/``streaming_append``;
    None for pre-audit-log commits), file/tombstone counts, and the
    commit's visibility timestamp (publication mtime, the same clock
    time travel uses). Gap-tolerant over a pruned log. Metadata-only:
    O(#versions) small JSON reads, never a data file."""
    store = get_log_store(table)
    cur = current_version(table)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table}")
    rows = []
    snap = None  # incremental fold: O(total versions), not O(V × chain)
    for v in range(1, cur + 1):
        try:
            doc = _read_commit_doc(table, v)
        except FileNotFoundError:
            snap = None  # pruned by vacuum(prune_manifests=True): gap
            continue
        if "files" in doc:  # legacy full-snapshot record
            snap = doc
        elif snap is not None and snap["version"] == v - 1:
            snap = _apply_action(snap, doc)
        else:
            snap = read_manifest(table, v)  # first record after a gap
        meta = doc.get("meta") or {}
        rows.append(
            (
                v,
                doc.get("parent"),
                meta.get("operation"),
                len(snap["files"]),
                len(_dv_set(snap)),
                float(store.mtime(_manifest_path(table, v))),
                json.dumps(meta, sort_keys=True) if meta else None,
            )
        )
    return local_rows_df(
        spark,
        rows,
        "version int, parent int, operation string, n_files int, "
        "n_dv_files int, committed_at double, meta string",
    )


_STAGED_DIR = "_staged"


def stage_commit(df: DataFrame, table: str, stats_cols: list[str] | None = None) -> str:
    """WRITE-AUDIT-PUBLISH, phase 1 (the Iceberg WAP pattern): write
    ``df``'s data files into the table's immutable data tree and a
    STAGED manifest under ``_staged/`` — INVISIBLE to every reader (no
    version references it). Returns the stage token. Audit the staged
    rows with :func:`read_staged`; then :func:`publish_staged` appends
    them as a real version atomically, or :func:`discard_staged` drops
    them. A live stage marker PINS its data dirs against vacuum (an
    audit may legitimately take hours); a crashed auditor's stage is
    reclaimed by an explicit ``discard_staged``. At 100 TB this is the
    data-quality gate: the expensive write happens once, the
    publish/reject decision is metadata-only."""
    cur = current_version(table)
    cur_doc = read_manifest(table, cur) if cur is not None else None
    df = _apply_generated(df, _generated(cur_doc), "this staged write")
    if _identity(cur_doc):
        raise ValueError(
            f"{table} declares identity column(s) "
            f"{sorted(_identity(cur_doc))}: write-audit-publish cannot "
            "allocate ids at stage time (the high-water advances at an "
            "unknown future publish) — write through write_table"
        )
    mapping = _extend_mapping(_mapping(cur_doc), df.columns)
    _check_constraints(df, _constraints(cur_doc), "this staged write")
    if stats_cols:
        from cashback_data_pipeline_spark.sinks import filestats

        filestats.validate_stats_cols(df.schema, list(stats_cols))
    # the staged files get the table's stats and bloom sidecar like any
    # append (:func:`_add_files`), so publishing them erodes neither
    files, stats, _ = _add_files(
        df.sparkSession, table, cur_doc, df,
        _phys_cols(mapping, list(stats_cols)) if stats_cols else None,
    )
    token = uuid.uuid4().hex[:12]
    store = get_log_store(table)
    doc = {"files": files, "schema": df.schema.json()}
    if mapping:
        doc["column_mapping"] = mapping
    if _partitioning(cur_doc):
        doc["partitioning"] = _partitioning(cur_doc)
    if stats:
        doc["stats"] = stats
    store.publish_atomic(store.join(table, _STAGED_DIR), f"{token}.json", json.dumps(doc))
    return token


def _read_stage(table: str, token: str) -> dict:
    store = get_log_store(table)
    return json.loads(store.read_text(store.join(table, _STAGED_DIR, f"{token}.json")))


def read_staged(spark: SparkSession, table: str, token: str) -> DataFrame:
    """The staged rows, for the audit step — reads ONLY the stage's own
    files; the table's visible versions are untouched."""
    stage = _read_stage(table, token)
    schema = T.StructType.fromJson(json.loads(stage["schema"]))
    if not stage["files"]:
        return local_rows_df(spark, [], schema)
    mapping = stage.get("column_mapping")
    out = _physical_scan(
        spark, table, stage["files"], schema_json=stage["schema"],
        mapping=mapping, partitioning=stage.get("partitioning"),
    )
    if mapping:
        fields = [f["name"] for f in json.loads(stage["schema"])["fields"]]
        out = out.select(*[F.col(mapping.get(n, n)).alias(n) for n in fields])
    return out


def publish_staged(table: str, token: str, meta: dict | None = None) -> int:
    """WAP phase 2: append the staged files as a real version — one
    metadata CAS, zero data movement (the files are already in the data
    tree). A token publishes AT MOST ONCE even under CONCURRENT
    publishers (ADVICE r8): every commit stamps its ``wap_token``, and
    the CAS loop re-checks the committed-token walk after each loss —
    two racers both reading the stage marker still serialize through the
    CAS, and the loser sees the winner's token in the log and raises
    FileNotFoundError instead of double-appending the staged files. A
    sequentially replayed publisher finds the marker gone and gets the
    same FileNotFoundError. Returns the committed version."""
    stage = _read_stage(table, token)
    store = get_log_store(table)

    def attempt(cur, cur_doc):
        if token in committed_meta_values(table, "wap_token"):
            # a concurrent publisher of the same token won the CAS: its
            # commit is the one publication this token gets. Consume the
            # marker (best-effort — the winner may have already) and
            # surface the same signal a sequential replay sees.
            try:
                store.delete_file(store.join(table, _STAGED_DIR, f"{token}.json"))
            except (FileNotFoundError, OSError):
                pass
            raise FileNotFoundError(
                f"stage token {token!r} was already published to {table} "
                "by a concurrent publisher"
            )
        # the staged files were written under the STAGE's column mapping;
        # a rename landing between stage and publish makes that layout
        # stale — refuse loudly (re-stage) rather than revert the rename
        stage_map = stage.get("column_mapping")
        props = None  # unmapped stage: keep the table's mapping
        if stage_map:
            commit_map = dict(_mapping(cur_doc) or {})
            for k, v in stage_map.items():
                if k in commit_map and commit_map[k] != v:
                    raise RuntimeError(
                        f"column mapping of {table} changed between stage and "
                        f"publish (column {k!r}); discard and re-stage"
                    )
                commit_map.setdefault(k, v)
            props = {"column_mapping": commit_map}
        return _Commit(
            files=(cur_doc["files"] if cur_doc else []) + stage["files"],
            schema=stage["schema"],
            meta={**(meta or {}), "wap_token": token},
            stats=stage.get("stats"),
            operation="wap_publish",
            props=props,
        )

    version = _commit(table, attempt, create=True)
    store.delete_file(store.join(table, _STAGED_DIR, f"{token}.json"))
    return version


def discard_staged(table: str, token: str) -> None:
    """WAP rejection: drop the stage marker and its data files — the
    audited-bad batch never becomes visible anywhere."""
    stage = _read_stage(table, token)
    store = get_log_store(table)
    store.delete_file(store.join(table, _STAGED_DIR, f"{token}.json"))
    for d in {f.rsplit("/", 1)[0] for f in stage["files"]}:
        store.delete_recursive(store.join(table, d))


def latest_meta_value(table: str, key: str, cur: int | None = None):
    """Newest committed ``meta[key]`` walking DOWN from ``cur`` (default
    current), or None if no commit carries it. GAP-TOLERANT like
    :func:`committed_meta_values`: manifests pruned by
    ``vacuum(prune_manifests=True)`` are skipped, never a crash — this
    is the walk every epoch-gated writer (streaming sink, foreachBatch
    router, incremental MV) shares."""
    store = get_log_store(table)
    mdir = store.join(table, _MANIFEST_DIR)
    v = current_version(table) if cur is None else (cur or 0)
    while v and v >= 1:
        try:
            # raw commit record: meta lives in the record itself, so the
            # walk costs O(1) per version — never a snapshot replay
            meta = _read_commit_doc(table, v).get("meta", {})
        except FileNotFoundError:
            meta = None
        if meta and key in meta:
            return meta[key]
        # a checkpoint at this version carries the FOLDED latest value
        # per key for everything at or below it (the Delta
        # SetTransaction-in-checkpoint idea) — this is what keeps the
        # epoch gate alive after vacuum(prune_manifests=True) deleted
        # the commits that stamped it. A fold that lacks the key means
        # the key never appeared below: stop, don't keep walking.
        if (meta is None or store.exists(store.join(mdir, _ckpt_name(v)))):
            ml = _read_ckpt_meta_latest(table, v)
            if ml is not None:
                return ml.get(key)
            if meta is None:
                v -= 1
                continue  # pruned record, no folded checkpoint: skip the gap
        v -= 1
    return None


def committed_meta_values(table: str, key: str) -> set:
    """All values of ``meta[key]`` across committed manifests — e.g. the
    set of streaming epochs already committed (replay detection)."""
    out = set()
    cur = current_version(table)
    if cur is None:
        return out
    for v in range(1, cur + 1):
        try:
            m = _read_commit_doc(table, v)
        except FileNotFoundError:
            continue
        if "meta" in m and key in m["meta"]:
            out.add(m["meta"][key])
    return out


def version_at(table: str, ts: float) -> int:
    """TIMESTAMP-based time travel (the Delta ``TIMESTAMP AS OF`` shape):
    the highest version whose manifest was PUBLISHED at or before unix
    time ``ts`` — publication mtime is the commit's visibility instant,
    the same clock vacuum's retention guard uses. Raises if the table
    has no version that old (pruned by retention or created later)."""
    store = get_log_store(table)
    cur = current_version(table)
    if cur is None:
        raise FileNotFoundError(f"no committed version in {table}")
    best = None
    for v in range(cur, 0, -1):
        try:
            mt = store.mtime(_manifest_path(table, v))
        except FileNotFoundError:
            break  # older versions pruned by retention — nothing earlier exists
        if mt <= ts:
            best = v
            break
    if best is None:
        raise ValueError(
            f"{table} has no version at or before ts={ts} (first retained "
            "manifest is newer — created later, or pruned by retention)"
        )
    return best


def read_table(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    skip=None,
    as_of_ts: float | None = None,
) -> DataFrame:
    """Read a PINNED version (default: current at call time). The file
    list is resolved once; later commits/compactions cannot tear or
    change this read — time travel is the same call with an older
    ``version``.

    ``skip=`` (the sinks/filestats.py predicate tree: comparisons, IN,
    null tests, and/or nesting) both PRUNES files whose manifest stats
    prove no row can match (zero I/O — the 100 TB win for
    time-correlated histories) and re-applies the predicates as a Spark
    filter on the survivors, so the result is EXACTLY the filtered
    table however much or little was pruned (files without stats are
    conservatively read). ``as_of_ts`` is timestamp time travel
    (:func:`version_at`), mutually exclusive with ``version``."""
    from cashback_data_pipeline_spark.sinks import filestats

    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version= or as_of_ts=, not both")
        version = version_at(table, as_of_ts)
    v = current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version in {table}")
    m = read_manifest(table, v)
    # pruning runs on metadata (:func:`_candidates`); the residual filter
    # below re-applies the caller's own spec to the logical frame
    files, _ = _candidates(table, m, skip)
    if not files:
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        return local_rows_df(spark, [], schema)
    out = _read_files(spark, table, files, m)
    if skip:
        out = out.filter(filestats.skip_condition(skip))
    return out


def _scan_partitioning(m: dict) -> list[str]:
    """The columns a snapshot scan recovers from hive ``key=value`` path
    segments: the declared partitioning, else every committed-schema
    column some snapshot path names (the rule :func:`convert_to_table`
    applies) — files written under ``partition_by`` into a table that
    declares no partitioning do not store that column either."""
    declared = _partitioning(m)
    keyed = [f for f in m["files"] if "=" in f]
    if declared or not keyed:
        return declared
    path_keys = set().union(*map(_partition_values_from_path, keyed))
    pmap = _mapping(m) or {}
    return [
        f["name"]
        for f in json.loads(m["schema"])["fields"]
        if pmap.get(f["name"], f["name"]) in path_keys
    ]


def read_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental (change-feed) read: the rows ADDED between
    ``from_version`` (exclusive) and ``to_version`` (inclusive, default
    current) — read from ONLY the files those commits added, so a
    downstream consumer that checkpoints its last-seen version processes
    each commit's data exactly once and never rescans the table (the
    Delta CDF / Iceberg incremental-scan shape; at 100 TB the difference
    between "read last hour's appends" and "read the table").

    Exact ONLY for append-only histories, so rewrites are REFUSED: if
    any ``from_version`` file is gone by ``to_version`` (an overwrite,
    compaction, upsert or vacuum-after-rewrite happened in between), the
    file-level diff no longer equals the row-level diff and this raises
    ValueError — use :func:`read_changes_rows` (which falls back to a
    keyed snapshot diff with ``_change_type`` rows), or restart the
    consumer from a snapshot."""
    to_v = current_version(table) if to_version is None else to_version
    if to_v is None:
        raise FileNotFoundError(f"no committed version in {table}")
    if from_version > to_v:
        raise ValueError(f"from_version {from_version} > to_version {to_v}")
    m_to = read_manifest(table, to_v)
    m_from = read_manifest(table, from_version) if from_version > 0 else None
    old = set(m_from["files"]) if m_from else set()
    new = set(m_to["files"])
    removed = sorted(old - new)
    if removed:
        raise ValueError(
            f"{table} is not append-only between v{from_version} and v{to_v}: "
            f"{len(removed)} file(s) were rewritten/removed (e.g. {removed[0]!r}); "
            "the file diff is not the row diff — use read_changes_rows(key=...) "
            "or restart from a snapshot"
        )
    if set(_dv_set(m_from)) != set(_dv_set(m_to)):
        raise ValueError(
            f"{table} gained deletion vectors between v{from_version} and v{to_v}: "
            "a merge-on-read DELETE changes rows without changing the file list — "
            "use read_changes_rows(key=...) or restart from a snapshot"
        )
    added = sorted(new - old)
    if not added:
        schema = T.StructType.fromJson(json.loads(m_to["schema"]))
        return local_rows_df(spark, [], schema)
    return _read_files(spark, table, added, m_to, dv_files=[])


def read_changes_rows(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    key: str | None = None,
) -> DataFrame:
    """ROW-level change feed (the Delta CDF shape — VERDICT r7 item 4):
    the changes between ``from_version`` (exclusive) and ``to_version``
    (inclusive), tagged with ``_change_type`` ∈ ``insert`` /
    ``update_preimage`` / ``update_postimage`` / ``delete``.

    Append-only windows keep :func:`read_changes`' zero-rescan fast
    path: only the added files are read, every row is an ``insert``, no
    ``key`` needed. A window containing a rewrite (upsert, compaction,
    overwrite) falls back to a KEYED DIFF of the two pinned snapshots —
    one full-outer join on ``key`` (required then), one pass, emitting
    pre+post rows for keys whose non-key columns changed null-safely
    (map-typed columns compare via their canonical JSON rendering, the
    `_one_row_per_key` discipline). Both versions must hold one row per
    key — true for any history written through :func:`upsert_table` /
    :func:`append_table_if_absent`. Unlike the file diff, the keyed diff
    reads both snapshots — the honest cost of row-level semantics over a
    rewrite; downstream consumers that only ever see appends never pay
    it."""
    to_v = current_version(table) if to_version is None else to_version
    if to_v is None:
        raise FileNotFoundError(f"no committed version in {table}")
    if from_version > to_v:
        raise ValueError(f"from_version {from_version} > to_version {to_v}")
    m_to = read_manifest(table, to_v)
    m_from = read_manifest(table, from_version) if from_version > 0 else None
    old_files = set(m_from["files"]) if m_from else set()
    removed = sorted(old_files - set(m_to["files"]))
    # a merge-on-read DELETE changes rows without touching the file list:
    # a changed DV set disqualifies the append-only fast path exactly
    # like a rewrite (the keyed diff below reads DV-applied snapshots,
    # so it emits those deletes correctly)
    if set(_dv_set(m_from)) != set(_dv_set(m_to)):
        removed = removed or ["<deletion vectors changed>"]
    schema = T.StructType.fromJson(json.loads(m_to["schema"]))
    if not removed:
        # append-only fast path: the file diff IS the row diff
        added = sorted(set(m_to["files"]) - old_files)
        if not added:
            out_schema = T.StructType(
                schema.fields + [T.StructField("_change_type", T.StringType(), False)]
            )
            return local_rows_df(spark, [], out_schema)
        return _read_files(spark, table, added, m_to, dv_files=[]).withColumn(
            "_change_type", F.lit("insert")
        )
    if from_version == 0:
        # snapshot bootstrap: everything visible at to_v is an insert —
        # DV-applied via read_table, no key needed even over rewrites
        return read_table(spark, table, to_v).withColumn("_change_type", F.lit("insert"))
    if key is None:
        raise ValueError(
            f"{table} was rewritten between v{from_version} and v{to_v} "
            f"({len(removed)} file(s) removed): row-level changes need a keyed "
            "diff — pass key=<unique key column>"
        )
    new_df = read_table(spark, table, to_v)
    old_df = read_table(spark, table, from_version)
    if set(old_df.columns) != set(new_df.columns):
        raise ValueError(
            "schema changed across the window; read both versions with an "
            "explicit schema and diff manually"
        )
    cols = new_df.columns
    if key not in cols:
        raise ValueError(f"key {key!r} not in table columns {cols}")
    by_name = {f.name: f.dataType for f in new_df.schema.fields}
    oldp = old_df.select(
        F.lit(True).alias("__o_present"), *[F.col(c).alias(f"__o_{c}") for c in cols]
    )
    newp = new_df.select(
        F.lit(True).alias("__n_present"), *[F.col(c).alias(f"__n_{c}") for c in cols]
    )
    j = oldp.join(newp, oldp[f"__o_{key}"] == newp[f"__n_{key}"], "full_outer")

    def _eq(c: str):
        o, n = F.col(f"__o_{c}"), F.col(f"__n_{c}")
        if not _orderable(by_name[c]):
            return F.to_json(o).eqNullSafe(F.to_json(n))
        return o.eqNullSafe(n)

    same = None
    for c in cols:
        if c == key:
            continue
        piece = _eq(c)
        same = piece if same is None else (same & piece)
    ct = (
        F.when(F.col("__o_present").isNull(), F.array(F.lit("insert")))
        .when(F.col("__n_present").isNull(), F.array(F.lit("delete")))
        .when(
            ~same if same is not None else F.lit(False),
            F.array(F.lit("update_preimage"), F.lit("update_postimage")),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    exploded = j.select(*j.columns, F.explode(ct).alias("_change_type"))
    old_side = F.col("_change_type").isin("delete", "update_preimage")
    return exploded.select(
        *[
            F.when(old_side, F.col(f"__o_{c}")).otherwise(F.col(f"__n_{c}")).alias(c)
            for c in cols
        ],
        "_change_type",
    )


def compact_table(
    spark: SparkSession,
    table: str,
    n_files: int = 4,
    cluster_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite the current version's files into ``n_files`` larger ones
    as a NEW version (small-file compaction). Multi-writer safe: the
    snapshot is pinned, the rewrite goes to a fresh data dir, and if the
    CAS loses (someone committed meanwhile) the whole compaction retries
    against the new current version — readers never see a torn state,
    and the orphaned rewrite is vacuum fodder, never visible.

    ``cluster_by`` turns the compaction into a RE-LAYOUT (the Delta
    ``OPTIMIZE ZORDER``-shape maintenance op): the snapshot is
    range-partitioned + sorted on those columns so each rewritten file
    covers a disjoint value range, and per-file stats (``stats_cols``,
    default = cluster_by) ride in the new manifest — an append history
    whose files straddle the cluster key becomes maximally ``skip=``
    prunable in one atomic version. Note a compaction is a REWRITE:
    :func:`read_changes` windows spanning it refuse, by design.

    ``zorder_by`` is the true ``OPTIMIZE ZORDER``: the snapshot re-lays
    on the Morton interleaving of the named columns
    (:func:`_zorder_layout`), making min/max pruning selective on EVERY
    named dimension at once — where ``cluster_by`` helps only its
    leading column."""
    from cashback_data_pipeline_spark.sinks import filestats

    if cluster_by and zorder_by:
        raise ValueError("pass cluster_by or zorder_by, not both")
    if cluster_by:
        if stats_cols is None:
            stats_cols = list(cluster_by)
    if zorder_by and stats_cols is None:
        stats_cols = list(zorder_by)
    explicit_layout = bool(cluster_by or zorder_by)

    def attempt(cur, m):
        nonlocal cluster_by, zorder_by
        if not explicit_layout:
            # a bare OPTIMIZE keeps the DECLARED layout (the table
            # property write_table recorded) instead of degrading a
            # clustered table to an unordered coalesce
            lay = m.get("layout") or {}
            cluster_by = lay.get("cluster_by")
            zorder_by = lay.get("zorder_by")
        snapshot = read_table(spark, table, cur)
        if cluster_by:
            filestats.validate_stats_cols(snapshot.schema, list(cluster_by))
            rewritten = snapshot.repartitionByRange(n_files, *cluster_by).sortWithinPartitions(
                *cluster_by
            )
        elif zorder_by:
            rewritten = _zorder_layout(snapshot, list(zorder_by), n_files)
        else:
            rewritten = snapshot.coalesce(n_files)
        # UNION the requested/layout stats columns with everything the
        # parent tracked: an OPTIMIZE must not erode data skipping (the
        # rewritten files REPLACE every stats-carrying file at once, so
        # compact_table(cluster_by=[k]) dropping the parent's other
        # tracked columns would kill their pruning in one commit).
        # parent_tracked is already physical; requested columns translate.
        parent_tracked = {
            c for e in (m.get("stats") or {}).values() for c in (e.get("cols") or {})
        }
        eff_stats_cols = sorted(
            set(_phys_cols(_mapping(m), stats_cols or [])) | parent_tracked
        )
        if eff_stats_cols and not _mapping(m):
            filestats.validate_stats_cols(snapshot.schema, eff_stats_cols)
        files, stats, props = _add_files(
            spark, table, m, rewritten, eff_stats_cols,
            props=(
                {"layout": {"cluster_by": list(cluster_by)}} if cluster_by
                else {"layout": {"zorder_by": list(zorder_by)}} if zorder_by
                else None
            ),
        )
        # the rewrite materializes every deletion vector: they all drop
        return _Commit(
            files=files, schema=snapshot.schema.json(), stats=stats, dv_files=[],
            operation="compact", props=props,
        )

    return _commit(table, attempt)


def optimize_table(
    spark: SparkSession,
    table: str,
    target_rows: int = 1_000_000,
    min_files: int = 2,
    predicates=None,
    max_dv_ratio: float = 0.2,
) -> int:
    """INCREMENTAL small-file compaction — the Delta ``OPTIMIZE``
    bin-packing shape, the maintenance op that actually works at 100 TB
    where :func:`compact_table`'s whole-snapshot rewrite cannot: only
    files the manifest already knows are SMALL (row count below
    ``target_rows``, from the stats entries commits carry — files
    without an entry get one cheap footer read) are rewritten, packed
    into ~``target_rows`` outputs; every right-sized file carries
    forward with ZERO I/O. Cost is O(small files), independent of table
    size — a trickle-append history stays healthy under a fixed
    maintenance budget however large it grows.

    ``predicates`` (the skip-tree language) scopes the pass — Delta's
    ``OPTIMIZE .. WHERE``: only files that MAY match are considered
    (:func:`_candidates`; approximate scoping is fine for maintenance,
    it never changes query semantics). Fewer than ``min_files``
    qualifying files ⇒ no version churn (returns the current version).
    Deletion vectors on rewritten files are MATERIALIZED (the rewrite
    reads DV-applied rows); untouched files keep their tombstones.
    Carried files keep their stats verbatim; the packed files are added
    through :func:`_add_files`. Optimistic CAS retry like every
    maintenance commit."""
    from cashback_data_pipeline_spark.sinks import filestats

    if predicates is not None:
        filestats.skip_condition(predicates)  # validate up front

    def attempt(cur, m):
        files = m["files"]
        stats = dict(m.get("stats") or {})
        scope, _ = _candidates(table, m, predicates)
        # row counts: manifest stats first, one footer metadata read for
        # the rest (KBs per file, no data pages)
        unknown = [f for f in scope if stats.get(f, {}).get("rows") is None]
        if unknown:
            fresh = filestats.collect_file_stats(spark, table, unknown, [])
            for f, e in fresh.items():
                # fresh entry dicts, never in-place: snapshot-cache
                # entries are shared shallowly across readers
                stats[f] = {**stats.get(f, {}), "rows": e.get("rows")}
        small = [
            f for f in scope
            if (stats.get(f, {}).get("rows") or 0) < target_rows
        ]
        # heavily TOMBSTONED files rejoin the rewrite set regardless of
        # size (the Delta DV-reclaim policy): a merge-on-read history
        # accumulates deletion vectors on right-sized files forever
        # unless maintenance materializes them — files whose deleted
        # fraction reaches max_dv_ratio rewrite here, reclaiming the
        # dead rows and the per-read anti-join
        dvs = _dv_set(m)
        dv_counts = {}
        if dvs:
            # tombstones per file: one read of the deletion-vector
            # relation serves the reclaim ratios here and the
            # dead-relation check below
            store = get_log_store(table)
            dv_counts = {
                r["file"]: r["n"]
                for r in spark.read.parquet(*[store.join(table, f) for f in dvs])
                .groupBy("file").agg(F.count(F.lit(1)).alias("n")).collect()
            }
        if dvs and max_dv_ratio is not None:
            small_set0 = set(small)
            for f in scope:
                r = stats.get(f, {}).get("rows")
                c = dv_counts.get(f, 0)
                if f not in small_set0 and r and c and c / r >= max_dv_ratio:
                    small.append(f)
        if len(small) < min_files:
            return cur  # nothing worth packing — no version churn
        small_rows = sum(stats[f].get("rows") or 0 for f in small)
        n_out = max(1, -(-small_rows // target_rows))
        small_set = set(small)
        carried = [f for f in files if f not in small_set]
        packed = _read_files(spark, table, small, m)
        lay = m.get("layout") or {}
        if lay.get("cluster_by"):
            # the declared layout survives maintenance: packed files
            # come out range-clustered, keeping them skip-prunable
            packed = packed.repartitionByRange(
                n_out, *lay["cluster_by"]
            ).sortWithinPartitions(*lay["cluster_by"])
        elif lay.get("zorder_by"):
            packed = _zorder_layout(packed, list(lay["zorder_by"]), n_out)
        else:
            packed = packed.coalesce(n_out)
        new_files, new_stats, props = _add_files(spark, table, m, packed)
        # tombstone relations whose every referenced file was rewritten
        # are dead — drop them so reads stop paying the anti-join
        keep_dvs = dvs if set(dv_counts) & set(carried) else []
        meta = dict(m.get("meta") or {})
        meta["optimize"] = {
            "rewritten": len(small),
            "carried": len(carried),
            "n_out": n_out,
            "target_rows": target_rows,
        }
        return _Commit(
            files=carried + new_files,
            meta=meta,
            stats=new_stats,
            # untouched files keep their tombstones; entries naming the
            # rewritten files match nothing (materialized by the read),
            # and fully-dead relations drop entirely
            dv_files=keep_dvs,
            operation="optimize",
            props=props,
        )

    return _commit(table, attempt)


def _orderable(dt: T.DataType) -> bool:
    """Mirror of Catalyst's RowOrdering.isOrderable: maps (at any
    nesting level) cannot be sort keys."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _one_row_per_key(incoming: DataFrame, key: str):
    """Deterministic one-row-per-key pick for the merge/append paths:
    lowest full tuple. Columns whose type Catalyst cannot sort (MapType
    anywhere in the tree — ADVICE r6, manifest.py:324) participate via
    their canonical JSON rendering instead of failing the whole load
    with AnalysisException; the pick stays deterministic for identical
    input rows (same stored map = same JSON = same rank), which is all
    replay idempotence needs."""
    from pyspark.sql import Window as W

    order_cols = [
        F.col(f.name) if _orderable(f.dataType) else F.to_json(F.col(f.name)).asc_nulls_first()
        for f in incoming.schema.fields
    ]
    w = W.partitionBy(key).orderBy(*order_cols)
    return (
        incoming.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


_MERGE_IN_LIST_MAX = 1024


def _key_predicates(m: dict, key: str, incoming_unique: DataFrame) -> list | None:
    """The key screen of the MERGE family (the Delta MERGE file-pruning
    idea): the incoming frame's ``key`` values as a skip tree for
    :func:`_candidates`, so a file whose stats or blooms PROVE it holds
    none of them carries forward untouched. Small key sets become an
    exact IN list (one bounded driver collect), larger ones the [min,
    max] key range — both sound because incoming ⊆ the pruned domain.
    None (everything is a candidate) when no stats or bloom covers the
    key, or the incoming keys are empty or include NULL."""
    stats = m.get("stats") or {}
    # stats/bloom entries are keyed by PHYSICAL column names; the
    # incoming frame stays logical
    phys_key = (_mapping(m) or {}).get(key, key)
    tracked = any(phys_key in (e.get("cols") or {}) for e in stats.values())
    conf = _bloom_table_conf(m)
    if not (tracked or (conf and phys_key in (conf.get("cols") or []))):
        # no stat source COVERS the key: skip the agg + key collect
        return None
    agg = incoming_unique.agg(
        F.min(key).alias("lo"),
        F.max(key).alias("hi"),
        F.count_distinct(key).alias("nd"),
        F.sum(F.col(key).isNull().cast("long")).alias("nulls"),
    ).first()
    if agg["nd"] == 0 or (agg["nulls"] or 0) > 0:
        return None
    if agg["nd"] <= _MERGE_IN_LIST_MAX:
        return [(key, "in", [r[0] for r in incoming_unique.select(key).distinct().collect()])]
    return [(key, ">=", agg["lo"]), (key, "<=", agg["hi"])]


def upsert_table(spark: SparkSession, incoming: DataFrame, table: str, key: str) -> int:
    """MERGE-by-key as a manifest commit: current-version rows whose key
    collides are replaced, new keys appended, one row per key kept
    deterministically (lowest full tuple). Key matching is NULL-SAFE:
    the NULL group is one key like any other (SQL MERGE's ``ON t.k =
    s.k`` would never match it — here the one-row-per-key invariant
    holds for NULL too, matching the docstring's contract and
    ``groupBy``'s treatment of NULL). Optimistic concurrency: on
    CAS loss the merge recomputes against the winner's version, so
    concurrent upserts SERIALIZE instead of last-writer-wins.

    FILE-PRUNED (round 8, the Delta MERGE optimization): when the table
    carries stats on ``key``, files whose key range/set provably misses
    every incoming key carry forward UNTOUCHED — a keyed trickle-merge
    into a clustered 100 TB history rewrites the straddling files, not
    the table. Rewritten files get fresh stats for the parent's tracked
    columns so pruning compounds across merges; stats-less tables keep
    the original whole-table rewrite."""
    incoming_unique = _one_row_per_key(incoming, key)

    def attempt(cur, m):
        nonlocal incoming_unique
        if m is None:
            return _Commit(
                files=_write_data_files(incoming_unique, table),
                schema=incoming_unique.schema.json(), operation="merge",
            )
        incoming_unique = _apply_generated(
            incoming_unique, _generated(m), "the MERGE source"
        )
        _refuse_identity_missing(incoming_unique.columns, m, "the MERGE source")
        _check_constraints(incoming_unique, _constraints(m), "the MERGE source")
        cand, carried = _candidates(table, m, _key_predicates(m, key, incoming_unique))
        if cand:
            target = _read_files(spark, table, cand, m)
            # NULL-SAFE key collision (ADVICE r8): the NULL group is a
            # key like any other (matching _one_row_per_key's window
            # partitioning) — a NULL-keyed incoming row REPLACES the
            # previous NULL-keyed row instead of accumulating duplicates
            # across repeated upserts
            ik = incoming_unique.select(F.col(key).alias("__merge_key")).distinct()
            survivors = target.join(
                ik, on=target[key].eqNullSafe(ik["__merge_key"]), how="left_anti"
            )
            merged = survivors.unionByName(incoming_unique)
        else:
            merged = incoming_unique  # every existing file provably collision-free
        new_files, stats, props = _add_files(
            spark, table, m, merged,
            props={"column_mapping": _extend_mapping(_mapping(m), merged.columns)},
        )
        # carried files keep their tombstones; entries referencing the
        # rewritten (now-unreferenced) files match nothing — harmless,
        # reclaimed at the next compaction
        return _Commit(
            files=carried + new_files, schema=merged.schema.json(), stats=stats,
            operation="merge", props=props,
        )

    return _commit(table, attempt, create=True)


def _validate_merge_clauses(when_matched, when_not_matched, out_cols, src_cols):
    """Clause-shape validation shared by merge_table and the SQL front
    door — fail before any I/O."""
    out_set, src_set = set(out_cols), set(src_cols)
    for cl in when_matched:
        if cl[0] == "update":
            a = cl[2]
            if a == "*":
                missing = out_set - src_set
                if missing:
                    raise ValueError(
                        f"UPDATE SET * needs every target column in the source; "
                        f"missing {sorted(missing)}"
                    )
            elif isinstance(a, dict):
                unknown = [c for c in a if c not in out_set]
                if unknown:
                    raise ValueError(
                        f"UPDATE of unknown column(s) {unknown}; have {sorted(out_set)}"
                    )
            else:
                raise ValueError(f"update assignments must be '*' or a dict, got {a!r}")
        elif cl[0] != "delete":
            raise ValueError(f"unknown WHEN MATCHED action {cl[0]!r} (update/delete)")
    for cl in when_not_matched:
        if cl[0] != "insert" or cl[2] != "*":
            raise ValueError(
                f"WHEN NOT MATCHED supports ('insert', cond, '*'), got {cl!r}"
            )
        missing = out_set - src_set
        if missing:
            raise ValueError(
                f"INSERT * needs every target column in the source; missing {sorted(missing)}"
            )


def merge_table(
    spark: SparkSession,
    source: DataFrame,
    table: str,
    key: str,
    when_matched: list | tuple = (),
    when_not_matched: list | tuple = (),
    t_alias: str = "t",
    s_alias: str = "s",
) -> int:
    """General MERGE (VERDICT r9 item 3 — the standard CDC-with-deletes
    shape Delta/Iceberg accept, generalizing :func:`upsert_table`'s
    fixed upsert pair)::

        when_matched     = [("update", <cond|None>, {col: expr} | "*"),
                            ("delete", <cond|None>), ...]
        when_not_matched = [("insert", <cond|None>, "*"), ...]

    Clauses apply IN ORDER — the first whose condition evaluates TRUE
    wins for that row (SQL three-valued logic: NULL conditions don't
    fire); a matched row no clause claims carries forward unchanged, an
    unmatched source row no insert clause claims is dropped. Conditions
    and update expressions are Spark SQL strings over the ``t_alias``
    (target) and ``s_alias`` (source) qualifiers, e.g.
    ``"s.price > t.price"``. The table schema is INVARIANT under MERGE
    (update expressions cast back to the column's type, like
    :func:`update_where`).

    One row per key on BOTH sides, the :func:`upsert_table` discipline:
    the source is deduplicated deterministically (lowest full tuple) and
    key matching is NULL-SAFE. FILE-PRUNED like upsert_table: files
    whose key stats provably miss every source key carry forward
    untouched — their rows are unmatched targets, which no clause can
    touch, so skipping them is exact, not approximate. Optimistic CAS
    retry serializes concurrent writers."""
    wm, wnm = list(when_matched), list(when_not_matched)
    if not wm and not wnm:
        raise ValueError("MERGE with no WHEN clauses does nothing; pass at least one")
    incoming_unique = _one_row_per_key(source, key)

    def attempt(cur, m):
        nonlocal incoming_unique
        incoming_unique = _apply_generated(
            incoming_unique, _generated(m), "the MERGE source"
        )
        _refuse_identity_missing(incoming_unique.columns, m, "the MERGE source")
        schema = T.StructType.fromJson(json.loads(m["schema"]))
        _validate_merge_clauses(
            wm, wnm, [f.name for f in schema.fields], incoming_unique.columns
        )
        cand, carried = _candidates(table, m, _key_predicates(m, key, incoming_unique))
        if cand:
            target = _read_files(spark, table, cand, m)
        else:
            target = local_rows_df(spark, [], schema)
        t = target.withColumn("__t_present", F.lit(True)).alias(t_alias)
        s = incoming_unique.withColumn("__s_present", F.lit(True)).alias(s_alias)
        j = t.join(
            s,
            on=F.col(f"{t_alias}.`{key}`").eqNullSafe(F.col(f"{s_alias}.`{key}`")),
            how="full_outer",
        )

        def _fire(cond: str | None):
            # a clause fires iff its condition IS TRUE (3VL)
            c = F.expr(cond) if cond else F.lit(True)
            return c.eqNullSafe(F.lit(True))

        m_chain = None
        for i, cl in enumerate(wm):
            m_chain = (F.when if m_chain is None else m_chain.when)(
                _fire(cl[1]), F.lit(f"m{i}")
            )
        matched_act = m_chain.otherwise(F.lit("keep")) if m_chain is not None else F.lit("keep")
        i_chain = None
        for i, cl in enumerate(wnm):
            i_chain = (F.when if i_chain is None else i_chain.when)(
                _fire(cl[1]), F.lit(f"i{i}")
            )
        insert_act = i_chain.otherwise(F.lit("drop")) if i_chain is not None else F.lit("drop")
        t_here = F.col(f"{t_alias}.__t_present").isNotNull()
        s_here = F.col(f"{s_alias}.__s_present").isNotNull()
        j = j.withColumn(
            "__action",
            F.when(t_here & s_here, matched_act)
            .when(t_here, F.lit("keep"))
            .otherwise(insert_act),
        )
        dead = ["drop"] + [f"m{i}" for i, cl in enumerate(wm) if cl[0] == "delete"]
        j = j.filter(~F.col("__action").isin(dead))

        cols = []
        for f in schema.fields:
            c = f.name
            chain = None
            for i, cl in enumerate(wm):
                if cl[0] != "update":
                    continue
                a = cl[2]
                if a == "*":
                    v = F.col(f"{s_alias}.`{c}`")
                elif c in a:
                    e = a[c]
                    v = F.expr(e) if isinstance(e, str) else e
                else:
                    v = F.col(f"{t_alias}.`{c}`")
                chain = (F.when if chain is None else chain.when)(
                    F.col("__action") == f"m{i}", v.cast(f.dataType)
                )
            for i, _cl in enumerate(wnm):
                chain = (F.when if chain is None else chain.when)(
                    F.col("__action") == f"i{i}",
                    F.col(f"{s_alias}.`{c}`").cast(f.dataType),
                )
            base = F.col(f"{t_alias}.`{c}`")
            cols.append((chain.otherwise(base) if chain is not None else base).alias(c))
        merged = j.select(*cols)

        # an UPDATE assignment touching a generated column's dependency
        # must also keep the generated column consistent — validated here
        merged = _apply_generated(merged, _generated(m), "the MERGE result")
        _check_constraints(merged, _constraints(m), "the MERGE result")
        new_files, stats, props = _add_files(spark, table, m, merged)
        # carried files keep their tombstones (upsert_table's note)
        return _Commit(
            files=carried + new_files, stats=stats, operation="merge", props=props
        )

    return _commit(table, attempt)


def append_table_if_absent(
    spark: SparkSession, incoming: DataFrame, table: str, key: str
) -> int:
    """The reference's idempotent NOT-EXISTS load (K6/J3,
    load_to_redshift_lambda.py:88-100) as a manifest commit: rows whose
    key already exists in the current version are dropped, the rest
    append as a new version; existing rows are NEVER touched (unlike
    :func:`upsert_table`, which replaces colliding keys). Returns the
    number of rows appended. Optimistic concurrency: on CAS loss the
    anti-join recomputes against the winner's version, so two racing
    loaders SERIALIZE — each key lands exactly once, from whichever
    loader commits it first.

    FILE-PRUNED key scan (round 8): with stats on ``key``, the
    duplicate-screening anti-join reads keys ONLY from files that may
    contain an incoming key — the idempotent trickle-load against a
    clustered 100 TB serving table scans the straddling files' key
    column, not every file's. Parent stats carry forward and the new
    files get fresh entries (previously an idempotent append silently
    DROPPED the table's stats, eroding data skipping)."""
    incoming_unique = _one_row_per_key(incoming, key)

    def attempt(cur, m):
        if m is None:
            fresh = incoming_unique
        else:
            cand, _ = _candidates(table, m, _key_predicates(m, key, incoming_unique))
            if cand:
                # DV-applied key screen: a merge-on-read-DELETEd key is
                # absent, so the NOT-EXISTS load re-admits it (ghost keys
                # must not block re-insertion)
                target_keys = (
                    _read_files(spark, table, cand, m)
                    .select(F.col(key).alias("__seen_key"))
                    .distinct()
                )
                # NULL-SAFE screen (ADVICE r8): an existing NULL-keyed
                # row blocks re-insertion of NULL-keyed incoming rows —
                # without it every replay appends another NULL-key copy
                fresh = incoming_unique.join(
                    target_keys,
                    on=incoming_unique[key].eqNullSafe(target_keys["__seen_key"]),
                    how="left_anti",
                )
            else:
                fresh = incoming_unique  # no existing file can hold these keys
        fresh = _apply_generated(fresh, _generated(m), "the NOT-EXISTS load")
        ident = _identity(m)
        fresh, _ = _assign_identity(fresh, ident)
        _check_constraints(
            fresh, _constraints(m) if m else {}, "the NOT-EXISTS load"
        )
        fresh = fresh.cache()
        try:
            n = fresh.count()
            if n == 0:
                return 0
            files, stats, props = _add_files(
                spark, table, m, fresh,
                props={"column_mapping": _extend_mapping(_mapping(m), fresh.columns)},
            )
            # commit the RECONCILED schema (parent widened by the batch,
            # never narrowed) — the write_table append discipline; an
            # old-shape idempotent load must not revert an ADD COLUMN.
            # On CAS loss the anti-join recomputes against the winner's
            # version (orphaned files → vacuum)
            return _Commit(
                files=([] if m is None else m["files"]) + files,
                schema=(
                    fresh.schema.json() if m is None
                    else _reconcile_append_schema(m["schema"], fresh.schema)
                ),
                stats=stats,
                operation="append_if_absent",
                props=props,
                result=n,
            )
        finally:
            fresh.unpersist()

    return _commit(table, attempt, create=True)


def _rewrite_where(spark: SparkSession, table: str, predicates, transform, meta_key: str) -> int:
    """Shared engine of the file-pruned copy-on-write DML ops
    (:func:`delete_where` / :func:`update_where`): files whose metadata
    PROVES no row matches the predicate tree (:func:`_candidates`) carry
    forward UNTOUCHED — zero read or write I/O — and only candidate
    files are read and rewritten through ``transform(snapshot,
    matched)`` (matched = the predicate column ``IS TRUE``, giving SQL
    DML null semantics) and added through :func:`_add_files`.
    Optimistic CAS retry; ``meta[meta_key]`` records {"rewritten",
    "carried"} file counts (the carried count is the pruning evidence).
    Both ops are REWRITES:
    append-only :func:`read_changes` windows spanning them refuse, and
    :func:`read_changes_rows` shows the row-level effect."""
    from cashback_data_pipeline_spark.sinks import filestats

    cond = filestats.skip_condition(predicates)

    def attempt(cur, m):
        # the residual condition applies to the logical frame below
        cand, carried = _candidates(table, m, predicates)
        if not cand:
            return cur  # stats prove nothing matches — no version churn
        snap = _read_files(spark, table, cand, m)
        rewritten = transform(snap, cond.eqNullSafe(F.lit(True)))
        if meta_key == "update":
            _check_constraints(rewritten, _constraints(m), "the UPDATE result")
        new_files, stats, props = _add_files(spark, table, m, rewritten)
        meta = dict(m.get("meta") or {})
        meta[meta_key] = {"rewritten": len(cand), "carried": len(carried)}
        return _Commit(
            files=carried + new_files, meta=meta, stats=stats, operation=meta_key,
            props=props,
        )

    return _commit(table, attempt)


def delete_where(spark: SparkSession, table: str, predicates, mode: str = "copy_on_write") -> int:
    """``DELETE FROM table WHERE <predicates>`` as ONE manifest commit,
    FILE-PRUNED (see :func:`_rewrite_where` for the shared machinery):
    at 100 TB a keyed/ranged delete over a clustered or time-correlated
    history touches the handful of files that straddle the predicate,
    never the table. ``predicates`` use the same tree language as
    ``read_table(skip=)``; SQL DELETE null semantics (a row whose
    predicate evaluates NULL survives).

    Two execution modes, the Delta pair:

    - ``copy_on_write`` (default): candidate files are REWRITTEN without
      the matching rows — reads stay plain scans, the delete pays the
      rewrite.
    - ``merge_on_read``: candidate files are left untouched; the commit
      adds a DELETION VECTOR — a ``(file, row_index)`` tombstone
      relation written as ordinary immutable parquet under the commit's
      data dir — and every reader anti-joins it away (:func:`_read_files`).
      The delete pays one pruned scan of the candidates' MATCHING rows
      and writes only tombstones — the right trade when deletes are
      small or frequent relative to file sizes (GDPR point deletes into
      a 100 TB history). Reads carry the (AQE-broadcast) anti-join until
      :func:`compact_table` materializes the deletes and drops the DVs.
      Carried per-file stats become upper bounds (pruning stays sound —
      it can only keep extra files); the change feed treats a DV change
      like a rewrite (keyed diff, never a silent miss)."""
    if mode == "copy_on_write":
        return _rewrite_where(
            spark, table, predicates, lambda snap, matched: snap.filter(~matched), "delete"
        )
    if mode != "merge_on_read":
        raise ValueError(f"unknown DELETE mode {mode!r}: copy_on_write or merge_on_read")
    from cashback_data_pipeline_spark.sinks import filestats

    filestats.skip_condition(predicates)  # validate the spec up front

    def attempt(cur, m):
        store = get_log_store(table)
        cand, _ = _candidates(table, m, predicates)
        if not cand:
            return cur  # stats prove nothing matches — no version churn
        # deletion-vector bookkeeping keys rows by the data/<commit>/
        # suffix of their path; files IMPORTED by convert_to_table live
        # outside that tree, so their tombstones would not round-trip —
        # refuse loudly (copy_on_write works; a compact/optimize
        # migrates imports into the native layout)
        foreign = [
            f for f in cand
            if not f.replace(os.sep, "/").startswith("data/")
            and "/data/" not in f.replace(os.sep, "/")
        ]
        if foreign:
            raise ValueError(
                f"merge_on_read DELETE touches {len(foreign)} imported "
                f"file(s) (e.g. {foreign[0]!r}) that predate this table's "
                "manifest (convert_to_table): use copy_on_write, or run "
                "compact_table/optimize_table to migrate them first"
            )
        # tombstones = (file, row_index) of the matching rows. The scan
        # projects ONLY the predicate columns + file metadata (column
        # pruning reaches the parquet reader); the anti-join against the
        # existing vectors keeps already-deleted rows out (idempotent
        # re-delete adds nothing). The scan sees PHYSICAL names, so the
        # match condition is the physical-translated predicate tree.
        matches = (
            _physical_scan(
                spark, table, cand, schema_json=m["schema"],
                mapping=_mapping(m), partitioning=_partitioning(m) or None,
                with_meta=True,
            )
            .filter(
                filestats.skip_condition(_phys_predicates(predicates, _mapping(m)))
                .eqNullSafe(F.lit(True))
            )
            .select(
                F.col("__row_file").alias("file"),
                F.col("__row_ri").alias("row_index"),
            )
        )
        prior = _dv_set(m)
        if prior:
            dv_rel = spark.read.parquet(*[store.join(table, f) for f in prior])
            matches = matches.join(dv_rel, ["file", "row_index"], "left_anti")
        matches = matches.persist()
        try:
            n_deleted = matches.count()
            if n_deleted == 0:
                return cur  # candidates held no matching rows — no commit
            dv_new = _write_data_files(matches, table)
        finally:
            matches.unpersist()
        meta = dict(m.get("meta") or {})
        meta["delete"] = {
            "mode": "merge_on_read",
            "rows_deleted": n_deleted,
            "files_scanned": len(cand),
        }
        return _Commit(meta=meta, dv_files=prior + dv_new, operation="delete")

    return _commit(table, attempt)


def update_where(spark: SparkSession, table: str, assignments: dict, predicates) -> int:
    """``UPDATE table SET col = expr, ... WHERE <predicates>`` as ONE
    manifest commit, FILE-PRUNED (the Delta copy-on-write UPDATE shape
    — :func:`_rewrite_where`). ``assignments`` maps column name → SQL
    expression string or Column; each expression is cast back to the
    column's current type so the table schema is invariant under
    updates (an UPDATE never silently widens a column). Non-matching
    rows in candidate files are rewritten byte-identical; files the
    stats prove untouched carry forward with zero I/O. With
    :func:`delete_where`, :func:`upsert_table` (MERGE) and append
    commits this completes the DML surface."""
    cur0 = current_version(table)
    m0 = read_manifest(table, cur0) if cur0 is not None else None
    gen = _generated(m0)
    bad_ident = [c for c in assignments if c in _identity(m0)]
    if bad_ident:
        raise ValueError(
            f"UPDATE of identity column(s) {bad_ident} is refused: ids are "
            "allocated, never reassigned"
        )

    def transform(snap: DataFrame, matched):
        by_name = {f.name: f.dataType for f in snap.schema.fields}
        unknown = [c for c in assignments if c not in by_name]
        if unknown:
            raise ValueError(f"UPDATE of unknown column(s) {unknown}; have {sorted(by_name)}")
        cols = []
        for c in snap.columns:
            if c in assignments:
                e = assignments[c]
                e = F.expr(e) if isinstance(e, str) else e
                cols.append(
                    F.when(matched, e.cast(by_name[c])).otherwise(F.col(c)).alias(c)
                )
            else:
                cols.append(F.col(c))
        out = snap.select(*cols)
        # generated columns RECOMPUTE after the assignments take effect
        # (the Delta behavior — an UPDATE of a dependency keeps the
        # derived column consistent without the user restating it);
        # non-matching rows recompute to their existing value, so the
        # byte-identical-carry contract holds. Explicitly assigned
        # generated columns validate instead — an inconsistent
        # assignment refuses. Declarations freeze once the table holds
        # data, so the one pre-loop read is race-free.
        for g, spec in gen.items():
            if g not in assignments:
                out = out.withColumn(g, F.expr(spec["expr"]).cast(spec["type"]))
        if gen:
            out = _apply_generated(out, gen, "the UPDATE result")
        return out

    return _rewrite_where(spark, table, predicates, transform, "update")


def vacuum(
    table: str,
    keep_last: int = 2,
    min_age_s: float = 600.0,
    prune_manifests: bool = False,
    dry_run: bool = False,
) -> list[str]:
    """Delete data dirs unreferenced by the last ``keep_last`` versions
    (readers pinned within that horizon stay safe — the Delta retention
    contract). ``min_age_s`` is the in-flight-writer guard, Delta's
    retention-window idea: a writer's data dir exists BEFORE its commit
    references it, so an unreferenced-but-young dir may be a commit in
    progress and is skipped — only dirs older than the window (i.e. a
    writer that crashed pre-commit, or superseded versions) are removed.
    Also sweeps orphaned manifest temp files past the window. Returns
    the removed dirs. Ages compare the store's file mtimes to the local
    clock — on a remote store keep ``min_age_s`` generously above any
    plausible clock skew (the Delta retention-window practice).

    ``prune_manifests=True`` additionally removes manifest JSONs OLDER
    than the ``keep_last`` horizon, once aged past ``min_age_s`` (the
    Delta log-cleanup idea, opt-in): a long-lived table commits forever
    — hourly appends accumulate ~9k manifests a year, and every
    history-walking reader pays that listing. Pruned versions were
    already un-time-travelable (their data dirs are vacuum fodder), so
    this only reclaims the metadata; the latest ``keep_last`` versions
    always survive, and history walkers (``committed_meta_values``)
    already tolerate the gaps.

    ``dry_run=True`` (the Delta ``VACUUM .. DRY RUN`` safety) reports
    the data dirs that WOULD be removed — nothing is deleted, the
    pointer does not move, and manifest pruning is skipped entirely."""
    import time

    store = get_log_store(table)
    cur = current_version(table)
    if cur is None:
        return []
    keep_versions = [v for v in range(max(1, cur - keep_last + 1), cur + 1)]
    referenced: set[str] = set()
    for v in keep_versions:
        try:
            m = read_manifest(table, v)
        except FileNotFoundError:
            continue
        referenced |= {
            f.replace(os.sep, "/").split("/")[1]
            for f in m["files"] + _dv_set(m)
            if f.startswith("data")
        }
    # a LIVE stage marker (write-audit-publish, awaiting its audit) pins
    # its data dirs; discard_staged/publish_staged release them
    try:
        staged_names = store.list_names(store.join(table, _STAGED_DIR))
    except FileNotFoundError:
        staged_names = []
    for name in staged_names:
        if not name.endswith(".json"):
            continue
        try:
            stage = json.loads(store.read_text(store.join(table, _STAGED_DIR, name)))
        except FileNotFoundError:
            continue  # raced a concurrent publish/discard
        referenced |= {
            f.replace(os.sep, "/").split("/")[1]
            for f in stage.get("files", [])
            if f.startswith("data")
        }
    now = time.time()
    removed = []
    data_root = store.join(table, "data")
    try:
        commit_dirs = store.list_names(data_root)
    except FileNotFoundError:
        commit_dirs = []
    for name in commit_dirs:
        d = store.join(data_root, name)
        if name in referenced:
            continue
        if now - store.mtime(d) < min_age_s:
            continue  # possibly an in-flight commit's data — not ours to take
        if not dry_run:
            store.delete_recursive(d)
        removed.append(d)
    manifest_dir = store.join(table, _MANIFEST_DIR)
    try:
        manifest_names = store.list_names(manifest_dir)
    except FileNotFoundError:
        manifest_names = []
    horizon = min(keep_versions)

    def _aged(name: str) -> bool:
        return now - store.mtime(store.join(manifest_dir, name)) >= min_age_s

    def _parse_version(name: str) -> int | None:
        if name.startswith("v") and name.endswith(".json"):
            s = name[1:-5]
        elif name.startswith("ckpt_v") and name.endswith(".parquet"):
            s = name[6:-8]
        else:
            return None
        try:
            return int(s)
        except ValueError:
            return None

    prunable = (
        [
            n
            for n in manifest_names
            if not n.startswith(TMP_PREFIX)
            and (v := _parse_version(n)) is not None
            and v < horizon
            and _aged(n)
        ]
        if prune_manifests and not dry_run
        else []
    )
    if prunable:
        # ANCHOR the horizon before deleting anything below it: a
        # format-2 action record reconstructs by replaying its chain,
        # and pruning that chain without a checkpoint at (or above) the
        # horizon would strand every retained version. A legacy
        # full-snapshot record is self-anchoring. The pointer moves
        # BEFORE any deletion (inside _write_checkpoint), so a reader's
        # probe racing this prune re-reads a valid anchor.
        try:
            horizon_doc = _read_commit_doc(table, horizon)
        except FileNotFoundError:
            horizon_doc = None
        needs_anchor = horizon_doc is not None and "files" not in horizon_doc
        if needs_anchor and not _write_checkpoint(table, horizon):
            prunable = []  # no anchor, no pruning — never strand the horizon
        elif prunable:
            # a self-anchoring (legacy full-snapshot) horizon needs no
            # checkpoint, but the POINTER must still advance before any
            # deletion (ADVICE r9): a reader whose stale hint passed the
            # exists() check could otherwise probe up into the pruned
            # gap and return a stale lower version — current_version's
            # post-probe pointer re-read only saves it if the pointer
            # moved first. v<horizon>.json exists, so the hint verifies.
            prev = _read_pointer(store, table)
            if prev is None or prev < horizon:
                store.write_overwrite(
                    manifest_dir, _LAST_CKPT,
                    json.dumps({"version": horizon}).encode("utf-8"),
                )
    for name in manifest_names:
        if name.startswith(TMP_PREFIX):
            if _aged(name) and not dry_run:
                store.delete_file(store.join(manifest_dir, name))
            continue
    if prune_manifests:
        for name in prunable:
            store.delete_file(store.join(manifest_dir, name))
    return removed
