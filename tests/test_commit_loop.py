"""The one commit loop (``manifest._commit``): every writer that loses
its CAS to a concurrent append re-runs against the winner's snapshot,
so the outcome equals applying the two commits serially — the append's
files are kept or rewritten, never dropped, and the history is linear.

Each case runs the writer twice: once on a table where a concurrent
append commits between the writer's attempt and its publish (the
``_race_once`` hook of ``test_advice_r8``), once on a twin table where
the same append simply commits first. Both tables must end with the
same rows, the same schema and the same operation history."""

from __future__ import annotations

import ast
import os
import re

import pytest

from cashback_data_pipeline_spark.sinks import manifest as M


def _batch(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS dt", "CAST(id AS DOUBLE) AS v",
        "CAST(id AS INT) AS n",
    )


def _setup(spark, t):
    M.write_table(_batch(spark, 0, 20), t, stats_cols=["k"], partition_by=["dt"])
    M.add_constraint(spark, t, "kpos", "k >= 0")


def _append(spark, t):
    M.write_table(_batch(spark, 100, 106), t, mode="append")


def _merge(spark, t):
    src = _batch(spark, 98, 110).selectExpr("k", "dt", "v + 0.5 AS v", "n")
    M.merge_table(
        spark, src, t, key="k",
        when_matched=[("update", None, {"v": "s.v"})],
        when_not_matched=[("insert", None, "*")],
    )


def _publish(spark, t):
    M.publish_staged(t, M.stage_commit(_batch(spark, 200, 204), t))


# writer under test: name → fn(spark, table)
WRITERS = {
    "rename_column": lambda s, t: M.rename_column(t, "v", "w"),
    "drop_column": lambda s, t: M.drop_column(t, "v"),
    "add_column": lambda s, t: M.add_column(t, "x", "string"),
    "widen_column": lambda s, t: M.widen_column(t, "n", "bigint"),
    "add_constraint": lambda s, t: M.add_constraint(s, t, "ksmall", "k < 1000"),
    "drop_constraint": lambda s, t: M.drop_constraint(t, "kpos"),
    "drop_partition": lambda s, t: M.drop_partition(t, {"dt": "1"}),
    "delete_keys": lambda s, t: M.delete_keys(
        s, s.range(0, 200, 3).selectExpr("id AS k"), t, key="k"
    ),
    "delete_where_cow": lambda s, t: M.delete_where(s, t, [("k", "in", [1, 2, 101])]),
    "delete_where_mor": lambda s, t: M.delete_where(
        s, t, [("k", "in", [1, 2, 101])], mode="merge_on_read"
    ),
    "update_where": lambda s, t: M.update_where(
        s, t, {"v": "v * 10"}, [("k", "in", [4, 5, 102])]
    ),
    "upsert_table": lambda s, t: M.upsert_table(
        s, _batch(s, 95, 103).selectExpr("k", "dt", "v + 0.25 AS v", "n"), t, key="k"
    ),
    "merge_table": _merge,
    "compact_table": lambda s, t: M.compact_table(s, t, n_files=1),
    "optimize_table": lambda s, t: M.optimize_table(s, t, target_rows=10_000),
    "restore_table": lambda s, t: M.restore_table(t, version=1),
    "write_table_append": lambda s, t: M.write_table(_batch(s, 50, 55), t, mode="append"),
    "write_table_overwrite": lambda s, t: M.write_table(_batch(s, 60, 65), t),
    "append_table_if_absent": lambda s, t: M.append_table_if_absent(
        s, _batch(s, 103, 110), t, key="k"
    ),
    "publish_staged": _publish,
}


def _race_once(monkeypatch, side_effect):
    """The first ``_try_commit`` call is preempted by ``side_effect()``
    (the concurrent writer committing first); every call then delegates
    to the real CAS, so the writer's publish loses exactly as it would
    under a real race."""
    real = M._try_commit
    state = {"raced": False}

    def race(*args, **kwargs):
        if not state["raced"]:
            state["raced"] = True
            side_effect()
        return real(*args, **kwargs)

    monkeypatch.setattr(M, "_try_commit", race)
    return state


def _outcome(spark, t):
    cur = M.current_version(t)
    history = []
    for v in range(1, cur + 1):
        doc = M._read_commit_doc(t, v)
        history.append((doc["version"], doc["parent"], doc["meta"]["operation"]))
    df = M.read_table(spark, t)
    rows = sorted(tuple(r) for r in df.collect())
    return {"history": history, "schema": df.schema.simpleString(), "rows": rows}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_writer_retries_after_losing_to_a_concurrent_append(spark, tmp_path, monkeypatch, writer):
    raced, serial = str(tmp_path / "raced"), str(tmp_path / "serial")
    for t in (raced, serial):
        _setup(spark, t)
    base = M.current_version(raced)

    _append(spark, serial)
    WRITERS[writer](spark, serial)
    expected = _outcome(spark, serial)

    state = _race_once(monkeypatch, lambda: _append(spark, raced))
    WRITERS[writer](spark, raced)
    monkeypatch.undo()
    got = _outcome(spark, raced)

    assert state["raced"]
    assert got == expected
    # linear: one append then the writer's one commit, each over its parent
    assert [h[:2] for h in got["history"]] == [(v, v - 1 or None) for v in range(1, base + 3)]
    assert got["history"][base][2] == "append"


def test_try_commit_has_one_caller():
    """``_commit`` is the only place in the package that publishes a
    version: no writer calls ``_try_commit`` or runs its own CAS loop."""
    pkg = os.path.join(os.path.dirname(__file__), "..", "cashback_data_pipeline_spark")
    callers, loops = [], []
    for root, _dirs, files in os.walk(pkg):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            src = open(path, encoding="utf-8").read()
            rel = os.path.relpath(path, pkg)
            callers += [rel] * len(re.findall(r"(?<!def )\b_try_commit\(", src))
            # a hand-rolled CAS loop: `while True:` re-reading the version
            for m in re.finditer(r"\n( *)while True:\n", src):
                body = src[m.end(): m.end() + 400]
                if "current_version(" in body:
                    loops.append(rel)
    assert callers == [os.path.join("sinks", "manifest.py")]
    assert loops == [os.path.join("sinks", "manifest.py")]


@pytest.mark.parametrize(
    "call,owner",
    [
        ("_build_bloom_sidecar(", "_add_files"),
        ("_advance_identity(", "_add_files"),
        ("filestats.prune_files_bloom(", "_candidates"),
        ("_augment_generated_predicates(", "_candidates"),
    ],
)
def test_write_tail_and_pruner_have_one_call_site(call, owner):
    """In ``sinks/manifest.py`` every file-adding writer gets its new
    files' bloom sidecar and identity advance from the write tail
    ``_add_files``, and every pruning site goes through ``_candidates``:
    each call below has exactly one site, inside its owner."""
    path = os.path.join(
        os.path.dirname(__file__), "..", "cashback_data_pipeline_spark", "sinks", "manifest.py"
    )
    src = open(path, encoding="utf-8").read()
    pattern = r"(?<!def )(?<![\w.])" + re.escape(call)
    sites = []
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            n = len(re.findall(pattern, ast.get_source_segment(src, node)))
            sites += [node.name] * n
    assert sites == [owner]
