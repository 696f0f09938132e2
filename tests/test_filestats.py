"""File-level data skipping + incremental change-feed reads (round 7).

The skipping contract: ``skip=`` predicates on manifest reads PRUNE
files whose per-file min/max prove no row can match (zero I/O), apply
the exact residual filter to survivors, and are CONSERVATIVE about
missing information (no stats, untracked column, unusable bounds ⇒ the
file is read). Stats come from parquet footers on local stores and a
single scan of the new files on ``scheme://`` stores — both paths are
exercised via the parameterized fixture.

The change-feed contract: ``read_changes`` returns exactly the rows
added between two versions for append-only histories, reads only the
added files, and REFUSES histories with rewrites in the window.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.sinks import filestats
from cashback_data_pipeline_spark.sinks import manifest as M


@pytest.fixture(params=["local", "hadoop-fs"])
def mk_table(request, tmp_path):
    def _mk(name: str = "t") -> str:
        p = str(tmp_path / name)
        return p if request.param == "local" else "file://" + p

    return _mk


def _events(spark, n=200):
    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, float(i), f"u{i:04d}", base + dt.timedelta(hours=i)) for i in range(n)
    ]
    return spark.createDataFrame(rows, "id long, x double, s string, ts timestamp")


def _commit_quarters(spark, table, stats_cols):
    df = _events(spark)
    v = None
    for q in range(4):
        part = df.filter((F.col("id") >= q * 50) & (F.col("id") < (q + 1) * 50)).repartition(2)
        v = M.write_table(
            part, table, mode="append" if q else "overwrite", stats_cols=stats_cols
        )
    return v


def test_stats_ride_in_manifest_and_appends_carry_parent_stats(spark, mk_table):
    t = mk_table()
    v = _commit_quarters(spark, t, ["ts", "id", "s"])
    m = M.read_manifest(t, v)
    assert len(m["files"]) == 8
    # every file of every commit has stats — appends carried the parent's
    assert set(m["stats"]) == set(m["files"])
    one = next(iter(m["stats"].values()))
    assert set(one["cols"]) == {"ts", "id", "s"} and one["rows"] > 0


def test_skip_prunes_files_and_result_is_exact(spark, mk_table):
    t = mk_table()
    v = _commit_quarters(spark, t, ["ts", "id"])
    m = M.read_manifest(t, v)
    lo = dt.datetime(2024, 1, 1) + dt.timedelta(hours=120)
    kept, skipped = filestats.prune_files(m["files"], m["stats"], [("ts", ">=", lo)])
    assert skipped >= 4  # at least the first two quarters' files drop
    got = M.read_table(spark, t, skip=[("ts", ">=", lo)])
    want = M.read_table(spark, t).filter(F.col("ts") >= F.lit(lo))
    assert sorted(r["id"] for r in got.collect()) == sorted(r["id"] for r in want.collect())


def test_skip_ops_and_string_bounds(spark, mk_table):
    t = mk_table()
    v = _commit_quarters(spark, t, ["id", "s"])
    m = M.read_manifest(t, v)
    for op, lit, expect_ids in [
        ("<", 10, set(range(10))),
        ("<=", 10, set(range(11))),
        (">", 190, set(range(191, 200))),
        (">=", 190, set(range(190, 200))),
        ("==", 42, {42}),
    ]:
        got = {r["id"] for r in M.read_table(spark, t, skip=[("id", op, lit)]).collect()}
        assert got == expect_ids, (op, lit)
    # string bounds prune too (lexicographic zero-padded ids)
    kept, skipped = filestats.prune_files(m["files"], m["stats"], [("s", "==", "u0003")])
    assert skipped > 0
    got = {r["id"] for r in M.read_table(spark, t, skip=[("s", "==", "u0003")]).collect()}
    assert got == {3}


def test_missing_stats_are_conservative(spark, mk_table):
    t = mk_table()
    # first commit WITHOUT stats, second WITH
    df = _events(spark)
    M.write_table(df.filter(F.col("id") < 100), t, stats_cols=None)
    v = M.write_table(
        df.filter(F.col("id") >= 100), t, mode="append", stats_cols=["id"]
    )
    m = M.read_manifest(t, v)
    assert 0 < len(m["stats"]) < len(m["files"])
    # predicate matching only the stats-less half: its files must be KEPT
    got = {r["id"] for r in M.read_table(spark, t, skip=[("id", "<", 5)]).collect()}
    assert got == {0, 1, 2, 3, 4}
    # untracked column ⇒ no pruning, still exact
    got = {r["id"] for r in M.read_table(spark, t, skip=[("x", "<", 5.0)]).collect()}
    assert got == {0, 1, 2, 3, 4}


def test_all_null_files_are_skipped_for_comparisons(spark, mk_table):
    t = mk_table()
    a = spark.createDataFrame([(1, None), (2, None)], "id long, v string")
    b = spark.createDataFrame([(3, "x"), (4, "y")], "id long, v string")
    M.write_table(a.coalesce(1), t, stats_cols=["v"])
    v = M.write_table(b.coalesce(1), t, mode="append", stats_cols=["v"])
    m = M.read_manifest(t, v)
    kept, skipped = filestats.prune_files(m["files"], m["stats"], [("v", ">=", "a")])
    assert skipped >= 1  # the all-null file can satisfy no comparison
    got = {r["id"] for r in M.read_table(spark, t, skip=[("v", ">=", "a")]).collect()}
    assert got == {3, 4}


def test_disjunctive_in_and_null_test_pruning(spark, mk_table):
    """VERDICT r7 item 3: OR of range conjunctions, IN lists, and null
    tests prune files and stay exact (the Q19 predicate shape)."""
    t = mk_table()
    v = _commit_quarters(spark, t, ["ts", "id", "s"])
    m = M.read_manifest(t, v)
    base = dt.datetime(2024, 1, 1)
    hours = lambda h: base + dt.timedelta(hours=h)  # noqa: E731
    # OR of two ranges living in quarters 1 and 4: quarters 2-3 prune
    spec = ("or", [
        [("ts", ">=", hours(10)), ("ts", "<", hours(20))],
        [("ts", ">=", hours(180)), ("ts", "<", hours(190))],
    ])
    kept, skipped = filestats.prune_files(m["files"], m["stats"], spec)
    assert skipped >= 4  # the two middle quarters' files (2 each)
    got = {r["id"] for r in M.read_table(spark, t, skip=spec).collect()}
    assert got == set(range(10, 20)) | set(range(180, 190))
    # IN list: members in quarters 1 and 3 only — quarters 2, 4 prune
    spec_in = [("id", "in", [7, 120])]
    kept, skipped = filestats.prune_files(m["files"], m["stats"], spec_in)
    assert skipped >= 4
    got = {r["id"] for r in M.read_table(spark, t, skip=spec_in).collect()}
    assert got == {7, 120}
    # null tests: an all-null file prunes for is_not_null, a no-null
    # file prunes for is_null; residual stays exact either way
    t2 = mk_table("t_nulls")
    a = spark.createDataFrame([(1, None), (2, None)], "id long, v string")
    b = spark.createDataFrame([(3, "x"), (4, "y")], "id long, v string")
    M.write_table(a.coalesce(1), t2, stats_cols=["v"])
    v2 = M.write_table(b.coalesce(1), t2, mode="append", stats_cols=["v"])
    m2 = M.read_manifest(t2, v2)
    _, skipped = filestats.prune_files(m2["files"], m2["stats"], [("v", "is_not_null")])
    assert skipped == 1
    got = {r["id"] for r in M.read_table(spark, t2, skip=[("v", "is_not_null")]).collect()}
    assert got == {3, 4}
    _, skipped = filestats.prune_files(m2["files"], m2["stats"], [("v", "is_null")])
    assert skipped == 1
    got = {r["id"] for r in M.read_table(spark, t2, skip=[("v", "is_null")]).collect()}
    assert got == {1, 2}
    # nested boolean structure: (is_null OR range) keeps both files
    nested = ("or", [[("v", "is_null")], [("v", ">=", "x")]])
    _, skipped = filestats.prune_files(m2["files"], m2["stats"], nested)
    assert skipped == 0
    got = {r["id"] for r in M.read_table(spark, t2, skip=nested).collect()}
    assert got == {1, 2, 3, 4}


def test_in_pruning_mixed_types_stays_conservative():
    """A mixed-type IN list must never crash prune-time comparison: an
    element the bounds can't compare against keeps the file."""
    entry = {"rows": 4, "cols": {"a": {"min": 10, "max": 20, "nulls": 0}}}
    assert filestats.file_may_match(entry, [("a", "in", [15, "oops"])])
    assert filestats.file_may_match(entry, [("a", "in", ["only-strings"])])
    assert not filestats.file_may_match(entry, [("a", "in", [1, 2, 30])])
    assert filestats.file_may_match(entry, [("a", "in", [1, 15])])


def test_skip_spec_validation():
    # != is SUPPORTED since r10 (negation pruning) — canonicalized
    assert filestats._normalize_node(("a", "!=", 1)) == ("leaf", "a", "!=", 1)
    with pytest.raises(ValueError, match="unsupported skip op"):
        filestats.skip_condition([("a", "~", 1)])
    with pytest.raises(ValueError, match="non-null literal"):
        filestats.skip_condition([("a", "<", None)])
    with pytest.raises(ValueError, match="takes no literal"):
        filestats.skip_condition([("a", "is_null", 3)])
    with pytest.raises(ValueError, match="list/tuple/set"):
        filestats.skip_condition([("a", "in", 3)])
    with pytest.raises(ValueError, match="non-null"):
        filestats.skip_condition([("a", "in", [1, None])])
    # empty OR matches nothing: every file prunes
    entry = {"rows": 2, "cols": {"a": {"min": 1, "max": 5, "nulls": 0}}}
    assert not filestats.file_may_match(entry, ("or", []))
    assert filestats.file_may_match(entry, [])  # empty AND keeps


def test_stats_cols_validation(spark, mk_table):
    t = mk_table()
    df = spark.createDataFrame([(1, {"a": 1})], "id long, m map<string,int>")
    with pytest.raises(ValueError, match="unprunable type"):
        M.write_table(df, t, stats_cols=["m"])
    with pytest.raises(ValueError, match="not in schema"):
        M.write_table(df, t, stats_cols=["nope"])
    with pytest.raises(ValueError, match="unsupported skip op"):
        filestats.prune_files(["f"], {"f": {}}, [("id", "like", 1)])
    with pytest.raises(ValueError, match="non-null literal"):
        filestats.prune_files(["f"], {"f": {}}, [("id", "==", None)])


def test_read_store_skip_composes_with_file_filter(spark, mk_table):
    t = mk_table()
    df = _events(spark, 100)
    cid = M.new_commit_id()
    files = M.write_store_files(df.repartition(4), t, cid, "docs")
    stats = filestats.collect_file_stats(spark, t, files, ["id"], schema=df.schema)
    assert M._try_commit(t, 1, files, None, df.schema.json(), stats=stats)
    got = M.read_store(spark, t, "docs", skip=[("id", "<", 3)])
    assert {r["id"] for r in got.collect()} == {0, 1, 2}


def test_read_changes_is_the_exact_append_diff(spark, mk_table):
    t = mk_table()
    df = _events(spark)
    M.write_table(df.filter(F.col("id") < 50), t)
    M.write_table(
        df.filter((F.col("id") >= 50) & (F.col("id") < 120)), t, mode="append"
    )
    v3 = M.write_table(df.filter(F.col("id") >= 120), t, mode="append")
    ch = M.read_changes(spark, t, from_version=1)
    assert sorted(r["id"] for r in ch.collect()) == list(range(50, 200))
    ch2 = M.read_changes(spark, t, from_version=2, to_version=v3)
    assert sorted(r["id"] for r in ch2.collect()) == list(range(120, 200))
    assert M.read_changes(spark, t, from_version=v3).count() == 0
    # from_version=0 ⇒ everything
    assert M.read_changes(spark, t, from_version=0).count() == 200


def test_read_changes_refuses_rewrites(spark, mk_table):
    t = mk_table()
    df = _events(spark, 60)
    M.write_table(df.filter(F.col("id") < 30), t)
    M.write_table(df.filter(F.col("id") >= 30), t, mode="append")
    M.compact_table(spark, t, n_files=1)
    with pytest.raises(ValueError, match="not append-only"):
        M.read_changes(spark, t, from_version=1)
    # but a window that starts AT the rewrite is fine again
    v = M.write_table(df.filter(F.col("id") < 5), t, mode="append")
    ch = M.read_changes(spark, t, from_version=3, to_version=v)
    assert sorted(r["id"] for r in ch.collect()) == [0, 1, 2, 3, 4]


def test_read_changes_rows_fast_path_and_keyed_diff(spark, mk_table):
    """read_changes_rows (VERDICT r7 item 4): append-only windows take
    the file-diff fast path (all inserts, no key needed); a window over
    a rewrite produces the exact keyed diff with pre/post/delete rows;
    unchanged keys emit nothing; null-valued columns compare
    null-safely."""
    t = mk_table()
    rows = [(1, "a", None), (2, "b", 2.0), (3, "c", 3.0), (4, None, 4.0)]
    df = spark.createDataFrame(rows, "k long, s string, x double")
    M.write_table(df, t)
    extra = spark.createDataFrame([(5, "e", 5.0)], "k long, s string, x double")
    M.write_table(extra, t, mode="append")
    # fast path: appends are inserts, no key required, zero rescan
    ch = M.read_changes_rows(spark, t, from_version=1)
    assert {(r["k"], r["_change_type"]) for r in ch.collect()} == {(5, "insert")}
    # rewrite: update k=2 (value change), k=1 null→value, delete k=3,
    # keep k=4 and k=5 untouched, insert k=6
    v3_rows = [
        (1, "a", 1.5),       # update (null-safe: x None → 1.5)
        (2, "B", 2.0),       # update (s changed)
        (4, None, 4.0),      # unchanged (null s compares equal)
        (5, "e", 5.0),       # unchanged
        (6, "f", 6.0),       # insert
    ]
    M.write_table(spark.createDataFrame(v3_rows, "k long, s string, x double"), t)
    with pytest.raises(ValueError, match="keyed"):
        M.read_changes_rows(spark, t, from_version=2)  # rewrite needs key=
    ch = M.read_changes_rows(spark, t, from_version=2, key="k")
    got = {(r["k"], r["_change_type"], r["s"], r["x"]) for r in ch.collect()}
    assert got == {
        (1, "update_preimage", "a", None),
        (1, "update_postimage", "a", 1.5),
        (2, "update_preimage", "b", 2.0),
        (2, "update_postimage", "B", 2.0),
        (3, "delete", "c", 3.0),
        (6, "insert", "f", 6.0),
    }
    # from_version=0 over any history: the full snapshot as inserts
    ch0 = M.read_changes_rows(spark, t, from_version=0, key="k")
    assert {(r["k"], r["_change_type"]) for r in ch0.collect()} == {
        (k, "insert") for k in (1, 2, 4, 5, 6)
    }
    # empty window: typed empty result with the _change_type column
    ch_empty = M.read_changes_rows(spark, t, from_version=3)
    assert ch_empty.count() == 0 and "_change_type" in ch_empty.columns


def test_read_changes_rows_map_columns_compare_canonically(spark, mk_table):
    """Map-typed columns (not Catalyst-comparable) diff via their JSON
    rendering — same discipline as the upsert's one-row-per-key pick."""
    t = mk_table()
    df1 = spark.createDataFrame([(1, {"a": 1}), (2, {"b": 2})], "k long, m map<string,int>")
    M.write_table(df1, t)
    df2 = spark.createDataFrame([(1, {"a": 1}), (2, {"b": 3})], "k long, m map<string,int>")
    M.write_table(df2, t)
    ch = M.read_changes_rows(spark, t, from_version=1, key="k")
    got = {(r["k"], r["_change_type"]) for r in ch.collect()}
    assert got == {(2, "update_preimage"), (2, "update_postimage")}


def test_delete_where_prunes_files_and_keeps_null_rows(spark, mk_table):
    """delete_where (round 8): files whose stats prove no match carry
    forward untouched; candidate files rewrite without matching rows;
    NULL-predicate rows survive (SQL DELETE semantics); stats refresh on
    rewritten files so skipping keeps working; no-match deletes commit
    nothing."""
    t = mk_table()
    rows = [(i, float(i) if i % 5 else None) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, x double")
    v1 = M.write_table(df, t, cluster_by=["id"], cluster_files=8)
    m1 = M.read_manifest(t, v1)
    n_files = len(m1["files"])
    assert n_files > 2

    v2 = M.delete_where(spark, t, [("id", ">=", 10), ("id", "<", 20), ("x", ">", 0.0)])
    assert v2 == v1 + 1
    m2 = M.read_manifest(t, v2)
    d = m2["meta"]["delete"]
    assert d["carried"] > 0 and d["rewritten"] + d["carried"] == n_files
    # carried files are literally the parent's (no rewrite)
    assert set(m2["files"]) & set(m1["files"])
    back = {r["id"] for r in M.read_table(spark, t).collect()}
    # deleted: 10..19 except multiples of 5 (x NULL there -> predicate NULL -> survive)
    assert back == set(range(100)) - {i for i in range(10, 20) if i % 5}
    # stats survived the rewrite: a ranged read still prunes
    _, skipped = filestats.prune_files(
        m2["files"], m2.get("stats"), [("id", ">=", 90)]
    )
    assert skipped > 0
    # provably-no-match delete: no version churn
    assert M.delete_where(spark, t, [("id", ">=", 1000)]) == v2
    # row-level change feed shows exactly the deletes
    ch = M.read_changes_rows(spark, t, from_version=v1, to_version=v2, key="id")
    got = {(r["id"], r["_change_type"]) for r in ch.collect()}
    assert got == {(i, "delete") for i in range(10, 20) if i % 5}


def test_update_where_prunes_preserves_schema_and_nulls(spark, mk_table):
    """update_where (round 8): carried files untouched, assignments cast
    back to the column's type (schema invariant), NULL-predicate rows
    untouched, unknown columns rejected, no-match updates commit
    nothing; the change feed shows exactly the updated keys."""
    t = mk_table()
    rows = [(i, float(i) if i % 5 else None, "s%d" % i) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, x double, s string")
    v1 = M.write_table(df, t, cluster_by=["id"], cluster_files=8)
    n_files = len(M.read_manifest(t, v1)["files"])

    v2 = M.update_where(
        spark, t, {"x": "x * 2", "s": "upper(s)"},
        [("id", ">=", 10), ("id", "<", 20), ("x", ">", 0.0)],
    )
    m2 = M.read_manifest(t, v2)
    d = m2["meta"]["update"]
    assert d["carried"] > 0 and d["rewritten"] + d["carried"] == n_files
    back = {r["id"]: r for r in M.read_table(spark, t).collect()}
    assert len(back) == 100
    for i in range(100):
        hit = 10 <= i < 20 and i % 5 != 0  # x NULL (i%5==0) -> predicate NULL -> untouched
        assert back[i]["x"] == ((i * 2.0) if hit else (float(i) if i % 5 else None))
        assert back[i]["s"] == (("S%d" % i) if hit else ("s%d" % i))
    # schema invariant (the cast discipline) and stats survive
    assert [f.name for f in M.read_table(spark, t).schema.fields] == ["id", "x", "s"]
    _, skipped = filestats.prune_files(m2["files"], m2.get("stats"), [("id", ">=", 90)])
    assert skipped > 0
    # no-match: no version churn; unknown column: loud
    assert M.update_where(spark, t, {"x": "0.0"}, [("id", ">=", 1000)]) == v2
    with pytest.raises(ValueError, match="unknown column"):
        M.update_where(spark, t, {"nope": "1"}, [("id", "<", 5)])
    # row-level change feed: exactly the updated keys, pre+post
    ch = M.read_changes_rows(spark, t, from_version=v1, to_version=v2, key="id")
    got = {(r["id"], r["_change_type"]) for r in ch.collect()}
    want_ids = {i for i in range(10, 20) if i % 5}
    assert got == {(i, k) for i in want_ids for k in ("update_preimage", "update_postimage")}


def test_timestamp_skip_and_remote_stat_paths_agree_with_footers(spark, mk_table, monkeypatch):
    """Timestamp pruning end-to-end, plus: BOTH ``scheme://`` stat paths
    — the Hadoop-FS footer read (driver-side tail reads, zero data I/O;
    round 8) and the one-scan fallback (``_metadata.file_path``) — must
    produce stats interchangeable with the local footer path. Forced by
    making every path look non-local; the scan leg additionally zeroes
    the footer-path file bound."""
    t = mk_table()
    df = _events(spark, 48).repartition(2)
    v = M.write_table(df, t, stats_cols=["ts"])
    m = M.read_manifest(t, v)
    lo = dt.datetime(2024, 1, 2)
    got = {r["id"] for r in M.read_table(spark, t, skip=[("ts", ">=", lo)]).collect()}
    want = {r["id"] for r in M.read_table(spark, t).filter(F.col("ts") >= F.lit(lo)).collect()}
    assert got == want and len(got) == 24

    footer_stats = {f: m["stats"][f] for f in m["files"]}

    def check(other: dict) -> None:
        assert set(other) == set(footer_stats)
        for f in footer_stats:
            a, b = footer_stats[f], other[f]
            assert a["rows"] == b["rows"]
            assert a["cols"]["ts"]["min"] == b["cols"]["ts"]["min"]
            assert a["cols"]["ts"]["max"] == b["cols"]["ts"]["max"]
            assert a["cols"]["ts"]["nulls"] == b["cols"]["ts"]["nulls"]

    # the Hadoop-footer path DIRECTLY (no silent fallback can hide a
    # broken adapter): stats must match the local footer read bit-for-bit
    from cashback_data_pipeline_spark.sinks.logstore import get_log_store

    store = get_log_store(t)
    abs_by_rel = {rel: store.join(t, rel) for rel in m["files"]}
    by_abs = filestats._hadoop_footer_stats(spark, list(abs_by_rel.values()), ["ts"])
    check({rel: by_abs[p] for rel, p in abs_by_rel.items()})

    monkeypatch.setattr(filestats, "_local_path", lambda p: None)
    check(filestats.collect_file_stats(spark, t, m["files"], ["ts"], schema=df.schema))
    # force the last-resort scan too (as if the commit exceeded the
    # driver-side footer bound)
    monkeypatch.setattr(filestats, "HADOOP_FOOTER_MAX_FILES", 0)
    check(filestats.collect_file_stats(spark, t, m["files"], ["ts"], schema=df.schema))


def test_cluster_by_makes_files_disjoint_and_maximally_prunable(spark, mk_table):
    """cluster_by range-partitions the commit so each file covers a
    disjoint id range: a point predicate must keep exactly ONE file
    (an unclustered repartition(8) would straddle every file)."""
    t = mk_table()
    df = _events(spark).repartition(8)  # ids deliberately shuffled across files
    v = M.write_table(df, t, cluster_by=["id"])
    m = M.read_manifest(t, v)
    assert set(m["stats"]) == set(m["files"])  # stats implied by cluster_by
    spans = sorted(
        (s["cols"]["id"]["min"], s["cols"]["id"]["max"]) for s in m["stats"].values()
    )
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2, "clustered files must cover disjoint ranges"
    kept, skipped = filestats.prune_files(m["files"], m["stats"], [("id", "==", 42)])
    assert len(kept) == 1
    got = {r["id"] for r in M.read_table(spark, t, skip=[("id", "==", 42)]).collect()}
    assert got == {42}


def test_compact_with_cluster_by_relayouts_history(spark, mk_table):
    """An append history whose files straddle the key becomes maximally
    prunable after ONE clustered compaction (the OPTIMIZE shape)."""
    t = mk_table()
    df = _events(spark)
    # two commits, each shuffled so every file straddles the id range
    M.write_table(df.filter(F.col("id") % 2 == 0).repartition(4), t, stats_cols=["id"])
    M.write_table(
        df.filter(F.col("id") % 2 == 1).repartition(4), t, mode="append", stats_cols=["id"]
    )
    m0 = M.read_manifest(t, M.current_version(t))
    _, skipped0 = filestats.prune_files(m0["files"], m0["stats"], [("id", "==", 42)])
    assert skipped0 == 0  # pre-compaction: nothing prunable
    v = M.compact_table(spark, t, n_files=4, cluster_by=["id"])
    m1 = M.read_manifest(t, v)
    kept1, _ = filestats.prune_files(m1["files"], m1["stats"], [("id", "==", 42)])
    assert len(kept1) == 1
    # row-level content unchanged by the re-layout
    assert sorted(r["id"] for r in M.read_table(spark, t).collect()) == list(range(200))
    got = {r["id"] for r in M.read_table(spark, t, skip=[("id", "==", 42)]).collect()}
    assert got == {42}


def test_cluster_by_validates_columns(spark, mk_table):
    t = mk_table()
    df = spark.createDataFrame([(1, {"a": 1})], "id long, m map<string,int>")
    with pytest.raises(ValueError, match="unprunable type"):
        M.write_table(df, t, cluster_by=["m"])


# ---------------------------------------------------------------------------
# Bloom-filter skipping (round 8): point lookups where min/max cannot help
# ---------------------------------------------------------------------------


def test_bloom_filter_has_no_false_negatives_and_few_positives():
    vals = [f"doc-{i}" for i in range(2000)]
    bits = filestats.bloom_bytes_from_values(vals, "str", 1 << 15)
    import base64

    bloom = {"b": base64.b64encode(bits).decode(), "m": 1 << 15, "d": "str"}
    assert all(filestats.bloom_may_contain(bloom, v) for v in vals)  # never a false negative
    misses = sum(
        1 for i in range(2000, 4000) if filestats.bloom_may_contain(bloom, f"doc-{i}")
    )
    assert misses < 40  # ~1% fp at this load, deterministic for md5


def test_bloom_domain_coercion_is_exact():
    bits = filestats.bloom_bytes_from_values([5, 900], "int", 1 << 12)
    import base64

    bloom = {"b": base64.b64encode(bits).decode(), "m": 1 << 12, "d": "int"}
    assert filestats.bloom_may_contain(bloom, 5)
    assert filestats.bloom_may_contain(bloom, 5.0)  # integral float == int 5
    assert not filestats.bloom_may_contain(bloom, 6)
    assert filestats.bloom_may_contain(bloom, 5.5)  # not representable -> abstain (keep)
    assert filestats.bloom_may_contain(bloom, True)  # bools abstain, never alias 1


def test_bloom_cols_validation(spark, mk_table):
    t = mk_table()
    df = spark.createDataFrame([(1, 2.5)], "id long, x double")
    with pytest.raises(ValueError, match="integer and string"):
        M.write_table(df, t, bloom_cols=["x"])
    with pytest.raises(ValueError, match="not in schema"):
        M.write_table(df, t, bloom_cols=["nope"])


def test_bloom_pruning_on_hash_distributed_layout(spark, mk_table):
    """8 hash-distributed files: every file spans the full key range, so
    the range pass prunes nothing; the bloom pass must prune, and the
    read must stay exact."""
    t = mk_table()
    df = spark.createDataFrame(
        [(i, f"u{i:05d}") for i in range(4000)], "id long, s string"
    ).repartition(8, "id")
    M.write_table(df, t, stats_cols=["id"], bloom_cols=["id", "s"])
    m = M.read_manifest(t, M.current_version(t))
    store = M.get_log_store(t)
    for skip in [("id", "==", 1234), ("s", "in", ["u00042", "u03999"])]:
        ranged, range_skipped = filestats.prune_files(m["files"], m.get("stats"), skip)
        assert range_skipped == 0  # bounds provably useless in this layout
        kept, bloom_skipped = filestats.prune_files_bloom(
            store, t, ranged, m.get("stats"), skip
        )
        assert bloom_skipped >= 1
        assert len(kept) + bloom_skipped == len(m["files"])
    got = M.read_table(spark, t, skip=("id", "==", 1234)).collect()
    assert [(r.id, r.s) for r in got] == [(1234, "u01234")]
    # absent key: every file prunes, empty result with the right schema
    gone = M.read_table(spark, t, skip=("id", "==", 99999))
    assert gone.count() == 0 and gone.columns == ["id", "s"]


def test_bloom_pruning_on_partitioned_table(spark, mk_table):
    """One task writes the same file basename into every ``key=value``
    dir of a partitioned commit; bloom scan results are keyed by exact
    path, so each file gets its own filter: the point lookup prunes and
    stays exact."""
    t = mk_table()
    df = spark.createDataFrame(
        [(i, f"p{i % 3}") for i in range(600)], "id long, p string"
    ).repartition(2, "id")
    M.write_table(df, t, partition_by=["p"], bloom_cols=["id"])
    m = M.read_manifest(t, M.current_version(t))
    assert len({f.rsplit("/", 1)[1] for f in m["files"]}) < len(m["files"])
    _, skipped = filestats.prune_files_bloom(
        M.get_log_store(t), t, m["files"], m.get("stats"), ("id", "==", 301)
    )
    assert skipped >= 1
    got = M.read_table(spark, t, skip=[("id", "==", 301)]).collect()
    assert [(r.id, r.p) for r in got] == [(301, "p1")]


def test_bloom_refs_carry_forward_on_append_and_missing_sidecar_keeps(spark, mk_table):
    t = mk_table()
    a = spark.createDataFrame([(i, f"a{i}") for i in range(100)], "id long, s string")
    b = spark.createDataFrame([(i, f"b{i}") for i in range(100, 200)], "id long, s string")
    M.write_table(a.repartition(2, "id"), t, bloom_cols=["id"])
    M.write_table(b.repartition(2, "id"), t, mode="append", bloom_cols=["id"])
    m = M.read_manifest(t, M.current_version(t))
    assert all("bloom" in (m["stats"].get(f) or {}) for f in m["files"])
    store = M.get_log_store(t)
    kept, skipped = filestats.prune_files_bloom(
        store, t, m["files"], m["stats"], ("id", "==", 150)
    )
    assert skipped >= 2  # at least commit A's files prune (key 150 not in them)
    assert M.read_table(spark, t, skip=("id", "==", 150)).count() == 1
    # sidecar vanished (e.g. hand-vacuumed): conservative keep, exact read
    ref = next(iter({(m["stats"][f] or {}).get("bloom") for f in m["files"]} - {None}))
    store.delete_file(store.join(t, ref))
    kept2, _ = filestats.prune_files_bloom(store, t, m["files"], m["stats"], ("id", "==", 150))
    assert set(kept) <= set(kept2)
    assert M.read_table(spark, t, skip=("id", "==", 150)).count() == 1


def test_bloom_refinement_composes_with_range_pruning(spark, mk_table):
    """Clustered commits: range pruning does its work first, bloom then
    refines within the surviving range — both passes together on one
    read path."""
    t = mk_table()
    df = spark.createDataFrame([(i, i % 7) for i in range(1000)], "id long, g long")
    for lo in (0, 500):
        M.write_table(
            df.filter((F.col("id") >= lo) & (F.col("id") < lo + 500)).repartition(2, "g"),
            t,
            mode="append" if lo else "overwrite",
            stats_cols=["id"],
            bloom_cols=["id"],
        )
    m = M.read_manifest(t, M.current_version(t))
    skip = [("id", ">=", 500), ("id", "==", 750)]
    ranged, range_skipped = filestats.prune_files(m["files"], m.get("stats"), skip)
    assert range_skipped >= 2  # the first commit's files miss the range
    kept, bloom_skipped = filestats.prune_files_bloom(
        M.get_log_store(t), t, ranged, m.get("stats"), skip
    )
    assert bloom_skipped >= 1  # within the range, only one hash bucket holds 750
    rows = M.read_table(spark, t, skip=skip).collect()
    assert [(r.id, r.g) for r in rows] == [(750, 750 % 7)]


def test_bloom_is_a_table_property_surviving_rewrites(spark, mk_table):
    """bloom_cols on the first write becomes a table property: plain
    appends, MERGE rewrites, and compaction all regenerate filters for
    their new files without re-passing bloom_cols — an OPTIMIZE must
    not erode the point-lookup path."""
    t = mk_table()
    a = spark.createDataFrame([(i, f"a{i}") for i in range(2000)], "id long, s string")
    M.write_table(
        a.repartition(4, "id"), t, stats_cols=["id"], bloom_cols=["id"]
    )
    # plain append (no bloom_cols arg) inherits the property
    b = spark.createDataFrame(
        [(i, f"b{i}") for i in range(2000, 4000)], "id long, s string"
    )
    M.write_table(b.repartition(4, "id"), t, mode="append")
    # MERGE rewrite keeps it
    upd = spark.createDataFrame([(7, "updated")], "id long, s string")
    M.upsert_table(spark, upd, t, key="id")
    # compaction (no stats_cols / bloom args at all) keeps BOTH stats
    # and blooms
    M.compact_table(spark, t, n_files=6)
    m = M.read_manifest(t, M.current_version(t))
    assert m.get("bloom_conf", {}).get("cols") == ["id"]
    entries = [m["stats"].get(f) or {} for f in m["files"]]
    assert all(e.get("bloom") for e in entries), "a rewrite dropped bloom refs"
    assert all("id" in (e.get("cols") or {}) for e in entries), "compaction eroded stats"
    # the point lookup still prunes and still reads exactly one row
    ranged, _ = filestats.prune_files(m["files"], m["stats"], ("id", "==", 7))
    kept, skipped = filestats.prune_files_bloom(
        M.get_log_store(t), t, ranged, m["stats"], ("id", "==", 7)
    )
    assert skipped >= 1
    assert [(r.id, r.s) for r in M.read_table(spark, t, skip=("id", "==", 7)).collect()] == [
        (7, "updated")
    ]


def test_bloom_prunes_merge_candidates_on_hash_layout(spark, mk_table):
    """A keyed MERGE into a hash-distributed bloom table rewrites only
    the files whose filters admit the incoming keys (min/max covers
    everything in this layout, so only blooms can prove files clean)."""
    t = mk_table()
    df = spark.createDataFrame([(i, f"v{i}") for i in range(4000)], "id long, s string")
    M.write_table(df.repartition(8, "id"), t, stats_cols=["id"], bloom_cols=["id"])
    n_before = len(M.read_manifest(t, M.current_version(t))["files"])
    assert n_before == 8
    upd = spark.createDataFrame([(123, "updated")], "id long, s string")
    M.upsert_table(spark, upd, t, key="id")
    m = M.read_manifest(t, M.current_version(t))
    # 7 of the 8 original files must have carried forward untouched
    prev = M.read_manifest(t, M.current_version(t) - 1)["files"]
    assert len(set(prev) & set(m["files"])) >= 7
    snap = {r.id: r.s for r in M.read_table(spark, t).collect()}
    assert snap[123] == "updated" and len(snap) == 4000


def test_zorder_layout_prunes_every_dimension(spark, mk_table):
    """write_table(zorder_by=[a, b]): a skip on EITHER column must prune
    files — the property a lexicographic cluster_by only gives its
    leading column — and reads stay exact. compact_table(zorder_by=)
    re-lays an unclustered history the same way."""
    t = mk_table()
    df = spark.createDataFrame(
        [(i, float((i * 7919) % 1000)) for i in range(8000)], "x long, y double"
    )
    M.write_table(df, t, zorder_by=["x", "y"], cluster_files=16)
    m = M.read_manifest(t, M.current_version(t))
    for skip in ([("x", "<", 500)], [("y", "<", 60.0)]):
        kept, skipped = filestats.prune_files(m["files"], m["stats"], skip)
        assert skipped >= 4, f"z-order did not prune on {skip[0][0]}"
    got = M.read_table(spark, t, skip=[("x", "<", 500), ("y", "<", 60.0)]).collect()
    want = [(i, float((i * 7919) % 1000)) for i in range(500) if (i * 7919) % 1000 < 60]
    assert sorted((r.x, r.y) for r in got) == sorted(want)
    # the maintenance twin: hash-scattered history, OPTIMIZE ZORDER re-lays it
    t2 = mk_table("t2")
    M.write_table(df.repartition(8), t2, stats_cols=["x", "y"])
    m2 = M.read_manifest(t2, M.current_version(t2))
    _, skipped_before = filestats.prune_files(m2["files"], m2["stats"], [("y", "<", 60.0)])
    assert skipped_before == 0  # scattered: nothing prunable
    M.compact_table(spark, t2, n_files=16, zorder_by=["x", "y"])
    m2 = M.read_manifest(t2, M.current_version(t2))
    _, skipped_after = filestats.prune_files(m2["files"], m2["stats"], [("y", "<", 60.0)])
    assert skipped_after >= 4
    with pytest.raises(ValueError, match="numeric/timestamp"):
        M.write_table(
            spark.createDataFrame([(1, ["s"])], "x long, s array<string>"),
            mk_table("t3"), zorder_by=["s"],
        )
    with pytest.raises(ValueError, match="not both"):
        M.write_table(df, mk_table("t4"), zorder_by=["x"], cluster_by=["y"])


def test_string_zorder_layout_prunes_and_stays_exact(spark, tmp_path):
    """r9 item 8: z-order on a STRING column (byte-prefix axis — the
    Delta OPTIMIZE ZORDER domain). Pruning evidence comes from the real
    string min/max stats over the z-laid files; prefix collisions can
    only degrade clustering, never correctness."""
    import string as _string

    t = str(tmp_path / "t")
    rows = [
        (i, f"{_string.ascii_lowercase[(i * 7) % 26]}.example.com/p/{i}")
        for i in range(600)
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    M.write_table(df, t, zorder_by=["url"], cluster_files=8)
    m = M.read_manifest(t, M.current_version(t))
    kept, skipped = filestats.prune_files(
        m["files"], m["stats"], [("url", ">=", "z"), ("url", "<", "zz")]
    )
    assert skipped >= 4, f"string z-order did not prune (skipped={skipped})"
    got = sorted(
        r.id for r in M.read_table(spark, t, skip=[("url", ">=", "z")]).collect()
    )
    want = sorted(i for i, u in rows if u >= "z")
    assert got == want
    # truncation-collision soundness: values sharing a LONG common
    # prefix collide on the 6-byte axis (clustering degrades to one
    # plane) but results stay exact and pruning never drops a match
    t2 = str(tmp_path / "t2")
    rows2 = [(i, "https://shared-prefix.example.com/" + format(i, "04d")) for i in range(200)]
    df2 = spark.createDataFrame(rows2, "id long, url string")
    M.write_table(df2, t2, zorder_by=["url"], cluster_files=4)
    target = rows2[137][1]
    got2 = [r.id for r in M.read_table(spark, t2, skip=[("url", "==", target)]).collect()]
    assert got2 == [137]


def test_date_zorder_layout_prunes(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.sql(
        "SELECT id, date_add(DATE'2020-01-01', CAST((id * 37) % 730 AS INT)) AS d "
        "FROM range(600)"
    )
    M.write_table(df, t, zorder_by=["d"], cluster_files=8)
    m = M.read_manifest(t, M.current_version(t))
    import datetime as dt

    kept, skipped = filestats.prune_files(
        m["files"], m["stats"],
        [("d", ">=", dt.date(2021, 11, 1)), ("d", "<", dt.date(2021, 12, 31))],
    )
    assert skipped >= 4, f"date z-order did not prune (skipped={skipped})"
    got = M.read_table(spark, t, skip=[("d", ">=", dt.date(2021, 11, 1))]).count()
    want = df.filter(F.col("d") >= F.lit("2021-11-01")).count()
    assert got == want
