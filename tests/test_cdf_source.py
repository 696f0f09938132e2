"""Manifest change-feed streaming source (streaming/cdf_source.py).

Contract under test: version offsets through Spark's checkpoint give
exactly-once delivery of every append commit; rewrites raise (or are
skipped with skipChangeCommits); the pinned schema null-fills files
from narrower (older) commits; maxVersionsPerTrigger bounds a batch.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.sinks import manifest as mf
from cashback_data_pipeline_spark.streaming import cdf_source


def _rows(spark, n, start=0, extra=None):
    df = spark.range(start, start + n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    if extra is not None:
        df = df.withColumn("tag", F.lit(extra))
    return df


def _drain(spark, table, checkpoint=None, **options):
    stream = cdf_source.read_manifest_stream(spark, table, **options)
    name = f"cdf_{uuid.uuid4().hex[:8]}"
    w = stream.writeStream.format("memory").queryName(name).outputMode("append")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.trigger(availableNow=True).start()
    q.awaitTermination()
    return spark.table(name), q


def test_full_replay_matches_snapshot(spark, tmp_path):
    table = str(tmp_path / "t")
    for i in range(3):
        mf.write_table(_rows(spark, 50, start=i * 50), table, mode="append")
    got, _ = _drain(spark, table)
    want = mf.read_table(spark, table)
    assert got.orderBy("k").collect() == want.orderBy("k").collect()


def test_checkpoint_restart_is_exactly_once(spark, tmp_path):
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain_to_files():
        stream = cdf_source.read_manifest_stream(spark, table)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    mf.write_table(_rows(spark, 40), table, mode="append")
    drain_to_files()
    # new commits land AFTER the first drain; the restarted query must
    # emit exactly those (offset from the checkpoint, not startingVersion)
    mf.write_table(_rows(spark, 30, start=40), table, mode="append")
    mf.write_table(_rows(spark, 30, start=70), table, mode="append")
    drain_to_files()
    got = spark.read.parquet(out)
    assert got.count() == 100  # no replays, no gaps
    assert got.select(F.countDistinct("k")).first()[0] == 100


def test_starting_version_tails_only_new_commits(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.write_table(_rows(spark, 25), table, mode="append")
    start_at = mf.current_version(table)
    mf.write_table(_rows(spark, 15, start=25), table, mode="append")
    got, _ = _drain(spark, table, startingVersion=start_at)
    ks = sorted(r.k for r in got.collect())
    assert ks == list(range(25, 40))


def test_rewrite_in_window_raises(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.write_table(_rows(spark, 30), table, mode="append")
    mf.upsert_table(spark, _rows(spark, 5, start=10), table, key="k")
    with pytest.raises(Exception, match="file diff is not the row diff"):
        _drain(spark, table)


def test_skip_change_commits_flows_around_rewrites(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.write_table(_rows(spark, 30), table, mode="append")  # v1
    mf.upsert_table(spark, _rows(spark, 5, start=10), table, key="k")  # v2 rewrite
    mf.write_table(_rows(spark, 10, start=100), table, mode="append")  # v3
    got, _ = _drain(spark, table, skipChangeCommits="true")
    ks = sorted(r.k for r in got.collect())
    # v1's 30 rows + v3's 10 rows; v2's rewrite skipped entirely
    assert ks == list(range(30)) + list(range(100, 110))


def test_schema_nullfill_for_older_commits(spark, tmp_path):
    table = str(tmp_path / "t")
    mf.write_table(_rows(spark, 10), table, mode="append")  # no "tag"
    mf.write_table(_rows(spark, 10, start=10, extra="new"), table, mode="append")
    got, _ = _drain(spark, table)
    rows = {r.k: r.tag for r in got.collect()}
    assert all(rows[k] is None for k in range(10))
    assert all(rows[k] == "new" for k in range(10, 20))


def test_file_uri_table_root_streams_without_a_jvm_store(spark, tmp_path):
    """The offset/planning methods run in Spark's JVM-less Python
    data-source worker; a file:// root must normalize to the pure-Python
    LocalLogStore path instead of resolving to the Hadoop store."""
    table = "file://" + str(tmp_path / "t")
    mf.write_table(_rows(spark, 30), table, mode="append")
    mf.write_table(_rows(spark, 20, start=30), table, mode="append")
    got, _ = _drain(spark, table)
    assert sorted(r.k for r in got.collect()) == list(range(50))


def test_starting_timestamp_tails_from_the_visible_version(spark, tmp_path):
    import time

    table = str(tmp_path / "t")
    mf.write_table(_rows(spark, 25), table, mode="append")
    time.sleep(1.1)  # publication mtimes are the visibility clock
    cut = time.time()
    time.sleep(1.1)
    mf.write_table(_rows(spark, 15, start=25), table, mode="append")
    got, _ = _drain(spark, table, startingTimestamp=cut)
    assert sorted(r.k for r in got.collect()) == list(range(25, 40))
    with pytest.raises(Exception, match="startingVersion or startingTimestamp"):
        _drain(spark, table, startingTimestamp=cut, startingVersion=0)


def test_max_versions_per_trigger_bounds_batches(spark, tmp_path):
    # the clamp engages from the SECOND trigger of a run: the first
    # latestOffset arrives before the reader can know a restart's
    # checkpointed offset, so clamping it against startingVersion would
    # regress offsets (the review finding) — the first batch takes the
    # backlog, everything after is bounded
    import time

    table = str(tmp_path / "t")
    mf.write_table(_rows(spark, 10), table, mode="append")
    stream = cdf_source.read_manifest_stream(spark, table, maxVersionsPerTrigger=1)
    name = f"cdf_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and spark.table(name).count() < 10:
            time.sleep(0.5)
        # backlog drained; now 3 more commits land while the query runs —
        # the clamp must spread them over ≥3 bounded batches
        for i in range(1, 4):
            mf.write_table(_rows(spark, 10, start=i * 10), table, mode="append")
        while time.time() < deadline and spark.table(name).count() < 40:
            time.sleep(0.5)
        assert spark.table(name).count() == 40
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        post_backlog = [p for p in batches[1:]]
        assert len(post_backlog) >= 3
        assert max(p["numInputRows"] for p in post_backlog) <= 10
    finally:
        q.stop()


def test_max_files_per_trigger_bounds_batches_by_added_files(spark, tmp_path):
    """maxFilesPerTrigger (round 9, the Delta option): the clamp counts
    ADDED FILES per commit from the action records — commits with many
    files spread over more batches than commits with few; a single
    jumbo commit still drains alone."""
    import time

    table = str(tmp_path / "t")
    mf.write_table(_rows(spark, 8), table, mode="append")  # backlog: 1 commit
    stream = cdf_source.read_manifest_stream(spark, table, maxFilesPerTrigger=4)
    name = f"cdf_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and spark.table(name).count() < 8:
            time.sleep(0.5)
        # 6 commits of ~2 files each land while the query runs: at most
        # 4 files = 2 commits may drain per post-backlog batch
        for i in range(1, 7):
            mf.write_table(
                _rows(spark, 10, start=i * 100).repartition(2), table, mode="append"
            )
        while time.time() < deadline and spark.table(name).count() < 68:
            time.sleep(0.5)
        assert spark.table(name).count() == 68  # everything delivered, once
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        post_backlog = batches[1:]
        assert len(post_backlog) >= 3  # 6 commits / ≤2 per batch
        assert max(p["numInputRows"] for p in post_backlog) <= 20
    finally:
        q.stop()


def test_rate_limited_restart_never_regresses_offsets(spark, tmp_path):
    """Review finding: with maxVersionsPerTrigger, a restarted query's
    first latestOffset used to clamp against startingVersion and return
    an offset BELOW the checkpoint — re-delivering old versions. The
    restarted drain must emit exactly the new commits, once."""
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ck")
    out = str(tmp_path / "out")
    for i in range(5):
        mf.write_table(_rows(spark, 10, start=i * 10), table, mode="append")

    def drain():
        stream = cdf_source.read_manifest_stream(spark, table, maxVersionsPerTrigger=1)
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # checkpoints at v5
    mf.write_table(_rows(spark, 10, start=50), table, mode="append")
    drain()  # restart: anchor unknown — must NOT replay v1..v5
    got = spark.read.parquet(out)
    assert got.count() == 60
    assert got.select(F.countDistinct("k")).first()[0] == 60


# ---------------------------------------------------------------------------
# Batch window read (round 10) — the Delta table_changes batch shape
# beside the streaming tail: spark.read.format("manifest_changes")
# ---------------------------------------------------------------------------


def test_batch_window_read_matches_read_changes(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(3):
        mf.write_table(
            spark.range(i * 10, (i + 1) * 10)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1),
            t,
            mode="append" if i else "overwrite",
        )
    cdf_source.register(spark)
    win = spark.read.format("manifest_changes").option("startingVersion", 1).load(t)
    assert sorted(r["k"] for r in win.collect()) == list(range(10, 30))
    bounded = (
        spark.read.format("manifest_changes")
        .option("startingVersion", 0)
        .option("endingVersion", 2)
        .load(t)
    )
    assert sorted(r["k"] for r in bounded.collect()) == list(range(0, 20))
    api = mf.read_changes(spark, t, 1)
    assert {tuple(r) for r in win.collect()} == {tuple(r) for r in api.collect()}


def test_batch_window_rewrite_refusal_and_skip(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(3):
        mf.write_table(
            spark.range(i * 10, (i + 1) * 10)
            .selectExpr("id AS k", "CAST(id AS STRING) AS v")
            .coalesce(1),
            t,
            mode="append" if i else "overwrite",
        )
    mf.upsert_table(spark, spark.createDataFrame([(1, "x")], "k long, v string"), t, "k")
    cdf_source.register(spark)
    with pytest.raises(Exception, match="row diff"):
        spark.read.format("manifest_changes").option("startingVersion", 2).load(t).collect()
    n = (
        spark.read.format("manifest_changes")
        .option("startingVersion", 2)
        .option("skipChangeCommits", "true")
        .load(t)
        .count()
    )
    assert n == 10  # v3's append flows; the upsert rewrite is skipped


def test_batch_window_pins_schema_at_ending_version(spark, tmp_path):
    t = str(tmp_path / "t")
    mf.write_table(
        spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v").coalesce(1), t
    )
    mf.rename_column(t, "v", "label")
    mf.write_table(
        spark.range(5, 8).selectExpr("id AS k", "CAST(id AS STRING) AS label").coalesce(1),
        t, mode="append",
    )
    cdf_source.register(spark)
    # ending at v1: pre-rename names
    v1 = (
        spark.read.format("manifest_changes")
        .option("startingVersion", 0)
        .option("endingVersion", 1)
        .load(t)
    )
    assert v1.columns == ["k", "v"] and v1.count() == 5
    # current end: post-rename names, both commits' files resolve
    cur = spark.read.format("manifest_changes").option("startingVersion", 0).load(t)
    assert cur.columns == ["k", "label"] and cur.count() == 8


def test_batch_window_that_adds_no_files_reads_zero_rows(spark, tmp_path):
    """A window whose commits add no files plans zero partitions, which
    Spark hands the reader as one ``None`` partition: 0 rows, no error."""
    t = str(tmp_path / "t")
    mf.write_table(spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v"), t)
    mf.add_column(t, "w", "string")  # v2: a metadata-only commit
    cdf_source.register(spark)
    win = spark.read.format("manifest_changes").option("startingVersion", 1).load(t)
    assert win.count() == 0 and win.collect() == []
