"""Streaming jobs tested by driving parquet file-source streams to
completion and comparing against the batch twins."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark import streaming
from cashback_data_pipeline_spark.queries import windowed_event_counts
from cashback_data_pipeline_spark.sources import read_testdata


@pytest.fixture()
def events_dir(spark, sf_dir):
    """Events re-written as multiple parquet files (a file-source stream
    ingests them as separate micro-batches)."""
    out = tempfile.mkdtemp(prefix="events_stream_")
    read_testdata(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def _run_to_completion(stream_df, name):
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_stream_matches_batch(spark, sf_dir, events_dir):
    events = streaming.read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = _run_to_completion(streaming.windowed_counts_stream(events), "win_out")
    got = {
        (r["hour_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    want = {
        (r["hour_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in windowed_event_counts(spark, sf_dir).collect()
    }
    assert got == want


def test_sessionized_stream_produces_sessions(spark, events_dir):
    events = streaming.read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = _run_to_completion(streaming.sessionized_counts_stream(events), "sess_out")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    assert all(r["session_end"] > r["session_start"] for r in rows)
    total = sum(r["n_events"] for r in rows)
    assert total == 10000 if "sf0.01" in events_dir else total > 0


def test_incremental_upsert_stream_idempotent_by_key(spark, sf_dir, events_dir, tmp_path):
    target = str(tmp_path / "t")
    ckpt1 = str(tmp_path / "ckpt1")
    source = streaming.read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = streaming.incremental_upsert_stream(spark, source, target, "event_id", ckpt1)
    q.awaitTermination(120)

    n_events = read_testdata(spark, sf_dir, "events").count()
    assert spark.read.parquet(target).count() == n_events

    # replay the whole stream with a FRESH checkpoint (simulated re-run /
    # at-least-once duplication): key-dedup must admit nothing new
    ckpt2 = str(tmp_path / "ckpt2")
    source2 = streaming.read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q2 = streaming.incremental_upsert_stream(spark, source2, target, "event_id", ckpt2)
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == n_events


def test_running_user_totals_stateful(spark, sf_dir, events_dir):
    from cashback_data_pipeline_spark.streaming.jobs import running_user_totals_stream

    events = streaming.read_events_stream(spark, events_dir, max_files_per_trigger=1)
    q = (
        running_user_totals_stream(events)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("totals_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last update per user must equal the batch ground truth
    latest = spark.sql(
        """
        SELECT user_id, n_events, sum_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn
          FROM totals_out
        ) WHERE rn = 1
        """
    )
    truth = (
        read_testdata(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    lt = {r["user_id"]: (r["n_events"], round(r["sum_value"], 4)) for r in latest.collect()}
    tr = {r["user_id"]: (r["n_events"], round(r["sum_value"], 4)) for r in truth.collect()}
    assert lt == tr


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir):
    from cashback_data_pipeline_spark.streaming.jobs import purchases_after_signup_stream

    events = streaming.read_events_stream(spark, events_dir, max_files_per_trigger=2)
    q = (
        purchases_after_signup_stream(events)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_event_id"], r["signup_event_id"])
        for r in spark.sql("SELECT * FROM ss_join_out").collect()
    }

    ev = read_testdata(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("su"), F.col("ts").alias("sts"), F.col("event_id").alias("sid")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    want = {
        (r["pid"], r["sid"])
        for r in p.join(
            s,
            (F.col("pu") == F.col("su"))
            & (F.col("pts") > F.col("sts"))
            & (F.col("pts") <= F.col("sts") + F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_deduped_stream_drops_cross_batch_duplicates(spark, sf_dir, events_dir):
    import tempfile

    from cashback_data_pipeline_spark.streaming.jobs import deduped_stream

    # duplicate the whole events dir as extra files -> every key delivered twice
    dup_dir = tempfile.mkdtemp(prefix="events_dup_")
    read_testdata(spark, sf_dir, "events").repartition(3).write.mode("overwrite").parquet(dup_dir)
    import shutil as _sh
    import pathlib as _pl

    for i, f in enumerate(_pl.Path(events_dir).glob("part-*.parquet")):
        _sh.copy(f, _pl.Path(dup_dir) / f"dup-{i}.parquet")

    events = streaming.read_events_stream(spark, dup_dir, max_files_per_trigger=2)
    q = (
        deduped_stream(events)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_unique = read_testdata(spark, sf_dir, "events").count()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_out").first()
    assert got["n"] == got["d"] == n_unique


def test_quality_routed_stream_matches_batch_scoring(spark, tmp_path):
    """The streaming quality gate must route exactly the docs the batch
    classifier keeps (stateless projection → stream ≡ batch)."""
    from cashback_data_pipeline_spark.operators import classify
    from cashback_data_pipeline_spark.streaming.jobs import (
        quality_routed_stream,
        route_stream_to_sinks,
    )

    weights = [((b * 3) % 9 - 4) / 8.0 for b in range(16)]
    bias = 0.0
    src = tmp_path / "docs_src"
    batch_docs = spark.createDataFrame(
        [(i, f"word{i % 5} spark join filter value " * (1 + i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    batch_docs.repartition(4).write.parquet(str(src))

    # threshold chosen to genuinely SPLIT this corpus (scores are 0.4502
    # for doc_id%5 in {0,4} and 0.4688 otherwise) — both sinks non-empty,
    # so the test can't pass vacuously on an empty keep set
    threshold = 0.46
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    routed = quality_routed_stream(stream, weights, bias, threshold=threshold)
    q = (
        route_stream_to_sinks(
            routed, str(tmp_path / "keep"), str(tmp_path / "drop"), str(tmp_path / "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept_stream = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "keep")).collect()}
    scored = classify.score_with_weights_array(batch_docs, weights, bias)
    kept_batch = {r["doc_id"] for r in scored.where(F.col("score") >= threshold).collect()}
    assert kept_stream and kept_stream != set(range(40))
    assert kept_stream == kept_batch
    dropped = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "drop")).collect()}
    assert kept_stream | dropped == set(range(40)) and not (kept_stream & dropped)


def test_near_dup_ingest_stream_screens_against_history(spark, tmp_path):
    """Two micro-batches: batch 2 carries an exact dup and a near dup of
    batch-1 docs (must route is_dup with dup_of = the historical id),
    one in-batch dup pair (lower id wins), and a fresh doc. The index
    stores only bands + signatures — no text."""
    from cashback_data_pipeline_spark.streaming.jobs import near_dup_ingest_stream

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("kappa", "lambda", 1)
    other = "one two three four five six seven eight nine ten " * 3
    third = "red orange yellow green blue indigo violet umber black white " * 3

    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame([(1, base), (2, other)], "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, base), (11, near), (12, third), (13, third)], "doc_id long, text string"
    )
    # two source files, one per micro-batch (maxFilesPerTrigger=1)
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        near_dup_ingest_stream(
            stream,
            index_path=str(tmp_path / "index"),
            out_path=str(tmp_path / "out"),
            checkpoint=str(tmp_path / "ckpt"),
            threshold=0.7,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert set(out) == {1, 2, 10, 11, 12, 13}
    assert not out[1]["is_dup"] and not out[2]["is_dup"]          # batch 1 fresh
    assert out[10]["is_dup"] and out[10]["dup_of"] == 1           # exact dup of 1
    assert out[11]["is_dup"] and out[11]["dup_of"] == 1           # near dup of 1
    assert not out[12]["is_dup"]                                   # fresh
    assert out[13]["is_dup"] and out[13]["dup_of"] == 12          # in-batch dup

    # index holds only fresh docs' bands+sigs, and never text
    # (src_epoch is origin provenance; the manifest version is the
    # commit vehicle)
    from cashback_data_pipeline_spark.sinks import manifest as M

    sigs = M.read_store(spark, str(tmp_path / "index"), "sigs")
    assert {r["id"] for r in sigs.select("id").collect()} == {1, 2, 12}
    assert set(sigs.columns) == {"id", "sig", "src_epoch", "src_run"}


def _near_dup_state(spark, tmp_path):
    """Snapshot (routing, index ids, row counts) for replay comparison."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    out = spark.read.parquet(str(tmp_path / "out"))
    routing = sorted(
        (r["doc_id"], r["is_dup"], r["dup_of"]) for r in out.collect()
    )
    table = str(tmp_path / "index")
    sig_ids = sorted(r["id"] for r in M.read_store(spark, table, "sigs").collect())
    band_rows = M.read_store(spark, table, "bands").count()
    return routing, sig_ids, band_rows


def test_near_dup_ingest_batch_replay_exactly_once(spark, tmp_path):
    """Crash-replay contract (VERDICT r4 #1): re-running a micro-batch
    with the same epoch_id — the foreachBatch restart scenario, where the
    first attempt may have already committed output AND index — leaves
    output rows, routing decisions, and the MinHash index byte-identical.
    In particular the replay must not self-match batch docs against their
    own crashed-attempt index entries."""
    from cashback_data_pipeline_spark.streaming.jobs import near_dup_ingest_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("kappa", "lambda", 1)
    other = "one two three four five six seven eight nine ten " * 3

    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    b1 = spark.createDataFrame([(1, base), (2, other)], "doc_id long, text string")
    b2 = spark.createDataFrame([(10, base), (11, near)], "doc_id long, text string")

    near_dup_ingest_batch(b1, 0, **kw)
    # replay epoch 0 (crash after full commit): must be a no-op
    near_dup_ingest_batch(b1, 0, **kw)
    s1 = _near_dup_state(spark, tmp_path)
    assert s1[1] == [1, 2]

    near_dup_ingest_batch(b2, 1, **kw)
    once = _near_dup_state(spark, tmp_path)
    # replay epoch 1: docs 10/11 are dups of 1 — must STAY dups (no
    # self-match flip, no duplicated out rows, no index growth)
    near_dup_ingest_batch(b2, 1, **kw)
    twice = _near_dup_state(spark, tmp_path)
    assert once == twice
    routing = dict((d, (isd, dof)) for d, isd, dof in twice[0])
    assert routing[10] == (True, 1) and routing[11] == (True, 1)
    assert twice[1] == [1, 2]  # dups never enter the index


def test_route_batch_to_sinks_replay_exactly_once(spark, tmp_path):
    """Replaying a routed micro-batch overwrites its own __epoch
    partition in both sinks — no duplicate keep/drop rows."""
    from cashback_data_pipeline_spark.streaming.jobs import route_batch_to_sinks

    batch = spark.createDataFrame(
        [(i, "keep" if i % 2 == 0 else "drop") for i in range(10)],
        "doc_id long, route string",
    )
    keep, drop = str(tmp_path / "keep"), str(tmp_path / "drop")
    route_batch_to_sinks(batch, 7, keep, drop)
    route_batch_to_sinks(batch, 7, keep, drop)  # crash-replay
    kept = spark.read.parquet(keep)
    dropped = spark.read.parquet(drop)
    assert kept.count() == 5 and dropped.count() == 5
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 2, 4, 6, 8]


def test_route_stream_to_manifest_exactly_once_and_atomic(spark, tmp_path):
    """Manifest-committed routing: stream result == batch scoring, one
    atomic commit per epoch, and a replayed epoch is a detected no-op
    (even a crashed attempt that already committed adds nothing)."""
    from cashback_data_pipeline_spark.operators import classify
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import (
        quality_routed_stream,
        route_batch_to_manifest,
        route_stream_to_manifest,
    )

    weights = [((b * 3) % 9 - 4) / 8.0 for b in range(16)]
    src = tmp_path / "docs_src"
    batch_docs = spark.createDataFrame(
        [(i, f"word{i % 5} spark join filter value " * (1 + i % 3)) for i in range(40)],
        "doc_id long, text string",
    )
    batch_docs.repartition(2).write.parquet(str(src))
    table = str(tmp_path / "routed")

    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    routed = quality_routed_stream(stream, weights, 0.0, threshold=0.46)
    q = (
        route_stream_to_manifest(routed, table, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = M.read_table(spark, table)
    kept_stream = {r["doc_id"] for r in out.filter(F.col("route") == "keep").collect()}
    scored = classify.score_with_weights_array(batch_docs, weights, 0.0)
    kept_batch = {r["doc_id"] for r in scored.where(F.col("score") >= 0.46).collect()}
    assert kept_stream and kept_stream == kept_batch
    assert out.count() == 40

    # replay every committed epoch: all detected, nothing added
    epochs = sorted(M.committed_meta_values(table, "epoch"))
    assert epochs
    batch = out.limit(5).withColumn("route", F.lit("keep"))
    for e in epochs:
        assert route_batch_to_manifest(batch, e, table) is False
    assert M.read_table(spark, table).count() == 40
    # a NEW epoch commits atomically (single version covers both routes)
    v_before = M.current_version(table)
    assert route_batch_to_manifest(batch, max(epochs) + 1000, table) is True
    assert M.current_version(table) == v_before + 1


def test_compact_near_dup_index_preserves_screening(spark, tmp_path):
    """Compacting the manifest index into few files as a new version
    must leave screening decisions (and src_epoch provenance) unchanged."""
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import (
        compact_near_dup_index,
        near_dup_ingest_batch,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    other = "one two three four five six seven eight nine ten " * 3
    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    near_dup_ingest_batch(
        spark.createDataFrame([(1, base), (2, other)], "doc_id long, text string"), 0, **kw
    )
    near_dup_ingest_batch(
        spark.createDataFrame([(3, "unrelated words entirely here now " * 4)], "doc_id long, text string"),
        1, **kw,
    )
    table = kw["index_path"]
    v_before = M.current_version(table)
    v = compact_near_dup_index(spark, table, n_files=1)
    assert v == v_before + 1
    sigs = M.read_store(spark, table, "sigs")
    assert {r["id"] for r in sigs.collect()} == {1, 2, 3}
    assert {r["src_epoch"] for r in sigs.collect()} == {0, 1}  # provenance survives
    assert len(M.store_files(M.read_manifest(table, v), "sigs")) == 1
    assert M.read_manifest(table, v)["meta"]["compaction"] is True
    # post-compaction batch still screens against the full history
    near_dup_ingest_batch(
        spark.createDataFrame([(10, base)], "doc_id long, text string"), 2, **kw
    )
    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert out[10]["is_dup"] and out[10]["dup_of"] == 1


def test_near_dup_redelivery_under_new_epoch_routes_as_dup(spark, tmp_path):
    """A doc already ingested and indexed that is REDELIVERED under a
    different epoch (rebuilt checkpoint / upstream at-least-once past
    the checkpoint) must route is_dup — the out sink must never hold two
    fresh rows for one doc — while a same-epoch replay self-match stays
    excluded (replay artifact)."""
    from cashback_data_pipeline_spark.streaming.jobs import near_dup_ingest_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    b = spark.createDataFrame([(42, base)], "doc_id long, text string")
    near_dup_ingest_batch(b, 3, **kw)
    # same-epoch replay: unchanged (fresh exactly once)
    near_dup_ingest_batch(b, 3, **kw)
    out = spark.read.parquet(str(tmp_path / "out")).collect()
    assert len(out) == 1 and not out[0]["is_dup"]
    # changed-epoch redelivery: flagged as dup of its prior self
    near_dup_ingest_batch(b, 9, **kw)
    rows = {r["__epoch"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert not rows[3]["is_dup"]
    assert rows[9]["is_dup"] and rows[9]["dup_of"] == 42
    fresh = [r for r in rows.values() if not r["is_dup"]]
    assert len(fresh) == 1
    # index still holds exactly one copy
    from cashback_data_pipeline_spark.sinks import manifest as M

    assert M.read_store(spark, str(tmp_path / "index"), "sigs").count() == 1


def test_crash_during_compaction_leaves_index_usable(spark, tmp_path, monkeypatch):
    """A compaction that crashes BEFORE publishing its manifest version
    (the only crash window left — data files are invisible until the
    commit) must leave readers pinned to the old version and ingest
    proceeding with screening unchanged. No tripwire, no manual
    recovery: the VERDICT r5 item-5 contract."""
    import pytest

    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import (
        compact_near_dup_index,
        near_dup_ingest_batch,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    b1 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    near_dup_ingest_batch(b1, 0, **kw)
    table = kw["index_path"]
    v = M.current_version(table)

    real = M._try_commit

    def crash(*a, **k):
        raise RuntimeError("simulated crash before manifest publication")

    monkeypatch.setattr(M, "_try_commit", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact_near_dup_index(spark, table, n_files=1)
    monkeypatch.setattr(M, "_try_commit", real)

    # no new version — readers resolve exactly the pre-crash state
    assert M.current_version(table) == v
    assert {r["id"] for r in M.read_store(spark, table, "sigs").collect()} == {1}
    # ingest proceeds immediately, screening unchanged (doc 10 = dup of 1)
    near_dup_ingest_batch(
        spark.createDataFrame([(10, base)], "doc_id long, text string"), 1, **kw
    )
    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert out[10]["is_dup"] and out[10]["dup_of"] == 1
    # the orphaned rewrite is vacuum fodder, never visible
    removed = M.vacuum(table, keep_last=10, min_age_s=0.0)
    assert removed  # the crashed compaction's data dir was swept


def test_legacy_near_dup_index_migrates_with_src_epoch_backfill(spark, tmp_path):
    """An index written by the pre-manifest code (epoch-partition dirs;
    possibly even pre-src_epoch files) must auto-migrate on first touch:
    src_epoch backfilled as -1 (never collides with a live epoch, so a
    backfilled row still screens redeliveries as dups — ADVICE r5), one
    manifest version, legacy dirs retired."""
    from pyspark.sql import functions as F

    from cashback_data_pipeline_spark.operators import dedup as D
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import near_dup_ingest_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    # fabricate the legacy layout: bands/sigs WITHOUT src_epoch, under
    # __epoch partitions — exactly what the pre-upgrade code persisted
    legacy = spark.createDataFrame([(1, base)], "doc_id long, text string")
    sigs = D.minhash_signatures(legacy, "doc_id", "text", 64, 3)
    band_idx = F.sequence(F.lit(0), F.lit(15))
    bands = sigs.select(
        "id",
        F.explode(
            F.transform(
                band_idx,
                lambda bi: F.struct(
                    bi.alias("band"), F.hash(F.slice("sig", bi * 4 + 1, 4)).alias("bh")
                ),
            )
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    index = tmp_path / "index"
    for name, df in (("bands", bands), ("sigs", sigs)):
        df.withColumn("__epoch", F.lit(0)).write.partitionBy("__epoch").parquet(
            str(index / name)
        )

    # first post-upgrade batch: migrates, then screens the redelivery
    kw = dict(index_path=str(index), out_path=str(tmp_path / "out"), threshold=0.7)
    near_dup_ingest_batch(
        spark.createDataFrame([(10, base)], "doc_id long, text string"), 5, **kw
    )
    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert out[10]["is_dup"] and out[10]["dup_of"] == 1  # history survived migration

    migrated = M.read_store(spark, str(index), "sigs")
    by_id = {r["id"]: r["src_epoch"] for r in migrated.collect()}
    assert by_id[1] == -1  # pre-upgrade row backfilled
    assert M.read_manifest(str(index), 1)["meta"]["migrated"] is True
    assert not (index / "bands").exists()  # legacy dirs retired (single-shot)


def test_index_ingest_stream_continuous_search_parity(spark, tmp_path):
    """Streaming corpus → incremental inverted index: after the stream
    drains, a search over the manifest index must hash-match full-scan
    BM25 over everything ingested; replaying a micro-batch (both the
    epoch delta_id and the id anti-join) changes nothing."""
    from cashback_data_pipeline_spark.operators import retrieval
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import (
        index_ingest_batch,
        index_ingest_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(0, "spark join hash join merge"), (1, "hash table scan and filter")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(2, "window agg over stream data"), (3, "join join join hash hash window")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))

    table = str(tmp_path / "idx")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        index_ingest_stream(stream, table, str(tmp_path / "ckpt"), n_term_buckets=8)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    docs = b1.unionByName(b2)
    terms = ["hash", "window"]
    got = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.search_inverted_index_manifest(spark, table, terms, k=10).collect()
    }
    want = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.bm25_topk(docs, terms, k=10).collect()
    }
    assert got == want and got

    # crash-replay: re-running committed epochs must be a no-op
    v = M.current_version(table)
    index_ingest_batch(b1, 0, table, n_term_buckets=8)
    index_ingest_batch(b2, 1, table, n_term_buckets=8)
    assert M.current_version(table) == v
    got2 = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.search_inverted_index_manifest(spark, table, terms, k=10).collect()
    }
    assert got2 == want


def test_near_dup_rebuilt_checkpoint_still_indexes_new_docs(spark, tmp_path):
    """Review-pass finding: a rebuilt checkpoint restarts epoch ids at 0
    while the index's max_epoch stays high — an epoch-number replay gate
    would then silently skip the index append for every NEW doc (routed
    but never screened against later). New docs under recycled epoch ids
    must index; genuinely replayed docs must not duplicate."""
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import near_dup_ingest_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    other = "one two three four five six seven eight nine ten " * 3
    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    near_dup_ingest_batch(
        spark.createDataFrame([(1, base)], "doc_id long, text string"), 0, **kw
    )
    near_dup_ingest_batch(
        spark.createDataFrame([(2, other)], "doc_id long, text string"), 7, **kw
    )
    # checkpoint rebuilt: NEW doc arrives under already-used epoch 0
    third = "red orange yellow green blue indigo violet umber black white " * 3
    near_dup_ingest_batch(
        spark.createDataFrame([(3, third)], "doc_id long, text string"), 0, **kw
    )
    sigs = M.read_store(spark, str(tmp_path / "index"), "sigs")
    assert {r["id"] for r in sigs.collect()} == {1, 2, 3}  # doc 3 WAS indexed
    # and it now screens later redeliveries
    near_dup_ingest_batch(
        spark.createDataFrame([(30, third)], "doc_id long, text string"), 8, **kw
    )
    out = {r["doc_id"]: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert out[30]["is_dup"] and out[30]["dup_of"] == 3
    # a true same-epoch replay still cannot double-insert (anti-join):
    # the index holds exactly docs 1, 2, 3 (doc 30 was a dup, never indexed)
    near_dup_ingest_batch(
        spark.createDataFrame([(3, third)], "doc_id long, text string"), 0, **kw
    )
    sigs2 = M.read_store(spark, str(tmp_path / "index"), "sigs")
    assert sorted(r["id"] for r in sigs2.collect()) == [1, 2, 3]


def test_manifest_remote_paths_fail_loudly_or_work(spark, tmp_path):
    """scheme:// table paths now dispatch to the HadoopFsLogStore
    (tests/test_logstore.py is the contract suite). A scheme the Hadoop
    conf can't resolve must still fail LOUDLY at the seam — never
    silently operate on a bogus local directory."""
    import pytest

    from cashback_data_pipeline_spark.sinks import manifest as M

    # an unresolvable scheme raises from the FileSystem lookup, loudly
    with pytest.raises(Exception, match="(?i)unsupported|no filesystem|unknownhost"):
        M.current_version("s3-nonexistent-scheme://bucket/idx")
    # a resolvable scheme commits and reads through the same protocol
    t = "file://" + str(tmp_path / "remote_t")
    assert M.write_table(spark.range(3).selectExpr("id AS k"), t) == 1
    assert M.read_table(spark, t).count() == 3


def test_index_ingest_rebuilt_checkpoint_indexes_new_docs(spark, tmp_path):
    """Review-pass finding: using the epoch id as the index delta_id
    collides after a rebuilt checkpoint (delta 'epoch-0' already in
    meta), silently dropping every new doc delivered under a recycled
    epoch id. Dedup is now content-based (doclens anti-join) only."""
    from cashback_data_pipeline_spark.operators import retrieval
    from cashback_data_pipeline_spark.streaming.jobs import index_ingest_batch

    table = str(tmp_path / "idx")
    b1 = spark.createDataFrame([(1, "spark join hash")], "doc_id long, text string")
    b2 = spark.createDataFrame([(2, "hash table scan")], "doc_id long, text string")
    index_ingest_batch(b1, 0, table, n_term_buckets=8)
    index_ingest_batch(b2, 1, table, n_term_buckets=8)
    # rebuilt checkpoint: NEW doc arrives under recycled epoch 0
    b3 = spark.createDataFrame([(3, "eta theta iota")], "doc_id long, text string")
    index_ingest_batch(b3, 0, table, n_term_buckets=8)
    hits = retrieval.search_inverted_index_manifest(spark, table, ["eta"], k=10)
    assert {r["doc_id"] for r in hits.collect()} == {3}  # doc 3 IS searchable
    # and a genuine replay of that batch is still a no-op (anti-join)
    from cashback_data_pipeline_spark.sinks import manifest as M

    v = M.current_version(table)
    index_ingest_batch(b3, 0, table, n_term_buckets=8)
    assert M.current_version(table) == v


def test_near_dup_run_id_preserves_prior_runs_output(spark, tmp_path):
    """Review-pass finding: dynamic __epoch overwrite destroys the
    original epoch's routed rows when a rebuilt checkpoint recycles
    epoch ids — a per-run namespace keeps every run's output."""
    from cashback_data_pipeline_spark.streaming.jobs import near_dup_ingest_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    other = "one two three four five six seven eight nine ten " * 3
    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    near_dup_ingest_batch(
        spark.createDataFrame([(1, base)], "doc_id long, text string"), 0, run_id="runA", **kw
    )
    # rebuilt checkpoint -> new incarnation, recycled epoch 0, new doc
    near_dup_ingest_batch(
        spark.createDataFrame([(2, other)], "doc_id long, text string"), 0, run_id="runB", **kw
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2}  # runA's epoch-0 row SURVIVED runB's epoch 0
    assert {r["__run"] for r in out.collect()} == {"runA", "runB"}
    # replay WITHIN a run still overwrites its own partition (no dup)
    near_dup_ingest_batch(
        spark.createDataFrame([(2, other)], "doc_id long, text string"), 0, run_id="runB", **kw
    )
    assert spark.read.parquet(str(tmp_path / "out")).count() == 2


def test_route_batch_to_manifest_key_mode_survives_recycled_epochs(spark, tmp_path):
    """key= mode: content-based dedup admits new rows under recycled
    epoch ids (rebuilt checkpoint) and drops redelivered keys."""
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import route_batch_to_manifest

    table = str(tmp_path / "routed")
    b1 = spark.createDataFrame([(1, "keep"), (2, "drop")], "doc_id long, route string")
    assert route_batch_to_manifest(b1, 0, table, key="doc_id") is True
    # rebuilt checkpoint: NEW rows under recycled epoch 0 must commit
    b2 = spark.createDataFrame([(3, "keep")], "doc_id long, route string")
    assert route_batch_to_manifest(b2, 0, table, key="doc_id") is True
    # redelivered keys are dropped regardless of epoch
    assert route_batch_to_manifest(b1, 99, table, key="doc_id") is False
    out = M.read_table(spark, table)
    assert {r["doc_id"] for r in out.collect()} == {1, 2, 3}
    assert out.count() == 3


def test_near_dup_cross_run_redelivery_routes_as_dup(spark, tmp_path):
    """Review-pass finding: with epoch-only scoping, a rebuilt
    checkpoint re-reading the source redelivers docs under recycled
    epoch ids EQUAL to their original src_epoch — the self-match
    exclusion let them route fresh again (two is_dup=false rows for one
    doc across runs). Scoping by (src_run, src_epoch) closes it."""
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import near_dup_ingest_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    b = spark.createDataFrame([(1, base)], "doc_id long, text string")
    near_dup_ingest_batch(b, 0, run_id="runA", **kw)
    # same-run same-epoch replay: self-match excluded, routed fresh once
    near_dup_ingest_batch(b, 0, run_id="runA", **kw)
    # rebuilt checkpoint: full source re-read delivers doc 1 again at
    # recycled epoch 0 — same epoch number as its src_epoch, NEW run
    near_dup_ingest_batch(b, 0, run_id="runB", **kw)
    out = spark.read.parquet(str(tmp_path / "out"))
    rows = {(r["__run"], r["doc_id"]): r for r in out.collect()}
    assert not rows[("runA", 1)]["is_dup"]  # original sighting: fresh
    assert rows[("runB", 1)]["is_dup"] and rows[("runB", 1)]["dup_of"] == 1
    fresh = [r for r in rows.values() if not r["is_dup"]]
    assert len(fresh) == 1  # never two fresh rows for one doc
    # index still holds exactly one copy
    assert M.read_store(spark, str(tmp_path / "index"), "sigs").count() == 1


def test_near_dup_run_layout_and_id_guards(spark, tmp_path):
    """Switching an existing out sink between flat and run-namespaced
    layouts must fail loudly (mixed partition depths brick readers), and
    path-metacharacter run ids are rejected."""
    import pytest

    from cashback_data_pipeline_spark.streaming.jobs import near_dup_ingest_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    b = spark.createDataFrame([(1, base)], "doc_id long, text string")
    near_dup_ingest_batch(b, 0, **kw)  # flat layout
    with pytest.raises(ValueError, match="mix partition depths"):
        near_dup_ingest_batch(b, 1, run_id="runA", **kw)

    kw2 = dict(index_path=str(tmp_path / "index2"), out_path=str(tmp_path / "out2"), threshold=0.7)
    near_dup_ingest_batch(b, 0, run_id="runA", **kw2)  # namespaced layout
    with pytest.raises(ValueError, match="run-namespaced"):
        near_dup_ingest_batch(b, 1, **kw2)
    with pytest.raises(ValueError, match="partition value"):
        near_dup_ingest_batch(b, 1, run_id="a/b", **kw2)


def test_read_epoch_table_drops_run_column(spark, tmp_path):
    from cashback_data_pipeline_spark.streaming.jobs import (
        near_dup_ingest_batch,
        read_epoch_table,
    )

    kw = dict(index_path=str(tmp_path / "index"), out_path=str(tmp_path / "out"), threshold=0.7)
    b = spark.createDataFrame([(1, "alpha beta gamma " * 5)], "doc_id long, text string")
    near_dup_ingest_batch(b, 0, run_id="runA", **kw)
    out = read_epoch_table(spark, str(tmp_path / "out"))
    assert "__run" not in out.columns and "__epoch" not in out.columns


def test_incremental_mv_replay_cannot_double_add(spark, tmp_path):
    """maintain_aggregate_batch: the epoch gate must make a replayed
    micro-batch a no-op — the failure additive maintenance is most
    vulnerable to (a crash between view-commit and checkpoint-advance
    re-delivers the batch)."""
    from cashback_data_pipeline_spark.sinks import manifest as M
    from cashback_data_pipeline_spark.streaming.jobs import (
        maintain_aggregate_batch,
        read_aggregate_view,
    )

    table = str(tmp_path / "mv")
    b0 = spark.createDataFrame(
        [("click", 1.0), ("click", 2.0), (None, 5.0)], "event_type string, value double"
    )
    assert maintain_aggregate_batch(b0, 0, table, ["event_type"], "value") is True
    assert maintain_aggregate_batch(b0, 0, table, ["event_type"], "value") is False  # replay
    b1 = spark.createDataFrame(
        [("click", 4.0), (None, 1.0)], "event_type string, value double"
    )
    assert maintain_aggregate_batch(b1, 1, table, ["event_type"], "value") is True
    view = {r["event_type"]: r for r in read_aggregate_view(spark, table).collect()}
    assert view["click"]["n"] == 3 and view["click"]["sum_value"] == 7.0
    assert view["click"]["min_value"] == 1.0 and view["click"]["max_value"] == 4.0
    # the NULL group accumulates (null-safe merge), never re-inserts
    assert view[None]["n"] == 2 and view[None]["sum_value"] == 6.0
    assert M.current_version(table) == 2  # one version per applied epoch


@pytest.mark.parametrize(
    "name",
    [
        "streaming_windowed_counts",
        "streaming_dedup_replay",
        "streaming_sessionization",
        "streaming_interval_join",
        "streaming_quality_route",
    ],
)
def test_streaming_query_removes_its_source_dir(spark, sf_dir, name):
    """The registered streaming queries drain a file-source stream into a
    memory sink; once the query has terminated its scratch source dir
    is spent and must not stay behind under the temp dir."""
    import glob
    import os

    from cashback_data_pipeline_spark import queries as Q

    pattern = os.path.join(tempfile.gettempdir(), "stream_*")
    before = set(glob.glob(pattern))
    out = Q.QUERIES[name](spark, sf_dir)
    assert out.count() > 0
    assert set(glob.glob(pattern)) - before == set()
