"""Streaming manifest sink (streaming/manifest_sink.py).

Contract: writeStream.format("manifest") gives one atomic manifest
version per non-empty micro-batch with epoch-gate replay detection
(the route_batch_to_manifest convention), eager orphan reclaim on
replay/abort, footer-derived stats carry so data skipping survives a
streamed table, and append-only semantics.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.sinks import manifest as M
from cashback_data_pipeline_spark.streaming import manifest_sink


def _drain(spark, src_dir, table, ckpt, files_per_trigger=2):
    from cashback_data_pipeline_spark.streaming.jobs import read_events_stream

    stream = read_events_stream(spark, src_dir, max_files_per_trigger=files_per_trigger)
    q = manifest_sink.write_manifest_stream(stream, table, ckpt).trigger(
        availableNow=True
    ).start()
    q.awaitTermination()


def _events(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(1704067200 + F.col("id") * 60).alias("ts"),
        (F.col("id") % 97).alias("user_id"),
        F.lit("click").alias("event_type"),
        (F.col("id") * 0.5).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )


def test_stream_lands_as_epoch_commits_and_matches_batch(spark, tmp_path):
    src, table, ckpt = str(tmp_path / "src"), str(tmp_path / "t"), str(tmp_path / "ck")
    _events(spark, 300).repartition(4).write.parquet(src)
    _drain(spark, src, table, ckpt)
    assert M.current_version(table) == 2  # 4 files / 2 per trigger
    back = M.read_table(spark, table)
    assert back.count() == 300
    assert sorted(r.event_id for r in back.collect()) == list(range(300))
    m = M.read_manifest(table, 2)
    assert m["meta"]["max_epoch"] == 1


def test_checkpoint_restart_appends_only_new_batches(spark, tmp_path):
    src, table, ckpt = str(tmp_path / "src"), str(tmp_path / "t"), str(tmp_path / "ck")
    _events(spark, 100).repartition(2).write.parquet(src)
    _drain(spark, src, table, ckpt)
    _events(spark, 50, start=100).repartition(2).write.mode("append").parquet(src)
    _drain(spark, src, table, ckpt)
    back = M.read_table(spark, table)
    assert back.count() == 150  # no replays, no gaps
    assert back.select(F.countDistinct("event_id")).first()[0] == 150


def test_replayed_epoch_is_skipped_and_orphans_reclaimed(spark, tmp_path):
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    table = str(tmp_path / "t")
    df = _events(spark, 20)
    M.write_table(df, table)
    writer = manifest_sink.ManifestStreamWriter(df.schema, {"path": table})
    arrow_schema = to_arrow_schema(df.schema)

    def make_message(start):
        tbl = pa.Table.from_pylist(
            [dict(zip(df.columns, r)) for r in _events(spark, 5, start=start).collect()],
            schema=arrow_schema,
        )
        return writer.write(iter(tbl.to_batches()))

    msg1 = make_message(100)
    writer.commit([msg1, None], batchId=7)  # None = empty partition
    v_after = M.current_version(table)
    assert M.read_manifest(table, v_after)["meta"] == {
        "epoch": 7,
        "max_epoch": 7,
        "operation": "streaming_append",
    }
    # the replay: same batchId, fresh attempt files — must skip AND reclaim
    msg2 = make_message(100)
    orphan = os.path.join(table, msg2.files[0])
    assert os.path.exists(orphan)
    writer.commit([msg2], batchId=7)
    assert M.current_version(table) == v_after  # no new version
    assert not os.path.exists(orphan)  # eager reclaim, not vacuum fodder
    assert M.read_table(spark, table).count() == 25


def test_abort_deletes_reported_files(spark, tmp_path):
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    table = str(tmp_path / "t")
    df = _events(spark, 10)
    M.write_table(df, table)
    writer = manifest_sink.ManifestStreamWriter(df.schema, {"path": table})
    tbl = pa.Table.from_pylist(
        [dict(zip(df.columns, r)) for r in df.collect()],
        schema=to_arrow_schema(df.schema),
    )
    msg = writer.write(iter(tbl.to_batches()))
    path = os.path.join(table, msg.files[0])
    assert os.path.exists(path)
    writer.abort([msg, None], batchId=3)
    assert not os.path.exists(path)
    assert M.current_version(table) == 1  # nothing committed


def test_streamed_commits_keep_footer_stats_for_skipping(spark, tmp_path):
    src, table, ckpt = str(tmp_path / "src"), str(tmp_path / "t"), str(tmp_path / "ck")
    # seed with tracked stats so the sink knows what to keep alive
    M.write_table(_events(spark, 50), table, stats_cols=["event_id"])
    _events(spark, 200, start=1000).repartition(4).write.parquet(src)
    _drain(spark, src, table, ckpt)
    m = M.read_manifest(table, M.current_version(table))
    streamed = [f for f in m["files"] if (m["stats"].get(f) or {}).get("cols")]
    assert len(streamed) == len(m["files"]), "a streamed file lost its stats entry"
    from cashback_data_pipeline_spark.sinks import filestats

    kept, skipped = filestats.prune_files(
        m["files"], m["stats"], ("event_id", ">=", 1000)
    )
    assert skipped >= 1  # the seed commit's file prunes from footer stats alone
    got = M.read_table(spark, table, skip=("event_id", ">=", 1000))
    assert got.count() == 200


def test_complete_mode_is_refused(spark, tmp_path):
    src = str(tmp_path / "src")
    _events(spark, 10).write.parquet(src)
    from cashback_data_pipeline_spark.streaming.jobs import read_events_stream

    manifest_sink.register(spark)
    counts = (
        read_events_stream(spark, src).groupBy("event_type").count()
    )
    q = (
        counts.writeStream.format("manifest")
        .option("path", str(tmp_path / "t"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("complete")
        .trigger(availableNow=True)
    )
    with pytest.raises(Exception, match="append-only"):
        q.start().awaitTermination()


def test_sink_format_survives_a_registered_view(spark, tmp_path):
    """Registering a SQL view over a manifest table must not take the
    ``"manifest"`` format name from the stream sink."""
    from cashback_data_pipeline_spark.sources import manifest_source
    from cashback_data_pipeline_spark.streaming.jobs import read_events_stream

    src, table = str(tmp_path / "src"), str(tmp_path / "t")
    _events(spark, 40).coalesce(1).write.parquet(src)
    M.write_table(_events(spark, 5, start=1000), table)
    manifest_sink.register(spark)
    manifest_source.register_view(spark, "sink_mt", table)
    try:
        q = (
            read_events_stream(spark, src).writeStream.format("manifest")
            .option("path", table)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.catalog.dropTempView("sink_mt")
    assert M.current_version(table) == 2
    assert M.read_table(spark, table).count() == 45


def test_epoch_walk_tolerates_pruned_manifest_log(spark, tmp_path):
    """Review finding: the max_epoch walk crashed with FileNotFoundError
    on a vacuum-pruned log; it must treat gaps like committed_meta_values
    does and keep committing."""
    table = str(tmp_path / "t")
    for i in range(5):  # batch commits carry NO max_epoch meta
        M.write_table(_events(spark, 10, start=i * 10), table, mode="append")
    M.vacuum(table, keep_last=2, min_age_s=0.0, prune_manifests=True)
    writer = manifest_sink.ManifestStreamWriter(
        _events(spark, 1).schema, {"path": table}
    )
    assert writer._prev_max_epoch(table, M.current_version(table)) == -1
    writer.commit([], batchId=0)  # must not raise; commits an empty epoch
    m = M.read_manifest(table, M.current_version(table))
    assert m["meta"]["max_epoch"] == 0
