"""Hive-style partition columns as a manifest table property (VERDICT
r10 item 3): layout on every write path, exact path-derived stats (one
pruning engine), metadata-only DROP PARTITION, dynamic partition
overwrite, and the SQL surface. The end-to-end oracle check is the
registered ``manifest_partitioned_table`` query."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.sinks import manifest as M
from cashback_data_pipeline_spark.sinks import sql_dml
from cashback_data_pipeline_spark.sinks.filestats import prune_files


def _seed(spark, path, n=90):
    df = spark.range(n).selectExpr(
        "id AS k",
        "CAST(id % 3 AS INT) AS bucket",
        "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS day",
        "CAST(id AS DOUBLE) AS price",
    )
    M.write_table(df, str(path), partition_by=["day"], stats_cols=["k"])
    return str(path), df


def test_partitioned_layout_and_roundtrip(spark, tmp_path):
    t, df = _seed(spark, tmp_path / "t")
    m = M.read_manifest(t, 1)
    assert m["partitioning"] == ["day"]
    assert all("day=" in f for f in m["files"])
    back = M.read_table(spark, t)
    assert back.schema["day"].dataType.simpleString() == "date"
    assert back.count() == 90
    assert back.filter(F.col("day") == dt.date(2024, 1, 2)).count() == 30
    # per-file stats carry BOTH the collected column and the injected
    # exact partition bounds
    st = m["stats"]
    assert all("day" in (e.get("cols") or {}) for e in st.values())
    for e in st.values():
        d = e["cols"]["day"]
        assert d["min"] == d["max"] and d["nulls"] == 0


def test_partition_stats_prune_files(spark, tmp_path):
    t, _ = _seed(spark, tmp_path / "t")
    m = M.read_manifest(t, 1)
    kept, skipped = prune_files(m["files"], m["stats"], ("day", "==", dt.date(2024, 1, 1)))
    assert skipped > 0
    assert all("day=2024-01-01" in f for f in kept)
    # read_table(skip=) returns exactly the filtered rows
    out = M.read_table(spark, t, skip=("day", "==", dt.date(2024, 1, 1)))
    assert out.count() == 30


def test_append_inherits_layout_and_mismatch_refuses(spark, tmp_path):
    t, df = _seed(spark, tmp_path / "t")
    M.write_table(df.limit(9), t, mode="append")
    m = M.read_manifest(t, 2)
    assert m["partitioning"] == ["day"]
    assert all("day=" in f for f in m["files"])
    assert M.read_table(spark, t).count() == 99
    with pytest.raises(ValueError, match="re-partitioning"):
        M.write_table(df.limit(1), t, mode="append", partition_by=["bucket"])


def test_partition_predicate_delete_rewrites_zero_outside(spark, tmp_path):
    t, _ = _seed(spark, tmp_path / "t")
    n_files = len(M.read_manifest(t, 1)["files"])
    v = M.delete_where(spark, t, ("day", "==", dt.date(2024, 1, 3)))
    meta = M.read_manifest(t, v)["meta"]["delete"]
    # every file outside the partition carried with zero I/O
    assert meta["carried"] == n_files - meta["rewritten"]
    assert meta["rewritten"] < n_files
    assert M.read_table(spark, t).count() == 60
    # rewritten survivors (here: none survive in that partition) keep layout
    assert all("day=" in f for f in M.read_manifest(t, v)["files"])


def test_merge_on_read_delete_with_partition_predicate(spark, tmp_path):
    t, _ = _seed(spark, tmp_path / "t")
    files1 = M.read_manifest(t, 1)["files"]
    v = M.delete_where(
        spark, t,
        [("day", "==", dt.date(2024, 1, 1)), ("k", "<", 30)],
        mode="merge_on_read",
    )
    m = M.read_manifest(t, v)
    assert m["files"] == files1  # tombstones, no rewrite
    assert m.get("dv_files")
    assert M.read_table(spark, t).count() == 90 - 10


def test_drop_partition_is_metadata_only(spark, tmp_path):
    t, _ = _seed(spark, tmp_path / "t")
    m1 = M.read_manifest(t, 1)
    v = M.drop_partition(t, {"day": dt.date(2024, 1, 2)})
    m2 = M.read_manifest(t, v)
    # no new data files — strictly a subset of the parent's
    assert set(m2["files"]) < set(m1["files"])
    assert not any("day=2024-01-02" in f for f in m2["files"])
    assert M.read_table(spark, t).count() == 60
    assert M.read_table(spark, t, version=1).count() == 90  # time travel
    # no matching partition ⇒ no version churn
    assert M.drop_partition(t, {"day": dt.date(2030, 1, 1)}) == v
    with pytest.raises(ValueError, match="non-partition"):
        M.drop_partition(t, {"bucket": 1})


def test_dynamic_partition_overwrite(spark, tmp_path):
    t, df = _seed(spark, tmp_path / "t")
    m1 = M.read_manifest(t, 1)
    patch = (
        df.filter(F.col("day") == dt.date(2024, 1, 1))
        .withColumn("price", F.col("price") * 0.0)
        .limit(5)
    )
    v = M.write_table(patch, t, mode="overwrite_partitions")
    m2 = M.read_manifest(t, v)
    carried = set(m2["files"]) & set(m1["files"])
    # untouched partitions carried verbatim; the touched one replaced
    assert carried and all("day=2024-01-01" not in f for f in carried)
    assert M.read_table(spark, t).count() == 60 + 5
    assert (
        M.read_table(spark, t)
        .filter(F.col("day") == dt.date(2024, 1, 1))
        .agg(F.sum("price")).first()[0] == 0.0
    )
    ops = [r["operation"] for r in M.table_history(spark, t).orderBy("version").collect()]
    assert ops[-1] == "overwrite_partitions"
    with pytest.raises(ValueError, match="partitioned table"):
        M.write_table(patch, str(tmp_path / "unpart"), mode="overwrite_partitions")


def test_null_partition_values_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(10).selectExpr(
        "id AS k", "CASE WHEN id % 2 = 0 THEN CAST(id % 3 AS INT) END AS grp"
    )
    M.write_table(df, t, partition_by=["grp"])
    back = M.read_table(spark, t)
    assert back.filter(F.col("grp").isNull()).count() == 5
    assert back.count() == 10


def test_upsert_and_optimize_keep_partition_layout(spark, tmp_path):
    t, df = _seed(spark, tmp_path / "t")
    inc = df.filter(F.col("k") < 10).withColumn("price", F.col("price") + 1000.0)
    M.upsert_table(spark, inc, t, key="k")
    assert all("day=" in f for f in M.read_manifest(t, 2)["files"])
    assert M.read_table(spark, t).filter(F.col("price") >= 1000.0).count() == 10
    v = M.compact_table(spark, t, n_files=2)
    m = M.read_manifest(t, v)
    assert m["partitioning"] == ["day"]
    assert all("day=" in f for f in m["files"])
    assert M.read_table(spark, t).count() == 90


def test_rename_drop_partition_column_refuse(spark, tmp_path):
    t, _ = _seed(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="partition column"):
        M.rename_column(t, "day", "dt")
    with pytest.raises(ValueError, match="partition column"):
        M.drop_column(t, "day")


def test_overwrite_clears_or_redeclares_partitioning(spark, tmp_path):
    t, df = _seed(spark, tmp_path / "t")
    M.write_table(df, t, mode="overwrite")  # plain overwrite clears
    m = M.read_manifest(t, 2)
    assert "partitioning" not in m
    assert not any("day=" in f for f in m["files"])
    M.write_table(df, t, mode="overwrite", partition_by=["bucket"])
    m3 = M.read_manifest(t, 3)
    assert m3["partitioning"] == ["bucket"]
    assert all("bucket=" in f for f in m3["files"])


def test_restore_restores_partitioning(spark, tmp_path):
    t, df = _seed(spark, tmp_path / "t")
    M.write_table(df, t, mode="overwrite")  # v2: unpartitioned
    M.restore_table(t, version=1)
    m = M.read_manifest(t, 3)
    assert m["partitioning"] == ["day"]
    assert M.read_table(spark, t).count() == 90
    M.restore_table(t, version=2)
    assert "partitioning" not in M.read_manifest(t, 4)


def test_batch_source_reads_partitioned_table(spark, tmp_path):
    from cashback_data_pipeline_spark.sources import manifest_source as MS
    from tests.scans import scanned_files

    t, _ = _seed(spark, tmp_path / "t")
    try:
        MS.register_view(spark, "part_mt", t)
        got = spark.sql(
            "SELECT day, count(*) AS n FROM part_mt GROUP BY day ORDER BY day"
        ).collect()
        assert [(r["day"], r["n"]) for r in got] == [
            (dt.date(2024, 1, 1), 30),
            (dt.date(2024, 1, 2), 30),
            (dt.date(2024, 1, 3), 30),
        ]
        # a partition-key equality prunes files in Spark's file index:
        # the partition value is a _metadata.file_path expression
        one_day = spark.sql("SELECT count(*) AS n FROM part_mt WHERE day = DATE'2024-01-01'")
        assert one_day.collect()[0]["n"] == 30
        n_files = len(M.read_manifest(t, 1)["files"])
        assert scanned_files(one_day) < n_files
    finally:
        spark.catalog.dropTempView("part_mt")


def test_sql_create_partitioned_and_drop_partition(spark, tmp_path):
    t = str(tmp_path / "t")
    cat = {"pt": t}
    sql_dml.execute(
        spark,
        "CREATE TABLE pt (k BIGINT, region STRING, price DOUBLE) "
        "PARTITIONED BY (region)",
        cat,
    )
    assert M.read_manifest(t, 1)["partitioning"] == ["region"]
    df = spark.range(12).selectExpr(
        "id AS k",
        "CASE WHEN id % 2 = 0 THEN 'eu' ELSE 'us' END AS region",
        "CAST(id AS DOUBLE) AS price",
    )
    df.createOrReplaceTempView("pt_src")
    try:
        sql_dml.execute(spark, "INSERT INTO pt SELECT * FROM pt_src", cat)
        assert all("region=" in f for f in M.read_manifest(t, 2)["files"])
        v = sql_dml.execute(spark, "ALTER TABLE pt DROP PARTITION (region = 'eu')", cat)
        assert not any("region=eu" in f for f in M.read_manifest(t, v)["files"])
        back = M.read_table(spark, t)
        assert back.count() == 6
        assert back.filter(F.col("region") == "eu").count() == 0
    finally:
        spark.catalog.dropTempView("pt_src")


def test_partition_column_type_validation(spark, tmp_path):
    df = spark.range(4).selectExpr("id AS k", "CAST(id AS DOUBLE) AS price")
    with pytest.raises(ValueError, match="partition column"):
        M.write_table(df, str(tmp_path / "t"), partition_by=["price"])
    with pytest.raises(ValueError, match="not in schema"):
        M.write_table(df, str(tmp_path / "t2"), partition_by=["nope"])


def test_foreachbatch_route_into_partitioned_table(spark, tmp_path):
    """The foreachBatch streaming route writes hive-partitioned files
    into a partitioned table (the _write_data_files threading) — the
    commit guard would refuse a flat layout."""
    from cashback_data_pipeline_spark.streaming import jobs as SJ

    t = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id AS k", "CAST(id % 2 AS INT) AS grp")
    M.write_table(df.limit(4), t, partition_by=["grp"])
    assert SJ.route_batch_to_manifest(df, 1, t)
    m = M.read_manifest(t, M.current_version(t))
    assert all("grp=" in f for f in m["files"])
    assert M.read_table(spark, t).count() == 24
