"""SQL views over manifest tables (sources/manifest_source.py): the
batch read is ``manifest.read_table``, one JVM Parquet scan.

Deletion vectors apply, column mapping resolves (time travel answers
under each version's own names), schema evolution null-fills, hive
path values reconstitute, the view is pinned at registration, and
predicates reach the Parquet scan without changing results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.sinks import manifest as M
from cashback_data_pipeline_spark.sources import manifest_source as MS


def _seed(spark, path):
    df = spark.range(100).selectExpr(
        "id AS k", "CAST(id % 7 AS DOUBLE) AS price", "CAST(id AS STRING) AS v"
    )
    M.write_table(df, str(path), cluster_by=["k"], cluster_files=4)
    return str(path)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_batch_read_matches_read_table_with_dv_and_mapping(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    M.rename_column(t, "v", "label")
    M.delete_where(spark, t, ("k", ">=", 90), mode="merge_on_read")
    out = MS.read_manifest_batch(spark, t)
    assert out.columns == ["k", "price", "label"]
    assert _rows(out) == _rows(M.read_table(spark, t))
    assert out.count() == 90  # DVs applied


def test_version_and_timestamp_time_travel(spark, tmp_path):
    import time

    t = _seed(spark, tmp_path / "t")
    ts_after_v1 = time.time()
    M.rename_column(t, "v", "label")
    v1 = MS.read_manifest_batch(spark, t, versionAsOf=1)
    assert v1.columns == ["k", "price", "v"]  # pre-rename names
    assert v1.count() == 100
    assert MS.read_manifest_batch(spark, t, versionasof="1").columns == v1.columns
    by_ts = MS.read_manifest_batch(spark, t, timestampAsOf=ts_after_v1)
    assert by_ts.columns == ["k", "price", "v"]
    with pytest.raises(Exception, match="not both"):
        MS.read_manifest_batch(spark, t, versionAsOf=1, timestampAsOf=ts_after_v1).count()


def test_sql_over_registered_views(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    M.delete_where(spark, t, ("k", "<", 10))
    MS.register_view(spark, "mt_now", t)
    MS.register_view(spark, "mt_v1", t, versionAsOf=1)
    try:
        got = spark.sql(
            "SELECT count(*) AS n, sum(price) AS s FROM mt_now WHERE k < 50"
        ).first()
        exp = (
            M.read_table(spark, t)
            .filter(F.col("k") < 50)
            .agg(F.count(F.lit(1)), F.sum("price"))
            .first()
        )
        assert (got["n"], got["s"]) == (exp[0], exp[1])
        assert spark.sql("SELECT * FROM mt_v1").count() == 100
    finally:
        spark.catalog.dropTempView("mt_now")
        spark.catalog.dropTempView("mt_v1")


def test_schema_evolution_null_fills_old_files(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    wider = spark.range(100, 110).selectExpr(
        "id AS k", "CAST(id % 7 AS DOUBLE) AS price",
        "CAST(id AS STRING) AS v", "CAST(1 AS LONG) AS flag",
    )
    M.write_table(wider, t, mode="append")
    out = MS.read_manifest_batch(spark, t)
    assert out.columns == ["k", "price", "v", "flag"]
    assert out.filter(F.col("flag").isNull()).count() == 100
    assert out.filter(F.col("flag") == 1).count() == 10


def test_pushed_filters_prune_partitions_soundly(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")  # 4 range files over k∈[0,100)
    MS.register_view(spark, "mt_prune", t)
    try:
        def pushed(where):
            plan = spark.sql(f"SELECT k FROM mt_prune WHERE {where}")._jdf.queryExecution()
            plan = plan.executedPlan().toString()
            return plan[plan.index("PushedFilters: ["):].split("]", 1)[0]

        # the key predicate reaches the Parquet scan (row-group skipping)
        assert "GreaterThanOrEqual(k,90)" in pushed("k >= 90")
        assert "EqualTo(k,5)" in pushed("k = 5")
        # and results stay exact
        assert spark.sql("SELECT count(*) AS n FROM mt_prune WHERE k >= 90").first()["n"] == 10
        assert spark.sql("SELECT count(*) AS n FROM mt_prune WHERE NOT (k = 5)").first()["n"] == 99
    finally:
        spark.catalog.dropTempView("mt_prune")


def test_hive_layout_partition_values_reconstitute(spark, tmp_path):
    """Files under key=value dirs don't store the partition column; the
    read rebuilds it from the path segment even when the manifest
    declares no partitioning."""
    t = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS bucket")
    cid = M.new_commit_id()
    files = M.write_store_files(df, t, cid, "main", partition_by="bucket")
    M._try_commit(t, 1, files, None, df.schema.json(), operation="overwrite")
    assert "partitioning" not in M.read_manifest(t, 1)
    assert _rows(M.read_table(spark, t).select("k", "bucket")) == _rows(df)
    out = MS.read_manifest_batch(spark, t)
    assert _rows(out.select("k", "bucket")) == _rows(df)


def test_change_feed_reconstitutes_undeclared_partition_values(spark, tmp_path):
    """The change feed scans the same way as read_table: files under
    key=value dirs of a table that declares no partitioning read the
    column from the path, not as NULL."""
    t = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS bucket")
    files = M.write_store_files(df, t, M.new_commit_id(), "main", partition_by="bucket")
    M._try_commit(t, 1, files, None, df.schema.json(), operation="overwrite")
    assert _rows(M.read_changes(spark, t, 0).select("k", "bucket")) == _rows(df)
    rows = M.read_changes_rows(spark, t, 0)
    assert _rows(rows.select("k", "bucket")) == _rows(df)
    assert {r["_change_type"] for r in rows.collect()} == {"insert"}


def test_all_files_pruned_reads_zero_rows(spark, tmp_path):
    """A predicate no row matches reads 0 rows, no error."""
    t = _seed(spark, tmp_path / "t")
    MS.register_view(spark, "mt_none", t)
    try:
        assert spark.sql("SELECT count(*) AS n FROM mt_none WHERE k > 1000").first()["n"] == 0
        assert spark.sql("SELECT * FROM mt_none WHERE k > 1000").collect() == []
    finally:
        spark.catalog.dropTempView("mt_none")


def test_view_is_pinned_at_registration(spark, tmp_path):
    t = str(tmp_path / "t")
    M.write_table(spark.range(10).selectExpr("id AS k"), t)
    MS.register_view(spark, "mt_pinned", t)
    try:
        M.write_table(spark.range(10, 15).selectExpr("id AS k"), t, mode="append")
        assert spark.sql("SELECT count(*) AS n FROM mt_pinned").first()["n"] == 10
    finally:
        spark.catalog.dropTempView("mt_pinned")


def test_unknown_option_is_refused(spark, tmp_path):
    t = _seed(spark, tmp_path / "t")
    with pytest.raises(ValueError, match="unknown manifest read options"):
        MS.read_manifest_batch(spark, t, versionAt=1)
