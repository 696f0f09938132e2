"""Batch-read Python DataSource over manifest tables (VERDICT r9 item 2
— sources/manifest_source.py, the read twin of streaming/cdf_source.py).

Fidelity vs manifest.read_table: deletion vectors apply, column mapping
resolves (time travel answers under each version's own names), schema
evolution null-fills, and pushed filters prune partitions from manifest
stats without changing results.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, Not

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
    schema = T.StructType([T.StructField("k", T.LongType())])

    def plan(filters):
        r = MS.ManifestBatchReader(schema, {"path": t})
        r.pushFilters(filters)
        return len(r.partitions())

    assert plan([]) == 4
    assert plan([GreaterThanOrEqual(("k",), 90)]) == 1
    assert plan([EqualTo(("k",), 5)]) == 1
    assert plan([In(("k",), (2, 3))]) == 1
    # negation prunes only what stats PROVE empty; a range file is kept
    assert plan([Not(EqualTo(("k",), 5))]) == 4
    # and results stay exact however much was pruned (Spark re-applies)
    MS.register_view(spark, "mt_prune", t)
    try:
        assert spark.sql("SELECT count(*) AS n FROM mt_prune WHERE k >= 90").first()["n"] == 10
        assert spark.sql("SELECT count(*) AS n FROM mt_prune WHERE NOT (k = 5)").first()["n"] == 99
    finally:
        spark.catalog.dropTempView("mt_prune")


def test_hive_layout_partition_values_reconstitute(spark, tmp_path):
    """Files under key=value dirs don't store the partition column; the
    batch source rebuilds it from the path segment."""
    t = str(tmp_path / "t")
    df = spark.range(20).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS bucket")
    cid = M.new_commit_id()
    files = M.write_store_files(df, t, cid, "main", partition_by="bucket")
    M._try_commit(t, 1, files, None, df.schema.json(), operation="overwrite")
    out = MS.read_manifest_batch(spark, t)
    assert _rows(out.select("k", "bucket")) == _rows(df)


def test_all_files_pruned_reads_zero_rows(spark, tmp_path):
    """Pushed filters that prune every file plan zero partitions, which
    Spark hands the reader as one ``None`` partition: 0 rows, no error."""
    t = _seed(spark, tmp_path / "t")
    MS.register_view(spark, "mt_none", t)
    try:
        assert spark.sql("SELECT count(*) AS n FROM mt_none WHERE k > 1000").first()["n"] == 0
        assert spark.sql("SELECT * FROM mt_none WHERE k > 1000").collect() == []
    finally:
        spark.catalog.dropTempView("mt_none")
