"""Batch source readers.

Reference scan operators covered (citations into /root/reference/):

- S1  CSV scan, header, no inference (glue_script.py:19-20) → :func:`read_csv`
      with ``schema=None`` (all-string, reference parity) or a declared
      StructType (engine default — typed scans enable pushdown).
- S4/S6 JSON list-of-records from an API pull (api.py:94-105,
      pull_data_glue_job_lambda.py:45-47) → :func:`read_json_records`.
      At 100 TB the records are landed as JSONL and read distributed
      (:func:`read_jsonl`) — never materialized on the driver.
- S3  fixture-fallback seam (pull_data_glue_job_lambda.py:48-54) →
      :func:`read_table_with_fallback`.
- S7  catalog/warehouse scan (load_to_redshift_lambda.py:53-62) →
      :func:`read_parquet` — Spark's partition discovery replaces the
      Glue crawler outright.

Scale notes: every reader takes an explicit schema where the format allows
one. Schema inference is a full extra pass over 100 TB; declared schemas
also let Catalyst prune columns/partitions at the scan.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cashback_data_pipeline_spark.schemas import testdata_path
from cashback_data_pipeline_spark.session import local_rows_df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    **options: Any,
) -> DataFrame:
    """CSV scan. ``schema=None`` reproduces the reference's schema-on-read
    all-strings behavior (glue_script.py:19-20); passing a StructType gives
    the typed scan the engine prefers."""
    reader = spark.read.option("header", header)
    for key, value in options.items():
        reader = reader.option(key, value)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def read_json_records(
    spark: SparkSession,
    records: Iterable[Mapping[str, Any]],
    schema: T.StructType,
) -> DataFrame:
    """Materialize an in-memory list of JSON records (an API page) as a
    DataFrame. Only for connector-sized data — large volumes must land as
    JSONL and go through :func:`read_jsonl`."""
    return local_rows_df(spark, records, schema)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType, **options: Any) -> DataFrame:
    """Landed-JSONL scan (the scale path for API sources). Declared schema
    avoids the inference pass and keeps bad records null-tolerant
    (mode=PERMISSIVE default)."""
    reader = spark.read.schema(schema)
    for key, value in options.items():
        reader = reader.option(key, value)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Warehouse scan. Partition discovery + column pruning + predicate
    pushdown are native; this single call replaces the reference's
    crawler→catalog→Spectrum chain (load_to_redshift_lambda.py:53-62)."""
    return spark.read.parquet(path)


def read_table_with_fallback(
    spark: SparkSession,
    primary_path: str,
    fallback_path: str,
    schema: T.StructType | None = None,
    fmt: str = "csv",
) -> DataFrame:
    """Try the primary source; on failure read the bundled fixture —
    the reference's test seam (pull_data_glue_job_lambda.py:48-54)."""
    for candidate in (primary_path, fallback_path):
        try:
            if fmt == "csv":
                df = read_csv(spark, candidate, schema=schema)
            elif fmt == "json":
                df = read_jsonl(spark, candidate, schema=schema)
            else:
                df = read_parquet(spark, candidate)
            df.schema  # force analysis so a missing path fails here
            return df
        except Exception:
            if candidate == fallback_path:
                raise
    raise RuntimeError("unreachable")


def read_testdata(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one driver-generated testdata table (TESTDATA.md).

    ``events.ts`` has shipped in two physical layouts across testdata
    generations: parquet TIMESTAMP(NANOS) (rejected by Spark's vectorized
    reader; with ``spark.sql.legacy.parquet.nanosAsLong`` it lands as a
    long we convert back to a µs timestamp — integer division, a float
    round-trip would lose precision above 2^53 ns) and native
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
    TIMESTAMP_NTZ. Both normalize to session-UTC TIMESTAMP so downstream
    epoch arithmetic (``unix_micros`` rejects NTZ) and oracle parity are
    layout-independent.
    """
    if table == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, testdata_path(sf_dir, table))
        from pyspark.sql import functions as F

        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return read_parquet(spark, testdata_path(sf_dir, table))


def read_events_range(spark: SparkSession, sf_dir: str, ts_lo: str, ts_hi: str) -> DataFrame:
    """Events scan with the time-range predicate PUSHED TO THE SCAN.

    Because ``ts`` is derived (nanos-long → timestamp), a filter on the
    converted column cannot be pushed through by Catalyst — the scan would
    read every row group. Filtering the raw long column with ns bounds
    restores min/max row-group skipping, which is the difference between
    scanning a day and scanning a year at 100 TB. Bounds are inclusive,
    interpreted as UTC.
    """
    import datetime as dt

    from pyspark.sql import functions as F

    def to_ns(s: str) -> int:
        d = dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
        return int(d.timestamp()) * 1_000_000_000 + d.microsecond * 1000

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = read_parquet(spark, testdata_path(sf_dir, "events"))
    dt = dict(raw.dtypes).get("ts")
    if dt != "bigint":
        # native timestamp layout: the string bounds push to the scan as
        # timestamp predicates; normalize NTZ→session-UTC TIMESTAMP above
        # the (already pushed) filter so pushdown survives the cast.
        out = raw.filter(F.col("ts").between(ts_lo, ts_hi))
        if dt == "timestamp_ntz":
            out = out.withColumn("ts", F.col("ts").cast("timestamp"))
        return out
    return raw.filter(F.col("ts").between(to_ns(ts_lo), to_ns(ts_hi))).withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    )


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """ORC scan — the engine's secondary columnar format (interop with
    Hive-era warehouses). Same posture as parquet: declared schema when
    known (skips footer-merge inference across many files), predicate
    pushdown and column pruning work natively."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)
