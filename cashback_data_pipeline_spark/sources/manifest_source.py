"""SQL views over manifest tables (VERDICT r9 item 2): the engine's
analog of the reference mounting its catalog for SQL reads (ref:
load_to_redshift_lambda.py:53-62). ``register_view`` binds a temp view
to a pinned snapshot, so a plain ``spark.sql("SELECT ...")`` reads the
table with no further Python API call.

The view is :func:`manifest.read_table`: one JVM Parquet scan of the
version's file list with deletion vectors, column mapping, schema
evolution and hive ``key=value`` path values applied. The snapshot is
resolved when the view is registered; later commits do not change it.
Partition filters prune files through Spark's file index (the
partition values are a ``_metadata.file_path`` expression), and
Parquet row-group stats skip data for the other predicates. Manifest
min/max file skipping on non-partition columns is ``read_table(skip=)``.

The ``"manifest"`` format name belongs to the stream sink
(streaming/manifest_sink.py); batch reads go through this module.
"""

from __future__ import annotations

from cashback_data_pipeline_spark.sinks import manifest as mf


def read_manifest_batch(spark, table: str, **options):
    """A batch DataFrame of a manifest table snapshot. Option keys are
    case-insensitive: ``versionAsOf`` pins a version, ``timestampAsOf``
    (epoch seconds) the version current at that time."""
    opts = {k.lower(): v for k, v in options.items()}
    v = opts.pop("versionasof", None)
    ts = opts.pop("timestampasof", None)
    if opts:
        raise ValueError(f"unknown manifest read options {sorted(opts)}")
    if v is not None and ts is not None:
        raise ValueError("pass versionAsOf or timestampAsOf, not both")
    return mf.read_table(
        spark, table,
        version=None if v is None else int(v),
        as_of_ts=None if ts is None else float(ts),
    )


def register_view(spark, name: str, table: str, **options) -> None:
    """Register ``name`` as a temp view over the manifest table, so any
    subsequent ``spark.sql("SELECT ... FROM name")`` reads the snapshot
    with zero bespoke code (``versionAsOf=``/``timestampAsOf=`` pin a
    historical one)."""
    read_manifest_batch(spark, table, **options).createOrReplaceTempView(name)
