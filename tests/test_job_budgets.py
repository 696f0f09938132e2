"""Job-count budgets for the manifest inverted index (build → upsert →
search) at sf0.001: 500 documents, an 80/20 build/upsert split.

Job and codegen counts are deterministic for fixed inputs, unlike wall
time, so a reintroduced redundant action (an extra ``.first()``, a
metadata-only read job) fails here instead of hiding in timing noise.
The ceilings are the counts the current design runs; lower them when a
change removes jobs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.operators import retrieval
from cashback_data_pipeline_spark.sinks import manifest as M

SEARCH_MAX_JOBS = 4
UPSERT_MAX_JOBS = 11
TERMS = ["data", "model", "the"]


def _jobs_submitted(spark) -> int:
    """Jobs the scheduler has accepted so far, from every thread and job
    group (the upsert's store writes run on a thread pool)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _classes_compiled(spark) -> int:
    """Generated classes Janino has compiled in this JVM (a codegen
    cache hit compiles nothing)."""
    cg = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return cg.METRIC_COMPILATION_TIME().getCount()


def _sequence(spark, docs, table: str) -> dict[str, int]:
    """Build → upsert → search on a fresh table; jobs per step."""
    steps = [
        ("build", lambda: retrieval.build_inverted_index_manifest(
            docs.filter(F.col("doc_id") % 5 != 0), table)),
        ("upsert", lambda: retrieval.upsert_inverted_index(
            docs.filter(F.col("doc_id") % 5 == 0), table, delta_id="d1")),
        ("search", lambda: retrieval.search_inverted_index_manifest(
            spark, table, TERMS, k=10).collect()),
    ]
    jobs = {}
    for name, fn in steps:
        before = _jobs_submitted(spark)
        fn()
        jobs[name] = _jobs_submitted(spark) - before
    return jobs


@pytest.fixture(scope="module")
def runs(spark, sf_dir, tmp_path_factory):
    """The sequence twice on fresh tables, with the jobs that run inside
    ``read_store`` counted. A store read is lazy, so any job there is
    metadata work: Spark inferring the schema from file footers."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    read_jobs = [0]
    real_read_store = M.read_store

    def counting_read_store(*args, **kwargs):
        before = _jobs_submitted(spark)
        try:
            return real_read_store(*args, **kwargs)
        finally:
            read_jobs[0] += _jobs_submitted(spark) - before

    out = []
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(M, "read_store", counting_read_store)
        for i in range(2):
            compiled = _classes_compiled(spark)
            jobs = _sequence(spark, docs, str(tmp_path_factory.mktemp("idx") / "inv"))
            out.append(
                {"jobs": jobs, "compiled": _classes_compiled(spark) - compiled,
                 "read_jobs": read_jobs[0]}
            )
            read_jobs[0] = 0
    return out


def test_store_reads_run_no_footer_inference_jobs(runs):
    assert [r["read_jobs"] for r in runs] == [0, 0]


def test_search_job_budget(runs):
    for r in runs:
        assert r["jobs"]["search"] <= SEARCH_MAX_JOBS, r["jobs"]


def test_upsert_job_budget(runs):
    for r in runs:
        assert r["jobs"]["upsert"] <= UPSERT_MAX_JOBS, r["jobs"]


def test_repeated_sequence_compiles_no_new_classes(runs):
    """The second pass plans the same queries: every generated class is
    a codegen-cache hit (``ENGINE_CONF`` sizes the cache for it)."""
    assert runs[1]["compiled"] == 0, runs
    assert runs[1]["jobs"] == runs[0]["jobs"]
