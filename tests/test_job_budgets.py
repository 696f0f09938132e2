"""Job-count budgets for the manifest inverted index (build → upsert →
search) at sf0.001: 500 documents, an 80/20 build/upsert split; for the
manifest IVF index (build → upsert → query) over the 500 sf0.001
embeddings, the same split, 16 centroids and 10 queries; for the
curate-corpus write of the corpus benchmark over the 500 documents; for
five rounds of BPE merge training over the same documents; for a
date-range SQL aggregate over a registered manifest view; and for every
manifest writer on a 600-row serving-shaped and a bloom-indexed table.

Job and codegen counts are deterministic for fixed inputs, unlike wall
time, so a reintroduced redundant action (an extra ``.first()``, a
metadata-only read job) fails here instead of hiding in timing noise.
The ceilings are the counts the current design runs; lower them when a
change removes jobs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.operators import dedup, retrieval, similarity, text
from cashback_data_pipeline_spark.sinks import manifest as M
from cashback_data_pipeline_spark.sinks import writers
from cashback_data_pipeline_spark.sources import manifest_source, read_testdata
from tests.scans import file_scans, scanned_files

SEARCH_MAX_JOBS = 4
UPSERT_MAX_JOBS = 11
IVF_BUILD_MAX_JOBS = 7
IVF_UPSERT_MAX_JOBS = 7
IVF_QUERY_MAX_JOBS = 6
CURATE_MAX_JOBS = 24
BPE_MAX_JOBS = 17
SQL_VIEW_MAX_JOBS = 2
# writer -> (ceiling on the serving shape: partitioned by day with
# stats on k; ceiling on the bloom shape: unpartitioned, bloom on k)
WRITER_MAX_JOBS = {
    "write_table overwrite": (1, 3),
    "write_table append": (1, 3),
    "append_table_if_absent": (9, 11),
    "delete_where copy_on_write": (1, 3),
    "update_where": (1, 3),
    "upsert_table": (8, 10),
    "merge_table": (9, 11),
    "delete_keys": (5, 7),
    "delete_where merge_on_read": (4, 4),
    "optimize_table": (6, 8),
    "compact_table": (1, 3),
    "stage_commit": (1, 3),
}
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


def _inverted_steps(spark, docs, table: str) -> list:
    return [
        ("build", lambda: retrieval.build_inverted_index_manifest(
            docs.filter(F.col("doc_id") % 5 != 0), table)),
        ("upsert", lambda: retrieval.upsert_inverted_index(
            docs.filter(F.col("doc_id") % 5 == 0), table, delta_id="d1")),
        ("search", lambda: retrieval.search_inverted_index_manifest(
            spark, table, TERMS, k=10).collect()),
    ]


def _ivf_steps(spark, emb, table: str) -> list:
    return [
        ("build", lambda: similarity.ivf_build_index_manifest(
            emb.filter(F.col("vec_id") % 5 != 0), table, n_centroids=16)),
        ("upsert", lambda: similarity.upsert_ivf_index(
            emb.filter(F.col("vec_id") % 5 == 0), table, delta_id="d1")),
        ("query", lambda: similarity.ivf_query_index_manifest(
            spark, table, emb.filter(F.col("vec_id") < 10), n_probe=4, k=5).collect()),
    ]


def _sequence(spark, steps) -> dict[str, int]:
    """Run the steps on a fresh table; jobs per step."""
    jobs = {}
    for name, fn in steps:
        before = _jobs_submitted(spark)
        fn()
        jobs[name] = _jobs_submitted(spark) - before
    return jobs


def _run_twice(spark, steps_for, tmp_path_factory) -> list[dict]:
    """The sequence twice on fresh tables, with the jobs that run inside
    ``read_store`` counted. A store read is lazy, so any job there is
    metadata work: Spark inferring the schema from file footers."""
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
            jobs = _sequence(spark, steps_for(str(tmp_path_factory.mktemp("idx") / "idx")))
            out.append(
                {"jobs": jobs, "compiled": _classes_compiled(spark) - compiled,
                 "read_jobs": read_jobs[0]}
            )
            read_jobs[0] = 0
    return out


@pytest.fixture(scope="module")
def runs(spark, sf_dir, tmp_path_factory):
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    return _run_twice(spark, lambda t: _inverted_steps(spark, docs, t), tmp_path_factory)


@pytest.fixture(scope="module")
def ivf_runs(spark, sf_dir, tmp_path_factory):
    emb = read_testdata(spark, sf_dir, "embeddings")
    return _run_twice(spark, lambda t: _ivf_steps(spark, emb, t), tmp_path_factory)


def test_store_reads_run_no_footer_inference_jobs(runs, ivf_runs):
    assert [r["read_jobs"] for r in runs] == [0, 0]
    assert [r["read_jobs"] for r in ivf_runs] == [0, 0]


def test_search_job_budget(runs):
    for r in runs:
        assert r["jobs"]["search"] <= SEARCH_MAX_JOBS, r["jobs"]


def test_upsert_job_budget(runs):
    for r in runs:
        assert r["jobs"]["upsert"] <= UPSERT_MAX_JOBS, r["jobs"]


@pytest.mark.parametrize(
    "step,ceiling",
    [("build", IVF_BUILD_MAX_JOBS), ("upsert", IVF_UPSERT_MAX_JOBS), ("query", IVF_QUERY_MAX_JOBS)],
)
def test_ivf_job_budget(ivf_runs, step, ceiling):
    for r in ivf_runs:
        assert r["jobs"][step] <= ceiling, r["jobs"]


def test_repeated_sequence_compiles_no_new_classes(runs):
    """The second pass plans the same queries: every generated class is
    a codegen-cache hit (``ENGINE_CONF`` sizes the cache for it)."""
    assert runs[1]["compiled"] == 0, runs
    assert runs[1]["jobs"] == runs[0]["jobs"]


def _index_write(name, spark, sf_dir, table):
    """The pooled store writes of one index path; returns the call that
    runs them (setup excluded)."""
    if name == "inverted_upsert":
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        retrieval.build_inverted_index_manifest(
            docs.filter(F.col("doc_id") % 5 != 0), table
        )
        return lambda: retrieval.upsert_inverted_index(
            docs.filter(F.col("doc_id") % 5 == 0), table, delta_id="d1"
        )
    emb = read_testdata(spark, sf_dir, "embeddings")
    return lambda: similarity.ivf_build_index_manifest(emb, table, n_centroids=4)


@pytest.mark.parametrize("name", ["inverted_upsert", "ivf_build"])
def test_pooled_store_writes_charged_to_caller_job_group(spark, sf_dir, tmp_path, name):
    """Jobs the index commits submit from their store-write thread pool
    belong to the caller's job group, so per-group counts see all of
    them."""
    run = _index_write(name, spark, sf_dir, str(tmp_path / "idx"))
    sc = spark.sparkContext
    group = f"job-group-{name}"
    before = _jobs_submitted(spark)
    sc.setJobGroup(group, name)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    total = _jobs_submitted(spark) - before
    assert total > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == total


def test_curate_corpus_job_budget(spark, sf_dir, tmp_path):
    """Exact dedup → prefix-filter near-dup drop → quality gate →
    partitioned warehouse write, as the corpus benchmark's curate_corpus
    operation runs it."""
    docs = read_testdata(spark, sf_dir, "documents")
    before = _jobs_submitted(spark)
    exact_kept = dedup.dedup_exact_by_fingerprint(docs)
    pairs = dedup.ngram_jaccard_pairs_prefix(
        exact_kept, n=1, threshold=0.75, block_cols=["lang"], bag=True
    )
    near_drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    quality = text.quality_score("text")
    writers.write_warehouse(
        exact_kept.join(near_drop, on="doc_id", how="left_anti")
        .filter(quality >= 0.5)
        .select("doc_id", "lang", "n_chars", (F.floor(quality * 1000000 + 0.5) / 1000000).alias("quality")),
        str(tmp_path / "curated"),
        partition_by="lang",
    )
    jobs = _jobs_submitted(spark) - before
    assert jobs <= CURATE_MAX_JOBS, jobs


def test_bpe_train_merges_job_budget(spark, sf_dir):
    """Five merge rounds: each round's checkpoint job also observes the
    round's symbol total (``corpus_tokens_after``), so a round runs no
    separate aggregate job; the learned table is a local relation whose
    collect runs none."""
    docs = read_testdata(spark, sf_dir, "documents")
    before = _jobs_submitted(spark)
    merges = text.bpe_train_merges(docs, n_merges=5).collect()
    jobs = _jobs_submitted(spark) - before
    assert len(merges) == 5
    assert jobs <= BPE_MAX_JOBS, jobs


def test_sql_view_date_range_budget(spark, tmp_path):
    """A date-range aggregate through ``register_view`` runs as a JVM
    Parquet scan (no Python data-source scan) whose file index drops
    the partitions the range excludes."""
    t = str(tmp_path / "t")
    df = spark.range(600).selectExpr(
        "id AS k",
        "date_add(DATE'2024-01-01', CAST(id % 6 AS INT)) AS day",
        "CAST(id AS DOUBLE) AS amount",
    )
    M.write_table(df, t, partition_by=["day"])
    n_files = len(M.read_manifest(t, M.current_version(t))["files"])
    manifest_source.register_view(spark, "budget_mt", t)
    try:
        q = spark.sql(
            "SELECT count(*) AS n, sum(amount) AS s FROM budget_mt "
            "WHERE day >= DATE'2024-01-02' AND day < DATE'2024-01-04'"
        )
        before = _jobs_submitted(spark)
        row = q.collect()[0]
        jobs = _jobs_submitted(spark) - before
    finally:
        spark.catalog.dropTempView("budget_mt")
    assert (row["n"], row["s"]) == (200, float(sum(i for i in range(600) if i % 6 in (1, 2))))
    assert jobs <= SQL_VIEW_MAX_JOBS, jobs
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BatchScan" not in plan and "PythonDataSource" not in plan, plan
    assert file_scans(q), plan
    assert scanned_files(q) < n_files, (scanned_files(q), n_files)


def _rows(spark, lo: int, hi: int):
    return spark.range(lo, hi).selectExpr(
        "id AS k",
        "date_add(DATE'2024-01-01', CAST(id % 6 AS INT)) AS day",
        "CAST(id AS DOUBLE) AS amount",
    )


def _writer_steps(spark, t: str, shape: str) -> list:
    """Every manifest writer, in order, on one table: the ``serving``
    shape is partitioned by ``day`` with stats on ``k``, the ``bloom``
    shape is unpartitioned with a bloom filter on ``k``. The keyed steps
    touch a few keys, so pruning leaves some files carried."""
    layout = (
        {"partition_by": ["day"], "stats_cols": ["k"]} if shape == "serving"
        else {"bloom_cols": ["k"]}
    )
    return [
        ("write_table overwrite", lambda: M.write_table(_rows(spark, 0, 600), t, **layout)),
        ("write_table append", lambda: M.write_table(_rows(spark, 600, 660), t, mode="append")),
        ("append_table_if_absent",
         lambda: M.append_table_if_absent(spark, _rows(spark, 650, 700), t, "k")),
        ("delete_where copy_on_write", lambda: M.delete_where(spark, t, [("k", "==", 5)])),
        ("update_where",
         lambda: M.update_where(spark, t, {"amount": "amount + 1"}, [("k", "==", 7)])),
        ("upsert_table",
         lambda: M.upsert_table(spark, _rows(spark, 10, 12).union(_rows(spark, 700, 702)), t, "k")),
        ("merge_table", lambda: M.merge_table(
            spark, _rows(spark, 14, 16).union(_rows(spark, 702, 704)), t, "k",
            when_matched=[("update", None, "*")], when_not_matched=[("insert", None, "*")])),
        ("delete_keys", lambda: M.delete_keys(spark, _rows(spark, 20, 22).select("k"), t, "k")),
        ("delete_where merge_on_read",
         lambda: M.delete_where(spark, t, [("k", "==", 30)], mode="merge_on_read")),
        ("optimize_table", lambda: M.optimize_table(spark, t)),
        ("compact_table", lambda: M.compact_table(spark, t, n_files=2)),
        ("stage_commit", lambda: M.publish_staged(
            t, M.stage_commit(_rows(spark, 800, 860), t))),
    ]


@pytest.fixture(scope="module")
def writer_jobs(spark, tmp_path_factory):
    """Jobs per writer step, per table shape."""
    return {
        shape: _sequence(
            spark, _writer_steps(spark, str(tmp_path_factory.mktemp("w") / "t"), shape)
        )
        for shape in ("serving", "bloom")
    }


@pytest.mark.parametrize("shape", ["serving", "bloom"])
@pytest.mark.parametrize("writer", list(WRITER_MAX_JOBS))
def test_manifest_writer_job_budget(writer_jobs, writer, shape):
    """The optimize step runs on a table with a deletion vector: it reads
    the tombstone relation once, for both its reclaim ratios and the
    dead-relation check. ``stage_commit`` (stage + publish) builds the
    bloom sidecar of its files on the bloom shape, like an append."""
    ceiling = WRITER_MAX_JOBS[writer][shape == "bloom"]
    assert writer_jobs[shape][writer] <= ceiling, writer_jobs[shape]
