"""Checkpoint lifetimes: every operator that checkpoints an intermediate
leaves the session's persisted-RDD set as it found it once its result is
consumed, except for the one pinned checkpoint a large result is handed
over as, which the caller releases (``session.CheckpointScope``).

Each case is set up (untimed state such as a prebuilt index) before the
baseline is read, then run and consumed at sf0.001. The pinned-result
branch is forced by lowering ``SMALL_RESULT_ROWS`` below any row count.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cashback_data_pipeline_spark import queries as Q
from cashback_data_pipeline_spark import session
from cashback_data_pipeline_spark.operators import curation, dedup, multimodal, retrieval, similarity, text
from cashback_data_pipeline_spark.session import checkpoint_scope, checkpointed_rdd_id, persistent_rdd_ids
from cashback_data_pipeline_spark.sources import read_testdata


def _chain(spark, n: int) -> DataFrame:
    """Edges of a path graph 0-1-...-(n-1)."""
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")


def _build_index(docs, table):
    retrieval.build_inverted_index_manifest(docs.filter(F.col("doc_id") % 5 != 0), table)
    return lambda: retrieval.upsert_inverted_index(
        docs.filter(F.col("doc_id") % 5 == 0), table, delta_id="d1"
    )


def _build_ivf(emb, table, query: bool):
    if query:
        similarity.ivf_build_index_manifest(emb, table, n_centroids=8)
        return lambda: similarity.ivf_query_index_manifest(
            emb.sparkSession, table, emb.filter(F.col("vec_id") < 10), n_probe=2, k=5
        )
    similarity.ivf_build_index_manifest(emb.filter(F.col("vec_id") % 5 != 0), table, n_centroids=8)
    return lambda: similarity.upsert_ivf_index(
        emb.filter(F.col("vec_id") % 5 == 0), table, delta_id="d1"
    )


# name -> (setup(spark, docs, emb, table, sf_dir) -> call, result handed over when large)
CASES = {
    "ngram_jaccard_pairs": (
        lambda s, d, e, t, sf: lambda: dedup.ngram_jaccard_pairs(d, threshold=0.6), True),
    "ngram_jaccard_pairs_prefix": (
        lambda s, d, e, t, sf: lambda: dedup.ngram_jaccard_pairs_prefix(
            d, threshold=0.75, block_cols=["lang"]), True),
    "ngram_containment_pairs": (
        lambda s, d, e, t, sf: lambda: dedup.ngram_containment_pairs(d, threshold=0.9), True),
    "minhash_lsh_candidates": (
        lambda s, d, e, t, sf: lambda: dedup.minhash_lsh_candidates(d), True),
    "minhash_near_dups": (
        lambda s, d, e, t, sf: lambda: dedup.minhash_near_dups(d, threshold=0.5), True),
    "simhash_near_dups": (
        lambda s, d, e, t, sf: lambda: dedup.simhash_near_dups(d), True),
    "connected_components": (
        lambda s, d, e, t, sf: lambda: dedup.connected_components(_chain(s, 40)), True),
    "unigram_surprisal": (
        lambda s, d, e, t, sf: lambda: curation.unigram_surprisal(d), True),
    "semantic_dedup_memberships_2": (
        lambda s, d, e, t, sf: lambda: similarity.semantic_dedup(e, memberships=2, threshold=0.5), True),
    "hamming_band_pairs": (
        lambda s, d, e, t, sf: lambda: multimodal.hamming_band_pairs(
            d.select(F.col("doc_id").alias("id"), F.xxhash64(F.col("doc_id") % 97).alias("h")), "h"),
        True),
    "curate_corpus": (
        lambda s, d, e, t, sf: lambda: Q.QUERIES["curate_corpus"](s, sf), True),
    "ivf_query_index_manifest": (
        lambda s, d, e, t, sf: _build_ivf(e, t, query=True), False),
    "upsert_inverted_index": (
        lambda s, d, e, t, sf: _build_index(d, t), False),
    "upsert_ivf_index": (
        lambda s, d, e, t, sf: _build_ivf(e, t, query=False), False),
    "bpe_train_merges": (
        lambda s, d, e, t, sf: lambda: text.bpe_train_merges(d.limit(50), 3), False),
}


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    docs = read_testdata(spark, sf_dir, "documents")
    emb = read_testdata(spark, sf_dir, "embeddings")
    return docs, emb


def _run_and_release(spark, sf_dir, corpus, tmp_path, name):
    """Run one case and consume its result; returns (blocks left beyond
    the baseline, the result, the baseline)."""
    docs, emb = corpus
    call = CASES[name][0](spark, docs, emb, str(tmp_path / "t"), sf_dir)
    before = persistent_rdd_ids(spark)
    out = call()
    if isinstance(out, DataFrame):
        out.collect()
    return persistent_rdd_ids(spark) - before, out, before


def _release_pin(spark, left: set, out) -> None:
    """A large result is handed over as exactly one pinned checkpoint:
    the result itself. The caller releases it by adopting it."""
    assert isinstance(out, DataFrame) and left == {checkpointed_rdd_id(out)}, left
    with checkpoint_scope(spark) as scope:
        scope.adopt(out)


@pytest.mark.parametrize("name", list(CASES))
def test_operator_leaves_no_checkpoint_behind(spark, sf_dir, corpus, tmp_path, name):
    left, out, before = _run_and_release(spark, sf_dir, corpus, tmp_path, name)
    if left:  # a result over SMALL_RESULT_ROWS (minhash candidates at sf0.001)
        _release_pin(spark, left, out)
    assert persistent_rdd_ids(spark) - before == set()


@pytest.mark.parametrize("name", [n for n, (_, pins) in CASES.items() if pins])
def test_large_result_is_the_one_pin_handed_over(spark, sf_dir, corpus, tmp_path, monkeypatch, name):
    monkeypatch.setattr(session, "SMALL_RESULT_ROWS", -1)
    left, out, before = _run_and_release(spark, sf_dir, corpus, tmp_path, name)
    _release_pin(spark, left, out)
    assert persistent_rdd_ids(spark) - before == set()


def test_empty_ivf_build_releases_on_error(spark, corpus, tmp_path):
    _, emb = corpus
    before = persistent_rdd_ids(spark)
    with pytest.raises(ValueError, match="empty corpus"):
        similarity.ivf_build_index_manifest(
            emb.filter(F.lit(False)), str(tmp_path / "ivf"), n_centroids=4
        )
    assert persistent_rdd_ids(spark) - before == set()


def test_unconverged_components_release_on_error(spark):
    before = persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(_chain(spark, 64), max_iter=1)
    assert persistent_rdd_ids(spark) - before == set()


def test_bystander_checkpoint_survives(spark, corpus):
    """A checkpoint persisted outside the operators (a concurrent job's,
    on a shared session) is neither released nor disturbed by them."""
    docs, _ = corpus
    bystander = spark.range(50).selectExpr("id", "id * 3 AS y").localCheckpoint()
    bystander_id = checkpointed_rdd_id(bystander)
    before = persistent_rdd_ids(spark)
    assert bystander_id in before
    dedup.connected_components(_chain(spark, 20)).collect()
    dedup.simhash_near_dups(docs).collect()
    after = persistent_rdd_ids(spark)
    assert after - before == set()
    assert bystander_id in after
    assert bystander.agg(F.sum("y")).first()[0] == 3 * sum(range(50))
    with checkpoint_scope(spark) as scope:
        scope.adopt(bystander)
    assert bystander_id not in persistent_rdd_ids(spark)


def test_scope_releases_early_and_on_exit(spark):
    """``release`` frees one checkpoint at once; leaving the block frees
    the rest; ``rows`` is the count observed while checkpointing."""
    before = persistent_rdd_ids(spark)
    with checkpoint_scope(spark) as scope:
        a = scope.checkpoint(spark.range(7))
        b = scope.checkpoint(spark.range(3))
        assert (scope.rows(a), scope.rows(b)) == (7, 3)
        assert persistent_rdd_ids(spark) - before == {checkpointed_rdd_id(a), checkpointed_rdd_id(b)}
        scope.release(a)
        assert persistent_rdd_ids(spark) - before == {checkpointed_rdd_id(b)}
    assert persistent_rdd_ids(spark) - before == set()


def test_small_result_is_driver_local(spark):
    before = persistent_rdd_ids(spark)
    with checkpoint_scope(spark) as scope:
        base = scope.checkpoint(spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) / 4 AS v"))
        out = scope.result(base.filter("id % 2 = 0"))
    assert persistent_rdd_ids(spark) - before == set()
    assert sorted(tuple(r) for r in out.collect()) == [(i, i / 4) for i in range(0, 10, 2)]
    assert out.schema.simpleString() == "struct<id:bigint,v:double>"


def test_scope_module_is_the_only_checkpoint_site():
    """``localCheckpoint`` and the raw release handles live in session.py
    only; every operator goes through the scope."""
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "cashback_data_pipeline_spark")
    offenders = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py") or (f == "session.py" and dirpath == root):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                src = fh.read()
            for token in ("localCheckpoint(", "checkpointed_rdd_id", "unpersist_rdd_ids"):
                if token in src:
                    offenders.append((os.path.relpath(path, root), token))
    assert offenders == []
