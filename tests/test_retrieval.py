"""Lexical + hybrid retrieval operators vs independent pure-Python
references (BM25 per the Lucene formula, RRF per Cormack et al. 2009)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.operators import retrieval

TEXTS = [
    (0, "spark join hash join merge"),
    (1, "hash table scan and filter"),
    (2, "window agg over stream data"),
    (3, "join join join hash hash window"),
    (4, "completely unrelated words here"),
    (5, None),
    (6, ""),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def _ref_bm25(query_terms, k1=1.2, b=0.75):
    corpus = {i: (t.split(" ") if t else []) for i, t in TEXTS if t is not None}
    corpus = {i: [w for w in ws if w] for i, ws in corpus.items()}
    n = len(corpus)  # docs with non-null text
    avgdl = sum(len(ws) for ws in corpus.values()) / n
    df = {
        t: sum(1 for ws in corpus.values() if t in ws)
        for t in query_terms
    }
    scores = {}
    for i, ws in corpus.items():
        s = 0.0
        for t in sorted(set(query_terms)):
            tf = ws.count(t)
            if tf == 0 or df[t] == 0:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + (b * len(ws)) / avgdl))
        if s > 0:
            scores[i] = math.floor(s * 1_000_000 + 0.5) / 1_000_000
    return scores


def test_bm25_matches_reference(spark, docs):
    terms = ["hash", "window"]
    got = {r["doc_id"]: (r["score"], r["rank"]) for r in retrieval.bm25_topk(docs, terms, k=10).collect()}
    want = _ref_bm25(terms)
    assert {d: s for d, (s, _) in got.items()} == pytest.approx(want, abs=2e-6)
    # ranking: score desc, doc_id asc
    ranked = sorted(want.items(), key=lambda kv: (-kv[1], kv[0]))
    assert [d for d, _ in ranked] == [d for d, _ in sorted(got.items(), key=lambda kv: kv[1][1])]
    # docs matching nothing are absent
    assert 4 not in got and 5 not in got and 6 not in got


def test_bm25_repeated_query_terms_counted_once(spark, docs):
    a = {r["doc_id"]: r["score"] for r in retrieval.bm25_topk(docs, ["hash", "hash"], k=10).collect()}
    b = {r["doc_id"]: r["score"] for r in retrieval.bm25_topk(docs, ["hash"], k=10).collect()}
    assert a == b


def test_tfidf_keywords_basic(spark, docs):
    out = retrieval.tfidf_keywords(docs, k=2)
    rows = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf"]) for r in out.collect()}
    # doc 3's top keyword: 'join' (tf 3) vs 'hash' (tf 2) — both df 3
    assert rows[(3, 1)][0] == "join"
    # corpus-unique terms on doc 4 beat common ones everywhere
    assert rows[(4, 1)][1] > 0
    # a term present in EVERY doc has idf ln(1)=0
    every = spark.createDataFrame([(i, "x common") for i in range(3)], "doc_id long, text string")
    kw = {(r["doc_id"], r["term"]): r["tfidf"] for r in retrieval.tfidf_keywords(every, k=5).collect()}
    assert all(v == 0.0 for v in kw.values())


def test_rrf_fusion_reference(spark):
    a = spark.createDataFrame([(10, 1), (11, 2), (12, 3)], "doc_id long, rank int")
    b = spark.createDataFrame([(12, 1), (10, 2), (13, 3)], "doc_id long, rank int")
    got = {r["doc_id"]: (r["rrf_score"], r["rank"]) for r in retrieval.rrf_fuse(a, b, k=10).collect()}

    def q6(x):
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    want = {
        10: q6(1 / 61 + 1 / 62),
        11: q6(1 / 62),
        12: q6(1 / 63 + 1 / 61),
        13: q6(1 / 63),
    }
    assert {d: s for d, (s, _) in got.items()} == want
    order = [d for d, _ in sorted(got.items(), key=lambda kv: kv[1][1])]
    # 10: 1/61+1/62 ≈ .032523 beats 12: 1/63+1/61 ≈ .032266
    assert order == [10, 12, 11, 13]  # fused score desc, then doc_id


def test_inverted_index_search_equals_full_scan_bm25(spark, docs, tmp_path):
    """The persisted index is a pure access-path change: identical
    scores and ranks to bm25_topk, and the postings scan prunes to the
    query terms' partitions."""
    path = str(tmp_path / "idx")
    retrieval.build_inverted_index(docs, path, n_term_buckets=8)
    terms = ["hash", "window"]
    via_index = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.search_inverted_index(spark, path, terms, k=10).collect()
    }
    via_scan = {
        r["doc_id"]: (r["score"], r["rank"]) for r in retrieval.bm25_topk(docs, terms, k=10).collect()
    }
    assert via_index == via_scan and via_index
    # partition pruning: the postings scan carries a term_bucket filter
    plan = (
        retrieval.search_inverted_index(spark, path, terms, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [term_bucket" in plan


def test_inverted_index_empty_corpus(spark, tmp_path):
    path = str(tmp_path / "idx")
    empty = spark.createDataFrame([(1, None)], "doc_id long, text string")
    retrieval.build_inverted_index(empty, path)
    out = retrieval.search_inverted_index(spark, path, ["hash"], k=5)
    assert out.count() == 0


# ---------------------------------------------------------------------------
# Incremental manifest-committed index (VERDICT r5 item 2)
# ---------------------------------------------------------------------------

def _search_m(spark, table, terms, version=None):
    return {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.search_inverted_index_manifest(
            spark, table, terms, k=10, version=version
        ).collect()
    }


@pytest.fixture(params=["local", "hadoop-fs"])
def index_store_prefix(request):
    """Run the end-to-end incremental-index path on both LogStores
    (VERDICT r6 #1): plain path → O_EXCL-link CAS, file:// URI → Hadoop
    FileContext rename CAS through the Spark JVM."""
    return "" if request.param == "local" else "file://"


def test_incremental_index_upsert_matches_full_scan(spark, docs, tmp_path, index_store_prefix):
    """Base build + delta upsert must score identically to full-scan
    BM25 over base+delta (df/avgdl/stats refreshed, postings appended)."""
    table = index_store_prefix + str(tmp_path / "idx_m")
    base = docs.filter(F.col("doc_id") < 3)
    delta = docs.filter(F.col("doc_id") >= 3)
    v1 = retrieval.build_inverted_index_manifest(base, table, n_term_buckets=8)
    assert v1 == 1
    v2 = retrieval.upsert_inverted_index(delta, table, delta_id="crawl-1")
    assert v2 == 2
    terms = ["hash", "window"]
    assert _search_m(spark, table, terms) == {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.bm25_topk(docs, terms, k=10).collect()
    }
    # time travel: the pre-delta version still answers from base only
    assert _search_m(spark, table, terms, version=v1) == {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.bm25_topk(base, terms, k=10).collect()
    }


def test_incremental_index_replay_is_noop(spark, docs, tmp_path):
    """The same delta twice = no-op: via delta_id (metadata check) AND
    via the id anti-join when no delta_id is given."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "idx_m")
    base = docs.filter(F.col("doc_id") < 3)
    delta = docs.filter(F.col("doc_id") >= 3)
    retrieval.build_inverted_index_manifest(base, table, n_term_buckets=8)
    retrieval.upsert_inverted_index(delta, table, delta_id="crawl-1")
    before = _search_m(spark, table, ["hash", "window"])

    assert retrieval.upsert_inverted_index(delta, table, delta_id="crawl-1") is None
    assert retrieval.upsert_inverted_index(delta, table) is None  # id anti-join path
    assert M.current_version(table) == 2  # zero version churn
    assert _search_m(spark, table, ["hash", "window"]) == before


def test_incremental_index_partial_redelivery(spark, docs, tmp_path):
    """A delta mixing redelivered and new ids adds only the new docs."""
    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(
        docs.filter(F.col("doc_id") < 3), table, n_term_buckets=8
    )
    mixed = docs.filter((F.col("doc_id") == 2) | (F.col("doc_id") == 3))
    assert retrieval.upsert_inverted_index(mixed, table) == 2
    want = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.bm25_topk(docs.filter(F.col("doc_id") <= 3), ["hash"], k=10).collect()
    }
    assert _search_m(spark, table, ["hash"]) == want


def test_incremental_index_reader_pinned_across_upsert(spark, docs, tmp_path):
    """A search resolved at version N is unaffected by a concurrent
    upsert committing N+1 (manifest reader-pinning contract)."""
    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(
        docs.filter(F.col("doc_id") < 3), table, n_term_buckets=8
    )
    pinned = retrieval.search_inverted_index_manifest(spark, table, ["hash"], k=10, version=1)
    retrieval.upsert_inverted_index(docs.filter(F.col("doc_id") >= 3), table)
    got = {r["doc_id"]: (r["score"], r["rank"]) for r in pinned.collect()}
    want = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.bm25_topk(docs.filter(F.col("doc_id") < 3), ["hash"], k=10).collect()
    }
    assert got == want


def test_incremental_index_empty_and_null_deltas(spark, docs, tmp_path):
    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(
        docs.filter(F.col("doc_id") < 3), table, n_term_buckets=8
    )
    null_only = spark.createDataFrame([(99, None)], "doc_id long, text string")
    assert retrieval.upsert_inverted_index(null_only, table) is None
    # empty-text doc registers (dl=0) and later redelivery is a no-op
    empty_text = spark.createDataFrame([(98, "")], "doc_id long, text string")
    assert retrieval.upsert_inverted_index(empty_text, table) == 2
    assert retrieval.upsert_inverted_index(empty_text, table) is None


def test_compact_inverted_index_preserves_search_and_replay(spark, docs, tmp_path):
    """After several per-epoch delta commits, compaction must collapse
    each bucket to one sorted file as a new version, leave search
    hash-identical, keep delta replays no-ops, and not disturb pinned
    readers."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(
        docs.filter(F.col("doc_id") < 2), table, n_term_buckets=8, delta_id="e0"
    )
    retrieval.upsert_inverted_index(docs.filter(F.col("doc_id") == 2), table, delta_id="e1")
    retrieval.upsert_inverted_index(docs.filter(F.col("doc_id") >= 3), table, delta_id="e2")
    before = _search_m(spark, table, ["hash", "window"])
    v0 = M.current_version(table)
    n_files_before = len(M.store_files(M.read_manifest(table, v0), "postings"))

    v = retrieval.compact_inverted_index(spark, table)
    assert v == v0 + 1
    m = M.read_manifest(table, v)
    n_files_after = len(M.store_files(m, "postings"))
    assert n_files_after < n_files_before  # per-epoch fragments collapsed
    # one file per populated bucket
    import re

    buckets = [re.search(r"term_bucket=(\d+)", f).group(1) for f in M.store_files(m, "postings")]
    assert len(buckets) == len(set(buckets))

    assert _search_m(spark, table, ["hash", "window"]) == before
    # delta replays remain no-ops after compaction (delta_ids carried)
    assert retrieval.upsert_inverted_index(
        docs.filter(F.col("doc_id") == 2), table, delta_id="e1"
    ) is None
    # pinned reader on the pre-compaction version still answers
    assert _search_m(spark, table, ["hash", "window"], version=v0) == before


def test_incremental_index_in_batch_duplicate_ids(spark, docs, tmp_path):
    """An at-least-once upstream can deliver one doc twice IN THE SAME
    delta: tf/dl must not double-count and doclens must register one row
    per id."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(
        docs.filter(F.col("doc_id") < 3), table, n_term_buckets=8
    )
    dup_delta = docs.filter(F.col("doc_id") == 3).unionByName(
        docs.filter(F.col("doc_id") == 3)
    )
    retrieval.upsert_inverted_index(dup_delta, table)
    assert _search_m(spark, table, ["hash", "window"]) == {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.bm25_topk(docs.filter(F.col("doc_id") <= 3), ["hash", "window"], k=10).collect()
    }
    dl = M.read_store(spark, table, "doclens")
    assert dl.filter(F.col("doc_id") == 3).count() == 1


def test_incremental_index_superseded_stats_are_vacuumable(spark, docs, tmp_path):
    """Review-pass finding: superseded termstats used to share a
    data dir with live postings, making them unreclaimable forever. With
    their own commit dirs, vacuum sweeps them once the retention horizon
    passes — and the current version still searches."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(
        docs.filter(F.col("doc_id") < 2), table, n_term_buckets=8
    )
    retrieval.upsert_inverted_index(docs.filter(F.col("doc_id") == 2), table)
    retrieval.upsert_inverted_index(docs.filter(F.col("doc_id") >= 3), table)
    before = _search_m(spark, table, ["hash", "window"])

    removed = M.vacuum(table, keep_last=1, min_age_s=0.0)
    assert removed  # v1/v2's superseded termstats dirs reclaimed
    assert _search_m(spark, table, ["hash", "window"]) == before
    # live postings/doclens dirs were NOT touched (still referenced)
    cur = M.current_version(table)
    m = M.read_manifest(table, cur)
    import os

    for f in m["files"]:
        assert os.path.exists(os.path.join(table, f))


def test_search_with_no_terms_returns_empty_topk(spark, docs, tmp_path):
    """No query terms hash to no buckets without building a ``SELECT``
    with no projections; the search answers with the empty top-k."""
    assert retrieval._bucket_ids(spark, [], 8) == set()
    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(docs, table, n_term_buckets=8)
    out = retrieval.search_inverted_index_manifest(spark, table, [], k=10)
    assert out.collect() == [] and out.columns == ["doc_id", "score", "rank"]


def test_index_commits_record_store_schemas_spark_would_infer(spark, docs, tmp_path):
    """Every index commit (build, upsert, compaction) records a read
    schema per store, equal to the schema Spark infers from that store's
    files, and keeps the corpus stats in its meta instead of a store."""
    import os

    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(
        docs.filter(F.col("doc_id") < 3), table, n_term_buckets=8
    )
    retrieval.upsert_inverted_index(docs.filter(F.col("doc_id") >= 3), table)
    retrieval.compact_inverted_index(spark, table)
    for v in (1, 2, 3):
        m = M.read_manifest(table, v)
        recorded = m["meta"]["store_schemas"]
        assert set(recorded) == {"postings", "doclens", "termstats"}
        for store, schema in recorded.items():
            paths = [os.path.join(table, f) for f in M.store_files(m, store)]
            assert M._store_struct(schema) == spark.read.parquet(*paths).schema
        assert not M.store_files(m, "stats")
    assert M.read_manifest(table, 3)["meta"]["corpus"] == {"n_docs": 6, "total_tokens": 25}


def test_index_with_legacy_stats_store_searches_and_upserts(spark, docs, tmp_path):
    """An index committed before the corpus stats moved into the commit
    meta keeps them in a one-row ``stats`` store and records no store
    schemas: it still searches, and its next upsert moves the stats into
    the meta and drops the store."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "idx_m")
    retrieval.build_inverted_index_manifest(
        docs.filter(F.col("doc_id") < 3), table, n_term_buckets=8
    )
    m = M.read_manifest(table, 1)
    corpus = m["meta"]["corpus"]
    stats = spark.createDataFrame(
        [(corpus["n_docs"], corpus["total_tokens"])], "n_docs long, total_tokens long"
    )
    files = m["files"] + M.write_store_files(stats, table, M.new_commit_id(), "stats")
    legacy_meta = {"layout": m["meta"]["layout"], "delta_ids": []}
    assert M._try_commit(table, 2, files, 1, m["schema"], meta=legacy_meta)
    terms = ["hash", "window"]
    assert _search_m(spark, table, terms, version=2) == _search_m(spark, table, terms, version=1)

    assert retrieval.upsert_inverted_index(docs.filter(F.col("doc_id") >= 3), table) == 3
    m3 = M.read_manifest(table, 3)
    assert not M.store_files(m3, "stats") and "corpus" in m3["meta"]
    assert _search_m(spark, table, terms) == {
        r["doc_id"]: (r["score"], r["rank"])
        for r in retrieval.bm25_topk(docs, terms, k=10).collect()
    }


def test_bm25_script_mode_retrieves_cjk(spark):
    """VERDICT r10 item 7 follow-through: BM25 with mode='script' hits
    CJK query characters that whitespace tokenization can never index."""
    from cashback_data_pipeline_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (0, "我爱数据管道"),
            (1, "他不喜欢延迟"),
            (2, "plain english text"),
        ],
        "doc_id long, text string",
    )
    hit = retrieval.bm25_topk(docs, ["数"], k=3, mode="script").collect()
    assert [r["doc_id"] for r in hit] == [0]
    # whitespace mode can't see inside the unspaced line — no hits
    assert retrieval.bm25_topk(docs, ["数"], k=3).count() == 0
    kw = retrieval.tfidf_keywords(docs.filter("doc_id = 0"), k=3, mode="script")
    assert all(len(r["term"]) == 1 for r in kw.collect())
