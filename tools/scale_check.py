"""Empirical scale validation (VERDICT r3 item 4).

SCALE.md's 100 TB arguments are plan-derived; this tool validates the
exponents empirically: it generates corpus-shaped documents/embeddings
tables (testgen.gen_documents / gen_embeddings — same vocabulary, length
distribution, near-dup structure as the driver's testdata) at two scales
(default 1× = the sf0.1 corpus size, and 10×), times the scale-path
operators at each, and reports the measured scaling exponent
``log(t_hi/t_lo) / log(hi/lo)`` per operator.

Expected exponents: ≈1 (linear) for the map/LSH/simhash/IVF paths; >1
for the inverted-index Jaccard path (Σdf² candidate volume) — see
SCALE.md "Empirical scale validation" for the recorded table.

Usage:
    python tools/scale_check.py [--scales 1,10] [--ops name,name,...]

Writes SCALE_CHECK.json at the repo root and prints one JSON line.
Generated parquet lands under .scaledata/ (gitignored); other testdata
tables are not needed — every validated operator reads only
documents/embeddings.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
import time

for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cashback_data_pipeline_spark.session import get_spark, release_all  # noqa: E402

# Base corpus sizes at scale 1× — chosen to equal the driver's sf0.1
# documents/embeddings tables so 1× timings are comparable to bench.py.
BASE_DOCS = 5_000
BASE_VECS = 2_000

# Scale-path operators: every query here reads ONLY documents.parquet /
# embeddings.parquet from sf_dir, so the generated dirs satisfy them.
#
# Excluded as corpus-pathological, NOT engine-pathological (same
# rationale as bench.py's curate_corpus/dedup_clusters exclusion): on
# the 31-word-vocabulary corpus every long document's unigram token SET
# approaches the full vocabulary, so unigram Jaccard ≈ 1 for most long
# pairs and the TRUE answer is quadric-sized — `near_dup_jaccard`
# (unigram inverted index) and `minhash_lsh_near_dups` (unigram LSH:
# most docs share one signature → one hot bucket) measure the data
# degeneration, not the engine (the 10× run produced 820 MB hot-bucket
# partitions before the max_bucket_size cap existed). The trigram
# variants below are the engine's designated scale paths and stay in.
DEFAULT_OPS = [
    # dedup family
    "dedup_exact_groups",
    "doc_fingerprints",
    "simhash_near_dups",
    "minhash_trigram_near_dups",
    "containment_near_dups",
    "incremental_corpus_dedup",
    "cross_doc_ngram_dup",
    # similarity family
    "embedding_near_dups_fast",
    "embedding_lsh_near_dups",
    "embedding_lsh_auto_near_dups",
    "embedding_lsh_multitable_near_dups",
    "semantic_dedup",
    "ann_topk_cosine",
    "ann_ivf_topk",
    "embedding_quantization",
    # text/curation family
    "text_quality_scores",
    "text_lang_id",
    "bpe_tokenize",
    "repetition_scores",
    "unigram_surprisal_scores",
    "quality_percentile_filter",
    "boilerplate_scrub",
    "duplicate_passages",
    "benchmark_decontamination",
    "doc_chunks",
    "doc_packing_sharded",
    "token_budget_mixture",
    "pii_redaction",
    "vocab_top_terms",
    "quality_classifier_scores",
    # round-5 additions (retrieval + merge-rank BPE)
    "bpe_merge_tokenize",
    "doc_keywords_tfidf",
    "bm25_search",
    "hybrid_search_rrf",
    # round-6 additions (VERDICT r5 item 4): BPE training is K
    # driver-sequential rounds, each one distributed aggregation — the
    # exponent of interest is the per-round corpus scan, so the 5-round
    # query is timed whole; quantized IVF probes measure the dequantize
    # expression path
    "bpe_train_merges",
    "ann_ivf_quantized_topk",
    # non-query maintenance paths (index construction/upsert, manifest
    # upsert/compaction under a growing table) run as SPECIAL_OPS below
    "index_build",
    "index_search",
    "index_delta",
    "manifest_upsert",
    "manifest_compact",
    # round-7 additions (VERDICT r6 item 6): IVF maintenance — delta
    # merge under the frozen quantizer, file-layout compaction, and the
    # retrain-compaction drift-governance path
    "ivf_delta",
    "ivf_compact",
    "ivf_retrain",
]


# ---------------------------------------------------------------------------
# Special ops: build/maintenance paths no registered query times in
# isolation. Each measures its own timed section (setup is untimed).
# ---------------------------------------------------------------------------

_BENCH_TERMS = ["hash", "vector", "window"]

# every temp dir a sampler made; main removes what is left when the run
# ends (the per-scale tables the caching samplers keep between samples)
_SCRATCH_DIRS: list[str] = []


def _scratch_table(prefix: str, name: str) -> str:
    """Path ``name`` inside a fresh temp dir, removed by
    :func:`_remove_table` or at the end of the run."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return os.path.join(d, name)


def _remove_table(table: str) -> None:
    """Remove a :func:`_scratch_table` table with its temp dir."""
    shutil.rmtree(os.path.dirname(table), ignore_errors=True)


def _docs(spark, sf_dir: str):
    from cashback_data_pipeline_spark.queries import read_testdata

    return read_testdata(spark, sf_dir, "documents")


class _IndexBuild:
    """Full inverted-index construction, version 1 of the manifest index
    (tokenize + term aggregates + term-bucket-partitioned store writes) —
    expected exponent ≈ 1."""

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.operators import retrieval

        table = _scratch_table("scale_idx_", "idx")
        t0 = time.time()
        retrieval.build_inverted_index_manifest(_docs(spark, sf_dir), table)
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _IndexSearch:
    """Served BM25 search over a PREBUILT index (built once per scale,
    untimed): the k-term bucket-pruned read — expected exponent well
    under 1 (bytes touched scale with the probed postings, not the
    corpus; doclens joins scale linearly)."""

    def __init__(self) -> None:
        self.tables: dict[str, str] = {}

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.operators import retrieval

        if sf_dir not in self.tables:
            table = _scratch_table("scale_idx_srch_", "idx")
            retrieval.build_inverted_index_manifest(_docs(spark, sf_dir), table)
            self.tables[sf_dir] = table
        t0 = time.time()
        retrieval.search_inverted_index_manifest(
            spark, self.tables[sf_dir], _BENCH_TERMS, k=10
        ).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)


class _IndexDelta:
    """Manifest-committed delta upsert: merge the 20% tail into an index
    built (untimed) from the 80% base — the recurring incremental
    maintenance cost. Appends are O(delta); the termstats/stats rewrite
    is vocabulary-sized, so the exponent should track delta volume."""

    def sample(self, spark, sf_dir: str) -> float:
        from pyspark.sql import functions as F

        from cashback_data_pipeline_spark.operators import retrieval

        docs = _docs(spark, sf_dir)
        table = _scratch_table("scale_idx_delta_", "idx")
        retrieval.build_inverted_index_manifest(docs.filter(F.pmod("doc_id", F.lit(5)) != 0), table)
        delta = docs.filter(F.pmod("doc_id", F.lit(5)) == 0)
        t0 = time.time()
        retrieval.upsert_inverted_index(delta, table)
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _ManifestUpsert:
    """merge_upsert as a manifest commit against a GROWING base table
    (built untimed at corpus size): upsert_table rewrites survivors +
    incoming, so honest cost is O(table) — exponent ≈ 1, the number this
    row exists to pin."""

    def sample(self, spark, sf_dir: str) -> float:
        from pyspark.sql import functions as F

        from cashback_data_pipeline_spark.sinks import manifest as M

        docs = _docs(spark, sf_dir)
        table = _scratch_table("scale_manifest_", "t")
        M.write_table(docs, table)
        delta = docs.filter(F.pmod("doc_id", F.lit(10)) == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" updated"))
        )
        t0 = time.time()
        M.upsert_table(spark, delta, table, key="doc_id")
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _ManifestCompact:
    """Small-file compaction of a manifest table at corpus size —
    read-pinned snapshot rewrite, exponent ≈ 1."""

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.sinks import manifest as M

        table = _scratch_table("scale_manifest_c_", "t")
        M.write_table(_docs(spark, sf_dir).repartition(32), table)
        t0 = time.time()
        M.compact_table(spark, table, n_files=4)
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


def _vecs(spark, sf_dir: str):
    from cashback_data_pipeline_spark.queries import read_testdata

    return read_testdata(spark, sf_dir, "embeddings").select("vec_id", "embedding")


class _IvfDelta:
    """Incremental IVF maintenance (VERDICT r6 item 6): merge the 20%
    vector tail into a manifest index built (untimed) from the 80% base
    — assignment against the frozen broadcast quantizer + per-list
    appends + the id anti-join, all O(delta + committed-id scan),
    exponent ≈ 1."""

    def sample(self, spark, sf_dir: str) -> float:
        from pyspark.sql import functions as F

        from cashback_data_pipeline_spark.operators import similarity

        vecs = _vecs(spark, sf_dir)
        table = _scratch_table("scale_ivf_delta_", "ivf")
        similarity.ivf_build_index_manifest(
            vecs.filter(F.pmod("vec_id", F.lit(5)) != 0), table, n_centroids=16
        )
        delta = vecs.filter(F.pmod("vec_id", F.lit(5)) == 0)
        t0 = time.time()
        similarity.upsert_ivf_index(delta, table)
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _IvfCompact:
    """IVF list compaction at corpus size (frozen quantizer, file-layout
    rewrite only) — snapshot read + one partitioned write, exponent ≈ 1."""

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.operators import similarity

        table = _scratch_table("scale_ivf_comp_", "ivf")
        similarity.ivf_build_index_manifest(_vecs(spark, sf_dir), table, n_centroids=16)
        t0 = time.time()
        similarity.compact_ivf_index(spark, table)
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _IvfRetrain:
    """compact_ivf_index(retrain=True) (round-7 drift governance, round-8
    spread seed): full re-cluster (content-hash spread seed + Lloyd
    rounds) + reassignment + rewrite — each round is one broadcast-join
    aggregation over the corpus, so cost is O(iters × corpus),
    exponent ≈ 1."""

    def __init__(self, spill: int | None = None):
        self._spill = spill

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.operators import similarity

        table = _scratch_table("scale_ivf_rt_", "ivf")
        similarity.ivf_build_index_manifest(_vecs(spark, sf_dir), table, n_centroids=16)
        t0 = time.time()
        similarity.compact_ivf_index(
            spark, table, retrain=True, refine_iters=2, spill=self._spill
        )
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _ChangesRowsDiff:
    """read_changes_rows over a REWRITE window at corpus size (round 8):
    one keyed full-outer diff of the two pinned snapshots + the pre/post
    explode — two snapshot scans and one shuffle join, exponent ≈ 1 (the
    honest cost of row-level change semantics over a rewrite; append-only
    windows never pay it)."""

    def sample(self, spark, sf_dir: str) -> float:
        from pyspark.sql import functions as F

        from cashback_data_pipeline_spark.sinks import manifest as M

        docs = _docs(spark, sf_dir)
        table = _scratch_table("scale_cdf_rows_", "t")
        M.write_table(docs, table)
        delta = docs.filter(F.pmod("doc_id", F.lit(10)) == 0).withColumn(
            "text", F.concat(F.col("text"), F.lit(" updated"))
        )
        M.upsert_table(spark, delta, table, key="doc_id")
        t0 = time.time()
        M.read_changes_rows(spark, table, from_version=1, key="doc_id").write.format(
            "noop"
        ).mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _SkipFixedWindowRead:
    """read_table(skip=) with a FIXED absolute id window over a GROWING
    id-correlated commit history (round 8): files are pruned from the
    manifest's stats alone, so the read cost tracks the WINDOW, not the
    table — exponent ≈ 0, THE data-skipping scale claim. The sampler
    raises if pruning skipped nothing."""

    def sample(self, spark, sf_dir: str) -> float:
        from pyspark.sql import functions as F

        from cashback_data_pipeline_spark.sinks import filestats
        from cashback_data_pipeline_spark.sinks import manifest as M

        docs = _docs(spark, sf_dir)
        n = docs.count()
        table = _scratch_table("scale_skip_", "t")
        for i in range(8):  # id-correlated commits, stats on the id
            chunk = docs.filter(
                (F.col("doc_id") >= i * n // 8) & (F.col("doc_id") < (i + 1) * n // 8)
            )
            M.write_table(
                chunk, table, mode="append" if i else "overwrite", stats_cols=["doc_id"]
            )
        skip = [("doc_id", "<", BASE_DOCS // 8)]  # fixed window at every scale
        m = M.read_manifest(table, M.current_version(table))
        _, skipped = filestats.prune_files(m["files"], m.get("stats"), skip)
        if skipped == 0:
            raise RuntimeError("stats pruning skipped nothing — sampler is mismeasuring")
        t0 = time.time()
        M.read_table(spark, table, skip=skip).groupBy().count().write.format("noop").mode(
            "overwrite"
        ).save()
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _ManifestUpsertPruned:
    """File-pruned MERGE (round 8): a FIXED-size keyed batch upserted
    into a GROWING key-clustered table with bounded file sizes (files ∝
    corpus, ~5k rows each — the production layout). Stats prune the
    merge to the files straddling the batch's keys, so the cost tracks
    the BATCH, not the table — exponent ≈ 0, vs plain manifest_upsert's
    whole-table rewrite at exponent ≈ 1."""

    def sample(self, spark, sf_dir: str) -> float:
        from pyspark.sql import functions as F

        from cashback_data_pipeline_spark.sinks import manifest as M

        docs = _docs(spark, sf_dir)
        n = docs.count()
        table = _scratch_table("scale_merge_pruned_", "t")
        M.write_table(
            docs, table, cluster_by=["doc_id"], cluster_files=max(16, n // 5000)
        )
        incoming = docs.filter(F.col("doc_id") < 50).withColumn(
            "text", F.concat(F.col("text"), F.lit(" updated"))
        )
        t0 = time.time()
        M.upsert_table(spark, incoming, table, key="doc_id")
        dt = round(time.time() - t0, 3)
        m = M.read_manifest(table, M.current_version(table))
        _remove_table(table)
        if len(m["files"]) < 16:
            raise RuntimeError("pruned-merge sampler lost its clustered layout")
        return dt


class _BloomPointRead:
    """read_table(skip=(key,"==",lit)) on a GROWING hash-distributed
    table with bloom_cols (round 8): min/max bounds are useless in this
    layout (every file spans the full key range — asserted), so the
    bloom sidecar pass does ALL the pruning and the read opens ~1 file
    regardless of table size. Driver-side sidecar loading is O(#commit
    sidecars) of 4 KiB JSON — the exponent should stay far below the
    exponent-1 full scan this layout would otherwise force."""

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.sinks import filestats
        from cashback_data_pipeline_spark.sinks import manifest as M

        docs = _docs(spark, sf_dir).select("doc_id", "text")
        n = docs.count()
        table = _scratch_table("scale_bloom_", "t")
        M.write_table(
            docs.repartition(max(8, n // 5000), "doc_id"),
            table,
            stats_cols=["doc_id"],
            bloom_cols=["doc_id"],
        )
        # mid-range needle: inside every file's min/max hull at any scale
        # (a low fixed id falls below the per-file sample minimum once
        # files hold 5k draws from a 100x id space), so the range pass
        # stays provably useless and the bloom pass does all the work
        skip = ("doc_id", "==", n // 2)
        m = M.read_manifest(table, M.current_version(table))
        ranged, range_skipped = filestats.prune_files(m["files"], m.get("stats"), skip)
        if range_skipped != 0:
            raise RuntimeError("hash layout was range-prunable — sampler is mismeasuring")
        _, bloom_skipped = filestats.prune_files_bloom(
            M.get_log_store(table), table, ranged, m.get("stats"), skip
        )
        if bloom_skipped == 0:
            raise RuntimeError("bloom pruning skipped nothing — sampler is mismeasuring")
        t0 = time.time()
        M.read_table(spark, table, skip=skip).write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _CdfTailCommit:
    """Streaming change-feed tail (round 8, streaming/cdf_source.py):
    drain ONLY the newest commit — FIXED at 2000 docs — of a history
    whose earlier commits grow with the corpus. The version offset walks
    straight to the tail, workers read just that commit's files, so the
    cost tracks the COMMIT (plus fixed micro-batch startup), not the
    table — exponent ≈ 0, the claim that makes tailing a 100 TB
    warehouse table viable."""

    def sample(self, spark, sf_dir: str) -> float:
        from pyspark.sql import functions as F

        from cashback_data_pipeline_spark.sinks import manifest as M
        from cashback_data_pipeline_spark.streaming import cdf_source

        docs = _docs(spark, sf_dir)
        table = _scratch_table("scale_cdf_tail_", "t")
        M.write_table(docs.filter(F.col("doc_id") >= 2000), table)  # the grown history
        M.write_table(
            docs.filter(F.col("doc_id") < 2000), table, mode="append"
        )  # fixed tail commit
        start_at = M.current_version(table) - 1
        t0 = time.time()
        stream = cdf_source.read_manifest_stream(spark, table, startingVersion=start_at)
        q = (
            stream.writeStream.format("noop")
            .option("checkpointLocation", table + "_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = round(time.time() - t0, 3)
        _remove_table(table)
        return dt


class _MorDeleteFixed:
    """Merge-on-read DELETE of a FIXED key window from a GROWING
    key-clustered table (round 8, deletion vectors): stats prune the
    candidate scan to the straddling files, and the commit writes only
    the (file, row_index) tombstones — no data rewrite at any size, so
    the cost tracks the WINDOW, not the table (exponent ≈ 0). The same
    delete as copy-on-write pays the candidate REWRITE — already
    covered by manifest-family ops; this pins the tombstone path."""

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.sinks import manifest as M

        docs = _docs(spark, sf_dir)
        n = docs.count()
        table = _scratch_table("scale_mor_", "t")
        M.write_table(docs, table, cluster_by=["doc_id"], cluster_files=max(16, n // 5000))
        t0 = time.time()
        v = M.delete_where(
            spark, table, [("doc_id", ">=", 100), ("doc_id", "<", 200)],
            mode="merge_on_read",
        )
        dt = round(time.time() - t0, 3)
        m = M.read_manifest(table, v)
        _remove_table(table)
        if not m.get("dv_files"):
            raise RuntimeError("no deletion vector committed — sampler is mismeasuring")
        return dt


class _OptimizeIncremental:
    """INCREMENTAL OPTIMIZE of a FIXED set of small files on a GROWING
    table (round 10, manifest.optimize_table): the big clustered bulk
    grows with the corpus and must CARRY with zero I/O; the timed
    section packs the same 6 one-file micro-appends at every scale, so
    the cost tracks the small-file set, not the table (exponent ≈ 0).
    A whole-snapshot compact_table on the same history is the ≈-linear
    contrast (manifest_compact)."""

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.sinks import manifest as M

        docs = _docs(spark, sf_dir)
        n = docs.count()
        table = _scratch_table("scale_optinc_", "t")
        M.write_table(docs, table, cluster_by=["doc_id"], cluster_files=max(16, n // 5000))
        # appends (100 rows) stay under target_rows=200 at every scale;
        # the clustered bulk files (>= BASE_DOCS/16 = 312 rows at 1x)
        # stay above it, so the carried/rewritten split is scale-stable
        small = docs.limit(100).coalesce(1)
        for _ in range(6):
            M.write_table(small, table, mode="append")
        t0 = time.time()
        v = M.optimize_table(spark, table, target_rows=200)
        dt = round(time.time() - t0, 3)
        meta = M.read_manifest(table, v).get("meta", {}).get("optimize", {})
        _remove_table(table)
        if meta.get("rewritten") != 6 or not meta.get("carried"):
            raise RuntimeError(f"optimize packed the wrong set: {meta}")
        return dt


class _BatchSourcePrunedRead:
    """FIXED key-window read through a ``register_view`` SQL view
    (sources/manifest_source.py) on a GROWING key-clustered table. The
    view is one JVM Parquet scan of the snapshot's files with the key
    range in its pushed filters: row-group min/max skip the data outside
    the window, so the bytes decoded track the WINDOW, while footer
    reads grow with the file count (manifest-stats file skipping, which
    opens no footer, is ``read_table(skip=)``). The table build is
    untimed."""

    def __init__(self) -> None:
        self.tables: dict[str, str] = {}

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.sinks import manifest as M
        from cashback_data_pipeline_spark.sources import manifest_source as MS

        if sf_dir not in self.tables:
            docs = _docs(spark, sf_dir)
            n = docs.count()
            table = _scratch_table("scale_batchsrc_", "t")
            M.write_table(
                docs, table, cluster_by=["doc_id"], cluster_files=max(16, n // 5000)
            )
            self.tables[sf_dir] = table
        table = self.tables[sf_dir]
        MS.register_view(spark, "scale_batchsrc_v", table)
        t0 = time.time()
        spark.sql(
            "SELECT doc_id, length(text) AS n FROM scale_batchsrc_v "
            "WHERE doc_id >= 100 AND doc_id < 300"
        ).write.format("noop").mode("overwrite").save()
        dt = round(time.time() - t0, 3)
        spark.catalog.dropTempView("scale_batchsrc_v")
        return dt


class _LogCommitFixed:
    """Per-commit LOG cost under a GROWING table file count (VERDICT r8
    item 1): the manifest carries #files ∝ corpus — synthetic immutable
    entries, committed through the real CAS path; the commit machinery
    never opens data files, so metadata-only growth is the honest way
    to reach 10⁴–10⁵ file entries locally — and the timed section is
    ONE fixed 500-row append. Format-2 action records write O(the
    commit's own change) and version discovery probes forward from the
    `_last_checkpoint` pointer, so the per-commit cost is FLAT
    (exponent ≈ 0); the pre-r9 full-snapshot log re-serialized every
    file entry on every commit (exponent ≈ 1 — tens-to-hundreds of MB
    of driver JSON per trickle append at 10⁵–10⁶ files)."""

    def sample(self, spark, sf_dir: str) -> float:
        import uuid

        from cashback_data_pipeline_spark.sinks import manifest as M

        docs = _docs(spark, sf_dir)
        n = docs.count()
        n_files = max(100, n // 5)  # file entries ∝ corpus scale
        table = _scratch_table("scale_logcommit_", "t")
        # materialize the FIXED batch once so the timed commit never
        # rescans the scaled corpus (the batch is the constant, the
        # manifest file count is the variable)
        batch = spark.createDataFrame(docs.limit(500).toPandas())
        M.write_table(batch, table)  # v1: real files, real schema
        fake = [
            f"data/{uuid.uuid4().hex[:12]}/part-{i:05d}.parquet" for i in range(n_files)
        ]
        stats = {
            f: {"rows": 5000, "cols": {"doc_id": {"min": i * 5000, "max": (i + 1) * 5000 - 1, "nulls": 0}}}
            for i, f in enumerate(fake)
        }
        M._commit(
            table,
            lambda cur, m: M._Commit(files=m["files"] + fake, stats=stats, operation="append"),
        )
        M.write_table(batch, table, mode="append")  # warm: pointer/cache steady-state
        t0 = time.time()
        M.write_table(batch, table, mode="append")
        dt = round(time.time() - t0, 3)
        mv = M.read_manifest(table, M.current_version(table))
        _remove_table(table)
        if len(mv["files"]) < n_files:
            raise RuntimeError("log-commit sampler dropped its synthetic file list")
        return dt


class _PartitionedTableCache:
    """One hive-partitioned manifest table per scale dir, shared by the
    round-11 partition/clone samplers (setup untimed): ``grp = doc_id //
    500`` keeps every partition a FIXED 500 rows while the PARTITION
    COUNT grows with the corpus — the honest layout for 'cost tracks the
    partition, not the table' claims."""

    def __init__(self) -> None:
        self.tables: dict[str, str] = {}

    def get(self, spark, sf_dir: str) -> str:
        from pyspark.sql import functions as F

        from cashback_data_pipeline_spark.sinks import manifest as M

        if sf_dir not in self.tables:
            docs = _docs(spark, sf_dir).withColumn(
                "grp", (F.col("doc_id") / 500).cast("int")
            )
            n = docs.count()
            table = _scratch_table("scale_part_", "t")
            M.write_table(
                docs.repartition(max(4, n // 500), "grp"), table,
                partition_by=["grp"], stats_cols=["doc_id"],
            )
            self.tables[sf_dir] = table
        return self.tables[sf_dir]


_PART_TABLES = _PartitionedTableCache()


class _PartitionDmlFixed:
    """Partition-scoped UPDATE on a GROWING partitioned table (round
    11): the predicate names one FIXED-SIZE partition; path-injected
    stats prune every other partition's files with zero I/O, so the
    rewrite cost tracks the 500-row partition, not the table (exponent
    ≈ 0). UPDATE rather than DELETE so repeats keep measuring the same
    partition rewrite."""

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.sinks import manifest as M

        table = _PART_TABLES.get(spark, sf_dir)
        t0 = time.time()
        v = M.update_where(
            spark, table, {"text": "concat(text, '!')"}, ("grp", "==", 1)
        )
        dt = round(time.time() - t0, 3)
        meta = M.read_manifest(table, v).get("meta", {}).get("update", {})
        if not meta.get("carried"):
            raise RuntimeError(f"partition UPDATE carried nothing: {meta}")
        return dt


class _DropPartitionFixed:
    """METADATA-ONLY partition retention on a GROWING partitioned table
    (round 11): one DROP PARTITION commit per sample (a fresh partition
    each time — a drop is terminal), no data file read, written, or
    deleted; the only O(table) term is path matching over the manifest's
    file list (string work, exponent ≈ 0 at any realistic file count)."""

    def __init__(self) -> None:
        self.next_grp: dict[str, int] = {}

    def sample(self, spark, sf_dir: str) -> float:
        from cashback_data_pipeline_spark.sinks import manifest as M

        table = _PART_TABLES.get(spark, sf_dir)
        grp = self.next_grp.get(sf_dir, 2)
        self.next_grp[sf_dir] = grp + 1
        cur = M.current_version(table)
        t0 = time.time()
        v = M.drop_partition(table, {"grp": grp})
        dt = round(time.time() - t0, 3)
        if v == cur:
            raise RuntimeError(f"drop_partition({grp}) matched nothing")
        return dt


class _CloneCommitFixed:
    """SHALLOW CLONE of a GROWING table (round 11): the commit
    references every source file but moves zero data — O(#files)
    manifest JSON, so the cost must stay near-flat while the source
    grows 100× (the fork-before-maintenance claim)."""

    def sample(self, spark, sf_dir: str) -> float:
        import uuid as _uuid

        from cashback_data_pipeline_spark.sinks import manifest as M

        table = _PART_TABLES.get(spark, sf_dir)
        dst = _scratch_table("scale_clone_", f"c{_uuid.uuid4().hex[:6]}")
        t0 = time.time()
        M.clone_table(table, dst)
        dt = round(time.time() - t0, 3)
        _remove_table(dst)
        return dt


SPECIAL_OPS = {
    "log_commit_fixed": _LogCommitFixed(),
    "partition_dml_fixed": _PartitionDmlFixed(),
    "drop_partition_fixed": _DropPartitionFixed(),
    "clone_commit_fixed": _CloneCommitFixed(),
    "bloom_point_read": _BloomPointRead(),
    "cdf_tail_commit": _CdfTailCommit(),
    "mor_delete_fixed": _MorDeleteFixed(),
    "optimize_incremental": _OptimizeIncremental(),
    "batch_source_pruned_read": _BatchSourcePrunedRead(),
    "index_build": _IndexBuild(),
    "index_search": _IndexSearch(),
    "index_delta": _IndexDelta(),
    "manifest_upsert": _ManifestUpsert(),
    "manifest_upsert_pruned": _ManifestUpsertPruned(),
    "manifest_compact": _ManifestCompact(),
    "ivf_delta": _IvfDelta(),
    "ivf_compact": _IvfCompact(),
    "ivf_retrain": _IvfRetrain(),
    "ivf_retrain_spill3": _IvfRetrain(spill=3),
    "changes_rows_diff": _ChangesRowsDiff(),
    "skip_fixed_window_read": _SkipFixedWindowRead(),
}


def ensure_dir(spark, base: str, scale: float) -> str:
    from cashback_data_pipeline_spark.testgen import gen_documents, gen_embeddings

    out = os.path.join(base, f"x{scale:g}")
    docs_path = os.path.join(out, "documents.parquet")
    vecs_path = os.path.join(out, "embeddings.parquet")
    if not os.path.exists(docs_path):
        gen_documents(spark, int(BASE_DOCS * scale)).write.mode("overwrite").parquet(docs_path)
    if not os.path.exists(vecs_path):
        gen_embeddings(spark, int(BASE_VECS * scale)).write.mode("overwrite").parquet(vecs_path)
    return out


def time_query(spark, fn, sf_dir: str, repeats: int = 2) -> list[float]:
    runs: list[float] = []
    for _ in range(repeats):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 3))
        release_all(spark)
    # box-stall defense: disagreeing or uniformly slow repeats buy a third
    if min(runs) > 2.0 and (max(runs) > 2 * min(runs) or min(runs) > 4.0):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        runs.append(round(time.time() - t0, 3))
        release_all(spark)
    return runs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scales", default="1,10")
    ap.add_argument("--ops", default=",".join(DEFAULT_OPS))
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE_CHECK.json"))
    args = ap.parse_args()

    scales = [float(s) for s in args.scales.split(",")]
    ops = [o for o in args.ops.split(",") if o]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = get_spark("scale_check")
    base = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaledata")
    dirs = {s: ensure_dir(spark, base, s) for s in scales}

    # warm the JVM once (any cheap registered query; the first requested
    # op may be a special maintenance op with no query entry)
    warm = next((o for o in ops if o in qs), "text_quality_scores")
    qs.get(warm, qs["text_quality_scores"])(spark, dirs[scales[0]]).write.format(
        "noop"
    ).mode("overwrite").save()
    release_all(spark)

    results: dict[str, dict] = {}
    lo, hi = min(scales), max(scales)
    for name in ops:
        special = SPECIAL_OPS.get(name)
        fn = qs.get(name)
        if fn is None and special is None:
            print(f"-- skip {name}: not registered", file=sys.stderr)
            continue
        per_scale: dict[str, float] = {}
        samples: dict[str, list[float]] = {}
        for s in scales:
            if special is not None:
                runs = []
                for _ in range(2):
                    runs.append(special.sample(spark, dirs[s]))
                    release_all(spark)
                if min(runs) > 2.0 and (max(runs) > 2 * min(runs) or min(runs) > 4.0):
                    runs.append(special.sample(spark, dirs[s]))
                    release_all(spark)
            else:
                runs = time_query(spark, fn, dirs[s])
            per_scale[f"x{s:g}"] = min(runs)
            samples[f"x{s:g}"] = runs
        t_lo, t_hi = per_scale[f"x{lo:g}"], per_scale[f"x{hi:g}"]
        ratio = t_hi / t_lo if t_lo > 0 else float("inf")
        # subtract nothing: fixed per-query overhead (~0.2-0.5 s of plan +
        # scheduling) inflates t_lo and therefore DEFLATES the measured
        # exponent; report the overhead-corrected exponent too, using the
        # smallest observed query time this run as the overhead floor.
        results[name] = {
            "times": per_scale,
            "samples": samples,
            "ratio": round(ratio, 2),
            "exponent": round(math.log(ratio) / math.log(hi / lo), 2)
            if ratio > 0 and hi > lo
            else None,
        }
        # per-segment slopes (VERDICT r4 item 5): with 3+ scales the top
        # segment (e.g. 10x->100x) is where fixed overhead has amortized
        # away, so it separates overhead floor from true slope without
        # any correction heuristic.
        if len(scales) > 2:
            segs = {}
            ordered = sorted(scales)
            for a, b in zip(ordered, ordered[1:]):
                ta, tb = per_scale[f"x{a:g}"], per_scale[f"x{b:g}"]
                if ta > 0 and tb > 0:
                    segs[f"x{a:g}->x{b:g}"] = round(math.log(tb / ta) / math.log(b / a), 2)
            results[name]["segment_exponents"] = segs
        print(f"-- {name}: {per_scale} ratio={ratio:.2f}", file=sys.stderr)

    floor = min(min(r["times"].values()) for r in results.values())
    for r in results.values():
        t_lo = r["times"][f"x{lo:g}"] - 0.8 * floor
        t_hi = r["times"][f"x{hi:g}"] - 0.8 * floor
        if t_lo > 0 and t_hi > 0 and hi > lo:
            r["exponent_overhead_corrected"] = round(math.log(t_hi / t_lo) / math.log(hi / lo), 2)

    doc = {
        "metric": "scale_check",
        "scales": scales,
        "base_docs": BASE_DOCS,
        "base_vecs": BASE_VECS,
        "overhead_floor_sec": round(floor, 3),
        "results": results,
    }
    with open(args.out, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(json.dumps({k: {"ratio": v["ratio"], "exponent": v["exponent"]} for k, v in results.items()}))


if __name__ == "__main__":
    try:
        main()
    finally:
        for d in _SCRATCH_DIRS:
            shutil.rmtree(d, ignore_errors=True)
