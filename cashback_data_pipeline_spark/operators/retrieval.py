"""Lexical and hybrid retrieval over the document corpus.

A training-data pipeline needs LEXICAL search next to the embedding ANN
paths (operators/similarity): targeted corpus probes ("find documents
mentioning X"), keyword-based decontamination audits, and the lexical
leg of hybrid RAG retrieval. Everything here is plain DataFrame algebra
— tokenize → aggregate → window — so Catalyst owns the plan and every
score is replayable in ANSI SQL (these operators' queries are fully
DuckDB-oracled, unlike typical search engines' opaque scoring).

Scale shape: one explode + two aggregations over (term, doc) longs; the
per-term document frequencies are a broadcast-sized relation for any
real vocabulary; top-k cuts are windows over (score, id) total orders.
Scores are quantized at 1e-6 for cross-engine rank stability (repo
convention, same as the embedding cosines).

Public references: BM25 per Robertson/Spärck Jones (the Lucene/Elastic
``k1``/``b`` parameterization and idf form), reciprocal-rank fusion per
Cormack/Clarke/Büttcher 2009.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.session import checkpoint_scope, local_rows_df


def _q6(c: Column) -> Column:
    """1e-6 quantization — engine-portable floor-half-up."""
    return F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000


def _toks(text_col, mode: str):
    from cashback_data_pipeline_spark.operators.text import tokens

    return tokens(F.col(text_col) if isinstance(text_col, str) else text_col, mode=mode)


def _check_k(k: int) -> None:
    """A top-k ``k`` must fit the int ``limit`` takes; 0 is an empty
    top-k. Each top-k entry point checks it before any Spark job runs."""
    if not 0 <= k <= 2**31 - 1:
        raise ValueError(f"k must be in [0, 2**31 - 1], got {k}")


def _topk_ranked(scored: DataFrame, k: int, id_col: str, score_col: str) -> DataFrame:
    """Distributed global top-k WITH rank column: orderBy+limit compiles
    to TakeOrderedAndProject (per-partition heaps + driver merge — no
    single-partition window over the full scored relation, which is
    what a bare global row_number() costs), then the rank window runs
    on the ≤k surviving rows. Same result as ranking first: the limit
    and the window share one total order."""
    w = W.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (
        scored.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select(id_col, score_col, "rank")
    )


def doc_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "split",
) -> DataFrame:
    """(id, term) pairs: whitespace tokenization (the corpus convention,
    same as text.vocab_top_terms), empty terms and NULL texts dropped.
    ``mode="script"`` switches to the CJK-safe script-aware tokenizer
    (operators.text.SCRIPT_TOKEN_PATTERN) so term-level retrieval over
    unspaced scripts indexes per character instead of one giant "word"
    per line — pass the SAME mode at index/query time.

    Widened before the explode (OPTIMIZATION r12, guide §2.6): a small
    corpus arrives as ONE input split, so the tokenize+explode+partial-
    aggregate map work of every downstream term aggregation ran on one
    core (measured 5.5 s single-task stages in index_build — the whole
    index family's dominant cost). At scale the scan already has many
    splits and no shuffle is added — same guard the dedup/text shingle
    paths use."""
    from cashback_data_pipeline_spark.operators.text import ensure_min_parallelism, tokens

    return (
        ensure_min_parallelism(docs.filter(F.col(text_col).isNotNull()))
        .select(F.col(id_col), F.explode(tokens(F.col(text_col), mode=mode)).alias("term"))
        .filter(F.col("term") != "")
    )


def tfidf_keywords(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "split",
) -> DataFrame:
    """Top-k keywords per document by tf·idf (idf = ln(N/df), N = docs
    with text): the classic per-document summarization/indexing score.
    Output (doc_id, term, tfidf, rank); ties broken on term for a total
    order. One explode, tf/df aggregations, a broadcast join of the
    (term, df) relation, one window."""
    base = docs.filter(F.col(text_col).isNotNull())
    n_docs = base.count()
    terms = doc_terms(base, id_col, text_col, mode=mode)
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(df_), "term").select(
        id_col,
        "term",
        _q6(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tfidf", "rank")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "split",
) -> DataFrame:
    """BM25 document ranking for a bag of query terms (Lucene's
    parameterization: idf = ln(1 + (N − df + 0.5)/(df + 0.5)), tf
    saturation ``k1``, length normalization ``b`` against the corpus
    mean length in tokens). Output (doc_id, score, rank), top-k by
    (quantized score desc, doc_id) — the quantized total order is what
    makes the ranking stable across engines.

    Plan: the (term, df/idf) relation for the QUERY terms only is tiny
    and broadcast; each candidate doc contributes one row per matched
    query term; one aggregation sums the per-term contributions. Docs
    matching no query term score nothing (standard BM25 top-k)."""
    from cashback_data_pipeline_spark.operators.text import ensure_min_parallelism

    _check_k(k)
    spark = docs.sparkSession
    # widened once here: the corpus-stats pass below tokenizes every row
    # (size of the token array) and would otherwise run on a 1-split scan
    # single-task; doc_terms() sees the widened frame and adds no second
    # exchange (guide §2.6 — no-op on multi-split inputs)
    base = ensure_min_parallelism(docs.filter(F.col(text_col).isNotNull()))
    stats = base.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(F.filter(_toks(text_col, mode), lambda t: t != ""))).alias("avgdl"),
    ).first()
    if not stats["n"]:
        # no scorable documents — empty top-k, not a float(None) crash
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                docs.schema[id_col],
                T.StructField("score", T.DoubleType()),
                T.StructField("rank", T.IntegerType()),
            ]
        )
        return local_rows_df(spark, [], schema)
    n_docs, avgdl = int(stats["n"]), float(stats["avgdl"])

    terms = doc_terms(base, id_col, text_col, mode=mode)
    qterms = local_rows_df(spark, [(t,) for t in sorted(set(query_terms))], "term string")
    tf = (
        terms.join(F.broadcast(qterms), "term")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = terms.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, id_col)
        .select(
            id_col,
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
            ).alias("c"),
        )
    )
    scored = contrib.groupBy(id_col).agg(_q6(F.sum("c")).alias("score"))
    return _topk_ranked(scored, k, id_col, "score")


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int = 10,
    rrf_k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of two rankings (Cormack et al. 2009):
    score(d) = Σ_lists 1/(rrf_k + rank_list(d)) over the lists that
    contain d — the standard hybrid-search combiner (lexical ⊕ vector)
    because it needs no score calibration between the legs. Output
    (doc_id, rrf_score, rank), top-k on the quantized fused score."""
    _check_k(k)
    a = ranked_a.select(F.col(id_col), (F.lit(1.0) / (rrf_k + F.col(rank_col))).alias("ra"))
    b_ = ranked_b.select(F.col(id_col), (F.lit(1.0) / (rrf_k + F.col(rank_col))).alias("rb"))
    fused = (
        a.join(b_, id_col, "full_outer")
        .select(
            id_col,
            _q6(F.coalesce(F.col("ra"), F.lit(0.0)) + F.coalesce(F.col("rb"), F.lit(0.0))).alias(
                "rrf_score"
            ),
        )
    )
    return _topk_ranked(fused, k, id_col, "rrf_score")


def _bucket_of(term_col: Column, n_buckets: int) -> Column:
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets))


def _bucket_ids(spark, qterms: list[str], n_buckets: int) -> set[int]:
    """Bucket ids of the query terms, via constant-folded LITERAL
    expressions over ``VALUES (0)``: Catalyst evaluates
    ``pmod(xxhash64('term'), nb)`` with the exact engine hash during
    optimization and folds the one-row VALUES into a LocalRelation, so
    ``first()`` collects on the driver — no Spark job (a SELECT without
    FROM plans a OneRowRelation scan, a 1-task job per search). No terms
    means no buckets, without SQL."""
    if not qterms:
        return set()

    def q(t: str) -> str:
        return "'" + t.replace("\\", "\\\\").replace("'", "\\'") + "'"

    row = spark.sql(
        "SELECT "
        + ", ".join(
            f"pmod(xxhash64({q(t)}), {n_buckets}) AS b{i}" for i, t in enumerate(qterms)
        )
        + " FROM VALUES (0)"
    ).first()
    return {int(v) for v in row}


def _doclens(base: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, dl) doclens of a doc batch: dl = the doc's non-empty token
    count, which is Σtf over its :func:`doc_terms` rows, computed per row
    — no aggregation, no join. Carries EVERY doc of ``base`` (dl=0 for
    token-less docs): it doubles as the index's doc-id registry, so
    redelivered empty docs are still recognized by the upsert
    anti-join."""
    terms = F.array_remove(_toks(text_col, "split"), "")
    return base.select(F.col(id_col), F.size(terms).cast("long").alias("dl"))


def build_inverted_index_manifest(
    docs: DataFrame,
    table: str,
    n_term_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    delta_id: str | None = None,
) -> int:
    """Version 1 of the MANIFEST-COMMITTED incremental inverted index,
    the engine's one persisted lexical index: a 100 TB corpus needs delta
    postings merged atomically, not a full rebuild per crawl batch (the
    reference analog is its idempotent incremental serving load,
    load_to_redshift_lambda.py:88-100, honored here for the engine's own
    search index). Three stores plus the corpus stats under ONE manifest
    version (atomic across stores — sinks/manifest.py):

    - ``postings`` (term, id, tf) — hive-partitioned by ``term_bucket``,
      APPEND-ONLY: a delta adds files, never rewrites history;
    - ``doclens`` (id, dl) — append-only doc registry;
    - ``termstats`` (term, df) — vocabulary-sized, REWRITTEN per commit
      (df must reflect base+delta; postings rows stay df-free precisely
      so history never needs rewriting when df changes);
    - the corpus stats ``(n_docs, total_tokens)`` — in the commit meta
      (``corpus``), next to ``layout`` and ``delta_ids``, so a search
      or upsert reads them from the manifest it already loaded.

    Search reads a PINNED version: a racing upsert can never tear a
    running search, and time travel = search an older version."""
    return _commit_index_delta(
        docs,
        table,
        n_term_buckets=n_term_buckets,
        id_col=id_col,
        text_col=text_col,
        delta_id=delta_id,
    )


def upsert_inverted_index(
    delta_docs: DataFrame, table: str, delta_id: str | None = None
) -> int | None:
    """Merge a new-crawl delta into the index as ONE atomic manifest
    commit: per-term df refresh, appended postings/doclens, corpus-stat
    refresh — readers pinned to the previous version are untouched, and
    the new version exposes all three stores' updates and the new stats
    together.

    Idempotent by construction twice over: (a) ``delta_id`` (e.g. a
    crawl-batch id) recorded in the commit meta makes an exact replay an
    O(#versions) metadata no-op; (b) even without one, delta docs whose
    ids are already registered (doclens anti-join) drop out, so a
    partial redelivery adds only genuinely-new docs and a full
    redelivery commits nothing. Returns the committed version, or None
    for a no-op replay."""
    return _commit_index_delta(delta_docs, table, delta_id=delta_id)


def _corpus_stats(spark, table: str, m: dict, version: int) -> tuple[int, int]:
    """``(n_docs, total_tokens)`` of an index version: from the commit
    meta, or from the one-row ``stats`` store of an index committed
    before the meta carried them."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    corpus = m["meta"].get("corpus")
    if corpus is not None:
        return int(corpus["n_docs"]), int(corpus["total_tokens"])
    row = M.read_store(spark, table, "stats", version=version).first()
    return int(row["n_docs"]), int(row["total_tokens"])


def _commit_index_delta(
    docs: DataFrame,
    table: str,
    n_term_buckets: int | None = None,
    id_col: str | None = None,
    text_col: str | None = None,
    delta_id: str | None = None,
) -> int | None:
    import json

    from pyspark.sql import Observation
    from pyspark.sql import types as T

    from cashback_data_pipeline_spark.sinks import manifest as M

    spark = docs.sparkSession

    def _ts_schema() -> T.StructType:
        return T.StructType(
            [T.StructField("term", T.StringType()), T.StructField("df", T.LongType())]
        )

    def attempt(cur, prev):
        nonlocal id_col, text_col
        if cur is None:
            if n_term_buckets is None:
                raise FileNotFoundError(
                    f"no committed index in {table}; build_inverted_index_manifest first"
                )
            layout = {
                "kind": "inverted_index",
                "n_term_buckets": n_term_buckets,
                "id_col": id_col,
                "text_col": text_col,
                "id_field": docs.schema[id_col].jsonValue(),
            }
            old_files: list[str] = []
            old_termstats = None
            old_stats = (0, 0)
        else:
            layout = prev["meta"]["layout"]
            if delta_id is not None and delta_id in prev["meta"].get("delta_ids", []):
                return None  # exact replay of an already-committed delta
            id_col, text_col = layout["id_col"], layout["text_col"]
            # carry forward the append-only stores' files untouched;
            # termstats is superseded by this commit's rewrite
            keep = set(M.store_files(prev, "postings")) | set(M.store_files(prev, "doclens"))
            old_files = [f for f in prev["files"] if f in keep]
            old_termstats = M.read_store(
                spark, table, "termstats", version=cur, schema=_ts_schema()
            )
            old_stats = _corpus_stats(spark, table, prev, cur)
        nb = layout["n_term_buckets"]
        id_field = T.StructField.fromJson(layout["id_field"])

        base = docs.filter(F.col(text_col).isNotNull())
        # in-batch id dedup (deterministic lowest-text winner): an
        # at-least-once upstream can deliver one doc twice IN THE SAME
        # delta, which would double-count its tf/dl and register two
        # doclens rows for one id — the cross-batch anti-join below only
        # guards against ids already committed
        wdup = W.partitionBy(id_col).orderBy(F.col(text_col).asc())
        base = (
            base.withColumn("__rn", F.row_number().over(wdup))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if cur is not None:
            known = M.read_store(
                spark,
                table,
                "doclens",
                version=cur,
                schema=T.StructType([id_field, T.StructField("dl", T.LongType())]),
            ).select(F.col(id_col))
            # belt-and-braces idempotence: redelivered ids contribute
            # nothing even when the caller supplied no delta_id
            base = base.join(known, id_col, "left_anti")
        # the commit's two sizes are observed while the checkpoints that
        # materialize base and tf run (n_new = rows of base, delta_tokens
        # = Σtf): no sizing job of their own
        t_obs = Observation()
        with checkpoint_scope(spark) as scope:
            base = scope.checkpoint(base)
            n_new = scope.rows(base)
            if n_new == 0 and cur is not None:
                return None  # nothing genuinely new — no version churn
            tf = doc_terms(base, id_col, text_col).groupBy("term", id_col).agg(
                F.count(F.lit(1)).alias("tf")
            )
            # OPTIMIZATION r12 (guide §5): the postings and termstats
            # writes both read tf and, without this, each re-ran the
            # tokenize+explode aggregation from base — profiled as 3-4
            # full ~7 s 32-task tokenize stages per commit. tf is the
            # compact (term, id, tf) relation; checkpoint it so tokenize
            # runs once.
            tf = scope.checkpoint(tf.observe(t_obs, F.coalesce(F.sum("tf"), F.lit(0)).alias("t")))
            delta_tokens = int(t_obs.get["t"])
            # df per term = its tf rows in this delta plus the committed
            # df, folded in the ONE shuffle that also lays the store out
            # by term_bucket (the aggregate's keys include the bucket, so
            # the bucket partitioning satisfies it)
            df_parts = tf.select("term", F.lit(1).cast("long").alias("df"))
            if old_termstats is not None:
                df_parts = df_parts.unionByName(old_termstats.select("term", "df"))
            termstats = (
                df_parts.withColumn("term_bucket", _bucket_of(F.col("term"), nb))
                .repartition("term_bucket")
                .groupBy("term_bucket", "term")
                .agg(F.sum("df").alias("df"))
                .select("term", "df", "term_bucket")
                .sortWithinPartitions("term")
            )

            # TWO commit dirs on purpose: postings/doclens files live as
            # long as the version chain references them, but each commit
            # SUPERSEDES the previous termstats — and vacuum works at
            # data-dir granularity, so dead vocabulary-sized termstats
            # sharing a dir with live postings would be unreclaimable
            # forever (one leak per delta). Separate dirs make each
            # superseded termstats dir fully unreferenced and vacuumable
            # once the retention horizon passes.
            cid = M.new_commit_id()
            cid_superseded = M.new_commit_id()
            postings = tf.withColumn("term_bucket", _bucket_of(F.col("term"), nb))
            # the three store writes are INDEPENDENT jobs over the
            # checkpointed tf and base — submit them from a small pool so
            # each job's tail backfills the next job's tasks instead of
            # serializing three scheduling latencies (OPTIMIZATION r12,
            # guide §2.6 "overlap independent jobs"); files keep their
            # deterministic order. The pool threads inherit the caller's
            # job group, local properties and tags, so their jobs are
            # charged to the caller
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            writes = [
                (
                    postings.repartition("term_bucket").sortWithinPartitions("term"),
                    cid, "postings", "term_bucket",
                ),
                # doclens files sized by ROWS, not by core count: a
                # (long, long) relation packs ~2M rows into ~32 MB, so one
                # footer per ~2M docs, merged from base's partitions
                # without a shuffle
                (
                    _doclens(base, id_col, text_col).coalesce(max(1, -(-n_new // 2_000_000))),
                    cid, "doclens", None,
                ),
                (termstats, cid_superseded, "termstats", "term_bucket"),
            ]
            schemas: dict = {}
            write = inheritable_thread_target(spark)(M.write_store_files)
            with ThreadPoolExecutor(max_workers=len(writes)) as pool:
                futures = [
                    pool.submit(
                        write, wdf, table, wcid, wstore,
                        partition_by=wpart, schemas=schemas,
                    )
                    for wdf, wcid, wstore, wpart in writes
                ]
                files = [f for fut in futures for f in fut.result()]

            delta_ids = list((prev or {}).get("meta", {}).get("delta_ids", []))
            if delta_id is not None:
                delta_ids.append(delta_id)
            # meta grows O(#deltas); at one crawl batch per commit that is
            # the commit count — the same order as the manifest dir itself
            meta = {
                "layout": layout,
                "delta_ids": delta_ids,
                "corpus": {
                    "n_docs": old_stats[0] + n_new,
                    "total_tokens": old_stats[1] + delta_tokens,
                },
            }
            files = old_files + files
            # CAS lost ⇒ a racing writer committed — this delta
            # recomputes against the winner's version (orphaned files →
            # vacuum)
            return M._Commit(
                files=files,
                schema=json.dumps(postings.schema.jsonValue()),
                meta=M.with_store_schemas(meta, prev, files, schemas),
            )

    return M._commit(table, attempt, create=True)


def compact_inverted_index(spark, table: str) -> int:
    """Maintenance for the incremental index: a streaming ingest
    (streaming.index_ingest_stream) commits one delta per epoch, so each
    term bucket accumulates one small postings file per epoch and the
    k-bucket search read pays file-open overhead per epoch. Rewrites
    postings and termstats re-sorted by term within each bucket
    (restoring ONE sorted run per bucket — delta appends preserve only
    per-file sorted runs, so row-group min/max pruning weakens as deltas
    pile up) and coalesces doclens, all as ONE new manifest version:
    searches in flight stay pinned, a concurrent delta commit just
    retries the CAS, and ``delta_ids`` and the corpus stats carry
    forward so a replayed crawl batch is STILL a no-op after compaction.
    A crash mid-compaction publishes nothing (orphans → vacuum)."""
    from pyspark.sql import types as T

    from cashback_data_pipeline_spark.sinks import manifest as M

    def attempt(cur, prev):
        layout = prev["meta"]["layout"]
        nb = layout["n_term_buckets"]
        id_field = T.StructField.fromJson(layout["id_field"])

        cid = M.new_commit_id()
        cid_superseded = M.new_commit_id()  # termstats: vacuumable when superseded
        files: list[str] = []
        schemas: dict = {}
        postings = M.read_store(
            spark,
            table,
            "postings",
            version=cur,
            schema=T.StructType(
                [T.StructField("term", T.StringType()), id_field, T.StructField("tf", T.LongType())]
            ),
        )
        files += M.write_store_files(
            postings.withColumn("term_bucket", _bucket_of(F.col("term"), nb))
            .repartition("term_bucket")
            .sortWithinPartitions("term"),
            table,
            cid,
            "postings",
            partition_by="term_bucket",
            schemas=schemas,
        )
        ts = M.read_store(
            spark,
            table,
            "termstats",
            version=cur,
            schema=T.StructType(
                [T.StructField("term", T.StringType()), T.StructField("df", T.LongType())]
            ),
        )
        files += M.write_store_files(
            ts.withColumn("term_bucket", _bucket_of(F.col("term"), nb))
            .repartition("term_bucket")
            .sortWithinPartitions("term"),
            table,
            cid_superseded,
            "termstats",
            partition_by="term_bucket",
            schemas=schemas,
        )
        dl = M.read_store(
            spark,
            table,
            "doclens",
            version=cur,
            schema=T.StructType([id_field, T.StructField("dl", T.LongType())]),
        )
        files += M.write_store_files(dl.coalesce(4), table, cid, "doclens", schemas=schemas)
        n_docs, total_tokens = _corpus_stats(spark, table, prev, cur)

        meta = {
            "layout": layout,
            "delta_ids": prev["meta"].get("delta_ids", []),
            "corpus": {"n_docs": n_docs, "total_tokens": total_tokens},
            "compaction": True,
        }
        return M._Commit(files=files, meta=M.with_store_schemas(meta, prev, files, schemas))

    return M._commit(table, attempt)


def search_inverted_index_manifest(
    spark,
    table: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    version: int | None = None,
) -> DataFrame:
    """BM25 top-k over the manifest-committed index at a PINNED version
    (default: current at call time — a concurrent upsert cannot tear the
    read). File pruning happens against MANIFEST METADATA: postings and
    termstats files whose path carries a non-query ``term_bucket=``
    segment are never opened, so a k-term search reads ≤ k buckets; same
    score contract as :func:`bm25_topk` (quantized total order), so the
    index is a pure access-path change and base+delta search must
    hash-match the full-scan BM25 over the union corpus. The corpus
    stats come from the commit meta, the stores' schemas from the
    commit's recorded read schemas: the only Spark jobs are the
    scoring query's own."""
    import re

    from pyspark.sql import types as T

    from cashback_data_pipeline_spark.sinks import manifest as M

    _check_k(k)
    v = M.current_version(table) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed index in {table}")
    m = M.read_manifest(table, v)
    layout = m["meta"]["layout"]
    id_col, nb = layout["id_col"], layout["n_term_buckets"]

    def _empty() -> DataFrame:
        id_field = T.StructField.fromJson(layout["id_field"])
        return local_rows_df(
            spark,
            [],
            T.StructType(
                [
                    id_field,
                    T.StructField("score", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )

    n_docs, total_tokens = _corpus_stats(spark, table, m, v)
    if not n_docs or not total_tokens:
        return _empty()
    avgdl = float(total_tokens) / n_docs

    qterms = sorted(set(query_terms))
    want = _bucket_ids(spark, qterms, nb)

    def bucket_filter(relpath: str) -> bool:
        mt = re.search(r"term_bucket=(\d+)", relpath)
        return mt is not None and int(mt.group(1)) in want

    id_field = T.StructField.fromJson(layout["id_field"])
    hits = M.read_store(
        spark,
        table,
        "postings",
        version=v,
        file_filter=bucket_filter,
        schema=T.StructType(
            [
                T.StructField("term", T.StringType()),
                id_field,
                T.StructField("tf", T.LongType()),
            ]
        ),
    ).filter(F.col("term").isin(qterms))
    ts = M.read_store(
        spark,
        table,
        "termstats",
        version=v,
        file_filter=bucket_filter,
        schema=T.StructType(
            [T.StructField("term", T.StringType()), T.StructField("df", T.LongType())]
        ),
    ).filter(F.col("term").isin(qterms))
    dl = M.read_store(spark, table, "doclens", version=v)

    idf = F.log(F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5))
    contrib = (
        hits.join(F.broadcast(ts), "term")
        .join(dl, id_col)
        .select(
            id_col,
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl)))
            ).alias("c"),
        )
    )
    scored = contrib.groupBy(id_col).agg(_q6(F.sum("c")).alias("score"))
    return _topk_ranked(scored, k, id_col, "score")
