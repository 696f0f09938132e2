"""Deduplication operators — exact and near-duplicate, designed for the
100 TB documents case (BASELINE.json north-star).

Strategy ladder (cheapest first):
1. exact         — hash-groupBy on a content fingerprint; one shuffle of
                   (hash, id), never the payload.
2. ngram-Jaccard — inverted-index token join (explode → equi-join on
                   token → per-pair intersection counts). NOT the naive
                   O(n²) cross join: cost is Σ_token df(token)², bounded
                   by blocking keys (language, length bucket) and
                   hot-token removal.
3. MinHash + LSH — constant-size signatures, band-bucket join; the scale
                   path when even the inverted index is too hot.
4. SimHash       — 64-bit signature, Hamming-ball candidate join via
                   rotations; cheapest near-dup filter.
5. embedding     — cosine near-dup over vectors (semantic dups); LSH
                   bucketing from similarity.py for scale.

All candidate generation is relational (joins Catalyst can plan); only
verification touches full payloads, and only for candidate pairs.

Operators that checkpoint an intermediate own it through
:func:`session.checkpoint_scope` and return their result materialized by
:meth:`session.CheckpointScope.result`: driver-local rows when small,
otherwise one pinned checkpoint the caller releases.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.operators.text import (  # noqa: F401 — re-export
    ensure_min_parallelism,
    fingerprint_md5,
    simhash_signatures,
    tokens,
)
from cashback_data_pipeline_spark.session import checkpoint_scope


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, key_cols: list[str], id_col: str, keep: str = "min") -> DataFrame:
    """Keep one row per distinct ``key_cols`` (the reference's J3 dedup
    generalized): deterministic winner = min/max ``id_col``. Window
    row_number — one shuffle on the key, map-side top-1 push-down."""
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    w = W.partitionBy(*key_cols).orderBy(order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def dedup_exact_by_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup via md5 fingerprint: shuffle carries the 32-char
    hash instead of the document payload — at 100 TB that is the
    difference between shuffling 100 TB and shuffling ~50 GB."""
    with_fp = df.withColumn("__fp", fingerprint_md5(text_col))
    return dedup_exact(with_fp, ["__fp"], id_col).drop("__fp")


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-content group stats: representative id + copy count.
    (keep_id, n_copies, fingerprint) — the audit view of exact dedup."""
    return (
        df.select(F.col(id_col), fingerprint_md5(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# 2. n-gram (token-shingle) Jaccard via inverted index
# ---------------------------------------------------------------------------

def shingles(col: Column | str, n: int = 1) -> Column:
    """Token n-gram shingles as an array column (n=1 → plain tokens;
    documents shorter than ``n`` tokens yield ONE degenerate shingle —
    the join of whatever tokens exist — so short docs stay dedupable).

    Built as a ``zip_with`` fold over ``n`` shifted slices: slice once,
    walk linearly, concat pairwise — v1's slice-per-position was O(L²)
    (174 s/5k docs), the element_at-per-offset rewrite was O(L·n) but
    paid interpreted bounds-checked random access inside the lambda for
    every token of every gram (measured 0.67 s → 0.22 s on 5k docs when
    replaced by this fold, and 5× on the md5-gram variant)."""
    t = tokens(col)
    if n == 1:
        return t
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    g = F.slice(t, 1, m)
    for j in range(1, n):
        g = F.zip_with(g, F.slice(t, j + 1, m), lambda a, b: F.concat(a, F.lit("\x1f"), b))
    return F.when(F.size(t) >= n, g).otherwise(F.array(F.concat_ws("\x1f", t)))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    bag: bool = True,
    max_token_df: int | None = None,
    length_block: bool = False,
) -> DataFrame:
    """All pairs with (bag- or set-) Jaccard ≥ threshold, via the
    inverted-index plan:

        explode shingles → (id, shingle, cnt)
        self-join on shingle [+ blocking cols] with id_a < id_b
        per-pair Σ min(cnt) = intersection; sizes from per-doc totals
        jaccard = inter / (size_a + size_b − inter)

    Never materializes the O(n²) cross product: candidate pairs are only
    docs sharing ≥1 shingle within a block. ``block_cols`` (e.g. language)
    bound the worst case; bag semantics (multiset) discriminate better on
    small vocabularies.

    ``max_token_df`` drops shingles whose document frequency exceeds the
    cap from the inverted index — the Σ df(token)² skew term is exactly
    the hot tokens, and a shingle shared by half the corpus carries no
    near-dup signal. Document sizes still count every shingle, so the
    computed score is a LOWER BOUND of the true Jaccard: precision is
    preserved (no false positives), recall drops only for pairs whose
    similarity rides on stop-shingles.

    ``length_block=True`` adds LOSSLESS length-bucket blocking: Jaccard ≥ t
    forces min(|A|,|B|) ≥ t·max(|A|,|B|) (inter ≤ min and inter(1+t) ≥
    t(|A|+|B|)), so qualifying pairs sit within a size factor 1/t — bucket
    postings by floor(log_{1/t}(size)) and any qualifying pair is in the
    SAME or ADJACENT buckets. The index joins twice (Δbucket = 0 with
    id_a < id_b, Δbucket = 1 unordered then id-normalized — each pair
    lands in exactly one branch) but each join's Σ df(token)² term is per
    (token, bucket) instead of per token: a hot shingle shared across all
    document lengths no longer pairs short docs with every long doc.

    Returns (id_a, id_b, jaccard).
    """
    df = ensure_min_parallelism(df)  # narrow scans serialize the explode
    sh = df.select(F.col(id_col).alias("id"), *(block_cols or []), shingles(text_col, n).alias("sh"))
    exploded = sh.select("id", *(block_cols or []), F.explode("sh").alias("tok"))
    if bag:
        tok = exploded.groupBy("id", *(block_cols or []), "tok").agg(F.count(F.lit(1)).alias("cnt"))
    else:
        tok = exploded.distinct().withColumn("cnt", F.lit(1))

    with checkpoint_scope(df.sparkSession) as scope:
        # materialize the inverted index once: it feeds both join sides (×2
        # with length blocking), the size table, and the hot-token scan —
        # recomputing the explode+count pipeline per consumer multiplied the
        # plan to ~28 exchanges. This is the index you'd persist at scale
        # anyway. Sizes are taken from the PRE-hot-filter index (full-size
        # denominators keep the hot-token score a lower bound).
        tok = scope.checkpoint(tok)
        if bag:
            sizes = tok.groupBy("id").agg(F.sum("cnt").alias("size"))
        else:
            sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("size"))

        if max_token_df is not None:
            hot = (
                tok.groupBy("tok")
                .agg(F.countDistinct("id").alias("df"))
                .filter(F.col("df") > max_token_df)
                .select("tok")
            )
            tok = tok.join(F.broadcast(hot), on="tok", how="left_anti")

        extra = list(block_cols or [])
        if length_block:
            import math

            if not (0.0 < threshold < 1.0):
                raise ValueError("length_block requires 0 < threshold < 1")
            bucket = F.floor(F.log(F.col("size").cast("double")) / math.log(1.0 / threshold))
            tok = tok.join(sizes.select("id", bucket.alias("__lb")), on="id")
            extra = extra + ["__lb"]

        a = tok.select(
            F.col("id").alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in extra],
            F.col("tok"), F.col("cnt").alias("cnt_a"),
        )
        b = tok.select(
            F.col("id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in extra],
            F.col("tok"), F.col("cnt").alias("cnt_b"),
        )
        join_cond = (a["tok"] == b["tok"]) & (a["id_a"] < b["id_b"])
        for c in block_cols or []:
            join_cond = join_cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
        if length_block:
            join_cond = join_cond & (F.col("__lb_a") == F.col("__lb_b"))
        inter = (
            a.join(b, on=join_cond, how="inner")
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.least("cnt_a", "cnt_b")).alias("inter"))
        )
        if length_block:
            # adjacent-bucket branch: Δbucket = 1 exactly, ids normalized so
            # each cross-bucket pair is counted once (it can never appear in
            # the same-bucket branch)
            adj_cond = (a["tok"] == b["tok"]) & (F.col("__lb_a") + 1 == F.col("__lb_b"))
            for c in block_cols or []:
                adj_cond = adj_cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
            pairs_adj = a.join(b, on=adj_cond, how="inner").select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                F.least("cnt_a", "cnt_b").alias("__mn"),
            )
            inter_adj = pairs_adj.groupBy("id_a", "id_b").agg(F.sum("__mn").alias("inter"))
            inter = inter.unionByName(inter_adj)

        sa = sizes.select(F.col("id").alias("id_a"), F.col("size").alias("size_a"))
        sb = sizes.select(F.col("id").alias("id_b"), F.col("size").alias("size_b"))
        scored = (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("jaccard", F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")))
        )
        return scope.result(
            scored.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")
        )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(col: Column | str, num_hashes: int = 64, n: int = 1) -> Column:
    """MinHash signature as a single Column: per seed i, min over shingles
    of xxhash64(shingle, seed=i).

    ⚠ Column-API convenience only: projection collapse re-inlines the
    shingle expression into all ``num_hashes`` branches, so this is
    O(num_hashes · shingle-cost) per row. The scan-scale path is
    :func:`minhash_signatures` (relational: explode once, codegen'd
    min-aggs). Hash scheme (32-bit low/high words per xxhash64 seed) is
    IDENTICAL to minhash_signatures, so the two APIs produce the same
    signature values and can be banded/compared interchangeably —
    pinned by tests/test_dedup.py."""
    sh = shingles(col, n)
    n_seeds = (num_hashes + 1) // 2

    # NB: transform lambdas must take exactly ONE parameter — a second
    # parameter would be bound to the array index by Spark (the original
    # all-seeds-identical bug); seeds are captured via enclosing functions.
    def lo_for(seed: int) -> Column:
        return F.array_min(
            F.transform(sh, lambda w: F.xxhash64(w, F.lit(seed)).bitwiseAND(F.lit(0xFFFFFFFF)))
        )

    def hi_for(seed: int) -> Column:
        return F.array_min(
            F.transform(sh, lambda w: F.shiftrightunsigned(F.xxhash64(w, F.lit(seed)), 32))
        )

    mins: list[Column] = []
    for i in range(n_seeds):
        mins.append(lo_for(i))
        if 2 * i + 1 < num_hashes:
            mins.append(hi_for(i))
    return F.array(*mins)


def md5_lane_sql(lane: int, var: str = "w") -> str:
    """Portable 32-bit hash lane ``lane`` (0-1) of ``md5(w)`` as a Spark
    SQL fragment — the cross-engine seam the md5 hash family rests on:
    DuckDB computes the identical value as
    ``CAST(('0x' || substr(md5(w), off, 8)) AS BIGINT)``. MinHash expands
    the two lanes to 64 hash functions via Kirsch–Mitzenmacher
    (:func:`minhash_signatures_md5`); SimHash uses them as the low/high
    signature words (text.simhash_signatures_md5). Equivalence pinned in
    tests/test_dedup.py::test_md5_lanes_match_duckdb."""
    off = 1 + 8 * lane
    return f"cast(conv(substr(md5({var}), {off}, 8), 16, 10) as bigint)"


def minhash_signatures_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 1,
) -> DataFrame:
    """MinHash signatures over the PORTABLE md5 hash family: (id, sig).

    Hash function ``i`` is Kirsch–Mitzenmacher over two 32-bit md5
    lanes: ``g_i(w) = (h1(w) + i·h2(w)) mod 2^32`` with ``h1``/``h2``
    the first/second 8 hex chars of ``md5(w)`` — ONE md5 evaluation per
    shingle for all ``num_hashes`` functions (the naive per-seed family
    costs 16; measured 1.55× on the whole trigram query at sf0.1), and
    every value is reproducible in DuckDB (``CAST('0x'||substr(md5(w),
    off,8) AS BIGINT)``), which keeps the full LSH pipeline
    oracle-checkable. Same zero-shuffle multi-projection plan as
    :func:`minhash_signatures`: each projection boundary binds a
    non-cheap multi-referenced array (shingles → md5 hex → h1/h2 lanes)
    exactly once; the per-function minima are then 64 cheap
    ``zip_with`` folds over integer arrays. Use the xxhash64 family when
    no cross-engine oracle is needed.

    Shingles are DEDUPED before hashing: min() is insensitive to
    duplicates, so every signature value is bit-identical while repeated
    shingles (the norm in prose — stopword n-grams repeat constantly)
    pay for md5 + 64 folds exactly once per distinct value."""
    base = (
        ensure_min_parallelism(df)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.array_distinct(shingles(text_col, n)).alias("__sh"))
    )
    hexes = base.select("id", F.expr("transform(__sh, w -> substr(md5(w), 1, 16))").alias("__mh"))
    lanes = hexes.select(
        "id",
        F.expr("transform(__mh, m -> cast(conv(substr(m, 1, 8), 16, 10) as bigint))").alias("__h1"),
        F.expr("transform(__mh, m -> cast(conv(substr(m, 9, 8), 16, 10) as bigint))").alias("__h2"),
    )
    parts = [
        f"array_min(zip_with(__h1, __h2, (a, b) -> (a + {i} * b) & 4294967295))"
        for i in range(num_hashes)
    ]
    return lanes.select("id", F.expr("array(" + ",".join(parts) + ")").alias("sig"))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    n: int = 1,
) -> DataFrame:
    """MinHash signatures, ZERO-shuffle two-projection plan:
    (id, sig array<long>).

    Projection 1 binds the shingle array once; projection 2 takes the
    ``num_hashes`` per-seed ``array_min(transform(...))`` minima. The
    explicit projection boundary is load-bearing: CollapseProject keeps
    the shingle binding because it is non-cheap and referenced by every
    branch, so shingles are built ONCE per row (in one flat select they
    are re-inlined per seed — the measured 25× blowup). Everything is
    whole-stage codegen in one map stage — no explode, no groupBy, no
    exchange; 6× faster than the explode→64-min-aggs relational plan at
    sf0.1 and strictly better at 100 TB (a pure map scales linearly, and
    a giant document's work lands on one core under EITHER plan, since
    explode keeps a row's shingles in its own partition).

    Each ``xxhash64(shingle, seed)`` is split into TWO independent 32-bit
    hash functions (low and high word), so num_hashes functions need only
    num_hashes/2 distinct xxhash expressions; signature values are the
    32-bit minima as longs. Input is widened to core-count parallelism
    first (ensure_min_parallelism) so narrow scans don't serialize the
    hashing.

    ⚠ transform lambdas take exactly ONE parameter — a second parameter
    (even a defaulted ``s=i``) is bound to the ARRAY INDEX by Spark and
    silently breaks the seeding (tests pin hof == relational history)."""
    # null text must yield NO signature (the explode-based plan this
    # replaced dropped such docs naturally; array_min over a null array
    # would instead emit an all-null signature, making every null-text
    # doc an LSH candidate of every other)
    # array_distinct: min() is duplicate-insensitive, so signatures are
    # bit-identical while each distinct shingle is hashed once per seed.
    base = (
        ensure_min_parallelism(df)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.array_distinct(shingles(text_col, n)).alias("__sh"))
    )
    # One SQL expr string instead of 64 Column-API transform() calls:
    # each Python-side lambda costs a py4j round-trip, ~1.3 s of pure
    # plan-construction overhead per query; a single parsed expr is ~3×
    # cheaper to build and produces the identical analyzed plan.
    # (SQL literal `i` is INT and `4294967295` is BIGINT, matching
    # F.lit's types, so hash inputs — and signatures — are unchanged.)
    parts: list[str] = []
    for i in range((num_hashes + 1) // 2):
        parts.append(f"array_min(transform(__sh, w -> xxhash64(w, {i}) & 4294967295))")
        if 2 * i + 1 < num_hashes:
            parts.append(
                f"array_min(transform(__sh, w -> shiftrightunsigned(xxhash64(w, {i}), 32)))"
            )
    return base.select("id", F.expr("array(" + ",".join(parts) + ")").alias("sig"))


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.8,
    block_cols: list[str] | None = None,
    bag: bool = True,
) -> DataFrame:
    """EXACT (bag- or set-) Jaccard ≥ threshold via PREFIX FILTERING —
    the AllPairs / PPJoin candidate bound (Bayardo et al., WWW'07; Xiao
    et al., WWW'08 — public algorithms), the lossless sub-quadratic
    alternative to :func:`ngram_jaccard_pairs`'s full inverted-index
    join (VERDICT r6 item 5):

    - bag semantics reduce to set semantics by EXPANSION: the multiset
      {tok×cnt} becomes elements (tok, 1..cnt), and bag-Jaccard equals
      set-Jaccard of the expansions (Σ min(cnt) shared elements, Σ max
      union) — so one prefix theorem covers both modes;
    - fix any global total order on elements (rarest-first by document
      frequency, tie-broken on the element — df-ordering is only the
      performance heuristic, ANY total order is lossless);
    - a pair with J ≥ t has overlap o ≥ ⌈t·|X|⌉ elements for each side
      X, and its globally-smallest common element sits within the first
      |X| − o + 1 elements of BOTH docs (pigeonhole) — so indexing only
      each doc's ⌊(1−t)·|X|⌋+1-element PREFIX finds every qualifying
      pair, by theorem, not by tuning;
    - verification = the exact Σ min(cnt) intersection join restricted
      to candidate pairs, token bags built only for docs that appear in
      some candidate (the minhash_near_dups discipline).

    Why this is the 100 TB default for composites: the full index join's
    candidate volume is Σ_tok df(tok)² — quadratic through hot tokens —
    while the prefix join's is Σ_elem df_prefix(elem)², and a long-tail
    corpus's hot tokens sort LAST in df order, falling out of every
    prefix. The worst case (a tiny flat vocabulary, e.g. the 31-word
    synthetic corpus) degrades gracefully to the same asymptotics as
    the index join, never below it, and stays exact — unlike MinHash
    banding, which on that corpus cannot separate the ~0.54 background
    bag-Jaccard from a 0.75 threshold at any affordable hash count
    (measured: set-LSH candidates ≈ half of all pairs; the hot-bucket
    star cap then loses 26 of 81 true pairs at sf0.1).

    Returns (id_a, id_b, jaccard), identical to ngram_jaccard_pairs.
    """
    df = ensure_min_parallelism(df)
    blocks = list(block_cols or [])
    sh = df.select(F.col(id_col).alias("id"), *blocks, shingles(text_col, n).alias("sh"))
    exploded = sh.select("id", *blocks, F.explode("sh").alias("tok"))
    if bag:
        tok = exploded.groupBy("id", *blocks, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    else:
        tok = exploded.distinct().withColumn("cnt", F.lit(1))
    with checkpoint_scope(df.sparkSession) as scope:
        # one materialization feeds the element index, sizes, and verify
        tok = scope.checkpoint(tok)
        sizes = tok.groupBy("id").agg(F.sum("cnt").alias("size"))

        # element expansion: (tok, k) for k = 1..cnt — identity for sets
        elems = tok.select(
            "id",
            *blocks,
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("cnt")),
                    lambda k: F.struct(F.col("tok").alias("t"), k.alias("k")),
                )
            ).alias("e"),
        )
        edf = elems.groupBy("e").agg(F.count(F.lit(1)).alias("df"))
        w = W.partitionBy("id").orderBy(
            F.col("df").asc(), F.col("e.t").asc(), F.col("e.k").asc()
        )
        prefix = (
            elems.join(edf, "e")
            .withColumn("__pos", F.row_number().over(w))
            .join(sizes, "id")
            # p = |X| − ⌈t·|X|⌉ + 1: the prefix the theorem needs
            .filter(F.col("__pos") <= F.col("size") - F.ceil(F.lit(threshold) * F.col("size")) + 1)
            .select("id", *blocks, "e", "size")
        )
        a = prefix.select(
            F.col("id").alias("id_a"),
            *[F.col(c).alias(f"{c}_a") for c in blocks],
            F.col("e").alias("e_a"),
            F.col("size").alias("size_a"),
        )
        b = prefix.select(
            F.col("id").alias("id_b"),
            *[F.col(c).alias(f"{c}_b") for c in blocks],
            F.col("e").alias("e_b"),
            F.col("size").alias("size_b"),
        )
        # length filter (PPJoin): J ≥ t forces t·|B| ≤ |A| — sizes within a
        # factor t of each other — also lossless (inter ≤ min, union ≥ max).
        # e_a/e_b are DISTINCT names: both sides derive from one plan, and a
        # shared name would resolve to a trivially-true self-equality — the
        # join silently becomes the cross product the prefix exists to avoid.
        cond = (
            (F.col("e_a") == F.col("e_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("size_a") >= F.ceil(F.lit(threshold) * F.col("size_b")))
            & (F.col("size_b") >= F.ceil(F.lit(threshold) * F.col("size_a")))
        )
        for c in blocks:
            cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
        cands = scope.checkpoint(a.join(b, on=cond).select("id_a", "id_b").distinct())

        # verify: exact bag/set intersection over candidate docs only
        cand_ids = cands.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
        vtok = tok.join(cand_ids, "id", "leftsemi").select("id", "tok", "cnt")
        ta = vtok.select(F.col("id").alias("id_a"), "tok", F.col("cnt").alias("cnt_a"))
        tb = vtok.select(F.col("id").alias("id_b"), "tok", F.col("cnt").alias("cnt_b"))
        inter = (
            cands.join(ta, "id_a")
            .join(tb, ["id_b", "tok"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.least("cnt_a", "cnt_b")).alias("inter"))
        )
        sa = sizes.select(F.col("id").alias("id_a"), F.col("size").alias("size_a"))
        sb = sizes.select(F.col("id").alias("id_b"), F.col("size").alias("size_b"))
        scored = (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn(
                "jaccard", F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
            )
        )
        return scope.result(
            scored.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")
        )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    threshold: float = 0.9,
    block_cols: list[str] | None = None,
    max_token_df: int | None = None,
) -> DataFrame:
    """All pairs with bag CONTAINMENT ≥ threshold, where containment =
    |A∩B|_bag / min(|A|, |B|) — the asymmetric companion of
    ``ngram_jaccard_pairs``: a short document quoted or embedded whole
    inside a longer one scores ~1.0 here while its Jaccard (union
    denominator) can be arbitrarily low. The subset-duplication screen
    (quotes, partial crawls, doc-in-doc wrapping) exact and Jaccard
    dedup both miss.

    Same inverted-index plan as the Jaccard operator (explode → bag
    count → self-join on token [+ blocks] → Σ min(cnt)), and the index
    is checkpointed once for its three consumers. NO length blocking on
    purpose: mismatched lengths are exactly the pairs this operator
    exists for, so the candidate bound comes from ``block_cols`` and the
    ``max_token_df`` hot-token cap instead. With the cap set, document
    sizes are computed over the retained (post-cap) token bag, so the
    score stays an unbiased containment over that bag rather than a
    deflated lower bound (see inline note).

    Returns (id_a, id_b, containment) with id_a < id_b."""
    df = ensure_min_parallelism(df)
    sh = df.select(F.col(id_col).alias("id"), *(block_cols or []), shingles(text_col, n).alias("sh"))
    exploded = sh.select("id", *(block_cols or []), F.explode("sh").alias("tok"))
    tok = exploded.groupBy("id", *(block_cols or []), "tok").agg(F.count(F.lit(1)).alias("cnt"))
    with checkpoint_scope(df.sparkSession) as scope:
        tok = scope.checkpoint(tok)
        if max_token_df is not None:
            hot = (
                tok.groupBy("tok")
                .agg(F.countDistinct("id").alias("df"))
                .filter(F.col("df") > max_token_df)
                .select("tok")
            )
            tok = tok.join(F.broadcast(hot), on="tok", how="left_anti")
        # Sizes are taken AFTER the hot-token cap, unlike the Jaccard
        # operator's deliberate lower bound: a containment score with capped
        # tokens removed from the numerator but not the min(|A|,|B|)
        # denominator deflates, silently dropping true pairs at the
        # threshold. Post-cap sizes keep the score an unbiased containment
        # over the RETAINED token bag — the cap then only redefines the
        # universe (stop-shingles carry no subset-duplication signal), it
        # never biases the ratio.
        sizes = tok.groupBy("id").agg(F.sum("cnt").alias("size"))
        a = tok.select(
            F.col("id").alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in (block_cols or [])],
            F.col("tok"), F.col("cnt").alias("cnt_a"),
        )
        b = tok.select(
            F.col("id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in (block_cols or [])],
            F.col("tok"), F.col("cnt").alias("cnt_b"),
        )
        cond = (a["tok"] == b["tok"]) & (a["id_a"] < b["id_b"])
        for c in block_cols or []:
            cond = cond & (F.col(f"{c}_a") == F.col(f"{c}_b"))
        inter = (
            a.join(b, on=cond, how="inner")
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.least("cnt_a", "cnt_b")).alias("inter"))
        )
        sa = sizes.select(F.col("id").alias("id_a"), F.col("size").alias("size_a"))
        sb = sizes.select(F.col("id").alias("id_b"), F.col("size").alias("size_b"))
        scored = (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("containment", F.col("inter") / F.least("size_a", "size_b"))
        )
        return scope.result(
            scored.filter(F.col("containment") >= threshold).select("id_a", "id_b", "containment")
        )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 1,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows of
    ``num_hashes/bands``, hash each band, self-join on (band_idx,
    band_hash). Docs agreeing on ANY band become a candidate pair —
    the classic MinHash-LSH candidate join, expressed as
    explode + equi-join (one shuffle on band keys).

    ``hash_family``: ``xxhash64`` (fast path; band key = F.hash of the
    slice) or ``md5`` (portable lanes + comma-joined string band key —
    both reproducible in the DuckDB oracle).

    ``max_bucket_size``: hot-bucket cap. A bucket of k docs yields k²/2
    pairs from the self-join — on a corpus where many long documents
    share a signature (measured: the 31-word-vocab synthetic corpus at
    50k docs produced multi-GB candidate partitions and killed the job
    when evicted mid-join), ONE hot bucket is quadratic in corpus size.
    With the cap, buckets larger than ``max_bucket_size`` emit STAR
    edges instead — (min-id hub, member) pairs, k−1 edges — which keeps
    worst-case candidate volume linear in the band index while
    preserving bucket connectivity exactly (members of one bucket stay
    in one connected component), so cluster-assembly workflows
    (:func:`dedup_clusters`) lose nothing. Pair-listing workflows lose
    non-hub pairs within oversized buckets — a documented recall trade;
    ``None`` (default) keeps the exhaustive all-pairs behavior.

    Returns distinct (id_a, id_b) candidate pairs (unverified),
    materialized by :meth:`session.CheckpointScope.result`.
    """
    rows_per_band = num_hashes // bands
    if hash_family == "md5":
        sig = minhash_signatures_md5(df, id_col, text_col, num_hashes, n)

        def band_key(bi):
            return F.array_join(
                F.transform(
                    F.slice("sig", bi * rows_per_band + 1, rows_per_band),
                    lambda x: x.cast("string"),
                ),
                ",",
            )
    else:
        sig = minhash_signatures(df, id_col, text_col, num_hashes, n)

        def band_key(bi):
            return F.hash(F.slice("sig", bi * rows_per_band + 1, rows_per_band))

    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                band_idx,
                lambda bi: F.struct(bi.alias("band"), band_key(bi).alias("bh")),
            )
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    with checkpoint_scope(df.sparkSession) as scope:
        # materialize the band index once — the self-join would otherwise
        # recompute the full signature pipeline for BOTH sides. The banded
        # relation is (id, band, bh): bands × n_docs small fixed-width rows —
        # the signature index you would persist anyway at 100 TB.
        banded = scope.checkpoint(banded)
        star = None
        if max_bucket_size is not None:
            from pyspark.sql import Window

            w = Window.partitionBy("band", "bh")
            stats = banded.select(
                "id",
                "band",
                "bh",
                F.count("*").over(w).alias("__k"),
                F.min("id").over(w).alias("__hub"),
            )
            star = (
                stats.filter((F.col("__k") > max_bucket_size) & (F.col("id") != F.col("__hub")))
                .select(F.col("__hub").alias("id_a"), F.col("id").alias("id_b"))
            )
            banded = stats.filter(F.col("__k") <= max_bucket_size).select("id", "band", "bh")
        left = banded.alias("l")
        right = banded.alias("r")
        pairs = (
            left.join(
                right,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.bh") == F.col("r.bh"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        )
        if star is not None:
            pairs = pairs.unionByName(star)
        return scope.result(pairs.distinct())


def minhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 1,
    hash_family: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidates from LSH, verified with exact set-Jaccard on the
    candidate pairs only. Returns (id_a, id_b, jaccard ≥ threshold).
    ``max_bucket_size`` caps hot LSH buckets via star edges (see
    :func:`minhash_lsh_candidates`) — verified output then contains the
    hub pairs of oversized buckets rather than all k² members.

    The candidate set comes back materialized from
    :func:`minhash_lsh_candidates` (driver-local rows, or its one pinned
    checkpoint, which this call adopts and releases) and feeds two
    consumers: its ids are semi-joined against the corpus BEFORE shingle
    arrays are built, so verification computes payload arrays only for
    documents that appear in some candidate pair — at 100 TB that is
    the difference between re-scanning the corpus and touching a few
    thousand rows."""
    with checkpoint_scope(df.sparkSession) as scope:
        cands = scope.adopt(minhash_lsh_candidates(
            df, id_col, text_col, num_hashes, bands, n, hash_family, max_bucket_size
        ))
        cand_ids = cands.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
        ).distinct()
        # no broadcast hint: cand_ids is usually tiny (AQE will broadcast it
        # at runtime) but is unbounded in the worst case — a forced broadcast
        # would hard-fail at the 8 GB exchange limit exactly when banding
        # saturates, where a semi join only degrades
        relevant = df.join(cand_ids, on=id_col, how="leftsemi")
        sets_df = ensure_min_parallelism(relevant).select(
            F.col(id_col).alias("id"), F.array_distinct(shingles(text_col, n)).alias("toks")
        )
        a = sets_df.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
        b = sets_df.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
        verified = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b")),
            )
        )
        return scope.result(
            verified.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")
        )


# ---------------------------------------------------------------------------
# 4. SimHash near-dup
# ---------------------------------------------------------------------------

def simhash_near_dups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    shingle: int = 1,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-dups by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate join uses the block-rotation trick: split the 64-bit
    signature into ``max_hamming+1`` 16-bit blocks — pairs within the
    Hamming ball agree on ≥1 block (pigeonhole), so an equi-join on
    (block_idx, block_value) finds all of them without a cross join.
    Verification = exact popcount on the XOR. ``hash_family='md5'``
    makes the signature oracle-reproducible (text.simhash_signatures_md5).
    """
    from cashback_data_pipeline_spark.operators.text import simhash_signatures_md5

    nblocks = max_hamming + 1
    bits = 64 // nblocks
    sig_fn = simhash_signatures_md5 if hash_family == "md5" else simhash_signatures
    sig = sig_fn(df, id_col, text_col, shingle).withColumnRenamed(id_col, "id")
    block_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftright("sig", i * bits).bitwiseAND(F.lit((1 << bits) - 1)).alias("bv"),
            )
            for i in range(nblocks)
        ]
    )
    blocks = sig.select("id", "sig", F.explode(block_structs).alias("b")).select(
        "id", "sig", F.col("b.blk").alias("blk"), F.col("b.bv").alias("bv")
    )
    with checkpoint_scope(df.sparkSession) as scope:
        # materialize the block index once — the self-join would recompute
        # the signature map stage for both sides (same policy as the MinHash
        # band index; (id, sig, blk, bv) is 4 longs × nblocks per doc)
        blocks = scope.checkpoint(blocks)
        l, r = blocks.alias("l"), blocks.alias("r")
        cands = (
            l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.bv") == F.col("r.bv")) & (F.col("l.id") < F.col("r.id")))
            .select(
                F.col("l.id").alias("id_a"),
                F.col("r.id").alias("id_b"),
                F.col("l.sig").alias("sig_a"),
                F.col("r.sig").alias("sig_b"),
            )
            .distinct()
        )
        hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        return scope.result(
            cands.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming")
        )


# ---------------------------------------------------------------------------
# 5. Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Semantic near-dup: pairs with cosine ≥ threshold. Exact (all pairs
    within a block); for unblocked 100 TB corpora use
    similarity.hyperplane_lsh_bucketed first and verify within buckets."""
    from cashback_data_pipeline_spark.operators.similarity import cosine_sim

    base = df.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    a = base.select(F.col("id").alias("id_a"), *( [F.col("blk").alias("blk_a")] if block_col else [] ), F.col("v").alias("va"))
    b = base.select(F.col("id").alias("id_b"), *( [F.col("blk").alias("blk_b")] if block_col else [] ), F.col("v").alias("vb"))
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        cond = cond & (F.col("blk_a") == F.col("blk_b"))
    pairs = a.join(b, cond)
    return (
        pairs.withColumn("cos", cosine_sim(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Duplicate-cluster assembly: near-dup PAIRS → CLUSTERS via
    min-label propagation WITH POINTER JUMPING. Returns (id, cluster_id)
    where cluster_id is the smallest member id — the canonical
    representative.

    Each round does (1) one-hop neighbor-min propagation (join + agg)
    and (2) a label shortcut ``cluster_id ← label(cluster_id)`` (one
    self-join) — the pointer-doubling step of the MapReduce
    connected-components literature (Kiveris et al.'s star operations
    are the same idea). Label chains collapse exponentially, so rounds
    needed is O(log diameter) instead of the diameter itself (VERDICT r3
    item 5: a one-hop-only loop needed ~1000 rounds on a 1000-node
    drifting chain; this converges in ≤ ~12 — pinned in
    tests/test_dedup.py). Invariant both steps preserve: a node's label
    is always the id of a SAME-COMPONENT node ≤ its own, so at fixpoint
    every edge joins equal labels and each component's shared label can
    only be its minimum id.

    If ``max_iter`` rounds pass without the fixpoint the function RAISES
    rather than return silently-split clusters (the default allows
    diameters ~2^20). Each round checkpoints its label table (caching
    alone is NOT enough for iterative plans — the logical plan still
    grows per round and Catalyst analysis time explodes; the checkpoint
    truncates lineage to a leaf) and releases the previous round's once
    the new one exists. The final labels follow
    :meth:`session.CheckpointScope.result`: driver-local rows when small,
    else one pinned checkpoint the caller releases."""
    with checkpoint_scope(pairs.sparkSession) as scope:
        # materialized ONCE: every round re-joins these edges, and each
        # iteration would otherwise re-execute the (expensive) upstream
        # pair-generation plan from scratch
        edges = scope.checkpoint(
            pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
            .distinct()
        )
        if nodes is None:
            nodes = edges.select(F.col("src").alias("id")).distinct()
        labels = scope.checkpoint(nodes.select("id", F.col("id").alias("cluster_id")))

        for _ in range(max_iter):
            neighbor_min = (
                edges.join(labels, edges.dst == labels.id)
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            prop = labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
                "id",
                F.least(F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
            # pointer jumping: follow the label one more level in the SAME
            # round (label(label(v))). Every label is a node id, so the
            # self-join always matches; chains halve each round.
            jump = prop.select(F.col("id").alias("__pid"), F.col("cluster_id").alias("__pcl"))
            new_labels = scope.checkpoint(  # truncate lineage — see docstring
                prop.join(jump, prop.cluster_id == jump.__pid, "left")
                .select("id", F.coalesce("__pcl", "cluster_id").alias("cluster_id"))
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .limit(1)
                .count()
            )
            scope.release(labels)
            labels = new_labels
            if changed == 0:
                return scope.result(labels)
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        "rounds (component diameter exceeds it); raise max_iter"
    )


# ---------------------------------------------------------------------------
# 6. incremental dedup: new batch vs. historical corpus
# ---------------------------------------------------------------------------

def dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The production crawl-ingest pattern: admit only NEW documents whose
    content is absent from the historical corpus, deduplicating within the
    batch as well (winner = min id per fingerprint).

    Returns (id_col, fingerprint, plus new_df's other columns) for the
    surviving rows.

    Scale design: the historical side collapses to DISTINCT 32-char md5
    digests — in a real deployment that is the persisted fingerprint
    store, ~50 GB for 100 TB of documents — so the anti-join shuffles
    digests, never payloads. Within-batch dedup is one hash-partitioned
    window; AQE broadcasts the history side when a day's crawl dwarfs it.
    Null/empty text is junk, not content: such rows are dropped rather
    than deduplicated against each other."""
    nonempty = F.col(text_col).isNotNull() & (F.length(text_col) > 0)
    hist = (
        corpus_df.filter(nonempty)
        .select(fingerprint_md5(text_col).alias("__fp"))
        .distinct()
    )
    batch = new_df.filter(nonempty).withColumn("__fp", fingerprint_md5(text_col))
    batch_first = dedup_exact(batch, ["__fp"], id_col)
    return (
        batch_first.join(hist, "__fp", "left_anti")
        .withColumnRenamed("__fp", "fingerprint")
    )
