"""Training-data curation operators: deterministic splits, domain
mixtures, repetition quality metrics, PII redaction, stratified samples.

These are the corpus-assembly primitives an LLM data pipeline runs after
dedup/quality filtering (reference scope: the ETL curation stage —
glue_script.py's select/derive discipline — generalized to corpus
curation). Everything is expressed with built-in JVM functions (md5,
regexp_replace, arrays, windows) — no Python in the hot path — so every
operator scans at parquet-reader speed and parallelizes per-row or
per-group with no driver involvement.

Determinism note: all sampling/splitting here is HASH-derived, never
``rand()``. At 100 TB, re-runs, retries, and incremental loads must
assign every row the same way on every executor — a salted md5 of the
row key is the standard trick (and is engine-portable, so DuckDB
oracles can replicate it exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.session import checkpoint_scope

#: width of the hex prefix used for bucketing: 4 hex chars = 65536 buckets,
#: giving fraction resolution of ~0.0015% — plenty for split/mixture work.
_HEX_WIDTH = 4
_BUCKETS = 16 ** _HEX_WIDTH


def hash_bucket(key: Column | str, salt: str = "") -> Column:
    """Deterministic uniform bucket for a row key, as a FIXED-WIDTH hex
    string: ``substr(md5(key || salt), 1, 4)``.

    Kept as a hex *string* (not parsed to int) so thresholds are plain
    lexicographic comparisons — identical semantics in Spark, DuckDB,
    and any ANSI engine, with no hex-parsing portability trap."""
    k = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(F.concat(k.cast("string"), F.lit(salt))), 1, _HEX_WIDTH)


def _boundary(cum_fraction: float) -> str:
    """Hex threshold such that ``bucket < boundary`` keeps cum_fraction.

    Fraction 1.0 returns ``"g"`` — lexicographically after every hex
    string of any length — because ``format(65536) == "10000"`` is FIVE
    chars and would sort *before* ``"2000"``, silently dropping ~94%."""
    if cum_fraction >= 1.0:
        return "g"
    return format(int(cum_fraction * _BUCKETS), f"0{_HEX_WIDTH}x")


def split_boundaries(splits: dict[str, float]) -> list[tuple[str, str]]:
    """(split_name, upper_hex_boundary) pairs in declaration order."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    out, cum = [], 0.0
    for name, frac in splits.items():
        cum += frac
        out.append((name, _boundary(cum)))
    return out


def assign_split(
    df: DataFrame,
    key_col: str = "doc_id",
    splits: dict[str, float] | None = None,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic train/val/test assignment: adds a ``split`` column
    from the salted-md5 bucket of ``key_col``.

    Pure projection — no shuffle, no state, embarrassingly parallel; the
    assignment of any row is independent of every other row, so it holds
    under incremental appends (new rows never reshuffle old splits) and
    at any scale. Change ``salt`` to draw a fresh independent split."""
    splits = splits or {"train": 0.8, "val": 0.1, "test": 0.1}
    b = hash_bucket(key_col, salt)
    names = split_boundaries(splits)
    # build CASE from the last ELSE inward
    expr: Column = F.lit(names[-1][0])
    for name, bound in reversed(names[:-1]):
        expr = F.when(b < bound, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def weighted_sample(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    salt: str = "mix1",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Domain-mixture downsampling: keep a per-group deterministic
    fraction of rows (e.g. ``{"src0": 1.0, "src1": 0.25}`` to reweight
    sources in a training mixture).

    One filter on a salted hash bucket — no shuffle, no sampling state,
    reproducible across retries/executors. Groups absent from
    ``fractions`` keep ``default_fraction``."""
    b = hash_bucket(key_col, salt)
    g = F.col(group_col)
    expr: Column = F.lit(_boundary(default_fraction))
    for name, frac in fractions.items():
        expr = F.when(g == name, F.lit(_boundary(frac))).otherwise(expr)
    return df.filter(b < expr)


def stratified_sample_exact(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str = "doc_id",
    salt: str = "strat1",
) -> DataFrame:
    """Exactly-k-per-group deterministic sample: rank rows inside each
    group by their salted md5 (a reproducible shuffle order) and keep the
    first ``k``. Adds ``sample_rank`` (1-based).

    One hash-partition shuffle on ``group_col``; rank order is the hash,
    so the sample is uniform-without-replacement yet stable across runs.
    At 100 TB with few giant groups, swap the full sort inside each
    partition for a per-partition top-k (Spark's window TopK already
    avoids materializing beyond rank k when followed by the filter)."""
    from pyspark.sql import Window as W

    # order by the FULL md5 digest (not the 4-hex bucket — birthday
    # collisions would make ranks ambiguous), key as final tiebreak
    full = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    w = W.partitionBy(group_col).orderBy(full.asc(), F.col(key_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
    )


# ---------------------------------------------------------------------------
# Repetition / quality metrics (Gopher-style rules)
# ---------------------------------------------------------------------------

def bigrams(col: Column | str) -> Column:
    """Adjacent-token bigram array (``"a b", "b c", …``) from a
    whitespace-tokenized text column. size = n_tokens − 1 (empty for
    single-token docs)."""
    from cashback_data_pipeline_spark.operators.text import tokens

    t = tokens(col)
    n = F.size(t)
    return F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document n-gram repetition scores (the Gopher repetition
    rules): ``top_bigram_frac`` (occurrences of the most frequent bigram
    over all bigram occurrences) and ``dup_bigram_frac`` (occurrences of
    bigrams seen more than once over all occurrences). High values flag
    boilerplate/spam for the quality gate.

    Relational plan: explode bigrams once → count per (doc, bigram) →
    per-doc ratios from one partial-aggregated groupBy. Both aggs are
    map-side combinable; the shuffle key is (doc, bigram) then doc —
    naturally balanced (a document's bigrams are its own partition
    weight; no global hot key). Docs with <2 tokens have no bigrams and
    drop out (join back with a left join if completeness matters)."""
    ex = df.select(F.col(id_col), F.explode(bigrams(text_col)).alias("__bg"))
    counts = ex.groupBy(id_col, "__bg").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.groupBy(id_col).agg(
        (F.max("cnt") / F.sum("cnt")).alias("top_bigram_frac"),
        (
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0)))
            / F.sum("cnt")
        ).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: conservative patterns using only syntax shared by Java regex and RE2,
#: so DuckDB oracles behave identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}[-. ]\d{3,4}[-. ]\d{4}"


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    replacement: str = "[PII]",
    out_col: str | None = None,
) -> DataFrame:
    """Scrub emails and phone-shaped numbers from a text column (the
    pre-training privacy pass). Adds ``n_pii`` (match count before
    redaction) beside the redacted text.

    Two JVM ``regexp_replace`` passes — codegen'd, no UDF, scans at
    reader speed; patterns are deliberately RE2-compatible so the same
    regexes run in validation oracles."""
    out = out_col or text_col
    c = F.col(text_col)
    n = F.regexp_count(c, F.lit(EMAIL_RE)) + F.regexp_count(c, F.lit(PHONE_RE))
    red = F.regexp_replace(
        F.regexp_replace(c, EMAIL_RE, replacement), PHONE_RE, replacement
    )
    return df.withColumn("n_pii", n.cast("int")).withColumn(out, red)


# ---------------------------------------------------------------------------
# Corpus-statistics quality: unigram LM surprisal
# ---------------------------------------------------------------------------

def unigram_surprisal(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document mean unigram surprisal: avg over tokens of
    ``−ln P(token)`` where P comes from the corpus itself — the
    simplified CCNet/perplexity-filter shape. LOW surprisal ⇒ the doc is
    made of corpus-typical tokens (boilerplate); HIGH ⇒ rare-token noise;
    the quality gate keeps the middle band. Returns (id, n_tokens,
    surprisal).

    Fully relational: one token explode feeds both the corpus frequency
    table (groupBy token — map-side combinable) and the per-doc score
    join; the token total rides along as a broadcast 1-row aggregate, so
    nothing ever collects to the driver. Scales as two shuffles of
    (token) and (doc) keys — both naturally spread. The result is
    materialized by :meth:`session.CheckpointScope.result`."""
    from cashback_data_pipeline_spark.operators.text import tokens

    with checkpoint_scope(df.sparkSession) as scope:
        # materialize the exploded tokens once — they feed THREE consumers
        # (frequency table, total, and the score join); without the barrier
        # each consumer re-scans and re-tokenizes the corpus
        tk = scope.checkpoint(df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok")))
        freq = tk.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
        total = tk.agg(F.count(F.lit(1)).alias("__n"))
        scored = (
            tk.join(freq, on="__tok")
            .join(F.broadcast(total), F.lit(True))
            .withColumn("__s", -F.log(F.col("__c").cast("double") / F.col("__n")))
        )
        return scope.result(
            scored.groupBy(id_col).agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.avg("__s").alias("surprisal"),
            )
        )


def ngrams_from_tokens(t: Column, n: int = 3) -> Column:
    """DISTINCT word n-grams from an ALREADY-BOUND token-array column —
    a zip_with fold over shifted slices (O(L·n), linear walks, no
    Python). Sequences shorter than ``n`` tokens yield an empty array.

    Bind the token array in its OWN select first: the expression
    references ``t`` from every gram element, and a projection boundary
    makes Catalyst evaluate the split once per row instead of once per
    element (measured 2.9 s → 0.9 s over 5k docs; same lesson as
    dedup.shingles).

    Built as a ``zip_with`` fold over ``n`` shifted slices (slice once,
    walk linearly, concat pairwise) — element_at-per-offset paid
    interpreted bounds-checked random access per token per gram,
    measured 5× slower on the md5-gram pipeline."""
    m = F.greatest(F.size(t) - (n - 1), F.lit(0))
    g = F.slice(t, 1, m)
    for j in range(1, n):
        g = F.zip_with(g, F.slice(t, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(F.size(t) >= n, F.array_distinct(g)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """DISTINCT word n-grams of a whitespace-tokenized text column in one
    expression. Convenience form for small inputs — hot paths should
    split into a bound token column and call ``ngrams_from_tokens``
    (see its docstring for why)."""
    c = F.col(col) if isinstance(col, str) else col
    return ngrams_from_tokens(F.split(c, " "), n)


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    distinct word n-grams appear anywhere in the evaluation corpus —
    the standard leakage screen run before LLM training (the published
    recipe: flag/strip train docs sharing long n-grams with eval sets).

    Returns (id_col, n_grams, contaminated, contamination_q6) with
    contamination_q6 = floor(contaminated/n_grams·1e6 + 0.5)/1e6 — an
    integer-ratio quantize that is bit-identical across engines.

    Scale design: the EVAL side is the small one (benchmark suites are
    at most millions of grams) — it collapses to a DISTINCT set of
    xxhash64 gram fingerprints (8 bytes each, not the gram strings) and
    broadcasts, so the 100 TB training corpus is screened in ONE scan:
    explode_outer carries every document through the broadcast
    hit-lookup, and a single reduce on the (naturally spread) document
    key produces both the gram total and the hit count — no second scan
    for the denominator, no gram string ever leaves the map side.
    (64-bit fingerprint collision odds at benchmark-suite scale,
    ~1e7 distinct grams, are ~1e-6 per corpus — far below the
    false-positive rate of n-gram screening itself.)"""
    from cashback_data_pipeline_spark.operators.dedup import ensure_min_parallelism

    g = ngrams_from_tokens(F.col("__t"), n)

    def toked(d: DataFrame) -> DataFrame:
        # own projection for the token array — see ngrams_from_tokens
        return d.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__t"))

    ev = (
        toked(eval_df)
        .select(F.explode(F.transform(g, lambda x: F.xxhash64(x))).alias("gh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    # narrow parquet scans arrive as one split; spread the gram fan-out
    tr = toked(ensure_min_parallelism(train)).select(F.col(id_col), g.alias("__g"))
    exploded = tr.select(
        id_col, F.explode_outer(F.transform("__g", lambda x: F.xxhash64(x))).alias("gh")
    )
    joined = (
        exploded.join(F.broadcast(ev), "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count("gh").alias("n_grams"),
            F.count("__hit").alias("contaminated"),
        )
    )
    ratio = F.col("contaminated") / F.greatest(F.col("n_grams"), F.lit(1))
    return joined.withColumn(
        "contamination_q6", F.floor(ratio * 1_000_000 + 0.5) / 1_000_000
    )


def cross_doc_ngram_dup(
    df: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level duplicate-n-gram fraction: per document, the share of
    its DISTINCT word n-grams that also appear in at least one OTHER
    document. The across-corpus complement of the within-document
    repetition metrics in ``repetition_metrics`` — high values flag
    boilerplate and template spam that exact dedup misses because the
    surrounding bytes differ.

    Returns (id_col, n_grams, dup_grams, dup_fraction_q6) with the
    fraction quantized via floor(x*1e6+0.5)/1e6 for cross-engine parity.

    Scale design: grams are distinct per document before exploding and
    are immediately collapsed to 8-byte xxhash64 fingerprints, so no
    gram STRING ever reaches a shuffle (the gram text exists only inside
    the map-side projection; 64-bit collisions at web-corpus scale are
    ~1e-4 of the duplicate-gram rate and only perturb a screening
    ratio). The gram→doc-frequency aggregation counts documents with a
    map-side partial combine — never count(distinct); the duplicated-
    fingerprint set then semi-joins back against the exploded pairs on
    the 8-byte key. explode_outer keeps short/empty documents in the
    single per-doc reduce (0/0 → 0), so the corpus is scanned twice
    (once per side of the self-comparison) and nothing else."""
    from cashback_data_pipeline_spark.operators.dedup import ensure_min_parallelism

    # narrow parquet scans arrive as one split; spread the gram fan-out.
    # Token array bound in its own projection — see ngrams_from_tokens.
    tok_df = ensure_min_parallelism(df).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__t")
    )
    g_df = tok_df.select(F.col(id_col), ngrams_from_tokens(F.col("__t"), n).alias("__g"))
    pairs = g_df.select(
        F.col(id_col),
        F.explode_outer(F.transform("__g", lambda x: F.xxhash64(x))).alias("gh"),
    )
    dup_set = (
        pairs.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= 2)
        .select("gh", F.lit(1).alias("__dup"))
    )
    joined = (
        pairs.join(dup_set, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count("gh").alias("n_grams"),
            F.count("__dup").alias("dup_grams"),
        )
    )
    ratio = F.col("dup_grams") / F.greatest(F.col("n_grams"), F.lit(1))
    return joined.withColumn(
        "dup_fraction_q6", F.floor(ratio * 1_000_000 + 0.5) / 1_000_000
    )


def _frequent_gram_coverage(
    df: DataFrame,
    *,
    n: int,
    min_df: int,
    text_col: str,
    id_col: str,
):
    """Shared machinery for the cross-document boilerplate family:
    returns ``(toks, covered)`` where ``toks`` is (id, pos, tok) —
    0-based positions — and ``covered`` the distinct (id, pos) set of
    positions lying inside any word n-gram that occurs in ≥ ``min_df``
    distinct documents. Gram keys travel as portable md5 hex (DuckDB
    oracles replay them bit-for-bit); grams are built as a zip_with fold
    over shifted slices (5× the element_at-per-offset form); only
    FREQUENT gram occurrences fan out into positions.

    NULL text coalesces to '' BEFORE tokenizing: split(NULL) is NULL and
    posexplode would drop the document entirely, while the DuckDB oracle's
    LEFT JOIN keeps it — a latent cross-engine row-count divergence
    (ADVICE r3). Both engines now see the one-empty-token document."""
    from cashback_data_pipeline_spark.operators.dedup import ensure_min_parallelism

    tok_df = ensure_min_parallelism(df).select(
        F.col(id_col), F.split(F.coalesce(F.col(text_col), F.lit("")), " ").alias("__t")
    )
    toks = tok_df.select(id_col, F.posexplode("__t").alias("pos", "tok"))

    t_col = F.col("__t")
    m = F.greatest(F.size(t_col) - (n - 1), F.lit(0))
    g = F.slice(t_col, 1, m)
    for j in range(1, n):
        g = F.zip_with(g, F.slice(t_col, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b))
    gram_arr = tok_df.select(
        F.col(id_col),
        F.when(F.size(t_col) >= n, F.transform(g, F.md5))
        .otherwise(F.array().cast("array<string>"))
        .alias("__gs"),
    )
    occ = gram_arr.select(id_col, F.posexplode("__gs").alias("start", "gh"))
    frequent = (
        occ.select(id_col, "gh")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("gh")
    )
    covered = (
        occ.join(frequent, "gh")
        .select(id_col, F.explode(F.sequence(F.col("start"), F.col("start") + (n - 1))).alias("pos"))
        .distinct()
    )
    return toks, covered, tok_df


def duplicate_passages(
    df: DataFrame,
    *,
    n: int = 5,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated-passage spans per document: contiguous token
    ranges covered by word n-grams that repeat across ≥ ``min_df``
    documents — the reporting companion of ``scrub_frequent_ngrams``
    (inspect/score what the scrub would remove, the exact-substring-dedup
    shape of the dedup literature approximated at n-gram resolution).

    Returns (id_col, span_start, span_end, span_tokens) with 0-based
    inclusive token positions, one row per maximal span.

    Plan: the shared coverage machinery, then gaps-and-islands — rank
    covered positions per doc and group by ``pos − rank``, which is
    constant exactly on consecutive runs; min/max/count per island give
    the spans. One window pass + one aggregate over the covered set
    (boilerplate volume, not corpus volume)."""
    from pyspark.sql import Window as W

    _, covered, _ = _frequent_gram_coverage(
        df, n=n, min_df=min_df, text_col=text_col, id_col=id_col
    )
    w = W.partitionBy(id_col).orderBy("pos")
    islands = covered.withColumn("__grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy(id_col, "__grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pos").alias("span_end"),
            F.count(F.lit(1)).alias("span_tokens"),
        )
        .select(id_col, "span_start", "span_end", "span_tokens")
    )


def scrub_frequent_ngrams(
    df: DataFrame,
    *,
    n: int = 3,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate REMOVAL (the rewrite companion of the
    ``cross_doc_ngram_dup`` screen): drop every token covered by a word
    n-gram that appears in at least ``min_df`` distinct documents, and
    reassemble the remaining tokens in order. This is the CCNet/
    RefinedWeb-style cross-document boilerplate scrub — headers, footers,
    license blurbs, and template spam repeat verbatim across documents,
    so their n-grams exceed ``min_df`` while genuine prose stays unique.

    Returns (id_col, n_tokens, kept_tokens, scrubbed_text); documents
    with every token scrubbed keep a row with ``scrubbed_text = ''``.

    Scale design: token and gram fan-outs are one ``posexplode`` each off
    a bound token-array projection (codegen, no Python); gram keys shuffle
    as 32-char ``md5`` hex — portable to any engine (the DuckDB oracle
    replays the pipeline bit-for-bit) and collision-free in practice
    (2^128), so the scrub itself is exact. Document frequency is
    distinct-(doc, gram) then a map-side-combined count — never
    count(distinct) — and only FREQUENT gram occurrences fan out into
    covered positions (boilerplate volume, not corpus volume). The final
    reassembly shuffles each doc's kept tokens once on ``id_col``; at
    100 TB that is the same movement any per-document reduce pays, and
    the wide text string exists only before tokenize and after reduce.
    """
    _, covered, tok_df = _frequent_gram_coverage(
        df, n=n, min_df=min_df, text_col=text_col, id_col=id_col
    )
    # ARRAY reassembly — the token stream never shuffles: the coverage
    # set aggregates to one int-array row per affected doc (boilerplate
    # volume), joins back to the (id, token-array) scan (broadcast when
    # small, one doc-keyed shuffle worst case), and survivors filter
    # in-place with a positional HOF. The previous formulation exploded
    # every token and shuffled the full token stream TWICE (coverage tag
    # join + per-doc collect_list reduce) — measured ~3.0 → ~2.1 s at
    # sf0.1, and strictly better at 100 TB (token volume ≫ coverage
    # volume; the remaining cost is the gram-frequency aggregate).
    cov_arr = covered.groupBy(id_col).agg(F.collect_list("pos").alias("__cov"))
    joined = tok_df.join(cov_arr, id_col, "left")
    cov = F.coalesce(F.col("__cov"), F.array().cast("array<int>"))
    # projection boundary binds the filtered survivor array ONCE (it is
    # referenced by both size() and the reassembly join — same
    # CollapseProject discipline as minhash_signatures)
    kept = F.filter(
        F.transform(F.col("__t"), lambda t, i: F.struct(i.alias("pos"), t.alias("tok"))),
        lambda s: ~F.array_contains(cov, s["pos"]),
    )
    bound = joined.select(id_col, "__t", kept.alias("__kept"))
    return bound.select(
        F.col(id_col),
        F.size("__t").alias("n_tokens"),
        F.size("__kept").alias("kept_tokens"),
        F.array_join(F.transform("__kept", lambda s: s["tok"]), " ").alias("scrubbed_text"),
    )


def quality_percentile_gate(
    df: DataFrame,
    score: Column,
    *,
    percentile: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-relative quality gate (the FineWeb-style 'keep the top
    quartile' filter): keep documents whose quality score reaches the
    corpus ``percentile``. Absolute thresholds drift as the corpus mix
    changes; a percentile gate is self-calibrating.

    ``score`` should be a DETERMINISTIC, cross-engine-stable expression —
    quantize it (scaled integers are safest) before gating so the
    threshold comparison can never straddle an engine ulp.

    Returns (id_col, score_e6) for kept documents, with ``score_e6`` the
    scaled-integer score this gate compared against.

    Scale design: one pass computes scores; the exact interpolated
    percentile is a single-reduce aggregate whose result broadcasts back
    over the corpus (Spark turns the 1-row cross join into
    BroadcastNestedLoopJoin — one row, so 'nested loop' is a constant) —
    no sort of the full corpus, no driver round-trip. At 100 TB swap the
    exact percentile for approx_percentile(score, p, accuracy) and keep
    the identical plan shape.
    """
    scored = df.select(
        F.col(id_col),
        F.floor(score * 1_000_000 + 0.5).cast("long").alias("score_e6"),
    )
    thr = scored.agg(F.expr("percentile(score_e6, " + repr(percentile) + ")").alias("__thr"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("score_e6") >= F.col("__thr"))
        .select(id_col, "score_e6")
    )


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    *,
    group_col: str | None = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "budget1",
    tokens_col: str | None = None,
) -> DataFrame:
    """Deterministic token-budget sampling — the mixture-assembly step
    that fills each source's token allowance for a training run: walk
    each group's documents in salted-hash order (a reproducible shuffle)
    and keep documents while the running token total stays within
    ``budget_tokens``.

    Returns (id_col[, group_col], n_tokens, cum_tokens) for kept docs.

    Scale design: one window pass per group (hash order ⇒ uniform
    sample-without-replacement, stable across runs/retries/engines), a
    running sum, one filter. The window shuffles on ``group_col`` only —
    the same movement any per-source reduce pays. ``group_col=None``
    budgets the whole corpus through one global window: small-corpus
    only (single reducer) — shard upstream for that case.

    ``tokens_col`` names a precomputed token-count column (e.g. from
    ``text.greedy_bpe_token_ids`` — true tokenizer counts instead of the
    whitespace proxy); when given, ``text_col`` is ignored."""
    from pyspark.sql import Window as W

    h = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = (
        W.partitionBy(group_col) if group_col is not None else W.partitionBy()
    ).orderBy(h.asc(), F.col(id_col).asc())
    n_tok = (
        F.col(tokens_col).cast("long")
        if tokens_col is not None
        else F.size(F.split(F.col(text_col), " ")).cast("long")
    )
    out_cols = [id_col] + ([group_col] if group_col else []) + ["n_tokens", "cum_tokens"]
    return (
        df.select(
            F.col(id_col),
            *([F.col(group_col)] if group_col else []),
            n_tok.alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget_tokens)
        .select(*out_cols)
    )
