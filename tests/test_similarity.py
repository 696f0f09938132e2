from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cashback_data_pipeline_spark.operators import similarity
from cashback_data_pipeline_spark.sources import read_testdata


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_testdata(spark, sf_dir, "embeddings")


@pytest.fixture(scope="module")
def numpy_topk(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)

    def topk(query_ids, k):
        out = {}
        for qid in query_ids:
            qi = int(np.where(ids == qid)[0][0])
            sims = mat @ mat[qi]
            order = sorted(
                ((s, int(i)) for s, i in zip(sims, ids) if i != qid),
                key=lambda t: (-t[0], t[1]),
            )
            out[qid] = [i for _, i in order[:k]]
        return out

    return topk


def test_brute_force_topk_matches_numpy(emb, numpy_topk):
    queries = emb.filter(F.col("vec_id") < 5)
    got = similarity.brute_force_topk(queries, emb, k=10).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == numpy_topk([0, 1, 2, 3, 4], 10)


def test_pandas_topk_matches_builtin(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    a = similarity.brute_force_topk(queries, emb, k=8)
    b = similarity.cosine_topk_pandas(queries, emb, k=8)
    sa = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in a.collect()}
    sb = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in b.collect()}
    assert sa == sb


def test_ivf_recall_against_brute_force(emb, numpy_topk):
    queries = emb.filter(F.col("vec_id") < 10)
    approx = similarity.ivf_topk(queries, emb, n_centroids=16, n_probe=8, k=10)
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    truth = numpy_topk(list(got), 10)
    recalls = [len(got[q] & set(truth[q])) / 10 for q in got]
    assert sum(recalls) / len(recalls) >= 0.5, f"IVF recall too low: {recalls}"


def test_ivf_topk_with_refined_centroids(emb, numpy_topk):
    queries = emb.filter(F.col("vec_id") < 10)
    approx = similarity.ivf_topk(queries, emb, n_centroids=16, n_probe=8, k=10, refine_iters=2)
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert all(len(v) == 10 for v in got.values())
    truth = numpy_topk(list(got), 10)
    recalls = [len(got[q] & set(truth[q])) / 10 for q in got]
    assert sum(recalls) / len(recalls) >= 0.5, f"refined-IVF recall too low: {recalls}"


def test_hyperplane_buckets_deterministic(emb, spark):
    b1 = similarity.hyperplane_lsh_buckets(emb.limit(50), n_planes=8)
    b2 = similarity.hyperplane_lsh_buckets(emb.limit(50), n_planes=8)
    m1 = {r["vec_id"]: r["bucket"] for r in b1.collect()}
    m2 = {r["vec_id"]: r["bucket"] for r in b2.collect()}
    assert m1 == m2
    assert 1 < len(set(m1.values()))  # actually buckets into multiple cells


def test_fast_pairs_match_exact_expression(spark, emb):
    from cashback_data_pipeline_spark.operators import dedup as dd

    exact = {(r["id_a"], r["id_b"]): r["cos"] for r in dd.embedding_near_dups(emb, threshold=0.35).collect()}
    fast = {(r["id_a"], r["id_b"]): r["cos"] for r in similarity.embedding_pairs_fast(emb, threshold=0.35).collect()}
    assert set(exact) == set(fast)
    assert all(abs(exact[p] - fast[p]) < 1e-9 for p in exact)


def test_ivf_persisted_index_matches_inline_and_prunes(spark, emb, tmp_path):
    path = str(tmp_path / "ivf")
    similarity.ivf_build_index(emb, path, n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 10)
    inline = similarity.ivf_topk(queries, emb, n_centroids=16, n_probe=4, k=5)
    persisted = similarity.ivf_query_index(spark, path, queries, n_probe=4, k=5)
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in inline.collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in persisted.collect()}
    assert a == b
    # partition pruning: the list scan must carry a partition filter
    plan = persisted._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [centroid_id" in plan


def test_kmeans_refine_improves_quantization(spark, emb):
    """Refined centroids must reduce mean quantization error (1 - cos to
    assigned centroid) vs the lowest-id seeding — the Lloyd's guarantee."""
    seeds = similarity.make_centroids_from_sample(emb, 16)

    def mean_err(cents):
        assigned = similarity.ivf_assign(emb, cents, "vec_id", "embedding")
        scored = assigned.join(
            F.broadcast(cents.select("centroid_id", F.col("centroid").cast("array<double>").alias("cv"))),
            on="centroid_id",
        ).select(
            similarity.cosine_sim(F.col("embedding").cast("array<double>"), F.col("cv")).alias("cos")
        )
        return 1.0 - scored.agg(F.avg("cos")).first()[0]

    refined = similarity.kmeans_refine(emb, seeds, n_iter=3)
    assert refined.count() == 16
    e_seed, e_ref = mean_err(seeds), mean_err(refined)
    assert e_ref < e_seed, (e_seed, e_ref)


def test_hyperplane_buckets_empty_input(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = similarity.hyperplane_lsh_buckets(empty, n_planes=4)
    assert out.count() == 0 and "bucket" in out.columns


def test_int8_quantization_roundtrip_error_bound(emb):
    """Dequantized vectors must be within scale/2 per element, values must
    fit int8, and ANN over the reconstruction must broadly agree with the
    original (cosine distortion is second-order)."""
    q = similarity.quantize_embeddings_int8(emb)
    joined = (
        similarity.dequantize_embeddings_int8(q)
        .withColumnRenamed("embedding", "recon")
        .join(emb.select("vec_id", F.col("embedding").cast("array<double>").alias("orig")), "vec_id")
    )
    err = joined.select(
        F.array_max(
            F.zip_with("orig", "recon", lambda a, b: F.abs(a - b))
        ).alias("max_err"),
        (F.col("vec_id")).alias("vid"),
    ).join(q.select(F.col("vec_id").alias("vid"), "scale"), "vid")
    bad = err.filter(F.col("max_err") > F.col("scale") * 0.5 + 1e-12).count()
    assert bad == 0
    rng = q.select(
        F.array_max("qvec").alias("hi"), F.array_min("qvec").alias("lo")
    ).agg(F.max("hi").alias("hi"), F.min("lo").alias("lo")).first()
    assert -128 <= rng["lo"] and rng["hi"] <= 127


def test_block_gemm_empty_right_block_no_duplicates(spark):
    """Regression: an off-diagonal block pair whose right block is empty
    must not be treated as a diagonal self-comparison — with every id
    hashing into one block and n_blocks=3, each pair used to be emitted
    once per (0,j) group (3x duplicates)."""
    from cashback_data_pipeline_spark.operators import similarity

    # ids chosen so pmod(xxhash64(id), 3) puts them all in ONE block
    base = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0]) for i in range(40)], "vec_id long, embedding array<double>"
    )
    one_block = [
        r["vec_id"]
        for r in base.selectExpr("vec_id", "pmod(xxhash64(vec_id), 3) AS b").collect()
        if r["b"] == 0
    ][:4]
    assert len(one_block) >= 2, "need at least one same-block pair"
    df = base.filter(base.vec_id.isin(one_block))
    pairs = similarity.embedding_pairs_fast(df, threshold=0.9, n_blocks=3).collect()
    keys = [(r["id_a"], r["id_b"]) for r in pairs]
    assert len(keys) == len(set(keys)), f"duplicate pairs emitted: {sorted(keys)}"
    n = len(one_block)
    assert len(set(keys)) == n * (n - 1) // 2


def test_semantic_dedup_keep_lowest_id_rule(spark):
    """Hand-built corpus: v0≈v1≈v2 (one dup set), v3 orthogonal. With one
    cluster the rule must keep the lowest id of the dup set and drop the
    rest; max_prior_cos is NULL only for each cluster's lowest id."""
    import math

    def unit(theta):
        return [math.cos(theta), math.sin(theta), 0.0, 0.0]

    rows = [
        (0, unit(0.00)),
        (1, unit(0.01)),   # cos≈0.99995 to v0 → dropped
        (2, unit(0.02)),   # near both → dropped
        (3, [0.0, 0.0, 1.0, 0.0]),  # orthogonal → kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(df, n_clusters=1, threshold=0.9).collect()}
    assert out[0]["keep"] and out[0]["max_prior_cos"] is None
    assert not out[1]["keep"] and out[1]["max_prior_cos"] > 0.99
    assert not out[2]["keep"]
    assert out[3]["keep"] and out[3]["max_prior_cos"] < 0.1  # prior exists but far


def test_semantic_dedup_cluster_bounded(spark):
    """Two orthogonal dup sets must land in different clusters (k=2,
    seeded from the two lowest ids which are one from each set) and
    dedup within their own cluster only."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),  # dup of 0
        (3, [0.04, 0.999, 0.0, 0.0]),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(df, n_clusters=2, threshold=0.95).collect()}
    assert out[0]["keep"] and out[1]["keep"]
    assert not out[2]["keep"] and not out[3]["keep"]
    assert out[0]["centroid_id"] == out[2]["centroid_id"]
    assert out[1]["centroid_id"] == out[3]["centroid_id"]
    assert out[0]["centroid_id"] != out[1]["centroid_id"]


def test_bucket_gemm_matches_expression_cosine_within_buckets(spark, emb):
    """GEMM within-bucket verification must produce the identical pair
    set as the expression-cosine self-join on the same buckets, with cos
    equal to summation order (1e-9)."""
    from cashback_data_pipeline_spark.operators import dedup

    small = emb.limit(300)
    bucketed = similarity.hyperplane_lsh_buckets(small, n_planes=4)
    expr_pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.embedding_near_dups(bucketed, threshold=0.35, block_col="bucket").collect()
    }
    gemm_pairs = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.bucket_pairs_gemm(bucketed, threshold=0.35).collect()
    }
    assert gemm_pairs.keys() == expr_pairs.keys()
    for k, v in expr_pairs.items():
        assert abs(gemm_pairs[k] - v) < 1e-9, k


def test_lsh_fast_auto_planes_scale_with_corpus(spark, emb):
    """n_planes must grow with the corpus at fixed target bucket size —
    the fixed-plane degeneration caught by the 1x->10x scale check."""
    import math

    def planes(n, target):
        return max(1, math.ceil(math.log2(max(2.0, n / target))))

    # the sizing rule: planes grow logarithmically with the corpus, so
    # expected bucket population stays ~target (linear total pair work)
    assert planes(1_000, 1024) == 1
    assert planes(100_000, 1024) == 7
    assert planes(10_000_000, 1024) == 14
    assert planes(10_000_000, 1024) - planes(1_000_000, 1024) >= 3

    # auto mode runs end-to-end and emits a sane pair set
    out = similarity.embedding_near_dups_lsh_fast(
        emb.limit(300), threshold=0.35, target_bucket_size=64
    ).collect()
    assert all(r["id_a"] < r["id_b"] and r["cos"] >= 0.35 for r in out)

    # explicit planes short-circuit the sizing count and match the
    # fixed-plane contract query's pair set
    fixed = similarity.embedding_near_dups_lsh_fast(
        emb.limit(300), threshold=0.35, n_planes=4
    )
    bucketed = similarity.hyperplane_lsh_buckets(emb.limit(300), n_planes=4)
    want = {
        (r["id_a"], r["id_b"])
        for r in similarity.bucket_pairs_gemm(bucketed, threshold=0.35).collect()
    }
    got = {(r["id_a"], r["id_b"]) for r in fixed.collect()}
    assert got == want


def test_lsh_multi_table_or_amplification(spark, emb):
    """L independent tables must strictly lift recall vs one table and
    emit each pair once (union dedupe via groupBy max cos)."""
    small = emb.limit(400)
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_pairs_fast(small, threshold=0.4).select("id_a", "id_b").collect()
    }
    if not exact:
        import pytest as _pytest

        _pytest.skip("no exact pairs at this threshold in the fixture corpus")
    one = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dups_lsh_fast(
            small, threshold=0.4, target_bucket_size=64, n_tables=1
        ).collect()
    }
    eight_rows = similarity.embedding_near_dups_lsh_fast(
        small, threshold=0.4, target_bucket_size=64, n_tables=8
    ).collect()
    eight = {(r["id_a"], r["id_b"]) for r in eight_rows}
    assert len(eight_rows) == len(eight)  # union deduped
    assert one <= eight  # monotone
    assert len(eight & exact) >= len(one & exact)
    assert eight <= exact  # GEMM verification keeps precision exact
    assert len(eight & exact) / len(exact) >= 0.8  # amplified recall


def test_bucket_cap_routes_degenerate_bucket_exactly(spark):
    """Adversarial all-same-sign corpus (every embedding = one base
    direction + tiny noise, so every vector lands on the SAME side of
    every hyperplane → ONE bucket regardless of plane count): the
    max_bucket_size path must sub-block the bucket through distributed
    blocked GEMM and still emit EXACTLY the uncapped pair set."""
    import random

    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = [
        (i, [b + rng.gauss(0, 1e-3) for b in base])
        for i in range(240)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    bucketed = similarity.hyperplane_lsh_buckets(emb, n_planes=5)
    # degenerate by construction: a single bucket holds the whole corpus
    assert bucketed.select("bucket").distinct().count() == 1

    uncapped = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in similarity.bucket_pairs_gemm(bucketed, threshold=0.9).collect()
    }
    capped_rows = similarity.bucket_pairs_gemm(
        bucketed, threshold=0.9, max_bucket_size=32
    ).collect()
    capped = {(r["id_a"], r["id_b"]): r["cos"] for r in capped_rows}
    assert len(capped_rows) == len(capped)  # each pair exactly once
    assert capped.keys() == uncapped.keys() and len(capped) > 0
    for k, v in uncapped.items():
        assert abs(capped[k] - v) < 1e-9, k

    # end-to-end: the fast path with a cap matches its uncapped self on
    # the same (degenerate) corpus, single- and multi-table
    for n_tables in (1, 4):
        a = {
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_dups_lsh_fast(
                emb, threshold=0.9, n_planes=5, n_tables=n_tables, max_bucket_size=32
            ).collect()
        }
        b = {
            (r["id_a"], r["id_b"])
            for r in similarity.embedding_near_dups_lsh_fast(
                emb, threshold=0.9, n_planes=5, n_tables=n_tables, max_bucket_size=None
            ).collect()
        }
        assert a == b and a == set(uncapped)


def test_lsh_fast_n_hint_skips_sizing_count(spark, emb):
    """n_hint must size planes like a count() of the same magnitude and
    produce a valid pair set without running the sizing job."""
    small = emb.limit(300)
    via_hint = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dups_lsh_fast(
            small, threshold=0.35, target_bucket_size=64, n_hint=300
        ).collect()
    }
    via_count = {
        (r["id_a"], r["id_b"])
        for r in similarity.embedding_near_dups_lsh_fast(
            small, threshold=0.35, target_bucket_size=64
        ).collect()
    }
    assert via_hint == via_count


def test_semantic_dedup_shadow_membership_catches_boundary_pair(spark):
    """A near-dup pair whose two members assign to DIFFERENT primary
    clusters is invisible to primary-only SemDeDup but must be caught
    once shadow membership puts them in a shared pool."""
    import numpy as np

    rng = np.random.default_rng(11)
    c1 = rng.normal(size=8); c1 /= np.linalg.norm(c1)
    c2 = rng.normal(size=8); c2 /= np.linalg.norm(c2)
    mid = (c1 + c2) / np.linalg.norm(c1 + c2)

    def near(v, eps, seed):
        r = np.random.default_rng(seed).normal(scale=eps, size=8)
        out = v + r
        return (out / np.linalg.norm(out)).tolist()

    # ids 0,1 seed the two centroids (make_centroids_from_sample takes
    # lowest ids); 10..13 populate the clusters; 20/21 are a near-dup
    # pair sitting ON the boundary, nudged to opposite sides
    rows = [
        (0, c1.tolist()), (1, c2.tolist()),
        (10, near(c1, 0.05, 1)), (11, near(c1, 0.05, 2)),
        (12, near(c2, 0.05, 3)), (13, near(c2, 0.05, 4)),
        (20, near(mid + 0.02 * c1, 0.001, 5)), (21, near(mid + 0.02 * c2, 0.001, 6)),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<double>"
    )
    primary = {r["vec_id"]: r for r in similarity.semantic_dedup(emb, n_clusters=2, threshold=0.95).collect()}
    shadow = {r["vec_id"]: r for r in similarity.semantic_dedup(emb, n_clusters=2, threshold=0.95, memberships=2).collect()}
    # the pair straddles: different primary clusters, primary-only misses it
    assert primary[20]["centroid_id"] != primary[21]["centroid_id"]
    assert primary[21]["keep"]  # missed by construction
    assert not shadow[21]["keep"]  # shadow pool catches it
    # primary centroid assignment unchanged by shadow membership
    assert all(shadow[i]["centroid_id"] == primary[i]["centroid_id"] for i, _ in rows)
    # shadow can only LOWER keep (monotone): nothing kept in primary-only
    # mode may flip to kept-in-shadow
    assert all(primary[i]["keep"] or not shadow[i]["keep"] for i, _ in rows)


def test_ivf_quantized_index_probe_and_rescore(spark, emb, tmp_path):
    """Quantized persisted lists (VERDICT r5 item 6): the probe scores
    dequantized values with bounded error vs the exact probe; the
    exact-rescore path returns exact cosines; and the in-memory twin
    (ivf_topk_quantized) matches the persisted path exactly."""
    path = str(tmp_path / "ivf_q")
    similarity.ivf_build_index(emb, path, n_centroids=16, quantize=True)
    queries = emb.filter(F.col("vec_id") < 10)

    quant = similarity.ivf_query_index(spark, path, queries, n_probe=4, k=5)
    inline = similarity.ivf_topk_quantized(queries, emb, n_centroids=16, n_probe=4, k=5)
    a = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"]) for r in quant.collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos"]) for r in inline.collect()}
    assert a == b  # persisted == in-memory (same deterministic pipeline)

    # quantized cosines track the exact probe within the int8 error bound
    exact = similarity.ivf_topk(queries, emb, n_centroids=16, n_probe=4, k=5)
    ex = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in exact.collect()}
    qz = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in quant.collect()}
    common = set(ex) & set(qz)
    assert common  # probes overlap heavily
    assert all(abs(ex[p] - qz[p]) < 0.05 for p in common)

    # rescore: exact cosines, and with a wide-enough candidate cut the
    # result equals the exact probe outright
    rescored = similarity.ivf_query_index(
        spark, path, queries, n_probe=4, k=5, rescore_with=emb, rescore_factor=100
    )
    r = {(r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cos"], 9)) for r in rescored.collect()}
    e = {(r["query_id"], r["rank"]): (r["neighbor_id"], round(r["cos"], 9)) for r in exact.collect()}
    assert r == e

    # storage really is int8: tinyint element type in the persisted lists
    lists = spark.read.parquet(f"{path}/lists")
    assert dict(lists.dtypes)["qvec"] == "array<tinyint>"


@pytest.fixture(params=["local", "hadoop-fs"])
def ivf_store_prefix(request):
    """Run the end-to-end incremental-IVF path on both LogStores
    (VERDICT r6 #1): plain path → O_EXCL-link CAS, file:// URI → Hadoop
    FileContext rename CAS through the Spark JVM."""
    return "" if request.param == "local" else "file://"


def test_ivf_manifest_index_delta_replay_and_pinning(spark, emb, tmp_path, ivf_store_prefix):
    """Incremental IVF under the manifest: delta upsert == from-scratch
    frozen-quantizer build; replays are no-ops (both mechanisms); a
    pinned reader is unaffected by a concurrent upsert; rescore returns
    exact cosines."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = ivf_store_prefix + str(tmp_path / "ivf_m")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    queries = emb.filter(F.col("vec_id") < 10)

    assert similarity.ivf_build_index_manifest(base, table, n_centroids=16) == 1
    assert similarity.upsert_ivf_index(delta, table, delta_id="d1") == 2

    got = similarity.ivf_query_index_manifest(spark, table, queries, n_probe=4, k=5)
    # reference: one-shot persisted build over base+delta with centroids
    # seeded from base (same frozen-quantizer state)
    cents = similarity.make_centroids_from_sample(base, 16)
    ref_assigned = similarity.ivf_assign(emb, cents)
    refp = str(tmp_path / "ivf_ref")
    ref_assigned.write.partitionBy("centroid_id").parquet(f"{refp}/lists")
    cents.write.parquet(f"{refp}/centroids")
    want = similarity.ivf_query_index(spark, refp, queries, n_probe=4, k=5)
    g = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in got.collect()}
    w = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in want.collect()}
    assert g == w and g

    # replay no-ops: delta_id check and id anti-join
    assert similarity.upsert_ivf_index(delta, table, delta_id="d1") is None
    assert similarity.upsert_ivf_index(delta, table) is None
    assert M.current_version(table) == 2

    # pinned reader across a concurrent upsert
    pinned = similarity.ivf_query_index_manifest(spark, table, queries, n_probe=4, k=5, version=1)
    before = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in pinned.collect()}
    new_vecs = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding").limit(20)
    assert similarity.upsert_ivf_index(new_vecs, table) == 3
    after = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in pinned.collect()}
    assert before == after  # version-1 read unaffected by the v3 commit

    # quantized variant + exact rescore
    qt = ivf_store_prefix + str(tmp_path / "ivf_mq")
    similarity.ivf_build_index_manifest(base, qt, n_centroids=16, quantize=True)
    similarity.upsert_ivf_index(delta, qt)
    res = similarity.ivf_query_index_manifest(
        spark, qt, queries, n_probe=4, k=5, rescore_with=emb, rescore_factor=100
    )
    r = {(x["query_id"], x["rank"]): (x["neighbor_id"], round(x["cos"], 9)) for x in res.collect()}
    e = {(x["query_id"], x["rank"]): (x["neighbor_id"], round(x["cos"], 9)) for x in want.collect()}
    assert r == e


def test_compact_ivf_index_preserves_probes_and_replay(spark, emb, tmp_path):
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "ivf_mc")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    similarity.ivf_build_index_manifest(base, table, n_centroids=16, quantize=True)
    similarity.upsert_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), table, delta_id="d0")
    queries = emb.filter(F.col("vec_id") < 10)
    before = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.ivf_query_index_manifest(spark, table, queries, n_probe=4, k=5).collect()
    }
    v0 = M.current_version(table)
    n_before = len(M.store_files(M.read_manifest(table, v0), "lists"))

    v = similarity.compact_ivf_index(spark, table)
    assert v == v0 + 1
    m = M.read_manifest(table, v)
    assert len(M.store_files(m, "lists")) < n_before
    after = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.ivf_query_index_manifest(spark, table, queries, n_probe=4, k=5).collect()
    }
    assert after == before
    # replays stay no-ops; centroids carried forward untouched
    assert similarity.upsert_ivf_index(
        emb.filter(F.col("vec_id") % 5 == 0), table, delta_id="d0"
    ) is None
    assert M.store_files(m, "centroids") == M.store_files(M.read_manifest(table, 1), "centroids")


def test_compact_ivf_retrain_reassigns_and_governs_drift(spark, emb, tmp_path):
    """compact_ivf_index(retrain=True) — the drift-governance path
    (VERDICT r6 item 4): after a distribution-shifted delta, the frozen
    quantizer concentrates the new mode into few lists and probe recall
    degrades; retraining re-clusters the current vectors, reassigns
    lists, and commits quantizer+lists as ONE version. Replay guards,
    pinned readers, and the delta-id ledger all survive."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "ivf_rt")
    base = emb.filter(F.col("vec_id") < 400).select("vec_id", "embedding")
    # drifted mode: reversed embeddings under fresh ids — a second
    # cluster structure the frozen base quantizer never saw
    drifted = emb.filter(F.col("vec_id") < 400).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.reverse(F.col("embedding")).alias("embedding"),
    )
    corpus = base.unionByName(drifted)
    q_drift = drifted.filter(F.col("vec_id") < 100010)
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(q_drift, corpus, k=5).collect()
    }

    assert similarity.ivf_build_index_manifest(base, table, n_centroids=16) == 1
    assert similarity.upsert_ivf_index(drifted, table, delta_id="drift-1") == 2

    def recall() -> float:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_query_index_manifest(
                spark, table, q_drift, n_probe=4, k=5
            ).collect()
        }
        return len(got & truth) / len(truth)

    frozen_recall = recall()
    pinned = similarity.ivf_query_index_manifest(spark, table, q_drift, n_probe=4, k=5, version=2)
    pinned_before = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in pinned.collect()}
    old_centroid_files = M.store_files(M.read_manifest(table, 2), "centroids")

    v = similarity.compact_ivf_index(spark, table, retrain=True, refine_iters=3, spill=3)
    assert v == 3
    m = M.read_manifest(table, v)
    assert m["meta"]["retrain"] is True and m["meta"]["compaction"] is True
    assert m["meta"]["delta_ids"] == ["drift-1"]  # ledger carried forward
    assert m["meta"]["layout"]["spill"] == 3  # re-layout recorded for future deltas
    # the quantizer actually changed (new files, not carried forward)
    assert M.store_files(m, "centroids") != old_centroid_files

    retrained_recall = recall()
    # drift governance pays off by a real margin (measured on this
    # fixture: frozen 0.46 → retrained 0.82 with the spread seed +
    # spill=3 re-layout; both deterministic)
    assert retrained_recall >= frozen_recall + 0.2

    # every vector in exactly `spill` lists, none lost or duplicated
    # beyond its memberships; queries dedup the copies
    lists = M.read_store(spark, table, "lists", version=v)
    assert lists.count() == 3 * corpus.count()
    assert lists.select("vec_id").distinct().count() == corpus.count()
    per_id = lists.groupBy("vec_id").count()
    assert per_id.filter("count != 3").count() == 0
    got = similarity.ivf_query_index_manifest(spark, table, q_drift, n_probe=4, k=5)
    per_q = got.groupBy("query_id", "neighbor_id").count()
    assert per_q.filter("count > 1").count() == 0  # spill copies deduped

    # replay of the pre-retrain delta stays a no-op (both mechanisms)
    assert similarity.upsert_ivf_index(drifted, table, delta_id="drift-1") is None
    assert similarity.upsert_ivf_index(drifted, table) is None
    # pinned reader still answers from the pre-retrain quantizer+lists
    pinned_after = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in pinned.collect()}
    assert pinned_after == pinned_before

    # a NEW delta after the spilled retrain honors the layout's spill:
    # its vectors land in 3 lists each, and probes stay dedup-clean
    new_delta = emb.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 420)).select(
        "vec_id", "embedding"
    )
    v2 = similarity.upsert_ivf_index(new_delta, table, delta_id="post-rt")
    lists2 = M.read_store(spark, table, "lists", version=v2)
    per_new = lists2.filter((F.col("vec_id") >= 400) & (F.col("vec_id") < 420)).groupBy(
        "vec_id"
    ).count()
    assert per_new.count() == 20 and per_new.filter("count != 3").count() == 0


def test_compact_ivf_retrain_quantized_and_cas_race(spark, emb, tmp_path, monkeypatch):
    """Retrain on an int8-quantized index keeps the stored schema and
    probe path intact; a delta commit racing the retrain costs the
    compactor its CAS and the retry re-trains over the WINNER's vectors
    (nothing lost, serialized versions)."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "ivf_rtq")
    base = emb.filter(F.col("vec_id") < 300)
    similarity.ivf_build_index_manifest(base, table, n_centroids=8, quantize=True)

    racer_delta = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 330))
    real_try = M._try_commit
    fired = {"done": False}

    def race_then_commit(*a, **k):
        if not fired["done"]:
            fired["done"] = True
            similarity.upsert_ivf_index(racer_delta, table, delta_id="race-1")
        return real_try(*a, **k)

    monkeypatch.setattr(M, "_try_commit", race_then_commit)
    v = similarity.compact_ivf_index(spark, table, retrain=True, refine_iters=1)
    monkeypatch.undo()
    # racer took v2; the retrain retried and committed v3 over its rows
    assert v == 3
    lists = M.read_store(spark, table, "lists", version=v)
    assert set(lists.columns) >= {"vec_id", "scale", "qvec", "centroid_id"}
    got_ids = {r["vec_id"] for r in lists.select("vec_id").collect()}
    want_ids = {r["vec_id"] for r in base.unionByName(racer_delta).select("vec_id").collect()}
    assert got_ids == want_ids
    # the probe path still answers over the retrained quantized lists
    queries = emb.filter(F.col("vec_id") < 5)
    res = similarity.ivf_query_index_manifest(spark, table, queries, n_probe=3, k=5)
    assert res.count() == 5 * 5


def test_ivf_upsert_in_batch_duplicate_ids(spark, emb, tmp_path):
    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "ivf_md")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    similarity.ivf_build_index_manifest(base, table, n_centroids=16)
    delta = emb.filter(F.col("vec_id") % 5 == 0)
    similarity.upsert_ivf_index(delta.unionByName(delta), table)  # doubled delivery
    lists = M.read_store(spark, table, "lists", version=M.current_version(table))
    n = lists.count()
    assert n == emb.count()  # one list entry per vector, no duplicates


def test_ivf_manifest_empty_queries_and_empty_corpus_guard(spark, emb, tmp_path):
    """Review-pass findings: an empty query set must return an empty
    result (not FileNotFoundError from an all-pruned lists read), and
    building from an empty corpus must refuse (the frozen quantizer
    would silently drop every future delta)."""
    import pytest

    table = str(tmp_path / "ivf_g")
    similarity.ivf_build_index_manifest(emb.filter(F.col("vec_id") < 50), table, n_centroids=8)
    no_queries = emb.filter(F.col("vec_id") < 0)
    out = similarity.ivf_query_index_manifest(spark, table, no_queries, n_probe=4, k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty corpus"):
        similarity.ivf_build_index_manifest(empty, str(tmp_path / "ivf_e"))


def test_ivf_commits_record_store_schemas_spark_would_infer(spark, emb, tmp_path):
    """IVF build, upsert and retrain-compaction commits (plain and int8
    lists) record a read schema per store, equal to the schema Spark
    infers from that store's files."""
    import os

    from cashback_data_pipeline_spark.sinks import manifest as M

    table = str(tmp_path / "ivf_m")
    similarity.ivf_build_index_manifest(emb.filter(F.col("vec_id") % 5 != 0), table, n_centroids=8)
    similarity.upsert_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), table)
    similarity.compact_ivf_index(spark, table, retrain=True, refine_iters=1)
    qt = str(tmp_path / "ivf_mq")
    similarity.ivf_build_index_manifest(emb, qt, n_centroids=8, quantize=True)
    for t, v in [(table, 1), (table, 2), (table, 3), (qt, 1)]:
        m = M.read_manifest(t, v)
        recorded = m["meta"]["store_schemas"]
        assert set(recorded) == {"lists", "centroids"}
        for store, schema in recorded.items():
            paths = [os.path.join(t, f) for f in M.store_files(m, store)]
            assert M._store_struct(schema) == spark.read.parquet(*paths).schema
