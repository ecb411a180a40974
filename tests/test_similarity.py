"""Similarity-search family (similarity.py) vs DuckDB oracle + semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_1_spark.operators import folds, similarity
from tests.conftest import SF_DIR, assert_query_matches_oracle


@pytest.mark.parametrize("name", ["sim_cosine_topk", "sim_lsh_topk", "sim_ivf_topk"])
def test_similarity_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def test_hyperplane_signs_deterministic():
    a = folds.hyperplane_signs(4)
    b = folds.hyperplane_signs(4)
    assert a == b
    assert all(s in (-1, 1) for row in a for s in row)
    assert folds.hyperplane_signs(4, seed=7) != a


def test_brute_force_topk_self_excluded_and_ranked(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.9, 0.1], 0),
            (2, [0.0, 1.0], 1),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = similarity.cosine_topk(df, df.where("vec_id = 0"), k=2).collect()
    assert [(r["neighbor_id"], r["rank"]) for r in got] == [(1, 1), (2, 2)]
    assert got[0]["cosine"] > got[1]["cosine"]


def test_lsh_recall_vs_brute_force(spark):
    """LSH top-k must be a (per-rank-prefix) subset of the brute-force
    neighbors' scores: every LSH hit's cosine <= brute-force at same rank,
    and rank-1 recall on the driver corpus should be substantial."""
    from hadoop_1_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where("vec_id < 40")
    bf = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in similarity.cosine_topk(emb, q, k=1).collect()}
    lsh = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in similarity.lsh_ann_topk(emb, q, k=1, nbits=4).collect()}
    hits = sum(1 for k in bf if lsh.get(k) == bf[k])
    # Driver embeddings are near-random (cosine max ~0.5), so 4-bit LSH
    # per-query recall is ~0.2; 40 queries make P(0 hits) < 1e-3 at any
    # SF (10 queries flaked at sf0.01). Sanity floor, not a quality target.
    assert hits >= 1


def test_arrow_paths_bit_identical(spark, duck):
    """Every fold in operators/folds.py is BIT-identical across its
    dialects on the same sf0.001 rows: the parsed Spark SQL text, the
    DuckDB twin and the Arrow twin (numpy applies += / * elementwise over
    the batch dimension by dimension, so every output element sees the
    same left-fold IEEE-double operation order). Covers norm, dot,
    squared L2, hyperplane signed sums, and bucket ids at a fixed width
    and at a per-row runtime width. The vector column is also aliased
    ``d`` and ``s``: a text-fold lambda variable of either name would
    capture the column and fail analysis."""
    import struct

    from hadoop_1_spark.session import load_table

    def bits(x):
        return struct.pack("<d", x)

    signs = folds.hyperplane_signs(8)
    emb = load_table(spark, SF_DIR, "embeddings").where("vec_id < 200")
    pair = emb.crossJoin(
        emb.where("vec_id < 3").select(
            F.col("vec_id").alias("e2_id"), F.col("embedding").alias("e2")
        )
    )
    duck_rows = duck.execute(
        f"""
SELECT a.vec_id, b.vec_id AS e2_id,
       {folds.norm_duck("a.embedding")} AS n,
       {folds.dot_duck("a.embedding", "b.embedding")} AS d,
       {folds.l2_duck("a.embedding", "b.embedding")} AS l2,
       [{", ".join(folds.signed_sum_duck("a.embedding", row) for row in signs)}] AS s,
       {folds.bucket_duck("a.embedding", signs)} AS b,
       {folds.bucket_duck("a.embedding", signs, "(a.vec_id % 9)")} AS b_dyn
FROM embeddings a CROSS JOIN embeddings b
WHERE a.vec_id < 200 AND b.vec_id < 3
"""
    ).fetchall()
    want = {(r[0], r[1]): r[2:] for r in duck_rows}
    assert len(want) == 600

    for vec in ("embedding", "d", "s"):
        v = folds.quote_ident(vec)
        rows = (
            pair.select(
                "vec_id",
                "e2_id",
                "e2",
                F.col("embedding").alias(vec),
                F.expr("cast(pmod(vec_id, 9) as int)").alias("nb"),
            )
            .select(
                "vec_id",
                "e2_id",
                "nb",
                F.expr(folds.norm_spark(v)).alias("n_text"),
                folds.NORM(F.col(vec)).alias("n_arrow"),
                F.expr(folds.dot_spark(v, "e2")).alias("d_text"),
                folds.DOT_FOLD(F.col(vec), F.col("e2")).alias("d_arrow"),
                F.expr(folds.l2_spark(v, "e2")).alias("l2_text"),
                F.expr(folds.signed_sums_spark(v, signs)).alias("s_text"),
                folds.project_udf(signs)(F.col(vec)).alias("p_arrow"),
            )
            .select(
                "*",
                folds.bucket_from_sums("s_text", 0, 8).alias("b_text"),
                folds.bucket_from_sums("p_arrow.sums", 0, 8).alias("b_arrow"),
                folds.bucket_from_sums("s_text", 0, 8, "nb").alias("b_dyn"),
            )
            .collect()
        )
        assert len(rows) == 600, vec
        for r in rows:
            n, d, l2, sums, b, b_dyn = want[(r["vec_id"], r["e2_id"])]
            assert bits(r["n_text"]) == bits(r["n_arrow"]) == bits(n), vec
            assert bits(r["p_arrow"]["nrm"]) == bits(n), vec
            assert bits(r["d_text"]) == bits(r["d_arrow"]) == bits(d), vec
            assert bits(r["l2_text"]) == bits(l2), vec
            assert [bits(x) for x in r["s_text"]] == [bits(x) for x in sums], vec
            assert [bits(x) for x in r["p_arrow"]["sums"]] == [bits(x) for x in sums], vec
            assert r["b_text"] == r["b_arrow"] == b, vec
            assert r["b_dyn"] == b_dyn == b % (1 << r["nb"]), vec


def test_fused_fold_single_evaluation_plan_shape(spark):
    """bucket_from_sums's single-evaluation guarantee rests on
    CollapseProject's non-cheap-expression heuristic (Spark >= 3.3): the
    bands*bits fold must appear ONCE in the optimized plan even though the
    second select references the sums array `bits` times. Same assertion
    for the Arrow twin: one ArrowEvalPython stage per projection pass."""
    from pyspark.sql import functions as F

    from hadoop_1_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    signs = folds.hyperplane_signs(8)

    # Expression (reference) form: fold in select 1, bits derived in select 2.
    pre = emb.select(
        "vec_id", F.expr(folds.signed_sums_spark("embedding", signs)).alias("_sums")
    )
    out = pre.select(
        "vec_id", folds.bucket_from_sums("_sums", 0, 8).alias("b")
    )
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("aggregate(") == 1, optimized

    # Arrow form: one python-UDF eval stage, referenced fields notwithstanding.
    pre_a = emb.select(
        "vec_id", folds.project_udf(signs)(F.col("embedding")).alias("_p")
    )
    out_a = pre_a.select(
        "vec_id",
        F.col("_p.nrm").alias("nrm"),
        folds.bucket_from_sums("_p.sums", 0, 8).alias("b"),
    )
    physical = out_a._jdf.queryExecution().executedPlan().toString()
    assert physical.count("ArrowEvalPython") == 1, physical


def test_lsh_bucket_partitioned_corpus_prunes_probes(spark, tmp_path):
    """The 100 TB ANN path: corpus written partitionBy(bucket) — a probe
    for one bucket must hit only that partition (partition pruning in the
    scan, not a full-corpus filter)."""
    from pyspark.sql import functions as F

    from hadoop_1_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    signs = folds.hyperplane_signs(4)
    out = str(tmp_path / "ann_corpus")
    emb.select(
        "vec_id",
        "embedding",
        F.expr(folds.signed_sums_spark("embedding", signs)).alias("_s"),
    ).select(
        "vec_id", "embedding", folds.bucket_from_sums("_s", 0, 4).alias("bucket")
    ).write.partitionBy("bucket").mode("overwrite").parquet(out)

    corpus = spark.read.parquet(out)
    probe = corpus.where(F.col("bucket") == 3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "bucket" in m.group(1), plan
    # pruned scan reads strictly fewer partitions than exist
    n_parts = len([p for p in (tmp_path / "ann_corpus").iterdir() if p.name.startswith("bucket=")])
    assert n_parts > 1
    assert probe.count() == corpus.where(F.col("bucket") == 3).count()


def test_kmeans_deterministic_and_sane(spark):
    import os

    from hadoop_1_spark.operators import similarity
    from hadoop_1_spark.session import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = load_table(spark, sf_dir, "embeddings")
    a = similarity.kmeans_train_assign(emb, k=8, iters=2)
    rows = {r.vec_id: r.cluster for r in a.collect()}
    assert len(rows) == emb.count()  # every vector assigned exactly once
    assert set(rows.values()) <= set(range(8))
    assert len(set(rows.values())) > 1  # not everything in one cluster
    # deterministic: an independent second run assigns identically
    b = {r.vec_id: r.cluster for r in similarity.kmeans_train_assign(emb, k=8, iters=2).collect()}
    assert rows == b


def test_semantic_dedup_subset_of_all_pairs(spark):
    """In-cluster pairs must be a subset of the all-pairs baseline at the
    same threshold — SemDeDup trades recall across cells for O(cell^2)."""
    import os

    from hadoop_1_spark.operators import dedup, similarity
    from hadoop_1_spark.session import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = load_table(spark, sf_dir, "embeddings")
    clusters = similarity.kmeans_train_assign(emb, k=8, iters=2)
    sem = {(r.d1, r.d2) for r in dedup.semantic_dedup_pairs(emb, clusters, 0.45).collect()}
    allp = {(r.d1, r.d2) for r in dedup.embedding_cosine_pairs(emb, 0.45).collect()}
    assert sem <= allp
    # Recall vs the all-pairs baseline is the SemDeDup trade and depends on
    # embedding geometry and k (at this tiny sf, k=8 over ~50 vectors
    # splits hard); the contract here is subset + non-degenerate retention.
    if allp:
        assert sem, (len(sem), len(allp))


def test_dedup_semantic_auto_equals_explicit_isqrt_k(spark):
    """The k=None auto sizing must be exactly max(2, isqrt(n)) explicit
    cells — same clusters, same in-cell pairs."""
    import math
    import os

    from hadoop_1_spark.operators import dedup, similarity
    from hadoop_1_spark.session import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = load_table(spark, sf_dir, "embeddings")
    k = max(2, math.isqrt(emb.count()))
    auto = similarity.kmeans_train_assign(emb, k=None, iters=2, keep_vector=True)
    expl = similarity.kmeans_train_assign(emb, k=k, iters=2, keep_vector=True)
    a = sorted(map(tuple, dedup.semantic_dedup_pairs_cellwise(emb, auto, 0.45).collect()))
    b = sorted(map(tuple, dedup.semantic_dedup_pairs_cellwise(emb, expl, 0.45).collect()))
    assert a == b


def test_kmeans_arrow_bit_identical(spark):
    """The Arrow assignment path must match the expression path exactly —
    same clusters for every vector."""
    import os

    from hadoop_1_spark.operators import similarity
    from hadoop_1_spark.session import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = load_table(spark, sf_dir, "embeddings")
    arrow = {r.vec_id: r.cluster for r in similarity.kmeans_train_assign(emb, use_arrow=True).collect()}
    expr = {r.vec_id: r.cluster for r in similarity.kmeans_train_assign(emb, use_arrow=False).collect()}
    assert arrow == expr and arrow


def test_kmeans_auto_k_and_pp_init(spark):
    """Scale knobs: k=None derives max(2, isqrt(n)); init='kmeanspp'
    seeds by deterministic farthest-first and stays deterministic and
    bit-identical across the Arrow/expression paths."""
    import math
    import os

    import pytest

    from hadoop_1_spark.operators import similarity
    from hadoop_1_spark.session import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    want_k = max(2, math.isqrt(n))
    auto = similarity.kmeans_train_assign(emb, k=None, iters=1)
    labels = {r.cluster for r in auto.collect()}
    assert labels <= set(range(want_k)) and len(labels) > 1

    # farthest-first seeds: first seed = hash-init seed; all distinct
    seeds = similarity.farthest_first_seeds(emb, 4)
    assert len(seeds) == 4
    assert len({tuple(s) for s in seeds}) == 4

    pp_a = {r.vec_id: r.cluster for r in similarity.kmeans_train_assign(
        emb, k=4, iters=1, init="kmeanspp").collect()}
    pp_b = {r.vec_id: r.cluster for r in similarity.kmeans_train_assign(
        emb, k=4, iters=1, init="kmeanspp").collect()}
    assert pp_a == pp_b and set(pp_a.values()) <= set(range(4))
    expr = {r.vec_id: r.cluster for r in similarity.kmeans_train_assign(
        emb, k=4, iters=1, init="kmeanspp", use_arrow=False).collect()}
    assert pp_a == expr

    with pytest.raises(ValueError):
        similarity.kmeans_train_assign(emb, k=4, init="rng")


def test_quantize_embeddings_roundtrip(spark):
    """int8 codes stay in [-127, 127], dequant error <= scale/2 per
    component, zero vectors quantize to zeros with scale 0."""
    from hadoop_1_spark.operators import similarity

    rows = [
        (1, [1.0, -0.5, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),
        (3, [-2.0, 2.0, 1.0, -1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: (r.scale_q9, [int(x) for x in r.qcsv.split(",")])
           for r in similarity.quantize_embeddings(df).collect()}
    assert out[2] == (0.0, [0, 0, 0, 0])
    for vid, vec in [(1, rows[0][1]), (3, rows[2][1])]:
        scale, q = out[vid]
        assert all(-127 <= c <= 127 for c in q)
        for orig, code in zip(vec, q):
            # scale_q9 is rounded to 9 decimals, which can push the
            # half-step dequant bound out by up to ~127 * 0.5e-9
            assert abs(orig - code * scale) <= scale / 2 + 1e-6
    assert out[1][1][0] == 127  # max component maps to full range


def test_quantized_topk_recall_and_contract(spark):
    """int8 candidates + float rerank: rank-1 recall vs brute force is
    high (int8 is a ~0.4% error approximation; rerank=20 recovers the
    ordering), and returned cosines equal the brute-force values for the
    same (query, neighbor) pairs bit-for-bit."""
    from hadoop_1_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where("vec_id < 20")
    bf = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
          for r in similarity.cosine_topk(emb, q, k=1).collect()}
    qt = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
          for r in similarity.quantized_topk(emb, q, k=1, rerank=20).collect()}
    hits = sum(1 for key in bf if qt.get(key) == bf[key])
    assert hits >= len(bf) * 0.8, (hits, len(bf))
    # any agreeing pair carries the identical rounded cosine
    for key in bf:
        if key in qt and qt[key][0] == bf[key][0]:
            assert qt[key][1] == bf[key][1]


def test_ivf_quantized_subset_of_cell(spark):
    """Cell-pruned quantized candidates never cross cells: every reported
    neighbor shares the query's label."""
    from hadoop_1_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.where("vec_id < 10")
    out = similarity.quantized_topk(emb, q, k=3, rerank=10, cell_col="label")
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in out.collect():
        assert labels[r["query_id"]] == labels[r["neighbor_id"]]


def test_hard_negatives_bucketed_apart(spark):
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import similarity
    from hadoop_1_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.where("vec_id < 5")
    negs = similarity.negative_mine_topk(emb, queries, k=3).collect()
    assert negs
    # every mined negative's bucket differs from its query's bucket
    signs = folds.hyperplane_signs(4)
    buckets = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", F.expr(folds.signed_sums_spark("embedding", signs)).alias("_s")
        ).select("vec_id", folds.bucket_from_sums("_s", 0, 4).alias("b")).collect()
    }
    per_q: dict[int, int] = {}
    for r in negs:
        assert buckets[r["neighbor_id"]] == r["neg_bucket"]
        assert buckets[r["neighbor_id"]] != buckets[r["query_id"]]
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert all(v == 3 for v in per_q.values())


def test_hard_negatives_match_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "sim_hard_negatives")


def test_knn_graph_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_knn_graph")


def test_knn_graph_auto_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_knn_graph_auto")


def test_knn_graph_auto_clamps_to_fixed_on_small_corpus(spark):
    """n <= 2^min_nbits * target -> the derived width clamps to
    min_nbits and the auto twin is BIT-IDENTICAL to the fixed-width
    operator (the contract that lets sim_knn_graph_auto share
    sim_knn_graph's semantics on the oracle/bench fixtures)."""
    from hadoop_1_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    a = sorted(map(tuple, similarity.knn_graph_auto(emb, k=3).collect()))
    b = sorted(map(tuple, similarity.knn_graph(emb, k=3, nbits=4).collect()))
    assert a == b
    assert len(a) > 0


def test_knn_graph_auto_widens_past_target(spark):
    """Past 2^b * target vectors the derived width must step to b+1 and
    the dynamic-bucket plan must equal the static plan at that width —
    pinned at a small target (8) so the test corpus stays tiny: the
    sf0.01 fixture's n = 500 needs 2^6 * 8 = 512 -> width 6, not the
    4-bit floor."""
    from hadoop_1_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    a = sorted(
        map(
            tuple,
            similarity.knn_graph_auto(emb, k=3, target_occupancy=8).collect(),
        )
    )
    b6 = sorted(map(tuple, similarity.knn_graph(emb, k=3, nbits=6).collect()))
    b4 = sorted(map(tuple, similarity.knn_graph(emb, k=3, nbits=4).collect()))
    assert a == b6
    assert a != b4  # the width really moved off the floor


def test_knn_graph_symmetric_in_bucket(spark):
    """Within a bucket, if b is a's nearest neighbor and the bucket has
    exactly 2 vectors, each lists the other with identical cosine."""
    from hadoop_1_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50)
    out = similarity.knn_graph(emb, k=1, nbits=6).collect()
    sims = {(r.query_id, r.neighbor_id): r.cosine for r in out}
    for (a, b), c in sims.items():
        if (b, a) in sims and sims[(b, a)] == c:
            break
    else:
        # with 50 vectors in 64 buckets, at least one mutual pair exists
        raise AssertionError("no mutual nearest pair found")


def test_mmr_prefers_diversity(spark):
    """Three unit vectors at +10, +12, -11 degrees from the query axis:
    plain top-2 takes the +10/+12 pair (cos 2 deg apart); MMR's step 2
    must take the -11 vector (21 deg from the first pick). All vectors
    are dim-0 dominated, so every hyperplane bucket agrees."""
    import math

    from hadoop_1_spark.operators import similarity

    dims = 64
    def vec(deg):
        v = [0.0] * dims
        v[0] = math.cos(math.radians(deg))
        v[1] = math.sin(math.radians(deg))
        return v

    rows = [(0, vec(0)), (1, vec(10)), (2, vec(12)), (3, vec(-11))]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = similarity.mmr_topk(df, df.where("vec_id = 0"), k=2, nbits=4)
    picked = [r.neighbor_id for r in out.orderBy("rank").collect()]
    assert picked == [1, 3]


def test_mmr_checkpoints_released_by_next_query(spark):
    """mmr_topk's per-step local checkpoints are registered with caching,
    so the next registered query's release_caches() frees their blocks
    (DataFrame.unpersist() alone does not free a local checkpoint)."""
    from hadoop_1_spark import registry
    from hadoop_1_spark.operators import caching

    jsc = spark.sparkContext._jsc.sc()

    def rdds_with_blocks():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    caching.release_caches()
    before = rdds_with_blocks()
    # held, so a JVM GC cannot free the checkpoints (ContextCleaner) in
    # the release's place
    out = registry.QUERIES["sim_mmr_topk"](spark, SF_DIR)
    out.collect()
    mmr = rdds_with_blocks() - before
    assert mmr, "sim_mmr_topk left no blocks to release"
    registry.QUERIES["grep"](spark, SF_DIR).collect()
    assert not rdds_with_blocks() & mmr


def test_embedding_dim_stats_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "embedding_dim_stats")


def test_sim_recall_eval_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_recall_eval")


def test_ann_recall_eval_semantics(spark):
    """Hand-built exact/ann rankings: hits, recall@k, and reciprocal rank
    of the true nearest neighbor — including an empty-ANN query (recall 0,
    rr 0) and a query whose true NN sits at ann rank 3 (rr = 1/3)."""
    exact = spark.createDataFrame(
        [(1, 10, 0.9, 1), (1, 11, 0.8, 2), (2, 20, 0.9, 1), (2, 21, 0.8, 2)],
        "query_id long, neighbor_id long, cosine double, rank int",
    )
    ann = spark.createDataFrame(
        # q1: both found, true NN at ann rank 3; q2: bucket missed everything
        [(1, 11, 0.8, 1), (1, 99, 0.5, 2), (1, 10, 0.9, 3)],
        "query_id long, neighbor_id long, cosine double, rank int",
    )
    got = {
        r["query_id"]: r
        for r in similarity.ann_recall_eval(exact, ann, k=2).collect()
    }
    assert got[1]["n_hits"] == 2
    assert got[1]["recall_at_k"] == 1.0
    assert got[1]["rr"] == round(1.0 / 3.0, 9)
    assert got[2]["n_hits"] == 0
    assert got[2]["recall_at_k"] == 0.0
    assert got[2]["rr"] == 0.0


def test_sim_rrf_fusion_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_rrf_fusion")


def test_sim_filtered_topk_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_filtered_topk")


def test_rrf_fuse_semantics(spark):
    """A doc in BOTH lists outranks single-list docs even at worse
    per-list ranks; terms are the exact q9 integers 10^9 div (60+rank);
    ties break by neighbor_id."""
    a = spark.createDataFrame(
        [(1, 10, 0.9, 1), (1, 11, 0.8, 2)],
        "query_id long, neighbor_id long, cosine double, rank int",
    )
    b = spark.createDataFrame(
        [(1, 11, 0.85, 1), (1, 12, 0.7, 2)],
        "query_id long, neighbor_id long, cosine double, rank int",
    )
    rows = {r["neighbor_id"]: r for r in similarity.rrf_fuse(a, b, k=3).collect()}
    t1, t2 = 10**9 // 61, 10**9 // 62
    assert rows[11]["rrf_q9"] == t2 + t1  # in both lists (ranks 2 and 1)
    assert rows[10]["rrf_q9"] == t1
    assert rows[12]["rrf_q9"] == t2
    assert rows[11]["rank"] == 1 and rows[10]["rank"] == 2 and rows[12]["rank"] == 3


def test_filtered_topk_respects_predicate(spark, duck):
    """Every neighbor returned by the metadata-filtered ANN belongs to
    the filtered corpus (documents.lang = 'en')."""
    from hadoop_1_spark import registry
    from tests.conftest import SF_DIR

    got = registry.QUERIES["sim_filtered_topk"](spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bad = got.join(
        docs.where("lang <> 'en'").selectExpr("doc_id AS neighbor_id"),
        "neighbor_id",
    )
    assert bad.count() == 0


def test_embedding_normalize_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "embedding_normalize_mrl")


def test_normalize_embeddings_semantics(spark):
    """3-4-0 vector truncated to 2 dims -> norm 3 (only the prefix
    counts), codes = q9 of (1, 0); full-width norm is 5; the zero
    vector emits zero codes with norm 0."""
    emb = spark.createDataFrame(
        [(1, [3.0, 0.0, 4.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in similarity.normalize_embeddings(emb, dims=2).collect()}
    assert got[1]["norm_q9"] == 3.0
    assert got[1]["ncsv_q9"] == "1000000000,0"
    assert got[2]["norm_q9"] == 0.0
    assert got[2]["ncsv_q9"] == "0,0"
    full = {r["vec_id"]: r for r in similarity.normalize_embeddings(emb, dims=3).collect()}
    assert full[1]["norm_q9"] == 5.0
    assert full[1]["ncsv_q9"] == "600000000,0,800000000"


def test_embedding_pq_codes_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "embedding_pq_codes")


def test_pq_codes_shape_and_range(spark):
    """One code column per subspace, every code in [0, k); identical
    subspace content -> identical codes (the codebooks are trained per
    subspace, deterministically)."""
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = similarity.pq_codes(emb, m=2, subdim=32, k=4, iters=1)
    assert got.columns == ["vec_id", "c0", "c1"]
    rows = got.collect()
    assert len(rows) == emb.count()
    assert all(0 <= r[c] < 4 for r in rows for c in ("c0", "c1"))


def test_sim_pq_topk_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_pq_topk")


def test_pq_codes_r14_matches_sequential_training(spark):
    """The r14 pq_codes restructure (one shared seed job + concurrent
    subspace trainings + single-pass fused code assignment) is an
    OPTIMIZATION, not a semantic change: codes and codebooks must be
    bit-identical to the original per-subspace sequential construction
    (seed job per subspace, join-assembled code table), replayed here
    inline via kmeans_train_assign without the seeds shortcut."""
    from tests.conftest import SF_DIR

    m, subdim, k, iters = 2, 32, 4, 1
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got, books = similarity.pq_codes(
        emb, m=m, subdim=subdim, k=k, iters=iters, return_centroids=True
    )

    # reference: the pre-r14 sequential construction, per subspace
    ref = None
    ref_books = []
    for i in range(m):
        sub = emb.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), i * subdim + 1, subdim).alias(
                "embedding"
            ),
        )
        a, cvals, cids = similarity.kmeans_train_assign(
            sub, k=k, iters=iters, dims=subdim, return_centroids=True
        )
        ref_books.append((cvals, cids))
        a = a.select("vec_id", F.col("cluster").cast("int").alias(f"c{i}"))
        ref = a if ref is None else ref.join(a, "vec_id")

    for (gv, gi), (rv, ri) in zip(books, ref_books):
        assert gi == ri
        assert gv == rv  # exact float equality: same training, same bits
    g = {r["vec_id"]: tuple(r[f"c{i}"] for i in range(m)) for r in got.collect()}
    r = {x["vec_id"]: tuple(x[f"c{i}"] for i in range(m)) for x in ref.collect()}
    assert g == r


def test_pq_adc_contract_and_recall(spark):
    """5 ranked rows per query, never the query itself; the compressed
    scan must beat random candidate selection clearly. On these
    UNCLUSTERED synthetic embeddings PQ recall is inherently modest
    (measured ~14% at 4x16/16 codebooks, rerank 20/500) — the floor
    here is ~2x the random-shortlist expectation (E[hits] ~ 2 of 50),
    catching a broken LUT/code join without pinning a data-dependent
    quality number; exactness of the scan itself is the oracle's job."""
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 10")
    got = similarity.pq_adc_topk(emb, q, k=5, rerank=20)
    rows = got.collect()
    per = {}
    for r in rows:
        assert r["query_id"] != r["neighbor_id"]
        per.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(emb, q, k=5).collect()
    }
    hits = sum((r["query_id"], r["neighbor_id"]) in exact for r in rows)
    assert hits >= 4


def test_pq_scan_matches_inline_training(spark, tmp_path):
    """pq_adc_topk_scan over a parked index is bit-identical to
    pq_adc_topk's inline-training run on the same corpus — the parked
    artifact (codes + codebooks parquet) round-trips the trained model
    exactly, so the production shape (offline build, online scan) can
    never drift from the oracled retrain shape."""
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 10")
    path = str(tmp_path / "pq_index")
    similarity.pq_park(emb, path, m=4, subdim=16, kcb=16, iters=1)
    got = sorted(
        map(tuple, similarity.pq_adc_topk_scan(
            emb, q, path, k=5, rerank=20, m=4, subdim=16
        ).collect())
    )
    want = sorted(
        map(tuple, similarity.pq_adc_topk(
            emb, q, k=5, rerank=20, m=4, subdim=16, kcb=16, iters=1
        ).collect())
    )
    assert got == want


def test_pq_scan_drops_stale_codes(spark, tmp_path):
    """A stale park (codes that name codebook entries the codebook no
    longer has) gives those rows a NULL ADC distance. They must drop out,
    not sort first into the rerank shortlist and crowd out valid rows."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 5")
    path = str(tmp_path / "pq_stale")
    similarity.pq_park(emb, path, m=4, subdim=16, kcb=16, iters=1)
    books = spark.read.parquet(f"{path}/codebooks").collect()
    cids0 = sorted(r["cid"] for r in books if r["sub"] == 0)
    kept0 = set(cids0[: len(cids0) // 2])
    spark.createDataFrame(
        [tuple(r) for r in books if r["sub"] != 0 or r["cid"] in kept0],
        "sub int, cid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    codes = spark.read.parquet(f"{path}/codes")
    stale = {r["vec_id"] for r in codes.collect() if r["c0"] not in kept0}
    assert len(stale) > 20  # enough NULL rows to fill a rerank-20 shortlist
    rows = similarity.pq_adc_topk_scan(emb, q, path, k=5, rerank=20).collect()
    per = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert sorted(per) == [0, 1, 2, 3, 4]
    assert all(len(v) == 5 for v in per.values())
    assert not stale & {r["neighbor_id"] for r in rows}


def test_sim_pq_topk_scan_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_pq_topk_scan")


def test_sim_ivf_topk_scan_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_ivf_topk_scan")


def test_sim_ivf_pq_topk_scan_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_ivf_pq_topk_scan")


def test_sim_ivf_multiprobe_topk_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_ivf_multiprobe_topk")


def test_ivf_nprobe_all_cells_equals_brute_force(spark, tmp_path):
    """nprobe = k_cells degenerates the IVF probe to the exact scan:
    every cell is probed, so the candidate set is the full corpus minus
    self and the top-k must equal the brute-force cosine_topk baseline.
    Also pins probe monotonicity: each query's rank-j cosine is
    non-decreasing in nprobe (candidate sets only grow)."""
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 5")
    path = str(tmp_path / "ivf_np")
    similarity.ivf_park(emb, path, k_cells=4, iters=1)
    brute = sorted(map(tuple, similarity.cosine_topk(emb, q, k=3).collect()))
    allcells = sorted(
        map(tuple, similarity.ivf_topk_scan(q, path, k=3, nprobe=4).collect())
    )
    assert allcells == brute
    by_rank = {}
    for np_ in (1, 2, 4):
        rows = similarity.ivf_topk_scan(q, path, k=3, nprobe=np_).collect()
        by_rank[np_] = {(r["query_id"], r["rank"]): r["cosine"] for r in rows}
    for np_lo, np_hi in ((1, 2), (2, 4)):
        for key, cos_hi in by_rank[np_hi].items():
            if key in by_rank[np_lo]:
                assert cos_hi >= by_rank[np_lo][key]


def test_ivf_pq_scan_equals_cell_restricted_flat_pq(spark, tmp_path):
    """The IVF-PQ probe must equal the FLAT parked-PQ scan with its
    candidate set restricted to same-trained-cell pairs: same codebooks
    (both train through pq_codes), same ADC fragments (_pq_adc_scan is
    shared), the cell join only filters candidates. Verified by running
    the flat scan with rerank large enough that the shortlist is
    cell-unconstrained, then dropping cross-cell pairs before the cut —
    replayed here via the trained assignment."""
    import os
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 5")
    path = str(tmp_path / "ivfpq")
    similarity.ivf_pq_park(
        emb, path, k_cells=4, cell_iters=1, m=4, subdim=16, kcb=8, iters=1
    )
    assert any(
        d.startswith("cell=") for d in os.listdir(os.path.join(path, "codes"))
    )
    got_df = similarity.ivf_pq_topk_scan(
        emb, q, path, k=3, rerank=10, m=4, subdim=16
    )
    got = sorted(map(tuple, got_df.collect()))
    assert len(got) > 0
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # independent replay: flat PQ candidates filtered to same trained cell
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    codes, books = similarity.pq_codes(
        emb, m=4, subdim=16, k=8, iters=1, return_centroids=True
    )
    cells = similarity.kmeans_train_assign(emb, k=4, iters=1)
    coded = codes.join(cells, "vec_id")
    qc = q.select("vec_id").join(cells, "vec_id").select(
        F.col("vec_id").alias("query_id"), F.col("cluster").alias("qcell")
    )
    cand = coded.join(
        qc, (F.col("cluster") == F.col("qcell")) & (F.col("query_id") != F.col("vec_id"))
    )
    luts = []
    for i, (cvals, cids) in enumerate(books):
        cents = spark.createDataFrame(
            [(c, v) for c, v in zip(cids, cvals)], "cid int, cvec array<double>"
        )
        qs = q.select(
            F.col("vec_id").alias("query_id"),
            F.slice(F.col("embedding"), i * 16 + 1, 16).alias("_qs"),
        )
        luts.append(
            qs.crossJoin(F.broadcast(cents)).select(
                "query_id",
                F.col("cid").alias(f"c{i}"),
                F.expr(folds.l2_spark("_qs", "cvec")).alias(f"_d{i}"),
            )
        )
    for i in range(4):
        cand = cand.join(F.broadcast(luts[i]), ["query_id", f"c{i}"])
    adist = F.col("_d0") + F.col("_d1") + F.col("_d2") + F.col("_d3")
    w = Window.partitionBy("query_id").orderBy(F.asc("_adist"), F.asc("neighbor_id"))
    short = (
        cand.select(
            "query_id", F.col("vec_id").alias("neighbor_id"), adist.alias("_adist")
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 10)
        .select("query_id", "neighbor_id")
    )
    want = sorted(
        map(tuple, similarity._exact_rerank(short, emb, q, 3, "vec_id", "embedding").collect())
    )
    assert got == want


def test_ivf_park_scan_matches_inline_and_prunes(spark, tmp_path):
    """The parked IVF artifact must reproduce the inline trained-cell
    probe exactly — ivf_park(kmeans) + ivf_topk_scan (in-plan query
    assignment over the parked centroids) vs ivf_topk over the same
    trained assignment used as the cell column — and the probe plan must
    carry dynamic partition pruning on the cell partition column (the
    100 TB property: only probed cell directories are read)."""
    import os
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.ivf_park(emb, path, k_cells=4, iters=1)
    # parked layout is hive-partitioned by trained cell
    assert any(
        d.startswith("cell=") for d in os.listdir(os.path.join(path, "cells"))
    )
    got_df = similarity.ivf_topk_scan(emb.where("vec_id < 5"), path, k=3)
    got = sorted(map(tuple, got_df.collect()))
    assigned = similarity.kmeans_train_assign(emb, k=4, iters=1, keep_vector=True)
    want = sorted(
        map(
            tuple,
            similarity.ivf_topk(
                assigned, assigned.where("vec_id < 5"), k=3, cell_col="cluster"
            ).collect(),
        )
    )
    assert got == want
    assert len(got) > 0
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_semantic_cellwise_bit_identical_to_join_form(spark):
    """The matrix-form in-cell scorer (one Arrow pass per cell, per-DIM
    outer-product accumulation) must be BIT-identical to the pair-join
    DOT_FOLD form — same flop order per pair, so same cosines, so one
    oracle replays both (r8: the registered query runs the cellwise
    form; sf1 A/B measured 140 s -> 20 s with identical result sets)."""
    from hadoop_1_spark.operators import dedup
    from hadoop_1_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    clusters = similarity.kmeans_train_assign(emb, k=8, iters=3, keep_vector=True)
    a = sorted(map(tuple, dedup.semantic_dedup_pairs(emb, clusters, 0.45).collect()))
    b = sorted(
        map(tuple, dedup.semantic_dedup_pairs_cellwise(emb, clusters, 0.45).collect())
    )
    assert a == b
    assert len(a) > 0
    # blocking must not change results: force several row blocks
    c = sorted(
        map(
            tuple,
            dedup.semantic_dedup_pairs_cellwise(
                emb, clusters, 0.45, row_block=37
            ).collect(),
        )
    )
    assert c == a
    # ...and several COLUMN blocks too — exercises the diagonal-block
    # skip, the global-index upper-triangle mask, and the independent
    # per-block accumulators (r9 both-axes bound)
    d = sorted(
        map(
            tuple,
            dedup.semantic_dedup_pairs_cellwise(
                emb, clusters, 0.45, row_block=37, col_block=23
            ).collect(),
        )
    )
    assert d == a


def test_knn_graph_blocked_bit_identical(spark):
    """knn_graph's cell scorer is blocked on BOTH axes (r10, mirroring
    semantic_dedup_pairs_cellwise): tiny row/col blocks must reproduce
    the default-block result exactly — same dots (per-pair flop order is
    block-independent), and the running per-row kth prune only ever
    keeps a superset, which the JVM-side rank window collapses back."""
    from hadoop_1_spark.session import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").where(
        "vec_id < 400"
    )
    a = sorted(map(tuple, similarity.knn_graph(emb, k=3, nbits=2).collect()))
    b = sorted(
        map(
            tuple,
            similarity.knn_graph(
                emb, k=3, nbits=2, row_block=37, col_block=23
            ).collect(),
        )
    )
    assert b == a
    assert len(a) > 0


def test_ivf_pq_residual_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_ivf_pq_residual_topk_scan")


def test_residual_relation_exact_double_subtraction(spark):
    """The residual is the single IEEE double op double(v[d]) - cvec[d] —
    bit-identical to the same subtraction done host-side (this is what
    lets the SQL oracle replay it), and reconstruction (r + c) matches v
    to within one rounding of the subtraction."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where("vec_id < 200")
    assigned, cvals, cids = similarity.kmeans_train_assign(
        emb, k=4, iters=1, return_centroids=True
    )
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in zip(cids, cvals)],
        "cid int, cvec array<double>",
    )
    cent = {int(c): [float(x) for x in v] for c, v in zip(cids, cvals)}
    res = {r["vec_id"]: (r["cell"], list(r["embedding"]))
           for r in similarity.residual_relation(emb, assigned, cent_df).collect()}
    orig = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.select("vec_id", F.col("embedding").cast("array<double>")
                                .alias("embedding")).collect()}
    assert res and set(res) == set(orig)
    for vid, (cell, rvec) in res.items():
        expect = [a - b for a, b in zip(orig[vid], cent[cell])]
        assert rvec == expect  # bit-identical single-op subtraction
        rebuilt = [a + b for a, b in zip(rvec, cent[cell])]
        assert all(abs(x - y) <= 1e-12 for x, y in zip(rebuilt, orig[vid]))


def test_ivf_pq_residual_trains_different_codebooks(spark, tmp_path):
    """by_residual=True must actually train on residuals: the parked
    codebooks differ from the raw-vector index's, while the coarse
    centroids (trained before the flag applies) are identical."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p_raw = str(tmp_path / "raw")
    p_res = str(tmp_path / "res")
    for p, flag in ((p_raw, False), (p_res, True)):
        similarity.ivf_pq_park(
            emb, p, k_cells=4, cell_iters=1, m=4, subdim=16, kcb=8,
            iters=1, by_residual=flag,
        )
    raw_cents = sorted(map(tuple, spark.read.parquet(f"{p_raw}/centroids").collect()))
    res_cents = sorted(map(tuple, spark.read.parquet(f"{p_res}/centroids").collect()))
    assert [(c, tuple(v)) for c, v in raw_cents] == [(c, tuple(v)) for c, v in res_cents]
    raw_cb = {(r["sub"], r["cid"]): tuple(r["cvec"])
              for r in spark.read.parquet(f"{p_raw}/codebooks").collect()}
    res_cb = {(r["sub"], r["cid"]): tuple(r["cvec"])
              for r in spark.read.parquet(f"{p_res}/codebooks").collect()}
    assert raw_cb != res_cb
    # and the residual scan end-to-end returns k rows per query
    got = similarity.ivf_pq_topk_scan(
        emb, emb.where("vec_id < 5"), p_res, k=3, rerank=10, m=4, subdim=16,
        by_residual=True,
    ).collect()
    assert len(got) > 0 and max(r["rank"] for r in got) <= 3


def test_residual_cents_without_qcells_raises(spark):
    """residual_cents is only meaningful per probed cell — passing it
    without qcells must fail fast with a named contract error, not crash
    inside the LUT build (round-10 advice)."""
    import pytest

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where("vec_id < 50")
    cents = spark.createDataFrame([(0, [0.0] * 64)], "cid int, cvec array<double>")
    with pytest.raises(ValueError, match="residual_cents requires qcells"):
        similarity._pq_adc_scan(
            codes=emb, books=[], corpus=emb, queries=emb, k=3, rerank=10,
            m=4, subdim=16, id_col="vec_id", vec_col="embedding",
            qcells=None, residual_cents=cents,
        )


def test_bq_topk_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_bq_topk")


def test_bq_code_bit_pattern(spark):
    """bq_code's signed-sum packing equals the two's-complement bit
    pattern of 'bit d set iff v[d] > 0', including bit 63."""
    from pyspark.sql import functions as F

    vec = [1.0 if d % 3 == 0 else -1.0 for d in range(63)] + [0.5]  # bit 63 set
    expect_bits = sum(1 << d for d in range(64) if vec[d] > 0)
    expect = expect_bits - (1 << 64) if expect_bits >= (1 << 63) else expect_bits
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<double>")
    got = df.select(similarity.bq_code("embedding").alias("c")).collect()[0]["c"]
    assert got == expect
    # all-negative vector -> code 0
    df0 = spark.createDataFrame([(1, [-1.0] * 64)], "vec_id long, embedding array<double>")
    assert df0.select(similarity.bq_code("embedding").alias("c")).collect()[0]["c"] == 0


def test_bq_topk_never_beats_brute_force(spark):
    """BQ is an approximation: for every (query, rank) its reranked
    cosine is <= the brute-force cosine at the same rank, and it returns
    exactly k rows per query."""
    from tests.conftest import SF_DIR as _SF

    emb = spark.read.parquet(f"{_SF}/embeddings.parquet")
    q = emb.where("vec_id < 5")
    brute = {(r["query_id"], r["rank"]): r["cosine"]
             for r in similarity.cosine_topk(emb, q, k=3).collect()}
    bq = similarity.bq_topk(emb, q, k=3, rerank=20).collect()
    per_q = {}
    for r in bq:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert r["cosine"] <= brute[(r["query_id"], r["rank"])] + 1e-12
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def test_bq_ivf_topk_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_bq_ivf_topk")


def test_bq_ivf_park_codes_match_cells(spark, tmp_path):
    """The derived binary tier must carry exactly the parked cells'
    membership (same ids, same cell) with each code equal to bq_code of
    the parked vector — no retraining drift between tiers."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where("vec_id < 300")
    path = str(tmp_path / "ivf")
    similarity.ivf_park(emb, path, k_cells=4, iters=1)
    similarity.bq_ivf_park(spark, path)
    cells = spark.read.parquet(f"{path}/cells").select(
        "vec_id", similarity.bq_code("embedding").alias("want"),
        F.col("cell").cast("int").alias("cell"),
    )
    codes = spark.read.parquet(f"{path}/bqcodes").select(
        "vec_id", F.col("code").alias("got"), F.col("cell").cast("int").alias("cell")
    )
    j = cells.join(codes, ["vec_id", "cell"], "full_outer")
    assert j.where("want IS NULL OR got IS NULL OR want <> got").count() == 0
    assert codes.count() == emb.count()


def test_ivf_auto_topk_scan_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_ivf_auto_topk_scan")


def test_probe_join_equals_unrolled_probe(spark, tmp_path):
    """The broadcast-join probe at nprobe=1 must put every corpus member
    in exactly its parked ``cells`` partition (same fixed-order l2, same
    (d, cid) tie-break as training), and nprobe=3 must return 3 distinct
    cells per query."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    similarity.ivf_park(emb, path, k_cells=4, iters=1)
    cents = spark.read.parquet(f"{path}/centroids")
    parked = {
        (r["vec_id"], int(r["cell"]))
        for r in spark.read.parquet(f"{path}/cells").select("vec_id", "cell").collect()
    }
    got = {(r["query_id"], r["qcell"]) for r in similarity.ivf_probe_cells(
        emb, cents, 1, "vec_id", "embedding").collect()}
    assert got == parked
    q = emb.where("vec_id < 30")
    rows = similarity.ivf_probe_cells(q, cents, 3, "vec_id", "embedding").collect()
    per_query: dict[int, list[int]] = {}
    for r in rows:
        per_query.setdefault(r["query_id"], []).append(r["qcell"])
    assert len(per_query) == q.count()
    assert all(len(c) == len(set(c)) == 3 for c in per_query.values())


def test_ivf_park_auto_k_is_isqrt(spark, tmp_path):
    """k_cells=None must train max(2, isqrt(n)) centroids."""
    import math

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where("vec_id < 120")
    path = str(tmp_path / "auto")
    similarity.ivf_park(emb, path, k_cells=None, iters=1)
    got = spark.read.parquet(f"{path}/centroids").count()
    assert got == max(2, math.isqrt(emb.count()))


def test_ivf_pq_auto_topk_scan_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_ivf_pq_auto_topk_scan")


def test_lsh_topk_scan_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sim_lsh_topk_scan")


def test_lsh_topk_scan_equals_inline_lsh(spark, tmp_path):
    """The parked-signature scan must return exactly what lsh_ann_topk
    computes inline — same buckets (deterministic hyperplanes), same
    parked norms (project_udf nrm is bit-identical to folds.norm_spark), same
    cosine chain, same ranks."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where("vec_id < 10")
    path = str(tmp_path / "lsh")
    similarity.lsh_park(emb, path, nbits=4)
    a = sorted(map(tuple, similarity.lsh_ann_topk(emb, q, k=5, nbits=4).collect()))
    b = sorted(map(tuple, similarity.lsh_topk_scan(q, path, k=5, nbits=4).collect()))
    assert a == b and len(a) > 0


def test_bq_ivf_join_probe_bit_identical(spark, tmp_path):
    """On an auto-k (isqrt(n)-cell) parked index, bq_ivf_topk_scan with
    nprobe = every cell must equal the flat bq_topk at the same rerank:
    all cells probed, so the binary candidate set is the whole corpus
    minus self (the binary-tier twin of
    test_ivf_nprobe_all_cells_equals_brute_force)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").where("vec_id < 200")
    path = str(tmp_path / "auto")
    similarity.ivf_park(emb, path, k_cells=None, iters=1)
    similarity.bq_ivf_park(spark, path)
    n_cells = spark.read.parquet(f"{path}/centroids").count()
    q = emb.where("vec_id < 5")
    a = sorted(map(tuple, similarity.bq_ivf_topk_scan(
        emb, q, path, k=3, rerank=10, nprobe=n_cells).collect()))
    b = sorted(map(tuple, similarity.bq_topk(emb, q, k=3, rerank=10).collect()))
    assert a == b and len(a) > 0



def test_park_key_covers_park_code(monkeypatch, tmp_path):
    """The parked-index key includes one md5 of similarity.py and
    folds.py, so changed park code parks afresh instead of reusing the
    previous code's index from $TMPDIR; unchanged code reuses it."""
    import hashlib
    import os
    import tempfile
    from pathlib import Path

    from hadoop_1_spark.queries import q_similarity

    want = hashlib.md5(
        b"".join(Path(m.__file__).read_bytes() for m in (similarity, folds))
    ).hexdigest()
    assert q_similarity._PARK_CODE_MD5 == want
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    parks = []

    def park(p):
        parks.append(p)
        os.makedirs(os.path.join(p, "part"))
        open(os.path.join(p, "part", "_SUCCESS"), "w").close()

    a = q_similarity._parked(SF_DIR, "tag", "part", park)
    assert q_similarity._parked(SF_DIR, "tag", "part", park) == a
    monkeypatch.setattr(q_similarity, "_PARK_CODE_MD5", "0" * 32)
    b = q_similarity._parked(SF_DIR, "tag", "part", park)
    assert b != a and parks == [a, b]


def _age(path, seconds):
    """Set ``path``'s mtime ``seconds`` into the past."""
    import os
    import time

    t = time.time() - seconds
    os.utime(path, (t, t))


def test_parking_afresh_evicts_stale_parks(tmp_path, monkeypatch):
    """Parking afresh removes the parks that other park code made for the
    same embeddings file, and the namespaces of earlier park layouts, once
    they are older than the eviction age; another file's parks and this
    code's other tags stay."""
    import os
    import tempfile

    from hadoop_1_spark.queries import q_similarity

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def park(p):
        os.makedirs(os.path.join(p, "part"))
        open(os.path.join(p, "part", "_SUCCESS"), "w").close()

    other_sf = tmp_path / "other_sf"
    other_sf.mkdir()
    (other_sf / "embeddings.parquet").write_bytes(b"x")
    dead = tmp_path / "hadoop_1_spark_ivf" / "key"
    dead.mkdir(parents=True)
    monkeypatch.setattr(q_similarity, "_PARK_CODE_MD5", "0" * 32)
    old = q_similarity._parked(SF_DIR, "tag", "part", park)
    other = q_similarity._parked(str(other_sf), "tag", "part", park)
    stale = q_similarity._PARK_EVICT_AGE_S + 60
    for d in (os.path.dirname(old), os.path.dirname(other), dead.parent):
        _age(d, stale)
    monkeypatch.setattr(q_similarity, "_PARK_CODE_MD5", "1" * 32)
    new = q_similarity._parked(SF_DIR, "tag", "part", park)
    new2 = q_similarity._parked(SF_DIR, "tag2", "part", park)
    assert not os.path.exists(old) and not dead.parent.exists()
    assert all(os.path.exists(p) for p in (other, new, new2))
    assert os.path.dirname(new) == os.path.dirname(new2)


def test_parking_afresh_keeps_young_sibling_parks(tmp_path, monkeypatch):
    """A sibling version or earlier-layout namespace younger than the
    eviction age may belong to a running process with other park code, so
    parking afresh leaves it; reusing a park touches its version, so an
    old version in use is young again."""
    import os
    import tempfile

    from hadoop_1_spark.queries import q_similarity

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def park(p):
        os.makedirs(os.path.join(p, "part"))
        open(os.path.join(p, "part", "_SUCCESS"), "w").close()

    dead = tmp_path / "hadoop_1_spark_park" / "key"
    dead.mkdir(parents=True)
    monkeypatch.setattr(q_similarity, "_PARK_CODE_MD5", "0" * 32)
    fresh = q_similarity._parked(SF_DIR, "tag", "part", park)
    used = os.path.dirname(fresh)
    _age(used, q_similarity._PARK_EVICT_AGE_S + 60)
    assert q_similarity._parked(SF_DIR, "tag", "part", park) == fresh
    monkeypatch.setattr(q_similarity, "_PARK_CODE_MD5", "1" * 32)
    q_similarity._parked(SF_DIR, "tag", "part", park)
    assert os.path.exists(fresh) and dead.exists()
