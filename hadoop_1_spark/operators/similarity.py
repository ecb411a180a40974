"""Approximate-nearest-neighbor similarity search over an embedding column
(north-star extension, BASELINE.json).

Three strategies over `embeddings(vec_id, embedding array<float>, label)`:

- brute-force cosine top-k: the correctness baseline. Query set is small
  and broadcast; the corpus streams once per partition; one final shuffle
  on query_id for the per-query top-k window.
- random-hyperplane LSH: nbits sign-bits of fixed Rademacher hyperplanes
  bucket the corpus; a query only scores its own bucket. The hyperplane
  sign matrix is derived from md5 at *build* time (plain constants in the
  plan), so Spark and the DuckDB oracle share it exactly.
- IVF-style probe: the `label` column stands in for an offline-trained
  coarse quantizer (k-means cell id); a query scores only its own cell.
  At 100 TB the cell id is the partition key -> partition-pruned probes.

Scale notes:
- Brute force is O(|corpus| x |queries|) dot products — fine for reranking
  a candidate set, wrong as the primary path; LSH/IVF cut the scored set
  by the bucket/cell factor and their shuffles carry only (bucket, id).
- The fixed-order double folds (dot, norm, squared L2, hyperplane signed
  sums, bucket bits, occupancy width) live in operators/folds.py, each
  beside its DuckDB and Arrow twins, so results are bit-identical across
  engines (IEEE doubles, no reassociation). Small broadcast sides (the
  query set) use the parsed Spark SQL text; corpus-sized passes use the
  Arrow twins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_1_spark.operators import folds
from hadoop_1_spark.session import parquet_schema


def read_parked(spark, path: str) -> DataFrame:
    """A part of a parked index (centroids, cells, codes, ...), its schema
    from session.parquet_schema: a warm read runs no schema job."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def _topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _cosine(qv: Column, cv: Column, qn: Column, cn: Column) -> Column:
    # fixed-order double fold / precomputed norms — bit-identical to the
    # oracle's folds.dot_duck chain; the fold runs as the Arrow
    # folds.DOT_FOLD twin, division + HALF_UP round stay JVM-side.
    #
    # Scale contract (r10, closing the r8 audit note): this is the
    # PER-PAIR scorer — both vectors cross Arrow for every pair, so the
    # transfer term is O(pairs x dims). It is only ever applied to
    # relations whose pair count is bounded by a broadcast-small side:
    # query-driven top-k paths carry |Q| x corpus pairs with |Q| small by
    # contract (cosine_topk is the labeled brute-force baseline;
    # lsh/ivf/filtered prune the corpus side to bucket/cell candidates
    # first, negative_mine_topk is the one full-corpus-pass shape), and
    # mmr_topk's per-step joins are O(n_c x k^2) with bucket-bounded n_c.
    # ALL-corpus self-scoring must never route through here — that is
    # what the cellwise scorers are for (knn_graph,
    # dedup.semantic_dedup_pairs_cellwise: one Arrow crossing per ROW,
    # in-cell outer-product dots; the r8 sf1 probe measured 22-77x
    # per-pair penalties before those landed).
    return F.round(folds.DOT_FOLD(qv, cv) / (qn * cn), 9)


def _score(q: DataFrame, c: DataFrame) -> DataFrame:
    return q.join(c, q["query_id"] != c["neighbor_id"]).select(
        "query_id",
        "neighbor_id",
        _cosine(q["qv"], c["cv"], q["qn"], c["cn"]).alias("cosine"),
    )


def _query_side(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    signs: list[list[int]] | None = None,
) -> DataFrame:
    """(query_id, qv, qn[, qb]) for a small, broadcast query set, built
    from the parsed Spark-text folds. With ``signs`` the LSH bucket ``qb``
    is derived as on the corpus side: signed sums in one select, bucket
    bits in the next (folds.bucket_from_sums)."""
    v = folds.quote_ident(vec_col)
    cols = [
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.expr(folds.norm_spark(v)).alias("qn"),
    ]
    if signs is None:
        return queries.select(*cols)
    return queries.select(
        *cols, F.expr(folds.signed_sums_spark(v, signs)).alias("_qs")
    ).select(
        "query_id", "qv", "qn", folds.bucket_from_sums("_qs", 0, len(signs)).alias("qb")
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set, score the full
    corpus, per-query window rank. Ties broken by neighbor_id asc."""
    q = F.broadcast(_query_side(queries, id_col, vec_col))
    # corpus side: Arrow norm (bit-identical to the fold; the query side
    # stays expression-form — it is tiny and feeds a broadcast build)
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        folds.NORM(F.col(vec_col)).alias("cn"),
    )
    return _topk(_score(q, c), k)


def lsh_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH-bucketed ANN: score only corpus vectors in the query's bucket.
    nbits tunes recall/cost: scored set shrinks ~2^nbits-fold."""
    signs = folds.hyperplane_signs(nbits, seed=seed)
    q = F.broadcast(_query_side(queries, id_col, vec_col, signs))
    # corpus side: one Arrow pass computes norm + all nbits hyperplane sums
    # (folds.project_udf, bit-identical to the query side's text folds)
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        folds.project_udf(signs)(F.col(vec_col)).alias("_p"),
    ).select(
        "neighbor_id",
        "cv",
        F.col("_p.nrm").alias("cn"),
        folds.bucket_from_sums("_p.sums", 0, nbits).alias("cb"),
    )
    scored = q.join(c, (q["qb"] == c["cb"]) & (q["query_id"] != c["neighbor_id"])).select(
        "query_id",
        "neighbor_id",
        _cosine(q["qv"], c["cv"], q["qn"], c["cn"]).alias("cosine"),
    )
    return _topk(scored, k)


def lsh_park(
    emb: DataFrame,
    path: str,
    nbits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Park the LSH layout once for a static corpus: one fused Arrow pass
    computes every hyperplane sum + the norm (folds.project_udf —
    bit-identical to the query side's Spark-text folds),
    and the corpus is written PARTITIONED BY bucket with the norm
    materialized, to ``{path}/buckets``. lsh_ann_topk recomputes the
    corpus signatures on EVERY query run — fine for one-shot, wasteful
    for query serving; this is the production layout (r11 verdict #6;
    reference analog: MapFile's precomputed index, io/MapFile.java:49)
    where the online probe is a partition-pruned read of the query's
    bucket directory."""
    signs = folds.hyperplane_signs(nbits, seed=seed)
    (
        emb.select(
            F.col(id_col),
            F.col(vec_col),
            folds.project_udf(signs)(F.col(vec_col)).alias("_p"),
        )
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("_p.nrm").alias("nrm"),
            folds.bucket_from_sums("_p.sums", 0, nbits).alias("bucket"),
        )
        # cluster rows by bucket before the partitioned write: without it
        # every task writes a sliver into every bucket directory (tasks x
        # 2^nbits small files) and the probe's read cost is file-open
        # overhead, not data — the classic small-files trap. One shuffle
        # at park time (offline, amortized over every query run).
        .repartition(F.col("bucket"))
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(f"{path}/buckets")
    )


def lsh_topk_scan(
    queries: DataFrame,
    path: str,
    k: int = 5,
    nbits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """LSH ANN top-k against a PARKED signature layout (lsh_park's
    artifact): queries compute their bucket in-plan (the same
    deterministic hyperplane family and folds, so a parked corpus member
    lands in exactly its parked bucket) and broadcast; the join on the
    ``bucket`` partition column lets dynamic partition pruning skip
    every unprobed bucket directory, and the parked norm is read, not
    recomputed. Scan cost is the probed buckets (~|corpus| / 2^nbits
    per query), never the corpus — and unlike lsh_ann_topk, ZERO
    signature compute on the corpus side at query time."""
    q = F.broadcast(
        _query_side(
            queries, id_col, vec_col, folds.hyperplane_signs(nbits, seed=seed)
        )
    )
    c = read_parked(queries.sparkSession, f"{path}/buckets").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("bucket").cast("int").alias("cb"),
    )
    scored = q.join(
        c, (q["qb"] == c["cb"]) & (q["query_id"] != c["neighbor_id"])
    ).select(
        "query_id",
        "neighbor_id",
        _cosine(q["qv"], c["cv"], q["qn"], c["cn"]).alias("cosine"),
    )
    return _topk(scored, k)


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style probe: score only the query's coarse cell (here the
    pre-assigned `label`; a real deployment trains centroids offline and
    partitions the corpus by cell for partition-pruned probes)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.expr(folds.norm_spark(folds.quote_ident(vec_col))).alias("qn"),
            F.col(cell_col).alias("qcell"),
        )
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        folds.NORM(F.col(vec_col)).alias("cn"),
        F.col(cell_col).alias("ccell"),
    )
    scored = q.join(
        c, (q["qcell"] == c["ccell"]) & (q["query_id"] != c["neighbor_id"])
    ).select(
        "query_id",
        "neighbor_id",
        _cosine(q["qv"], c["cv"], q["qn"], c["cn"]).alias("cosine"),
    )
    return _topk(scored, k)


def kmeans_assign_udf(cvals: list[list[float]], cids: list[int] | None = None):
    """Pandas UDF: nearest-centroid id for each vector — the fast twin of
    the crossJoin + folds.l2_spark + min(struct) assignment. Distances
    accumulate dimension-by-dimension ((x_d - c_d)^2 left fold, same IEEE
    order as folds.l2_spark); np.argmin returns the FIRST minimum, which with
    centroids ordered by cid ascending is exactly the (dist, cid)
    tie-break. ``cids`` maps argmin positions back to cluster ids when
    some clusters are empty (positions != ids)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    C = np.array(cvals, dtype=np.float64)  # (k, dims), cid-ascending
    ids = np.array(cids if cids is not None else range(len(cvals)), dtype=np.int32)

    @pandas_udf(IntegerType())
    def _assign(v: pd.Series) -> pd.Series:
        m = np.vstack(v.to_numpy()).astype(np.float64)  # (rows, dims)
        acc = np.zeros((m.shape[0], C.shape[0]))
        for d in range(m.shape[1]):
            diff = m[:, d : d + 1] - C[:, d]
            acc += diff * diff
        return pd.Series(ids[np.argmin(acc, axis=1)])

    return _assign


def farthest_first_seeds(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic kmeans++-style init: farthest-first traversal with
    md5 tie-breaks (the classic k-center seeding — kmeans++ with the
    distance-weighted coin replaced by its argmax mode, so no RNG state).

    Seed 0 is the vector with the smallest (md5(id), id) — the same rule
    as the hash init. Seed i maximizes the min L2 distance to the chosen
    seeds, ties broken by (md5(id), id) ascending. Distances use the
    fixed-order folds.l2_spark fold, so an engine replaying the same rule (the
    cluster_kmeans_pp oracle) picks bit-identical seeds.

    Scale shape: k-1 rounds, each a corpus scan against k broadcast
    literal vectors folded with F.least, reduced by TakeOrdered(1) — a
    bounded driver action per round (one row), no data collect. Cost is
    O(k * scan): the right init when k is modest and cluster quality
    matters; the O(1)-pass hash init remains the default."""
    base = emb.select(
        F.md5(F.col(id_col).cast("string")).alias("_m"),
        F.col(id_col).alias("_sid"),
        F.col(vec_col).alias("_v"),
    )
    first = base.orderBy("_m", "_sid").limit(1).collect()[0]
    seeds: list[list[float]] = [[float(x) for x in first["_v"]]]
    for _ in range(1, k):
        dists = [folds.l2_spark("_v", folds.lit_vec_text(s)) for s in seeds]
        dmin = F.expr(f"least({', '.join(dists)})" if len(dists) > 1 else dists[0])
        row = (
            base.select("_m", "_sid", "_v", dmin.alias("_d"))
            .orderBy(F.desc("_d"), "_m", "_sid")
            .limit(1)
            .collect()[0]
        )
        seeds.append([float(x) for x in row["_v"]])
    return seeds


def kmeans_train_assign(
    emb: DataFrame,
    k: int | None = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = folds.DIMS,
    use_arrow: bool = True,
    init: str = "hash",
    keep_vector: bool = False,
    return_centroids: bool = False,
    seeds: list[list[float]] | None = None,
) -> DataFrame | tuple[DataFrame, list[list[float]], list[int]]:
    """Deterministic Lloyd k-means over the embedding column -> (id,
    cluster). Trains the coarse quantizer the IVF probe assumes exists
    ("offline centroids") and the clustering stage of SemDeDup-style
    semantic dedup — cluster first, dedup within clusters.

    Fully deterministic and engine-replayable (the oracle re-runs the
    same algorithm in SQL):
    - seeds: the k vectors with smallest (md5(id), id) — data-derived,
      no RNG state;
    - assignment: argmin of the fixed-order folds.l2_spark distance, ties by
      centroid id (row_number over (dist, cid));
    - update: per-component mean as CAST(decimal(18,6)-exact sum AS
      DOUBLE) / CAST(count AS DOUBLE) — order-independent sums, one
      well-defined rounding, one IEEE division.

    Scale shape: each round is corpus x broadcast(k centroids) -> one
    shuffle on id for the argmin window -> a k-row wide aggregation
    (map-side partial). iters and k are constants; nothing driver-side
    except the loop structure (no collect).

    Scale knobs (fixture queries pin k/iters so the static oracle SQL can
    replay them; pipelines at real scale use these):
    - ``k=None`` derives k = max(2, isqrt(n)) — the usual SemDeDup-style
      cell count that keeps expected cell size ~sqrt(n) (one count job).
    - ``init="kmeanspp"`` seeds by deterministic farthest-first traversal
      (see farthest_first_seeds) instead of the (md5(id), id) smallest-k
      hash draw — better-separated seeds for skewed embedding spaces at
      the price of k-1 extra scans.
    - ``seeds`` (r14 optimization seam): caller-supplied initial centroid
      vectors, cid = list position. Skips the seed job entirely — the
      lever for trainings whose seed draw is shared across calls (PQ's m
      subspace trainings all pick the SAME (md5(id), id) smallest-k rows,
      so pq_codes runs ONE seed job and slices; guide §2.4 "remove
      passes"). Values must equal what the skipped job would have drawn
      for bit-identical training."""
    if seeds is not None:
        k = len(seeds)
    if k is None:
        import math

        k = max(2, math.isqrt(emb.count()))
    if init not in ("hash", "kmeanspp"):
        raise ValueError(f"unknown init {init!r} (want 'hash' or 'kmeanspp')")
    # The loop re-reads the column-pruned (id, vec) projection 2*iters+1
    # times rather than caching it: A/B'd at sf0.1, the blocking
    # materialization job cost more than the re-scans it saves on a local
    # parquet table (2.9 s -> ~4 s).
    emb = emb.select(F.col(id_col), F.col(vec_col))
    if seeds is not None:
        cents = emb.sparkSession.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(seeds)],
            "cid int, cvec array<double>",
        )
    elif init == "kmeanspp":
        pp = farthest_first_seeds(emb, k, id_col=id_col, vec_col=vec_col)
        # literal centroids (exact: createDataFrame ships the doubles as
        # values, no parsing) in selection order = cid order
        cents = emb.sparkSession.createDataFrame(
            [(i, v) for i, v in enumerate(pp)], "cid int, cvec array<double>"
        )
    else:
        seed_pool = emb.select(
            F.md5(F.col(id_col).cast("string")).alias("_m"),
            F.col(id_col).alias("_sid"),
            F.col(vec_col).alias("cvec"),
        ).orderBy("_m", "_sid").limit(k)
        # row_number here runs over k rows post-limit, not the corpus
        w_seed = Window.orderBy("_m", "_sid")
        cents = seed_pool.select(
            (F.row_number().over(w_seed) - 1).alias("cid"), "cvec"
        )

    def assign(centroids: DataFrame) -> DataFrame:
        # argmin as min(struct(dist, cid)) rather than a window: the k
        # scored rows per vector sit in ONE input partition (crossJoin of
        # a broadcast side preserves locality), so map-side partial
        # aggregation collapses them to a single row BEFORE the shuffle —
        # n rows without embeddings-in-sort-buffers, vs n*k through a
        # window sort. Lexicographic struct min == order by (dist, cid)
        # limit 1, which is exactly what the oracle's row_number replays.
        scored = emb.select(
            F.col(id_col), F.col(vec_col)
        ).crossJoin(F.broadcast(centroids)).select(
            F.col(id_col),
            F.col(vec_col),
            F.col("cid"),
            F.expr(folds.l2_spark(folds.quote_ident(vec_col), "cvec")).alias("_d"),
        )
        return (
            scored.groupBy(id_col)
            .agg(
                F.min(F.struct("_d", "cid")).alias("_m"),
                # constant within the group (every row carries the same
                # vector), so first() is deterministic in value
                F.first(vec_col).alias(vec_col),
            )
            .select(F.col(id_col), F.col(vec_col), F.col("_m.cid").alias("cid"))
        )

    # The update aggregation is 64 decimal sums + a 64-term mean array.
    # Built once here and reused every round: chaining Column methods costs
    # ~6 py4j round trips per term (~1.2 s of driver chatter per round,
    # measured at sf0.1); parsing each term as one expression string and
    # reusing the Column objects across rounds cuts that to a one-time
    # ~0.2 s. Semantics identical — same cast chain, same decimal(18,6)
    # exact sums, same single IEEE division (the oracle replays them).
    _sum_exprs = [
        F.expr(
            f"sum(cast(cast(element_at({vec_col}, {d}) as double)"
            f" as decimal(18,6)))"
        ).alias(f"_s{d}")
        for d in range(1, dims + 1)
    ]
    _count_expr = F.expr("count(1)").alias("_n")
    _mean_arr = F.expr(
        "array("
        + ", ".join(
            f"cast(_s{d} as double) / cast(_n as double)"
            for d in range(1, dims + 1)
        )
        + ")"
    ).alias("cvec")

    def update(a: DataFrame) -> DataFrame:
        sums = a.groupBy("cid").agg(_count_expr, *_sum_exprs)
        return sums.select("cid", _mean_arr)

    # keep_vector returns (id, vec, cluster) so consumers that need both
    # (semantic_dedup_pairs' in-cell cosine) skip a re-join against the
    # source — the final assignment pass already streams the vectors.
    def _out(a: DataFrame) -> DataFrame:
        cols = [F.col(id_col)]
        if keep_vector:
            cols.append(F.col(vec_col))
        return a.select(*cols, F.col("cid").cast("int").alias("cluster"))

    # return_centroids consumers (PQ's asymmetric-distance tables) get
    # the FINAL codebook — the centroids the returned assignment was
    # computed against — as (values, cids); a bounded k x dims driver
    # read of the connected_components-scalar kind, not a data collect.
    def cent_values(cdf: DataFrame) -> tuple[list[list[float]], list[int]]:
        rows = {r["cid"]: list(r["cvec"]) for r in cdf.collect()}
        cids = sorted(rows)
        return [rows[c] for c in cids], cids

    if not use_arrow:
        for _ in range(iters):
            cents = update(assign(cents))
        final = _out(assign(cents))
        if return_centroids:
            cvals, cids = cent_values(cents)
            return final, cvals, cids
        return final

    # Arrow fast path (default): the l2 folds above are interpreted by
    # Catalyst; kmeans_assign_udf does the same math dimension-by-dimension
    # in numpy — bit-identical (see the Arrow fast path note above;
    # asserted by test_kmeans_arrow_bit_identical). Centroids become plan
    # constants, so each round collects the k centroid rows — k x dims
    # doubles, a bounded driver action of the connected_components-scalar
    # kind, NOT a data collect; every centroid value is still computed by
    # the JVM (decimal sums + one cast + one division), so the constants
    # match the expression path exactly.
    def assign_arrow(cvals: list[list[float]], cids: list[int]) -> DataFrame:
        return emb.select(
            F.col(id_col),
            F.col(vec_col),
            kmeans_assign_udf(cvals, cids)(F.col(vec_col)).alias("cid"),
        )

    if seeds is not None:
        # the seed constants are already on the driver: no collect job
        cvals, cids = (
            [[float(x) for x in v] for v in seeds],
            list(range(len(seeds))),
        )
    else:
        cvals, cids = cent_values(cents)
    for _ in range(iters):
        cvals, cids = cent_values(update(assign_arrow(cvals, cids)))
    final = _out(assign_arrow(cvals, cids))
    if return_centroids:
        return final, cvals, cids
    return final


def quantize_arrays(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Internal/array form of quantize_embeddings: (id, _s, qvec[,
    passthrough...]) with _s the raw max-abs (NOT divided by 127) and
    qvec array<int> — the form the quantized ANN candidate scan consumes
    directly. ``passthrough`` columns ride along in the SAME narrow
    projection (no join back to the source to re-attach them)."""
    v = F.col(vec_col)
    extra = passthrough or []
    maxabs = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    base = emb.select(
        F.col(id_col), v.alias("_v"), maxabs.alias("_s"),
        *[F.col(c) for c in extra],
    )
    codes = F.when(
        F.col("_s") == 0.0,
        F.transform(F.col("_v"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda x: F.floor(x.cast("double") * F.lit(127.0) / F.col("_s") + F.lit(0.5)).cast("int"),
        )
    )
    return base.select(
        F.col(id_col), F.col("_s"), codes.alias("qvec"),
        *[F.col(c) for c in extra],
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the ANN
    storage path (4x memory vs float32; scan candidates over int8, rerank
    survivors with the full floats). Per vector: s = max(|v_i|), and
    q_i = floor(v_i * 127 / s + 0.5) in [-127, 127] (floor(x+0.5) rounds
    half toward +inf for BOTH signs — one deterministic rule, no
    banker's-rounding divergence between engines). The all-zero vector
    quantizes to zeros with scale 0.

    Output: (id, scale_q9, qcsv) where scale_q9 = round(s/127, 9) is the
    dequant multiplier and qcsv the comma-joined int codes (a string so
    the driver's value hash is unambiguous across engines).

    Shape: one narrow projection — fold for the max, transform for the
    codes, all inside whole-stage codegen; no shuffle at all."""
    qa = quantize_arrays(emb, id_col=id_col, vec_col=vec_col)
    return qa.select(
        F.col(id_col),
        F.round(F.col("_s") / F.lit(127.0), 9).alias("scale_q9"),
        F.concat_ws(",", F.col("qvec")).alias("qcsv"),
    )


def _exact_rerank(
    short: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The exact-rerank contract shared by every two-stage ANN
    (quantized_topk, pq_adc_topk): join the (query_id, neighbor_id)
    shortlist back to full vectors, score with the fixed-order dot fold
    + round-9 cosine, cut to top-k with the (cosine DESC, neighbor ASC)
    tie-break. ONE implementation so the rerank discipline can never
    diverge between operators.

    Sizing the shortlist (the ``rerank`` parameter upstream): the
    round-12 recall frontier (SCALE.md) measured quantized-tier recall
    as SHORTLIST-bound, not probe-bound — rerank 20 -> 50 roughly
    doubles PQ recall and adds ~50% to BQ, while extra nprobe without a
    wider shortlist buys almost nothing. Deploy quantized tiers at
    rerank=50 (the measured default; sim_pq_topk_scan_r50 prices it);
    the cost is linear in |queries| x rerank float-row reads, which
    stays negligible next to the code scan at any corpus size."""
    nrm = F.expr(folds.norm_spark(folds.quote_ident(vec_col)))
    qside = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), nrm.alias("qn")
    )
    cside = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), nrm.alias("cn")
    )
    rer = (
        short.join(F.broadcast(qside), "query_id")
        .join(cside, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.expr(folds.dot_spark("qv", "cv")) / (F.col("qn") * F.col("cn")),
                9,
            ).alias("cosine"),
        )
    )
    return _topk(rer, k)


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str | None = None,
) -> DataFrame:
    """Two-stage quantized ANN: score ALL candidates with exact-integer
    int8 dot products (the 4x-smaller scan), keep the top ``rerank`` per
    query, then rerank ONLY those with the full-precision cosine
    contract (dot fold + round 9, same as cosine_topk). The candidate
    stage is engine-exact — int dot products have no rounding at all —
    so the candidate SET (not just the final ranks) is oracle-checkable.

    Scale shape: stage 1 is the brute-force scan shape but over int8
    codes (a quarter of the bytes, integer SIMD); stage 2 touches
    rerank x |queries| rows of floats. Queries are broadcast; the only
    per-query state crossing the shuffle is (query, neighbor, int score).

    ``cell_col`` composes the IVF probe: candidates are restricted to the
    query's coarse cell (IVF-PQ's shape — cell prune, int8 scan, float
    rerank), making the candidate count sub-linear in the corpus; at
    100 TB the cell is also the partition key, so the int8 scan is
    partition-pruned."""

    def _side(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        q = quantize_arrays(
            df, id_col=id_col, vec_col=vec_col,
            passthrough=[cell_col] if cell_col else None,
        )
        keep = [F.col(id_col).alias(out_id), F.col("qvec").alias(out_vec)]
        if cell_col:
            keep.append(F.col(cell_col))
        return q.select(*keep)

    cq = _side(corpus, "neighbor_id", "cq")
    qq = _side(queries, "query_id", "qq")
    int_dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"), lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    joined = (
        cq.join(F.broadcast(qq), cell_col)
        if cell_col
        else cq.crossJoin(F.broadcast(qq))
    )
    cand = (
        joined.where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", int_dot.alias("qscore"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qscore"), F.asc("neighbor_id")
    )
    short = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= rerank)
        .select("query_id", "neighbor_id", "qscore")
    )
    return _exact_rerank(short, corpus, queries, k, id_col, vec_col)


def bq_code(vec_col: str, dims: int = folds.DIMS) -> Column:
    """1-bit-per-dim sign quantization packed into ONE signed 64-bit code
    (dims <= 64): bit d is set iff vec[d] > 0 — the binary-quantization
    compression modern vector stores ship as their cheapest tier (32x
    smaller than float32; Hamming distance approximates angular
    distance for roughly centered embeddings). The code is built as a
    SUM of disjoint signed bit values (bit 63 enters as -2^63), which
    equals the two's-complement bit pattern exactly and replays in any
    SQL engine without unsigned types. Pure JVM Column arithmetic — no
    UDF, whole-stage-codegen friendly.

    r15: takes the column NAME and composes the whole packed sum as ONE
    parsed expression — the Column-loop form was ~8 py4j round-trips per
    dim x 64 dims per use (sim_bq_ivf_topk's builder made >10k driver
    calls). SQL `a[d]` is the same 0-based GetArrayItem the Column
    subscript produced and `if(...)` the same conditional, with the sum
    left-associated — codes bit-identical (test_bq_code_bit_pattern)."""
    if dims > 64:
        raise ValueError("bq_code packs at most 64 dims into one long")
    v = folds.quote_ident(vec_col)
    terms = " + ".join(
        f"if({v}[{d}] > 0,"
        f" cast({(1 << d) if d < 63 else -(1 << 63)} as bigint),"
        " cast(0 as bigint))"
        for d in range(dims)
    )
    return F.expr(terms)


def bq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = folds.DIMS,
) -> DataFrame:
    """Binary-quantization ANN: sign-pack every vector into one long
    (bq_code), score all candidates by Hamming distance
    bit_count(qcode XOR ccode) — a single integer instruction per
    candidate over a 32x-compressed relation — shortlist the
    ``rerank`` lowest per query (ties: hamming ASC, neighbor ASC), and
    rerank only those under the exact cosine contract (_exact_rerank,
    shared with every two-stage ANN here). The candidate stage is
    integer-exact, so the candidate SET is oracle-checkable, the
    quantized_topk discipline at 1 bit/dim.

    Scale shape at 100 TB: the scanned relation is ONE long per corpus
    vector (8 bytes vs 256 for float32 — parquet column-pruned), queries
    broadcast, per-candidate work is xor+popcount in codegen; floats are
    touched only by <= |queries| x rerank survivors. The partition-pruned
    composition with the IVF cell partition EXISTS as bq_ivf_park /
    bq_ivf_topk_scan (round-11): codes parked by trained cell, probes
    DPP-pruned to nprobe cell directories."""
    code = bq_code(vec_col, dims)
    qq = queries.select(F.col(id_col).alias("query_id"), code.alias("qcode"))
    cc = corpus.select(F.col(id_col).alias("neighbor_id"), code.alias("ccode"))
    cand = (
        cc.crossJoin(F.broadcast(qq))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.bit_count(F.col("qcode").bitwiseXOR(F.col("ccode"))).alias("_ham"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_ham"), F.asc("neighbor_id"))
    short = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(short, corpus, queries, k, id_col, vec_col)


def negative_mine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nbits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training (public practice:
    dense-retrieval training needs high-similarity NON-neighbors): per
    query, the top-k most-cosine-similar corpus vectors whose LSH bucket
    DIFFERS from the query's — similar enough to be hard, bucketed apart
    so they are not the near-neighbor candidates lsh_ann_topk would
    return. Same hyperplane family, same fixed-order float chains, so
    the mined pairs replay exactly in the oracle.

    Shape: the query side broadcasts (query sets are small by
    definition); the bucket-inequality join is the broadcast
    nested-loop over the corpus scan — the same single-corpus-pass
    shape as the brute-force baseline, with the top-k window per query.
    At larger query sets, swap to the multi-probe form: equi-join on
    each of the query's non-own buckets."""
    signs = folds.hyperplane_signs(nbits, seed=seed)
    q = F.broadcast(_query_side(queries, id_col, vec_col, signs))
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        folds.project_udf(signs)(F.col(vec_col)).alias("_p"),
    ).select(
        "neighbor_id",
        "cv",
        F.col("_p.nrm").alias("cn"),
        folds.bucket_from_sums("_p.sums", 0, nbits).alias("cb"),
    )
    scored = q.join(
        c, (q["qb"] != c["cb"]) & (q["query_id"] != c["neighbor_id"])
    ).select(
        "query_id",
        "neighbor_id",
        F.col("cb").alias("neg_bucket"),
        _cosine(q["qv"], c["cv"], q["qn"], c["cn"]).alias("cosine"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def knn_graph(
    emb: DataFrame,
    k: int = 3,
    nbits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    row_block: int = 2048,
    col_block: int = 2048,
) -> DataFrame:
    """k-NN graph construction: every vector's top-k most-similar
    in-bucket neighbors, as directed edges (query_id, neighbor_id,
    cosine, rank) — the input relation for SemDeDup-style semantic
    clustering and graph-based diversity sampling.

    Unlike the query-serving ANN paths (lsh_ann_topk broadcasts a small
    query set), EVERY vector is a query here, so nothing is broadcast:
    the (id, vec, norm, bucket) relation is computed once — one Arrow
    pass for norm + hyperplane sums — persisted, and self-joined on the
    bucket key. One co-partitioning shuffle; in-bucket pair count is
    sum(|bucket|^2), bounded by the hash family exactly as in the LSH
    dedup path. A FIXED nbits makes that bound quadratic in the corpus
    (n^2 / 2^nbits — the round-12 gate row's mechanism: 16 buckets,
    pair work grew exactly 100x on 10x data); knn_graph_auto below
    derives nbits from the corpus size and is the scale path — this
    fixed-width form is the oracle-simplest baseline. Per-query top-k
    is a WindowGroupLimit-pruned rank, never a global sort."""
    from hadoop_1_spark.operators.caching import persist_tracked

    signs = folds.hyperplane_signs(nbits, seed=seed)
    base = persist_tracked(
        emb.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            folds.project_udf(signs)(F.col(vec_col)).alias("_p"),
        ).select(
            "_id", "_v",
            F.col("_p.nrm").alias("_n"),
            folds.bucket_from_sums("_p.sums", 0, nbits).alias("_b"),
        )
    )
    return _knn_cell_topk(base, k, row_block, col_block)


def _knn_cell_topk(
    base: DataFrame, k: int, row_block: int, col_block: int
) -> DataFrame:
    """Shared cellwise pair-scoring tail of knn_graph / knn_graph_auto:
    ``base`` is the persisted (_id, _v, _n, _b) relation; everything from
    the bucket groupBy on is identical between the fixed-nbits and
    occupancy-scaled variants.

    Cellwise pair scoring (r8): the bucket self-join's per-pair Arrow
    folds.DOT_FOLD shipped BOTH vectors per candidate pair — O(pairs * dims)
    transfer, 135 s / 76.7x at the sf1 probe. One applyInPandas pass
    per bucket instead: vectors cross Arrow once per ROW, in-cell dots
    are per-DIMENSION outer-product accumulation (DOT_FOLD's exact flop
    order -> bit-identical cosines; same recipe as
    dedup.semantic_dedup_pairs_cellwise), and each query emits only the
    candidates that can still reach the rounded top-k (unrounded kth
    minus a 1e-8 margin, far wider than round-at-9's 5e-10 swing), so
    the Arrow RETURN is O(rows * k) scalars. Division + HALF_UP round
    and the rank window stay JVM-side, untouched.

    Memory (r10, mirroring dedup.semantic_dedup_pairs_cellwise): the
    accumulator is blocked on BOTH axes to row_block x col_block doubles
    (32 MB at the 2048x2048 defaults) — a bound independent of bucket
    size; the bucket's own vectors (n x dims x 8 B) remain the residency
    floor either way. Per-(i,j) flop order is unchanged by the column
    blocking (same ascending-d sequence per pair), so dots stay
    bit-identical. The top-k prune threshold becomes a RUNNING per-row
    kth-largest, merged block by block: a running kth is always <= the
    full-row kth, so each block keeps a SUPERSET of the unblocked keep
    set (worst case ~k extra per col block) and the JVM-side rank
    window — which always did the final top-k — is unaffected.
    Parallelism = the bucket count; AQE cannot skew-split an
    applyInPandas group, so a badly skewed bucket whose vectors alone
    blow the residency floor needs more buckets (fixed variant: raise
    nbits; auto variant: lower target_occupancy)."""
    import pandas as pd

    empty = pd.DataFrame(
        {
            "query_id": pd.Series(dtype="int64"),
            "neighbor_id": pd.Series(dtype="int64"),
            "dot": pd.Series(dtype="float64"),
            "qn": pd.Series(dtype="float64"),
            "cn": pd.Series(dtype="float64"),
        }
    )
    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        ids = pdf["_id"].to_numpy()
        M = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        nrm = pdf["_n"].to_numpy().astype(np.float64)
        dims = M.shape[1]
        prune = (n - 1) > k
        frames = []
        for lo in range(0, n, row_block):
            hi = min(lo + row_block, n)
            if prune:
                buf = np.full((hi - lo, k), -np.inf)
            for co in range(0, n, col_block):
                ch = min(co + col_block, n)
                acc = np.zeros((hi - lo, ch - co))
                for d in range(dims):
                    acc += np.outer(M[lo:hi, d], M[co:ch, d])
                cosu = acc / np.outer(nrm[lo:hi], nrm[co:ch])
                gi = np.arange(lo, hi)
                on_diag = (gi >= co) & (gi < ch)
                cosu[np.nonzero(on_diag)[0], gi[on_diag] - co] = -np.inf
                if prune:
                    merged = np.concatenate([buf, cosu], axis=1)
                    part = np.partition(merged, -k, axis=1)
                    buf = part[:, -k:]
                    keep = cosu >= (part[:, -k] - 1e-8)[:, None]
                else:
                    keep = np.isfinite(cosu)
                bi, bj = np.nonzero(keep)
                if len(bi):
                    frames.append(
                        pd.DataFrame(
                            {
                                "query_id": ids[lo + bi],
                                "neighbor_id": ids[co + bj],
                                "dot": acc[bi, bj],
                                "qn": nrm[lo + bi],
                                "cn": nrm[co + bj],
                            }
                        )
                    )
        return pd.concat(frames, ignore_index=True) if frames else empty

    cand = base.groupBy("_b").applyInPandas(
        cell, schema="query_id long, neighbor_id long, dot double, qn double, cn double"
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("dot") / (F.col("qn") * F.col("cn")), 9).alias("cosine"),
    )
    return _topk(scored, k)


def knn_graph_auto(
    emb: DataFrame,
    k: int = 3,
    target_occupancy: int = 128,
    min_nbits: int = 4,
    max_nbits: int = 10,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    row_block: int = 2048,
    col_block: int = 2048,
) -> DataFrame:
    """knn_graph with the LSH width derived from the CORPUS SIZE instead
    of passed as a static knob — the scale path the round-12 gate asked
    for: with nbits fixed, in-bucket pair work sum(|bucket|^2) is
    n^2 / 2^nbits and grew exactly 100x on 10x data (8.9x wall on the
    r12 probe only because the numpy per-pair constant is tiny); with
    nbits = max(min_nbits, ceil(log2(n / target_occupancy))) the mean
    occupancy is pinned <= target_occupancy and pair work is
    ~n * target — linear by construction, the knn_graph analog of
    dedup_autocap's work-budget rule.

    The width is derived IN-PLAN (a 1-row count relation, broadcast
    into both the bucket projection — no driver collect), the
    hyperplane sums are computed once for max_nbits planes in the same
    single Arrow pass, and the bucket takes the first nbits bits
    (identical planes to a fixed-nbits family, see folds.bucket_from_sums),
    so on any corpus where the derived width equals ``nbits`` the
    result is BIT-IDENTICAL to knn_graph (at the defaults: every corpus
    with n <= 2^4 * 128 = 2048, which includes the sf0.01 oracle
    fixture and the sf0.1 bench fixture).

    Semantics note: on larger corpora the graph is built over FINER
    buckets (each query ranks against ~target_occupancy candidates, the
    recall/cost dial every LSH path here exposes) — the oracle replays
    the width derivation and the dynamic bucket bit-for-bit."""
    from hadoop_1_spark.operators.caching import persist_tracked

    signs = folds.hyperplane_signs(max_nbits, seed=seed)
    nbits = folds.occupancy_nbits("_cnt", target_occupancy, min_nbits, max_nbits)
    nrel = emb.agg(F.count(F.lit(1)).alias("_cnt")).select(
        F.expr(f"cast({nbits} as int)").alias("_nbits")
    )
    base = persist_tracked(
        emb.crossJoin(F.broadcast(nrel))
        .select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            folds.project_udf(signs)(F.col(vec_col)).alias("_p"),
            "_nbits",
        )
        .select(
            "_id", "_v",
            F.col("_p.nrm").alias("_n"),
            folds.bucket_from_sums("_p.sums", 0, max_nbits, "_nbits").alias("_b"),
        )
    )
    return _knn_cell_topk(base, k, row_block, col_block)


def mmr_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nbits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) top-k:
    greedy diversified retrieval — each step selects the candidate
    maximizing 0.5*relevance - 0.5*max_similarity_to_already_selected.
    The redundancy-aware sibling of lsh_ann_topk (plain top-k returns k
    near-copies when the corpus has near-dups; MMR spends the budget on
    coverage).

    Determinism contract: all cosines are the fixed-order fold rounded
    to 9 places; lambda is EXACTLY 0.5, so the 0.5*a - 0.5*b step
    arithmetic is an exact halving (power of two) of round-9 doubles —
    engine-identical IEEE ops — and every argmax tie-breaks on
    neighbor id. The greedy recursion is unrolled as k plan steps
    (k is small by definition), so the whole query stays declarative
    and the oracle replays it as k chained window-argmax CTEs.

    Scale: candidates and in-bucket pair sims are bucket-bounded
    (lsh_ann_topk's candidate economics); each step joins the remaining
    candidates against the i-selected set — k * candidate-sized work,
    never corpus-sized. Queries are broadcast throughout."""
    from hadoop_1_spark.operators.caching import local_checkpoint, persist_tracked

    signs = folds.hyperplane_signs(nbits, seed=seed)
    q = F.broadcast(_query_side(queries, id_col, vec_col, signs))
    c = emb.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        folds.project_udf(signs)(F.col(vec_col)).alias("_p"),
    ).select(
        "cid", "cv",
        F.col("_p.nrm").alias("cn"),
        folds.bucket_from_sums("_p.sums", 0, nbits).alias("cb"),
    )
    cand = persist_tracked(
        q.join(c, (q["qb"] == c["cb"]) & (q["query_id"] != c["cid"])).select(
            "query_id", "cid", "cv", "cn",
            _cosine(q["qv"], c["cv"], q["qn"], c["cn"]).alias("rel"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_score"), F.asc("cid"))
    pick = (
        cand.withColumn("_score", F.col("rel"))
        .withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") == 1)
        .select("query_id", F.col("cid").alias("neighbor_id"),
                F.col("_score").alias("mmr_score"), F.lit(1).alias("rank"))
    )
    # r15 (guide §2.4/§5): each step references `selected` TWICE (the
    # selected-vector join and the remaining-candidates anti-join), so the
    # unrolled plan re-derived every earlier step's window-argmax 2x per
    # later step — the final k=3 plan carried 62 scans of the cached
    # candidates and 409 nodes, all recomputation of k tiny relations.
    # localCheckpoint(eager=False) per step truncates the lineage exactly
    # like connected_components' rounds: later steps read the step's RDD.
    # It is not free at build time: under AQE, turning a step's plan into
    # that RDD runs the step's shuffle stages, so building sim_mmr_topk
    # starts 8 Spark jobs (sf0.001 on a 4-core VM: 0.8-1.3 s of build,
    # most of the row). Swapping in persist_tracked runs no build job,
    # but the un-truncated optimized plan grows from 135 to 3,910 lines
    # and the row took 1.97-2.61 s against 1.23-1.38 s with the
    # checkpoints in the same A/B, so the checkpoints stay. Rows are
    # identical — checkpointing only cuts lineage, and the greedy
    # recursion itself is untouched. The checkpoints are registered with
    # caching, so the next query's release_caches() frees their blocks.
    selected = local_checkpoint(pick)
    for step in range(2, k + 1):
        # Per-step candidate x SELECTED cosines (selected <= step-1 rows
        # per query), never the n_c^2 all-candidate sims relation the
        # r5-r7 form materialized up front — that matrix was the 22x
        # blow-up at the r8 sf1 probe (95 s; candidates x candidates x
        # dims through Arrow). Work per step is candidates x selected,
        # total O(n_c * k^2) pairs per query; same _cosine fold per
        # pair and the same max/argmax ordering, so picks are identical.
        sel_v = selected.select(
            "query_id", F.col("neighbor_id").alias("_sid")
        ).join(
            cand.select(
                "query_id",
                F.col("cid").alias("_sid"),
                F.col("cv").alias("_sv"),
                F.col("cn").alias("_sn"),
            ),
            ["query_id", "_sid"],
        )
        rem = cand.join(
            selected.select("query_id", F.col("neighbor_id").alias("cid")),
            ["query_id", "cid"],
            "left_anti",
        )
        msims = (
            rem.join(sel_v, ["query_id"])
            .select(
                "query_id",
                "cid",
                _cosine(
                    F.col("cv"), F.col("_sv"), F.col("cn"), F.col("_sn")
                ).alias("s"),
            )
            .groupBy("query_id", "cid")
            .agg(F.max("s").alias("_maxsim"))
        )
        ms = rem.select("query_id", "cid", "rel").join(msims, ["query_id", "cid"])
        nxt = (
            ms.withColumn(
                "_score", F.lit(0.5) * F.col("rel") - F.lit(0.5) * F.col("_maxsim")
            )
            .withColumn("_rn", F.row_number().over(wq))
            .where(F.col("_rn") == 1)
            .select("query_id", F.col("cid").alias("neighbor_id"),
                    F.col("_score").alias("mmr_score"), F.lit(step).alias("rank"))
        )
        selected = selected.unionByName(nxt)
        if step < k:
            selected = local_checkpoint(selected)
    return selected.select(
        "query_id", "neighbor_id", F.round("mmr_score", 9).alias("mmr_score"),
        F.col("rank").cast("int").alias("rank"),
    )


def ann_recall_eval(exact: DataFrame, ann: DataFrame, k: int) -> DataFrame:
    """Ranking-quality evaluation of an ANN result against the exact
    brute-force top-k — the recall@k / reciprocal-rank harness that closes
    the eval family (label_agreement_kappa and quality_pr_curve cover
    classification; this covers retrieval).

    Inputs are two (query_id, neighbor_id, cosine, rank) relations with
    the same query set: ``exact`` the ground-truth top-k, ``ann`` the
    approximate candidate ranking (LSH/IVF/quantized). Per query:

    - ``n_hits``    — |exact top-k ∩ ann top-k|
    - ``recall_at_k`` — n_hits / k
    - ``rr``        — 1/rank of the TRUE nearest neighbor (exact rank 1)
      inside the ann list, 0.0 when the ANN bucket missed it entirely
      (macro-averaging rr over queries gives MRR).

    Shape: both sides are top-k relations (|queries| x k rows), so the
    join is tiny regardless of corpus size — the expensive work happened
    upstream in the two retrieval plans; this is a bounded report join.
    Divisions are IEEE double of small exact integers — identical bits in
    any engine, rounded to 9 for belt-and-braces."""
    ex = exact.select("query_id", "neighbor_id", F.col("rank").alias("_ex_rank"))
    an = ann.select(
        F.col("query_id").alias("_a_qid"),
        F.col("neighbor_id").alias("_a_nid"),
        F.col("rank").alias("_ann_rank"),
    )
    j = ex.join(
        an,
        (ex["query_id"] == an["_a_qid"]) & (ex["neighbor_id"] == an["_a_nid"]),
        "left",
    )
    per = j.groupBy("query_id").agg(
        F.count("_ann_rank").cast("bigint").alias("n_hits"),
        F.max(F.when(F.col("_ex_rank") == 1, F.col("_ann_rank"))).alias("_rr_rank"),
    )
    return per.select(
        "query_id",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / F.lit(float(k)), 9).alias("recall_at_k"),
        F.round(
            F.when(F.col("_rr_rank").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / F.col("_rr_rank").cast("double")
            ),
            9,
        ).alias("rr"),
    )


def rrf_fuse(a: DataFrame, b: DataFrame, k: int, c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion of two candidate rankings — the standard
    hybrid-retrieval ensemble (combine LSH and IVF candidate generators,
    or lexical BM25 with a dense ANN) in EXACT integer arithmetic.

    Inputs are two (query_id, neighbor_id, ..., rank) relations over the
    same query set. RRF(d) = sum over lists containing d of 1/(c+rank);
    each term ships as the exact q9 integer 10^9 div (c + rank) and the
    fused score is their bigint sum — engine-identical, no float sums.
    Re-ranked top-k per query by (rrf_q9 DESC, neighbor_id ASC).

    Shape: both inputs are top-k relations (|queries| x k rows), so the
    full-outer join and the re-rank window run over bounded data — the
    heavy lifting stays in the upstream retrieval plans, exactly like
    ann_recall_eval. At 100 TB the fusion cost is unchanged: it scales
    with |queries| * k, never with the corpus."""
    ta = a.select(
        "query_id",
        "neighbor_id",
        F.expr(f"CAST(1000000000 div ({c} + rank) AS BIGINT)").alias("_ra"),
    )
    tb = b.select(
        "query_id",
        "neighbor_id",
        F.expr(f"CAST(1000000000 div ({c} + rank) AS BIGINT)").alias("_rb"),
    )
    fused = (
        ta.join(tb, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            (F.coalesce(F.col("_ra"), F.lit(0)) + F.coalesce(F.col("_rb"), F.lit(0)))
            .cast("bigint")
            .alias("rrf_q9"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_q9"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rrf_q9", "rank")
    )


def normalize_embeddings(
    emb: DataFrame,
    dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """L2-normalize the embedding column, optionally after truncating to
    the first ``dims`` coordinates (the Matryoshka-representation trim:
    MRL-trained embeddings keep most quality at a prefix, so storage and
    ANN cost drop proportionally; re-normalizing the prefix is the
    standard recipe). Unit-norm inputs are what cosine ANN assumes —
    dot product == cosine, so the downstream index skips per-row norms.

    Determinism: the norm uses the repo's fixed-order dot fold
    (folds.norm_spark — same float op order in Spark and the oracle);
    each normalized coordinate ships as the q9 integer
    floor(x/nrm * 10^9 + 0.5) — floor(x+0.5) rounds half toward +inf
    for both signs, the quantize_embeddings rule — so the csv is pure
    integers (float-to-string formatting differs between engines at
    the scientific-notation threshold; integers never do). The zero
    vector emits zero codes with norm_q9 = 0 rather than dividing by
    zero.

    Output: (id, norm_q9 — the ORIGINAL (truncated) norm for QA,
    ncsv_q9 — comma-joined q9 integer codes as ONE string).

    Shape: one narrow projection inside whole-stage codegen — no
    shuffle, scales as a pure map at any corpus size."""
    d = F.col(vec_col)
    if dims is not None:
        d = F.slice(F.col(vec_col), 1, dims)
    # the fold is length-agnostic, so no per-dims branch is needed here
    nrm = F.expr(folds.norm_spark("_t"))
    code = lambda x: F.floor(  # noqa: E731
        x.cast("double") / F.col("_n") * 1000000000.0 + 0.5
    ).cast("bigint")
    return (
        emb.select(F.col(id_col), d.alias("_t"))
        .select(
            id_col,
            "_t",
            F.round(nrm, 9).alias("norm_q9"),
            nrm.alias("_n"),
        )
        .select(
            id_col,
            "norm_q9",
            F.when(
                F.col("_n") == 0,
                F.concat_ws(",", F.transform("_t", lambda x: F.lit(0).cast("bigint"))),
            )
            .otherwise(F.concat_ws(",", F.transform("_t", code)))
            .alias("ncsv_q9"),
        )
    )


def pq_codes(
    emb: DataFrame,
    m: int = 4,
    subdim: int = 16,
    k: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    return_centroids: bool = False,
) -> DataFrame | tuple[DataFrame, list[tuple[list[list[float]], list[int]]]]:
    """Product-quantization codes: split the vector into ``m`` contiguous
    subspaces of ``subdim`` dims, train an independent deterministic
    k-means codebook (k centroids) per subspace, and emit each vector's
    per-subspace nearest-centroid ids — the classic PQ compression
    (Jegou et al. 2011): m log2(k)-bit codes replace 4*subdim*m bytes
    (here 4 x 4 bits vs 256 bytes, 64x), completing the ANN stack next
    to the IVF coarse quantizer (cells) and the int8 scalar quantizer.

    Training is kmeans_train_assign per subspace — md5-seeded,
    fixed-order distance folds, decimal-exact means — so the full
    codebook construction replays in the oracle's SQL verbatim (the
    same _kmeans_ctes chain pointed at a subspace slice).

    Shape at 100 TB: each subspace training scans the (projected)
    corpus with the kmeans shapes (broadcast centroids, one
    aggregation per round); the final code table is m int columns
    joined on the id — co-partitioned equi-joins. PQ training
    classically runs on a SAMPLE; compose with sampling.md5_filter
    upstream when the corpus is large.

    ``return_centroids=True`` additionally returns the per-subspace
    codebooks as [(cvals, cids), ...] — what pq_adc_topk's lookup
    tables consume; ONE training loop feeds both codes and search so
    the codebooks can never diverge.

    r14 optimization (guide §2.4/§2.6; values bit-identical, pinned by
    test_pq_codes_r14_matches_sequential_training): the m trainings used
    to run back-to-back, each paying its own seed job + per-round update
    collects, and the code table was assembled by m scans joined m-1
    times. Now (a) ONE seed job draws the (md5(id), id) smallest-k rows
    — the seed rule never looks at the subspace slice, so every
    subspace's seeds are slices of the same k vectors; (b) the m
    trainings' update rounds run CONCURRENTLY from a thread pool (each
    is a bounded blocking collect; Spark schedules the independent jobs
    side by side — guide §2.6); (c) the final code table is ONE scan
    with m fused Arrow assignments over in-plan slices — no join tree
    (before/after numbers in OPTIMIZATION_r14.md)."""
    from concurrent.futures import ThreadPoolExecutor

    seed_rows = (
        emb.select(
            F.md5(F.col(id_col).cast("string")).alias("_m"),
            F.col(id_col).alias("_sid"),
            F.col(vec_col).alias("_v"),
        )
        .orderBy("_m", "_sid")
        .limit(k)
        .collect()
    )
    seed_full = [[float(x) for x in r["_v"]] for r in seed_rows]

    def train(i: int) -> tuple[list[list[float]], list[int]]:
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), i * subdim + 1, subdim).alias(vec_col),
        )
        _, cvals, cids = kmeans_train_assign(
            sub,
            k=k,
            iters=iters,
            id_col=id_col,
            vec_col=vec_col,
            dims=subdim,
            return_centroids=True,
            seeds=[v[i * subdim : i * subdim + subdim] for v in seed_full],
        )
        return cvals, cids

    with ThreadPoolExecutor(max_workers=m) as pool:
        books = list(pool.map(train, range(m)))
    out = emb.select(
        F.col(id_col),
        *[
            kmeans_assign_udf(cvals, cids)(
                F.slice(F.col(vec_col), i * subdim + 1, subdim)
            )
            .cast("int")
            .alias(f"c{i}")
            for i, (cvals, cids) in enumerate(books)
        ],
    )
    if return_centroids:
        return out, books
    return out


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 20,
    m: int = 4,
    subdim: int = 16,
    kcb: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: train the per-subspace
    codebooks (pq_codes' construction, centroids returned), build per-
    query lookup tables d(query_sub, centroid), score every corpus
    vector as the SUM of m table lookups over its codes — never
    touching the corpus floats — then rerank the shortlist under the
    exact cosine contract (candidate sets oracle-checked, the
    quantized_topk discipline). This is the scan IVF-PQ systems run:
    O(m) adds per candidate against a |queries| x m x k LUT.

    Determinism: LUT distances are the fixed-order l2 fold (the oracle
    replays folds.l2_duck on the SQL-recomputed codebooks — identical
    doubles); the ADC sum is the left-associated d0 + d1 + d2 + d3 in
    both engines; shortlist ties break (adist ASC, neighbor ASC).

    Shape at 100 TB: codes are m ints per vector (the 64x-compressed
    relation is all the scan reads); LUTs are broadcast literals; the
    shortlist cut is a per-query window over the candidate relation;
    only the <= |queries| * rerank survivors touch full vectors."""
    codes, books = pq_codes(
        corpus,
        m=m,
        subdim=subdim,
        k=kcb,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        return_centroids=True,
    )
    return _pq_adc_scan(
        codes, books, corpus, queries, k, rerank, m, subdim, id_col, vec_col
    )


def _pq_adc_scan(
    codes: DataFrame,
    books: list[tuple[list[list[float]], list[int]]],
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
    m: int,
    subdim: int,
    id_col: str,
    vec_col: str,
    qcells: DataFrame | None = None,
    residual_cents: DataFrame | None = None,
) -> DataFrame:
    """The ADC scan proper (LUT build -> m-lookup sum -> shortlist ->
    exact rerank), shared by pq_adc_topk (trains inline) and
    pq_adc_topk_scan (loads parked codes/codebooks) so the two can never
    score differently.

    ``qcells`` (query_id, qcell) switches the candidate stage from the
    flat every-query x every-code crossJoin to the IVF-PQ shape: codes
    must then carry a ``cell`` column, and each query scans only its
    cell's codes — with cell-partitioned parked codes the broadcast join
    on the partition column dynamic-partition-prunes the codes read
    (ivf_pq_topk_scan). Everything downstream (LUT adds, shortlist cut,
    exact rerank) is byte-for-byte the same plan fragments.

    ``residual_cents`` (cid, cvec — requires ``qcells``) switches the
    LUT side to the by_residual encoding: the query's subspace slices
    are taken from (query - probed cell centroid), so LUT rows are keyed
    (query_id, cell) and each (query, cell) pair gets its own table —
    the FAISS IndexIVFPQ per-probe LUT build. LUT count is
    |queries| x nprobe x m x kcb, still a broadcast-sized model."""

    if residual_cents is not None:
        if qcells is None:
            raise ValueError(
                "residual_cents requires qcells: by-residual LUTs are keyed "
                "(query_id, cell), so the probed-cell assignment must be given"
            )
        # query residual per probed cell: (query_id, cell, residual)
        qr = (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("_qv"),
            )
            .join(F.broadcast(qcells), "query_id")
            .join(F.broadcast(residual_cents), F.col("qcell") == F.col("cid"))
            .select(
                "query_id",
                F.col("qcell").alias("cell"),
                F.zip_with("_qv", "cvec", lambda x, y: x - y).alias("_qres"),
            )
        )

    # r15 (round-14 verdict #2, guide §3): the m per-subspace LUTs ride as
    # m MAP COLUMNS on ONE broadcast relation — one row per query (or per
    # (query, probed cell) in the by_residual layout), entry j of map i is
    # the fixed-order l2 fold of the query's subspace-i slice against
    # codebook i's centroid j as a PARSED LITERAL (folds.lit_vec_text's
    # round-trip contract: cast('repr' as double) is bit-equal to the
    # source double, so each map value is bit-identical to the _d{i} the
    # r14 form computed from a createDataFrame centroid column). The r14
    # shape built m separate (query x centroid) crossJoin relations and
    # joined the candidates m times — m BroadcastExchanges + m
    # BroadcastHashJoins per scan, the plan-heaviest part of the
    # sim_ivf_pq_residual row; this is ONE exchange + ONE join, and the
    # ADC sum element_at(_m0, c0) + ... keeps the left-associated add
    # order, so _adist (and the shortlist it ranks) is unchanged.
    def lut_map(i: int, src: str) -> Column:
        cvals, cids = books[i]
        sl = f"slice({src}, {i * subdim + 1}, {subdim})"
        entries = ", ".join(
            f"{int(c)}, ({folds.l2_spark(sl, folds.lit_vec_text(list(v)))})"
            for c, v in zip(cids, cvals)
        )
        return F.expr(f"map({entries})").alias(f"_m{i}")

    if residual_cents is not None:
        qlut = qr.select(
            "query_id", "cell", *[lut_map(i, "_qres") for i in range(m)]
        )
    else:
        qlut = queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        ).select("query_id", *[lut_map(i, "_qv") for i in range(m)])
    if qcells is None:
        cand = codes.crossJoin(
            F.broadcast(queries.select(F.col(id_col).alias("query_id")))
        ).where(F.col("query_id") != F.col(id_col))
    else:
        dropped = ["qcell"] if residual_cents is not None else ["cell", "qcell"]
        cand = codes.join(
            F.broadcast(qcells),
            (codes["cell"] == qcells["qcell"])
            & (qcells["query_id"] != codes[id_col]),
        ).drop(*dropped)
    lut_keys = (
        ["query_id", "cell"] if residual_cents is not None else ["query_id"]
    )
    cand = cand.join(F.broadcast(qlut), lut_keys)
    adist = F.col("_m0")[F.col("c0")]
    for i in range(1, m):
        adist = adist + F.col(f"_m{i}")[F.col(f"c{i}")]
    # a code with no codebook entry (stale codes/codebook pair) gives a
    # NULL distance, which would sort FIRST and take the shortlist: drop it
    cand = cand.select(
        "query_id", F.col(id_col).alias("neighbor_id"), adist.alias("_adist")
    ).where(F.col("_adist").isNotNull())
    w = Window.partitionBy("query_id").orderBy(
        F.asc("_adist"), F.asc("neighbor_id")
    )
    short = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(short, corpus, queries, k, id_col, vec_col)


def pq_park(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    subdim: int = 16,
    kcb: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the PQ index ONCE and park it: ``{path}/codes`` (id + m int
    code columns) and ``{path}/codebooks`` (sub, cid, cvec) as parquet.
    This is how PQ runs in production — index build is an offline job,
    search loads the artifact — whereas pq_adc_topk retrains per call
    because its oracle must replay training. Parking separates the two
    costs so the scan (the shape that matters at 100 TB: a running
    service answers queries against a prebuilt index) is measurable in
    isolation (round-5 verdict: 2.5 s of sim_pq_topk's 4.0 s bench row
    was training)."""
    codes, books = pq_codes(
        corpus,
        m=m,
        subdim=subdim,
        k=kcb,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        return_centroids=True,
    )
    spark = corpus.sparkSession
    rows = [
        (s, int(c), [float(x) for x in v])
        for s, (cvals, cids) in enumerate(books)
        for c, v in zip(cids, cvals)
    ]
    spark.createDataFrame(
        rows, "sub int, cid int, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    codes.write.mode("overwrite").parquet(f"{path}/codes")


def pq_adc_topk_scan(
    corpus: DataFrame,
    queries: DataFrame,
    path: str,
    k: int = 5,
    rerank: int = 20,
    m: int = 4,
    subdim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ ADC top-k against a PARKED index (pq_park's artifact): load the
    m*kcb codebook rows (bounded driver collect — the codebook IS the
    broadcastable model), read the 64x-compressed code relation, and run
    the shared _pq_adc_scan. Produces bit-identical results to
    pq_adc_topk when the parked index was trained by pq_park on the same
    corpus (training is deterministic: md5 seeds, fixed-order folds,
    decimal-exact means).

    Shape at 100 TB: the scan reads m ints per corpus vector from
    parquet (column-pruned), LUTs are broadcast; corpus floats are
    touched only by the <= |queries| * rerank survivors. ``rerank`` is
    the recall knob for this tier — deploy at 50, the measured default
    from the round-12 frontier (SCALE.md: shortlist-bound recall;
    rerank 20 -> 50 ~doubles PQ recall for 2.5x survivor float reads),
    priced by the sim_pq_topk_scan_r50 bench row."""
    spark = corpus.sparkSession
    cb = read_parked(spark, f"{path}/codebooks").collect()
    books: list[tuple[list[list[float]], list[int]]] = []
    for s in range(m):
        sub_rows = sorted(
            ((r["cid"], list(r["cvec"])) for r in cb if r["sub"] == s)
        )
        books.append(([v for _, v in sub_rows], [c for c, _ in sub_rows]))
    codes = read_parked(spark, f"{path}/codes")
    return _pq_adc_scan(
        codes, books, corpus, queries, k, rerank, m, subdim, id_col, vec_col
    )


def residual_relation(
    corpus: DataFrame,
    assigned: DataFrame,
    cent_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, residual) — each vector minus its assigned cell's
    centroid, the IVF-PQ ``by_residual`` encoding input (FAISS
    IndexIVFPQ's default layout: PQ quantizes the residual, which has
    much lower variance than the raw vector, so the same codebook bits
    carry more precision). ``assigned`` is kmeans_train_assign's (id,
    cluster); ``cent_df`` the (cid, cvec array<double>) centroid model.
    Exactness: vector cast to array<double> (float->double is exact),
    then per-dim double subtraction — one IEEE op a SQL oracle replays
    bit-for-bit. The centroid join is a broadcast (k rows)."""
    return (
        corpus.join(assigned.withColumnRenamed("cluster", "cell"), id_col)
        .join(F.broadcast(cent_df), F.col("cell") == F.col("cid"))
        .select(
            F.col(id_col),
            "cell",
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("cvec"),
                lambda x, y: x - y,
            ).alias(vec_col),
        )
    )


def ivf_pq_park(
    corpus: DataFrame,
    path: str,
    k_cells: int | None = 8,
    cell_iters: int = 2,
    m: int = 4,
    subdim: int = 16,
    kcb: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
) -> None:
    """Train and park the full IVF-PQ index — the canonical vector-DB
    layout (coarse quantizer for pruning + product quantizer for
    compression, both offline): ``{path}/centroids`` (the k_cells-row
    coarse model), ``{path}/codebooks`` (m x kcb PQ codebook rows), and
    ``{path}/codes`` — the m-int PQ codes PARTITIONED BY trained cell,
    so the online probe reads only the probed cells' code files and
    touches corpus floats only for rerank survivors.

    With ``by_residual=False`` PQ is trained on the raw vectors (FAISS
    IndexIVFPQ by_residual=False); with ``by_residual=True`` PQ is
    trained on residual_relation's (vector - assigned centroid) — the
    canonical FAISS default, where the codebooks see the low-variance
    residual distribution. Either way both trainings are the existing
    deterministic recipes and the oracle composes their replays.
    ``k_cells=None`` derives max(2, isqrt(n)) coarse cells exactly as
    ivf_park's auto-k."""
    assigned, cvals, cids = kmeans_train_assign(
        corpus,
        k=k_cells,
        iters=cell_iters,
        id_col=id_col,
        vec_col=vec_col,
        return_centroids=True,
    )
    spark = corpus.sparkSession
    pq_src = corpus
    if by_residual:
        cent_df = spark.createDataFrame(
            [(int(c), [float(x) for x in v]) for c, v in zip(cids, cvals)],
            "cid int, cvec array<double>",
        )
        pq_src = residual_relation(
            corpus, assigned, cent_df, id_col, vec_col
        ).select(id_col, vec_col)
    codes, books = pq_codes(
        pq_src,
        m=m,
        subdim=subdim,
        k=kcb,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        return_centroids=True,
    )
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in zip(cids, cvals)],
        "cid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    rows = [
        (s, int(c), [float(x) for x in v])
        for s, (bvals, bids) in enumerate(books)
        for c, v in zip(bids, bvals)
    ]
    spark.createDataFrame(
        rows, "sub int, cid int, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    (
        codes.join(assigned.withColumnRenamed("cluster", "cell"), id_col)
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(f"{path}/codes")
    )


def ivf_pq_topk_scan(
    corpus: DataFrame,
    queries: DataFrame,
    path: str,
    k: int = 5,
    rerank: int = 20,
    m: int = 4,
    subdim: int = 16,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_residual: bool = False,
) -> DataFrame:
    """IVF-PQ top-k against the PARKED index (ivf_pq_park's artifact) —
    the production vector-search read path end-to-end: collect the PQ
    codebooks (a bounded driver read — the model), assign each query to
    its cell in-plan against the parked centroid relation
    (ivf_probe_cells, the same argmin rule as training), read
    ONLY the probed cells' PQ codes (dynamic partition pruning on the
    broadcast cell join), sum m LUT lookups per candidate, cut the
    shortlist, and exact-rerank the <= |queries| x rerank survivors
    against corpus floats.

    Scale shape at 100 TB: the heavy relation touched per probe is the
    probed cells' m-int codes — cell pruning divides the scan by
    ~k_cells, PQ divides the bytes per row by ~64x vs floats, and the
    float reads are rerank-survivor-sized. Candidate scoring is
    _pq_adc_scan's exact fragments, so scores are bit-identical to the
    flat PQ scan restricted to the same cells; ``nprobe`` > 1 widens the
    probe to each query's nprobe nearest cells (the IVF recall knob).
    Size ``rerank`` BEFORE nprobe: the round-12 frontier (SCALE.md)
    measured quantized-tier recall as shortlist-bound — rerank=50 is
    the deployment default (nprobe alone buys PQ almost nothing).

    ``by_residual=True`` reads an index parked with the same flag: the
    LUT side switches to per-(query, probed-cell) tables over the query
    residual (see _pq_adc_scan) — everything else (DPP-pruned code read,
    ADC adds, shortlist, exact float rerank) is the same plan, and the
    parked centroid relation doubles as the residual model."""
    spark = queries.sparkSession
    cents = read_parked(spark, f"{path}/centroids")
    qcells = ivf_probe_cells(queries, cents, nprobe, id_col, vec_col)
    cb = read_parked(spark, f"{path}/codebooks").collect()
    books: list[tuple[list[list[float]], list[int]]] = []
    for s in range(m):
        sub_rows = sorted(
            ((r["cid"], list(r["cvec"])) for r in cb if r["sub"] == s)
        )
        books.append(([v for _, v in sub_rows], [c for c, _ in sub_rows]))
    codes = read_parked(spark, f"{path}/codes").withColumn(
        "cell", F.col("cell").cast("int")
    )
    return _pq_adc_scan(
        codes,
        books,
        corpus,
        queries,
        k,
        rerank,
        m,
        subdim,
        id_col,
        vec_col,
        qcells=qcells,
        residual_cents=cents if by_residual else None,
    )


def ivf_park(
    corpus: DataFrame,
    path: str,
    k_cells: int | None = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Train the IVF coarse quantizer ONCE and park the index:
    ``{path}/centroids`` (cid, cvec — the k-row broadcastable model) and
    ``{path}/cells`` — the corpus PARTITIONED BY its trained cell, so a
    probe reads only the matching cell directories (file-level partition
    pruning: probe cost is sum(|probed cells|), never |corpus|). The
    pq_park offline-build / online-scan split applied to IVF — ivf_topk
    scores the PRE-ASSIGNED label column; this is the trained-cell
    production layout its docstring defers to ("a real deployment trains
    centroids offline and partitions the corpus by cell").

    Training is kmeans_train_assign: deterministic (md5-seeded init,
    fixed-order distance folds, decimal-exact means), so an oracle can
    replay the parked assignment exactly.

    ``k_cells=None`` derives k = max(2, isqrt(n)) — the FAISS-style
    sqrt(n) cell count that keeps expected cell size ~sqrt(n), so probe
    cost (nprobe cells) and per-cell scan cost grow as sqrt(corpus)
    instead of one of them being fixture-pinned (round-11: the k_cells=8
    default is sf0.1-sized; auto-k is the 100 TB knob)."""
    assigned, cvals, cids = kmeans_train_assign(
        corpus,
        k=k_cells,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        keep_vector=True,
        return_centroids=True,
    )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in zip(cids, cvals)],
        "cid int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        assigned.withColumnRenamed("cluster", "cell")
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(f"{path}/cells")
    )


def ivf_probe_cells(
    queries: DataFrame,
    cents: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, qcell) for each query's ``nprobe`` nearest coarse cells:
    crossJoin the broadcast k-row centroid relation (cid, cvec — the
    parked ``centroids``) and rank by (fixed-order folds.l2_spark, cid),
    the assignment order kmeans training itself uses (assign()'s
    min(struct)). So nprobe=1 reproduces the trained cell for corpus
    members and the kmeans oracle CTEs replay any nprobe with a
    row_number; cells are disjoint, so multi-probe candidates never need
    a dedup. The centroids stay a relation (never collected into plan
    literals), so any k works; the window ranks |queries| x k rows — the
    query side of an ANN probe, never the corpus."""
    scored = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            F.col("cid"),
            F.expr(folds.l2_spark(folds.quote_ident(vec_col), "cvec")).alias("_d"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("cid"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", F.col("cid").alias("qcell"))
    )


def ivf_topk_scan(
    queries: DataFrame,
    path: str,
    k: int = 5,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against a PARKED index (ivf_park's artifact): read the
    k-row centroid model, assign each query to its nearest centroid
    IN-PLAN with the same argmin rule training used (ivf_probe_cells:
    fixed-order folds.l2_spark, ties by cid — so a corpus-member query
    lands in exactly its trained cell, and the kmeans oracle CTEs replay
    the assignment), and score only the matching cells.

    Shape at 100 TB: queries broadcast; the cells relation is partitioned
    by cell, so the broadcast join on the partition column lets dynamic
    partition pruning skip every unprobed cell directory — the scan cost
    is the probed cells, not the corpus. Raise k_cells at park time to
    shrink probe cost exactly as ivf_topk's label-cell economics;
    ``nprobe`` > 1 scans each query's nprobe nearest cells — the
    standard IVF recall/latency knob (nprobe = k_cells degenerates to
    the exact brute-force scan)."""
    spark = queries.sparkSession
    cells = ivf_probe_cells(
        queries, read_parked(spark, f"{path}/centroids"), nprobe, id_col, vec_col
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.expr(folds.norm_spark(folds.quote_ident(vec_col))).alias("qn"),
        ).join(cells, "query_id")
    )
    c = read_parked(spark, f"{path}/cells").select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        folds.NORM(F.col(vec_col)).alias("cn"),
        F.col("cell").cast("int").alias("ccell"),
    )
    scored = q.join(
        c, (q["qcell"] == c["ccell"]) & (q["query_id"] != c["neighbor_id"])
    ).select(
        "query_id",
        "neighbor_id",
        _cosine(q["qv"], c["cv"], q["qn"], c["cn"]).alias("cosine"),
    )
    return _topk(scored, k)


def bq_ivf_park(spark, path: str, id_col: str = "vec_id", vec_col: str = "embedding", dims: int = folds.DIMS) -> None:
    """Derive the binary tier of a PARKED IVF index (round-11, the rung
    bq_topk's docstring promises): read ``{path}/cells`` (ivf_park's
    cell-partitioned corpus), sign-pack each vector into one long
    (bq_code), and write (id, code) PARTITIONED BY the same trained cell
    to ``{path}/bqcodes`` — the production layout where the cheapest
    quantization tier is ALSO partition-pruned (reference analog:
    partition-pruned MapFile lookups, io/MapFile.java:49). No retraining:
    the cell assignment is the parked one, so the binary tier can never
    disagree with the float tier about cell membership. One scan of the
    parked cells, one 9-byte-per-vector write."""
    cells = read_parked(spark, f"{path}/cells")
    (
        cells.select(
            F.col(id_col),
            bq_code(vec_col, dims).alias("code"),
            F.col("cell"),
        )
        .write.partitionBy("cell")
        .mode("overwrite")
        .parquet(f"{path}/bqcodes")
    )


def bq_ivf_topk_scan(
    corpus: DataFrame,
    queries: DataFrame,
    path: str,
    k: int = 5,
    rerank: int = 20,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = folds.DIMS,
) -> DataFrame:
    """Partition-pruned binary-quantization ANN against a parked IVF
    index: read the k-row centroid model, assign each query to its
    ``nprobe`` nearest trained cells in-plan (ivf_probe_cells — the same
    argmin rule training used, so the oracle's kmeans CTEs replay it),
    scan ONLY the probed cells of the parked binary tier
    (``{path}/bqcodes``: one long per vector, written by bq_ivf_park) by
    xor+popcount Hamming distance, shortlist the ``rerank`` lowest per
    query (ties: hamming ASC, neighbor ASC), and rerank the survivors
    under the exact cosine contract (_exact_rerank). Deploy this tier
    at rerank=50: the round-12 frontier (SCALE.md) measured BQ recall
    as shortlist-bound (+~50% recall from rerank 20 -> 50, nearly
    nothing from extra nprobe at a fixed shortlist).

    Scale shape at 100 TB — the missing rung between bq_topk (full
    binary scan) and the IVF-PQ tiers: queries broadcast; the bqcodes
    relation is partitioned by cell, so the broadcast join on the
    partition column dynamic-partition-prunes the read to the probed
    cell directories; the pruned scan touches 8 bytes per candidate;
    floats are read only for <= |queries| x rerank rerank survivors.
    Candidate cost is sum(|probed cells|) longs, never |corpus|."""
    spark = queries.sparkSession
    cells = ivf_probe_cells(
        queries, read_parked(spark, f"{path}/centroids"), nprobe, id_col, vec_col
    )
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            bq_code(vec_col, dims).alias("qcode"),
        ).join(cells, "query_id")
    )
    c = read_parked(spark, f"{path}/bqcodes").select(
        F.col(id_col).alias("neighbor_id"),
        F.col("code").alias("ccode"),
        F.col("cell").cast("int").alias("ccell"),
    )
    cand = q.join(
        c, (q["qcell"] == c["ccell"]) & (q["query_id"] != c["neighbor_id"])
    ).select(
        "query_id",
        "neighbor_id",
        F.bit_count(F.col("qcode").bitwiseXOR(F.col("ccode"))).alias("_ham"),
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("_ham"), F.asc("neighbor_id"))
    short = (
        cand.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(short, corpus, queries, k, id_col, vec_col)
