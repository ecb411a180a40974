"""Similarity-search queries (north-star extensions): brute-force cosine
top-k, random-hyperplane LSH ANN, IVF-style cell probe — over the
embeddings table, query set = vec_id < 10, k = 5.

The oracle replicates each pipeline exactly: the same hyperplane sign
constants (generated once in folds.hyperplane_signs) and the same
fixed-order floating-point chains (the DuckDB twins in operators/folds.py),
so ANN candidate sets — not just final scores — must agree.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_1_spark.operators import folds, similarity
from hadoop_1_spark.registry import _load, register

K = 5
NBITS = 4

# md5 of the code that trains and writes the parked indexes, taken once at
# import: part of every park key, so a change to a *_park operator (or to
# a fold it uses) parks afresh instead of reusing the old code's index.
_PARK_CODE_MD5 = hashlib.md5(
    b"".join(Path(m.__file__).read_bytes() for m in (similarity, folds))
).hexdigest()


# $TMPDIR namespaces of earlier park layouts: this code reads none of them
_DEAD_PARKS = (
    "hadoop_1_spark_park", "hadoop_1_spark_ivf", "hadoop_1_spark_ivfpq",
    "hadoop_1_spark_ivfpqr", "hadoop_1_spark_pq",
)
# A park version (or earlier-layout namespace) is evicted only once it is
# untouched for this long: processes running other park code (another
# checkout, an older layout) share $TMPDIR and may still read younger ones.
_PARK_EVICT_AGE_S = 24 * 3600


def _parked(sf_dir: str, tag: str, part: str, park: Callable[[str], None]) -> str:
    """Parked-index dir under $TMPDIR for ``sf_dir``'s embeddings:
    ``hadoop_1_spark_parks/<file>/<version>/<tag>``, where <file> hashes
    embeddings.parquet's realpath, <version> its size and mtime_ns with
    _PARK_CODE_MD5, and <tag> the hyperparameter tag. A new fixture,
    parameter or park code parks afresh, a same-data rerun (bench
    best-of-3, a repeated test run) reuses the trained index. Runs
    ``park(path)`` unless ``{path}/{part}/_SUCCESS`` exists; before it
    does, it removes the file's other versions and the _DEAD_PARKS
    namespaces whose mtime is older than _PARK_EVICT_AGE_S. Every call
    touches its own version dir, so a version in use stays young."""
    emb = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(emb)

    def md5(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    tmp = tempfile.gettempdir()
    family = os.path.join(tmp, "hadoop_1_spark_parks", md5(os.path.realpath(emb)))
    version = md5(f"{st.st_size}:{st.st_mtime_ns}:{_PARK_CODE_MD5}")
    path = os.path.join(family, version, md5(tag))
    if os.path.exists(os.path.join(path, part, "_SUCCESS")):
        os.utime(os.path.join(family, version))
        return path
    stale = [os.path.join(tmp, d) for d in _DEAD_PARKS]
    if os.path.isdir(family):
        stale += [os.path.join(family, v) for v in os.listdir(family) if v != version]
    cutoff = time.time() - _PARK_EVICT_AGE_S
    for d in stale:
        try:
            if os.stat(d).st_mtime < cutoff:
                shutil.rmtree(d, ignore_errors=True)
        except FileNotFoundError:
            pass
    park(path)
    return path


# Engine-portable cosine: the SAME fixed-order double fold the Spark side
# runs (folds.dot_duck) with per-vector precomputed norms; rounds to 9.
_NRM = folds.norm_duck("embedding")
_COSINE_CTES = f"""
sc AS (
  SELECT query_id, neighbor_id,
         round(({folds.dot_duck("qv", "cv", 64)}) / (qn * cn), 9) AS cosine
  FROM p
),
r AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM sc
)
"""

_FINAL = f"SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank FROM r WHERE rn <= {K}"


# Full exact-top-k statement — reused verbatim as the ground-truth CTE of
# the recall eval (sim_recall_eval) below.
_EXACT_STMT = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn FROM embeddings),
p AS (SELECT query_id, neighbor_id, qv, cv, qn, cn FROM q JOIN c ON query_id <> neighbor_id),
{_COSINE_CTES}
{_FINAL}
"""


@register("sim_cosine_topk", oracle=_EXACT_STMT)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for vec_id < 10."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(emb, emb.where("vec_id < 10"), k=K)


def _lsh_oracle() -> str:
    signs = folds.hyperplane_signs(NBITS)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn, {folds.bucket_duck("embedding", signs)} AS qb
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn, {folds.bucket_duck("embedding", signs)} AS cb
  FROM embeddings
),
p AS (SELECT query_id, neighbor_id, qv, cv, qn, cn FROM q JOIN c ON qb = cb AND query_id <> neighbor_id),
{_COSINE_CTES}
{_FINAL}
"""


@register("sim_lsh_topk", oracle=_lsh_oracle())
def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN top-5 (4-bit buckets) for vec_id < 10."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_topk(emb, emb.where("vec_id < 10"), k=K, nbits=NBITS)


@register("sim_lsh_topk_scan", oracle=_lsh_oracle())
def sim_lsh_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_lsh_topk against a PARKED signature layout: lsh_park computes
    the corpus buckets + norms once per (data, params) fingerprint and
    writes the corpus PARTITIONED BY bucket; the query assigns its own
    bucket in-plan and the probe is a partition-pruned read — zero
    corpus-side signature compute at query time (the production layout
    for a static corpus, same pattern as sim_ivf_topk_scan). Identical
    hyperplanes and fold order, so the oracle is sim_lsh_topk's
    verbatim. See similarity.lsh_park / similarity.lsh_topk_scan."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(
        sf_dir, f"lsh:n{NBITS}:s42", "buckets",
        lambda p: similarity.lsh_park(emb, p, nbits=NBITS, seed=42),
    )
    return similarity.lsh_topk_scan(
        emb.where("vec_id < 10"), path, k=K, nbits=NBITS, seed=42
    )


@register(
    "sim_recall_eval",
    oracle=f"""
WITH ex AS ({_EXACT_STMT}),
an AS ({_lsh_oracle()}),
j AS (
  SELECT ex.query_id, ex.rank AS ex_rank, an.rank AS ann_rank
  FROM ex LEFT JOIN an
    ON ex.query_id = an.query_id AND ex.neighbor_id = an.neighbor_id
),
per AS (
  SELECT query_id,
         CAST(count(ann_rank) AS BIGINT) AS n_hits,
         max(CASE WHEN ex_rank = 1 THEN ann_rank END) AS rr_rank
  FROM j GROUP BY 1
)
SELECT query_id, n_hits,
       round(CAST(n_hits AS DOUBLE) / {float(K)}, 9) AS recall_at_k,
       round(CASE WHEN rr_rank IS NULL THEN 0.0
                  ELSE 1.0 / CAST(rr_rank AS DOUBLE) END, 9) AS rr
FROM per
""",
)
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality eval: recall@5 and reciprocal rank of the LSH ANN
    against the exact brute-force top-5, per query. The oracle nests both
    retrieval statements verbatim as CTEs, so the eval checks the REAL
    candidate sets of both plans — not a re-derivation."""
    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 10")
    exact = similarity.cosine_topk(emb, q, k=K)
    ann = similarity.lsh_ann_topk(emb, q, k=K, nbits=NBITS)
    return similarity.ann_recall_eval(exact, ann, k=K)


# Full IVF statement — reused verbatim as one side of the RRF fusion below.
_IVF_STMT = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn, label AS qcell FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn, label AS ccell FROM embeddings),
p AS (SELECT query_id, neighbor_id, qv, cv, qn, cn FROM q JOIN c ON qcell = ccell AND query_id <> neighbor_id),
{_COSINE_CTES}
{_FINAL}
"""


@register("sim_ivf_topk", oracle=_IVF_STMT)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style cell-probed top-5 (label = coarse cell) for vec_id < 10."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, emb.where("vec_id < 10"), k=K)


KM_K = 8
KM_ITERS = 2

# Auto-k SQL twin of kmeans_train_assign's k=None: max(2, isqrt(n)).
# floor(sqrt(n)) over a double equals math.isqrt for every feasible corpus
# size here (they can only differ where the double sqrt of an integer
# rounds across an integer boundary, ~2^52-scale corpora).
_AUTO_K_SQL = (
    "(SELECT greatest(2, CAST(floor(sqrt(count(*))) AS BIGINT)) FROM embeddings)"
)


def _kmeanspp_seed_ctes(k: int, dims: int) -> list[str]:
    """CTE chain replaying similarity.farthest_first_seeds: seed 0 is the
    smallest (md5(id), id) vector; seed i maximizes the min fixed-order
    L2 distance to the chosen seeds, ties by (md5(id), id). Ends in
    ``seeds(cid, cvec)`` with cid = selection order."""
    dist = folds.l2_duck("e.embedding", "s.cvec", dims)
    ctes = [
        """seeds1 AS (
  SELECT 0 AS cid, embedding AS cvec FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
)"""
    ]
    for i in range(1, k):
        ctes.append(
            f"""d{i} AS (
  SELECT e.vec_id, e.embedding, MIN({dist}) AS dmin
  FROM e CROSS JOIN seeds{i} s GROUP BY e.vec_id, e.embedding
),
pick{i} AS (
  SELECT {i} AS cid, embedding AS cvec FROM d{i}
  ORDER BY dmin DESC, md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
),
seeds{i + 1} AS (SELECT cid, cvec FROM seeds{i} UNION ALL SELECT cid, cvec FROM pick{i})"""
        )
    ctes.append(f"seeds AS (SELECT cid, cvec FROM seeds{k})")
    return ctes


def _kmeans_ctes(
    k: int | str = KM_K,
    iters: int = KM_ITERS,
    dims: int = 64,
    init: str = "hash",
    source_sql: str = "SELECT vec_id, embedding FROM embeddings",
    prefix: str = "",
    materialize: bool = False,
) -> list[str]:
    """CTE chain replaying kmeans_train_assign exactly (same seeds, same
    fixed-order distance chain, same decimal-exact centroid means); the
    final assignment lives in CTE ``{prefix}afinal(vec_id, embedding,
    cid)``. Shared by the cluster_kmeans oracle, the SemDeDup oracle, and
    (via ``source_sql`` — the body of the ``e`` CTE, e.g. a subspace
    slice for product quantization) the PQ codebook oracle. ``prefix``
    renames every internal CTE ({prefix}e, {prefix}seeds, ...) so
    multiple chains can live in ONE flat WITH scope — required when a
    chain's source derives from another chain: nested WITH scopes defeat
    DuckDB's multi-reference CTE sharing (every cross-scope reference
    re-derives its whole upstream; the by_residual oracle OOMed a
    32-thread run through ~65k mmaps of duplicated operator state, and
    MATERIALIZED hints across scopes trip a DuckDB internal error).

    ``k`` may be a SQL string — e.g. a scalar subquery deriving
    isqrt(n) — interpolated into the seeds CTE's LIMIT (hash init only:
    kmeanspp unrolls one CTE per seed, so its k must be an int). The
    assignment/update CTEs are k-independent, so nothing else changes."""
    dist = folds.l2_duck("e.embedding", "s.cvec", dims)
    mean_list = ", ".join(
        f"CAST(sum(CAST(CAST(embedding[{d}] AS DOUBLE) AS DECIMAL(18,6))) AS DOUBLE)"
        f" / CAST(count(*) AS DOUBLE)"
        for d in range(1, dims + 1)
    )

    p = prefix
    # MATERIALIZED on the multiply-referenced CTEs (the chain source, the
    # final centroids, the final assignment): this DuckDB build inlines
    # every CTE reference regardless of fan-out, so a consumer like the
    # by_residual oracle (afinal and c{last} referenced ~6x each)
    # re-derives the whole training per reference — duplicated per-thread
    # operator state OOMed 32-thread runs. Only legal SAME-scope (a
    # cross-scope MATERIALIZED reference trips a DuckDB internal error),
    # hence flat prefixed chains, never nested WITH, when materializing.
    mat = "MATERIALIZED " if materialize else ""

    def assign_cte(name: str, cents: str, m: str = "") -> str:
        return f"""{p}{name} AS {m}(
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, s.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist}, s.cid) AS rn
    FROM {p}e e CROSS JOIN {cents} s) WHERE rn = 1
)"""

    ctes = [f"{p}e AS {mat}({source_sql})"]
    if init == "kmeanspp":
        if p:
            raise ValueError("prefix not supported with kmeanspp init")
        if not isinstance(k, int):
            raise ValueError("kmeanspp init needs an integer k (one CTE per seed)")
        ctes.extend(_kmeanspp_seed_ctes(k, dims))
    else:
        ctes.append(
            f"""{p}seeds AS (
  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
         embedding AS cvec
  FROM (SELECT vec_id, embedding FROM {p}e
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})
)"""
        )
    cents = f"{p}seeds"
    for i in range(iters):
        ctes.append(assign_cte(f"a{i}", cents))
        ctes.append(
            f"{p}c{i} AS {mat if i == iters - 1 else ''}"
            f"(SELECT cid, [{mean_list}] AS cvec FROM {p}a{i} GROUP BY cid)"
        )
        cents = f"{p}c{i}"
    ctes.append(assign_cte("afinal", cents, mat))
    return ctes


def _kmeans_oracle() -> str:
    return (
        "WITH " + ",\n".join(_kmeans_ctes())
        + "\nSELECT vec_id, CAST(cid AS INT) AS cluster FROM afinal"
    )


@register("cluster_kmeans", oracle=_kmeans_oracle())
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over embeddings (k=8, 2 update rounds)
    — trains the coarse quantizer sim_ivf_topk assumes ("offline
    centroids") and the clustering stage of SemDeDup-style semantic
    dedup. The oracle replays the identical algorithm in SQL: md5-seeded
    init, fixed-order distance folds, decimal-exact centroid means."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.kmeans_train_assign(emb, k=KM_K, iters=KM_ITERS)


KM_PP_K = 4
KM_PP_ITERS = 1


def _kmeans_pp_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(k=KM_PP_K, iters=KM_PP_ITERS, init="kmeanspp"))
        + "\nSELECT vec_id, CAST(cid AS INT) AS cluster FROM afinal"
    )


@register("cluster_kmeans_pp", oracle=_kmeans_pp_oracle())
def cluster_kmeans_pp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means seeded by the deterministic kmeans++-style
    farthest-first traversal (k=4, 1 update round) — the quality-first
    init knob (similarity.farthest_first_seeds; TODO #9). The oracle
    replays the full recursion: min-distance argmax seed picks with md5
    tie-breaks, then the same assign/update rounds as cluster_kmeans."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.kmeans_train_assign(
        emb, k=KM_PP_K, iters=KM_PP_ITERS, init="kmeanspp"
    )


def _semantic_dedup_oracle(
    threshold: float = 0.45, dims: int = 64, k: int | str | None = None
) -> str:
    nrm = folds.norm_duck("embedding", dims)
    return (
        "WITH " + ",\n".join(_kmeans_ctes() if k is None else _kmeans_ctes(k=k))
        + f""",
e2 AS (SELECT vec_id, cid, embedding, {nrm} AS nrm FROM afinal),
p AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2, a.embedding AS v1, b.embedding AS v2,
         a.nrm AS n1, b.nrm AS n2
  FROM e2 a JOIN e2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
),
c AS (
  SELECT d1, d2, round(({folds.dot_duck("v1", "v2", dims)}) / (n1 * n2), 9) AS cosine
  FROM p
)
SELECT d1, d2, cosine FROM c WHERE cosine >= {threshold}"""
    )


@register("dedup_semantic", oracle=_semantic_dedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means the embedding space
    (cluster_kmeans), then cosine-compare ONLY within each cluster —
    the scale path that replaces the all-pairs dedup_embedding_cosine
    baseline with an equi-join on the trained cell id. Oracle replays
    k-means + in-cell cosine with the same fold chains.

    Runs the matrix-form in-cell scorer (one Arrow pass per cell; the
    per-pair join form ships O(pairs * dims) vectors through Arrow and
    measured 7x slower at sf1, BENCH_NOTES r8) — bit-identical cosines,
    so the same oracle replays both forms."""
    from hadoop_1_spark.operators import dedup

    emb = _load(spark, sf_dir, "embeddings")
    clusters = similarity.kmeans_train_assign(
        emb, k=KM_K, iters=KM_ITERS, keep_vector=True
    )
    return dedup.semantic_dedup_pairs_cellwise(emb, clusters, threshold=0.45)


@register("dedup_semantic_auto", oracle=_semantic_dedup_oracle(k=_AUTO_K_SQL))
def dedup_semantic_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic at the SCALE cell count (round-12 verdict #3):
    k=None trains max(2, isqrt(n)) k-means cells, so expected cell size
    is ~sqrt(n) and the in-cell pair stage does ~n^1.5 work — where the
    fixture k=8 leaves cells growing linearly and pair work n^2/8 (the
    mechanism behind the row's upward drift: 5.79x r11 -> 7.79x r12 at
    sf1; same construction as sim_knn_graph_auto / the SemDeDup paper's
    sqrt sizing). Same Lloyd recursion, same cellwise scorer, same
    threshold; the oracle swaps only the seeds CTE's LIMIT to the
    isqrt(n) scalar subquery (the sim_ivf_auto_topk_scan pattern)."""
    from hadoop_1_spark.operators import dedup

    emb = _load(spark, sf_dir, "embeddings")
    clusters = similarity.kmeans_train_assign(
        emb, k=None, iters=KM_ITERS, keep_vector=True
    )
    return dedup.semantic_dedup_pairs_cellwise(emb, clusters, threshold=0.45)


@register(
    "embedding_quantize",
    oracle="""
WITH b AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS s
  FROM embeddings
)
SELECT vec_id,
       round(s / 127.0, 9) AS scale_q9,
       CASE WHEN s = 0 THEN array_to_string(list_transform(embedding, x -> 0), ',')
            ELSE array_to_string(list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / s + 0.5) AS INT)), ',')
       END AS qcsv
FROM b
""",
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (4x ANN memory reduction;
    scan int8 candidates, rerank with floats). One shuffle-free codegen'd
    projection; floor(x+0.5) rounding is replayed bit-for-bit by the
    oracle. See similarity.quantize_embeddings."""
    return similarity.quantize_embeddings(_load(spark, sf_dir, "embeddings"))


RERANK = 20


def _quantized_oracle(cell_join: bool = False) -> str:
    """Oracle for the quantized ANN paths; ``cell_join`` adds the IVF
    cell restriction (sim_ivf_quantized_topk) to the candidate stage —
    ONE builder so the quantization expression, integer dot chain, and
    tie-breaks can never desynchronize between the two variants."""
    int_dot = " + ".join(f"a[{i}] * b[{i}]" for i in range(1, 65))
    label_col = ", label" if cell_join else ""
    cand_join = (
        "FROM qq JOIN cc USING (label) WHERE query_id <> neighbor_id"
        if cell_join
        else "FROM qq JOIN cc ON query_id <> neighbor_id"
    )
    return f"""
WITH qz AS (
  SELECT vec_id{label_col},
         CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) = 0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 /
                          list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
                          + 0.5) AS INT))
         END AS qvec
  FROM embeddings
),
qq AS (SELECT vec_id AS query_id{label_col}, qvec AS a FROM qz WHERE vec_id < 10),
cc AS (SELECT vec_id AS neighbor_id{label_col}, qvec AS b FROM qz),
cand AS (
  SELECT query_id, neighbor_id, {int_dot} AS qscore
  {cand_join}
),
short AS (
  SELECT query_id, neighbor_id FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY qscore DESC, neighbor_id) <= {RERANK}
),
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn FROM embeddings),
p AS (
  SELECT s.query_id, s.neighbor_id, q.qv, c.cv, q.qn, c.cn
  FROM short s JOIN q USING (query_id) JOIN c USING (neighbor_id)
),
{_COSINE_CTES}
{_FINAL}
"""


@register("sim_quantized_topk", oracle=_quantized_oracle())
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage quantized ANN top-5: int8 candidate scan (exact-integer
    dot products — the oracle checks the candidate SET, not just ranks)
    reranked with the full-precision cosine contract. The 4x-memory ANN
    path embedding_quantize feeds. See similarity.quantized_topk."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(
        emb, emb.where("vec_id < 10"), k=K, rerank=RERANK
    )


def _bq_pack_sql(vec: str, dims: int = 64) -> str:
    """SQL twin of similarity.bq_code: the same sum of disjoint signed
    bit values (bit 63 as -2^63, spelled -9223372036854775807 - 1 so the
    literal parses as BIGINT arithmetic, not HUGEINT)."""
    terms = []
    for d in range(dims):
        val = str(1 << d) if d < 63 else "(-9223372036854775807 - 1)"
        terms.append(
            f"CASE WHEN {vec}[{d + 1}] > 0 THEN CAST({val} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)


def _bq_oracle() -> str:
    return f"""
WITH qq AS (SELECT vec_id AS query_id, {_bq_pack_sql('embedding')} AS qcode
            FROM embeddings WHERE vec_id < 10),
cc AS (SELECT vec_id AS neighbor_id, {_bq_pack_sql('embedding')} AS ccode
       FROM embeddings),
cand AS (
  SELECT query_id, neighbor_id,
         CAST(bit_count(xor(qcode, ccode)) AS INT) AS ham
  FROM cc CROSS JOIN qq WHERE query_id <> neighbor_id
),
short AS (
  SELECT query_id, neighbor_id FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ham ASC, neighbor_id ASC) <= {RERANK}
),
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn FROM embeddings),
p AS (
  SELECT s.query_id, s.neighbor_id, q.qv, c.cv, q.qn, c.cn
  FROM short s JOIN q USING (query_id) JOIN c USING (neighbor_id)
),
{_COSINE_CTES}
{_FINAL}
"""


@register("sim_bq_topk", oracle=_bq_oracle())
def sim_bq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN top-5: every vector sign-packed into ONE
    long (32x compression — the cheapest quantization tier modern vector
    stores ship), candidates scored by xor+popcount, shortlist reranked
    under the exact cosine contract. The Hamming stage is integer-exact,
    so the candidate SET replays in the oracle (the quantized_topk
    discipline at 1 bit/dim). See similarity.bq_code / similarity.bq_topk."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.bq_topk(emb, emb.where("vec_id < 10"), k=K, rerank=RERANK)


@register("sim_ivf_quantized_topk", oracle=_quantized_oracle(cell_join=True))
def sim_ivf_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full modern ANN stack in one query (IVF-PQ's shape): coarse
    cell prune (label) -> exact-integer int8 candidate scan -> float
    rerank under the cosine contract. Candidate count is sub-linear in
    the corpus (cell fraction) and the scan reads a quarter of the
    bytes; the oracle replays cells, integer scores, and reranks."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.quantized_topk(
        emb, emb.where("vec_id < 10"), k=K, rerank=RERANK, cell_col="label"
    )


def _negatives_oracle() -> str:
    signs = folds.hyperplane_signs(NBITS)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn, {folds.bucket_duck("embedding", signs)} AS qb
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn, {folds.bucket_duck("embedding", signs)} AS cb
  FROM embeddings
),
p AS (
  SELECT query_id, neighbor_id, cb AS neg_bucket, qv, cv, qn, cn
  FROM q JOIN c ON qb <> cb AND query_id <> neighbor_id
),
sc AS (
  SELECT query_id, neighbor_id, neg_bucket,
         round(({folds.dot_duck("qv", "cv", 64)}) / (qn * cn), 9) AS cosine
  FROM p
),
r AS (
  SELECT query_id, neighbor_id, neg_bucket, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
  FROM sc
)
SELECT query_id, neighbor_id, neg_bucket, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= {K}
"""


@register("sim_hard_negatives", oracle=_negatives_oracle())
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query (vec_id < 10), the
    top-5 most-similar corpus vectors bucketed APART from the query by
    the shared hyperplane family — high-similarity non-neighbors, the
    training pairs dense-retrieval fine-tuning wants. See
    similarity.negative_mine_topk."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.negative_mine_topk(emb, emb.where("vec_id < 10"), k=K, nbits=NBITS)


KNN_K = 3


def _knn_oracle() -> str:
    signs = folds.hyperplane_signs(NBITS)
    return f"""
WITH v AS (
  SELECT vec_id, embedding AS ev, {_NRM} AS nrm,
         {folds.bucket_duck("embedding", signs)} AS bkt
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         a.ev AS qv, b.ev AS cv, a.nrm AS qn, b.nrm AS cn
  FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
),
{_COSINE_CTES}
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= {KNN_K}
"""


KNN_TARGET_OCC = 128
KNN_MIN_NBITS = 4
KNN_MAX_NBITS = 10


def _knn_auto_oracle() -> str:
    signs = folds.hyperplane_signs(KNN_MAX_NBITS)
    return f"""
WITH nb AS (
  SELECT {folds.occupancy_nbits("n", KNN_TARGET_OCC, KNN_MIN_NBITS, KNN_MAX_NBITS)} AS nbits
  FROM (SELECT count(*) AS n FROM embeddings)
),
v AS (
  SELECT vec_id, embedding AS ev, {_NRM} AS nrm,
         {folds.bucket_duck("embedding", signs, "nb.nbits")} AS bkt
  FROM embeddings, nb
),
p AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         a.ev AS qv, b.ev AS cv, a.nrm AS qn, b.nrm AS cn
  FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
),
{_COSINE_CTES}
SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank
FROM r WHERE rn <= {KNN_K}
"""


@register("sim_knn_graph_auto", oracle=_knn_auto_oracle())
def sim_knn_graph_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The occupancy-scaled twin of sim_knn_graph and the registered
    SCALE PATH (round-12 verdict #2): the LSH width is derived in-plan
    as max(4, ceil(log2(n / 128))) in exact integer arithmetic, pinning
    mean bucket occupancy <= 128 so in-bucket pair work stays ~n * 128 —
    linear in the corpus by construction, where the fixed-nbits baseline
    is n^2/16 (its pair count grew exactly 100x on the 10x gate data).
    Bit-identical to sim_knn_graph on corpora up to 2048 vectors (the
    derived width clamps to the same 4 bits — covers the sf0.01 oracle
    and sf0.1 bench fixtures); on the sf1 gate data it self-widens to
    8 bits / 256 buckets. The oracle replays the width derivation and
    the dynamic bucket bit-for-bit. See similarity.knn_graph_auto."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.knn_graph_auto(
        emb, k=KNN_K, target_occupancy=KNN_TARGET_OCC,
        min_nbits=KNN_MIN_NBITS, max_nbits=KNN_MAX_NBITS,
    )


@register("sim_knn_graph", oracle=_knn_oracle())
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs k-NN graph (k=3) within LSH buckets over the whole
    embedding table — the SemDeDup/diversity-sampling input relation.
    The self-join shape (persisted bucketed relation, co-partitioning
    shuffle, no broadcast) is the 100 TB-corpus construction path;
    agreement with the windowed SQL replay checks bucket assignment,
    the fixed-order cosine fold, and the tie-broken rank cut."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.knn_graph(emb, k=KNN_K, nbits=NBITS)


MMR_K = 3


def _mmr_oracle(k: int = MMR_K) -> str:
    signs = folds.hyperplane_signs(NBITS)
    parts = [
        f"""WITH v AS (
  SELECT vec_id, embedding AS ev, {_NRM} AS nrm,
         {folds.bucket_duck("embedding", signs)} AS bkt
  FROM embeddings
),
cand AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cid,
         round(({folds.dot_duck("q.ev", "c.ev", 64)}) / (q.nrm * c.nrm), 9) AS rel
  FROM v q JOIN v c ON q.bkt = c.bkt AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10
),
sims AS (
  SELECT p.query_id, p.cid AS c1, r.cid AS c2,
         round(({folds.dot_duck("a.ev", "b.ev", 64)}) / (a.nrm * b.nrm), 9) AS s
  FROM cand p JOIN cand r ON p.query_id = r.query_id AND p.cid <> r.cid
  JOIN v a ON p.cid = a.vec_id JOIN v b ON r.cid = b.vec_id
),
r1 AS (SELECT query_id, cid, rel,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, cid ASC) AS rn
       FROM cand),
p1 AS (SELECT query_id, cid AS n1, rel AS sc1 FROM r1 WHERE rn = 1)"""
    ]
    for i in range(2, k + 1):
        prev_sel = ", ".join(f"p{j}.n{j}" for j in range(1, i))
        joins = " ".join(
            f"JOIN p{j} ON c.query_id = p{j}.query_id" for j in range(1, i)
        )
        not_in = " AND ".join(f"c.cid <> p{j}.n{j}" for j in range(1, i))
        in_list = ", ".join(f"p{j}.n{j}" for j in range(1, i))
        parts.append(
            f"""m{i} AS (
  SELECT c.query_id, c.cid, c.rel, max(s.s) AS maxsim
  FROM cand c {joins}
  JOIN sims s ON s.query_id = c.query_id AND s.c1 = c.cid
             AND s.c2 IN ({in_list})
  WHERE {not_in}
  GROUP BY 1, 2, 3
),
r{i} AS (SELECT query_id, cid, 0.5 * rel - 0.5 * maxsim AS sc,
              row_number() OVER (PARTITION BY query_id
                                 ORDER BY 0.5 * rel - 0.5 * maxsim DESC,
                                          cid ASC) AS rn
       FROM m{i}),
p{i} AS (SELECT query_id, cid AS n{i}, sc AS sc{i} FROM r{i} WHERE rn = 1)"""
        )
    selects = [
        "SELECT query_id, n1 AS neighbor_id, round(sc1, 9) AS mmr_score,"
        " CAST(1 AS INT) AS rank FROM p1"
    ] + [
        f"SELECT query_id, n{i} AS neighbor_id, round(sc{i}, 9) AS mmr_score,"
        f" CAST({i} AS INT) AS rank FROM p{i}"
        for i in range(2, k + 1)
    ]
    return ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register("sim_mmr_topk", oracle=_mmr_oracle())
def sim_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified ANN: Maximal Marginal Relevance top-3 for vec_id < 10
    over the LSH candidate set (lambda = exactly 0.5, so the marginal
    score is an exact halving of round-9 cosines and replays
    engine-identically). The greedy recursion is unrolled into k
    declarative plan steps; the oracle chains the same k window-argmax
    CTEs."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.mmr_topk(
        emb, emb.where("vec_id < 10"), k=MMR_K, nbits=NBITS
    )


@register(
    "embedding_dim_stats",
    oracle="""
SELECT CAST(i - 1 AS INT) AS dim,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT))
            AS BIGINT) AS sum_q6,
       min(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS min_q6,
       max(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS max_q6
FROM embeddings, unnest(range(1, 65)) t(i)
WHERE embedding IS NOT NULL
GROUP BY 1
""",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA report (dead-dimension and range drift
    detection before indexing): n / sum / min / max per coordinate,
    q6-quantized so the sums are exact bigints (float sums are
    order-dependent; floor(x*10^6) of the same double is not). One
    posexplode + one 64-key aggregation — partial aggregation collapses
    map-side, the shuffle carries 64 rows per partition."""
    emb = _load(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    q6 = F.floor(F.col("val").cast("double") * 1000000).cast("bigint")
    return (
        emb.select(F.posexplode("embedding").alias("dim", "val"))
        .select(F.col("dim").cast("int").alias("dim"), q6.alias("_q"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_q").cast("bigint").alias("sum_q6"),
            F.min("_q").alias("min_q6"),
            F.max("_q").alias("max_q6"),
        )
    )


RRF_C = 60


@register(
    "sim_rrf_fusion",
    oracle=f"""
WITH la AS ({_lsh_oracle()}),
lb AS ({_IVF_STMT}),
ta AS (SELECT query_id, neighbor_id,
              CAST(1000000000 // ({RRF_C} + rank) AS BIGINT) AS ra FROM la),
tb AS (SELECT query_id, neighbor_id,
              CAST(1000000000 // ({RRF_C} + rank) AS BIGINT) AS rb FROM lb),
f AS (
  SELECT coalesce(ta.query_id, tb.query_id) AS query_id,
         coalesce(ta.neighbor_id, tb.neighbor_id) AS neighbor_id,
         CAST(coalesce(ra, 0) + coalesce(rb, 0) AS BIGINT) AS rrf_q9
  FROM ta FULL OUTER JOIN tb
    ON ta.query_id = tb.query_id AND ta.neighbor_id = tb.neighbor_id
)
SELECT query_id, neighbor_id, rrf_q9,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_q9 DESC, neighbor_id ASC) AS INT) AS rank
FROM f
QUALIFY rank <= {K}
""",
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval ensemble: reciprocal-rank fusion (c = 60, exact
    q9 integer terms) of the LSH and IVF candidate rankings, re-ranked
    top-5 per query. The oracle nests BOTH retrieval statements verbatim
    as CTEs, so the fusion is checked against the real candidate sets of
    the two plans — same contract as sim_recall_eval. See
    similarity.rrf_fuse."""
    emb = _load(spark, sf_dir, "embeddings")
    q = emb.where("vec_id < 10")
    lsh = similarity.lsh_ann_topk(emb, q, k=K, nbits=NBITS)
    ivf = similarity.ivf_topk(emb, q, k=K)
    return similarity.rrf_fuse(lsh, ivf, k=K, c=RRF_C)


def _filtered_oracle() -> str:
    signs = folds.hyperplane_signs(NBITS)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn, {folds.bucket_duck("embedding", signs)} AS qb
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn, {folds.bucket_duck("embedding", signs)} AS cb
  FROM embeddings JOIN documents d ON vec_id = d.doc_id AND d.lang = 'en'
),
p AS (SELECT query_id, neighbor_id, qv, cv, qn, cn FROM q JOIN c ON qb = cb AND query_id <> neighbor_id),
{_COSINE_CTES}
{_FINAL}
"""


@register("sim_filtered_topk", oracle=_filtered_oracle())
def sim_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered ANN (the vector-database pre-filter workload):
    top-5 LSH neighbors drawn only from vectors whose document row
    satisfies a predicate (documents.lang = 'en'), joined on the shared
    id (vec_id = doc_id). The filter composes BEFORE bucketing, so the
    candidate join prunes to surviving corpus rows — at 100 TB this is
    one id-keyed equi-join (co-partitioned at scale) feeding the same
    bucketed ANN plan, never a post-filter that starves top-k."""
    emb = _load(spark, sf_dir, "embeddings")
    docs = _load(spark, sf_dir, "documents")
    corpus = emb.join(
        docs.where(F.col("lang") == "en").select(F.col("doc_id").alias("vec_id")),
        "vec_id",
    ).select(*emb.columns)
    return similarity.lsh_ann_topk(corpus, emb.where("vec_id < 10"), k=K, nbits=NBITS)


MRL_DIMS = 32

@register(
    "embedding_normalize_mrl",
    oracle=f"""
WITH t AS (SELECT vec_id, embedding[1:{MRL_DIMS}] AS tv FROM embeddings),
n AS (SELECT vec_id, tv, {folds.norm_duck("tv", MRL_DIMS)} AS nrm FROM t)
SELECT vec_id, round(nrm, 9) AS norm_q9,
       CASE WHEN nrm = 0
            THEN array_to_string(list_transform(tv, x -> 0), ',')
            ELSE array_to_string(list_transform(tv,
                   x -> CAST(floor(CAST(x AS DOUBLE) / nrm * 1000000000 + 0.5) AS BIGINT)), ',')
       END AS ncsv_q9
FROM n
""",
)
def embedding_normalize_mrl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka trim + L2 normalization: truncate to the first 32
    coordinates and renormalize (unit-norm inputs let the cosine ANN
    use raw dot products — dot == cosine). Coordinates ship as exact q9
    integer codes (floor(x+0.5), the quantize rule) so the cross-engine
    hash never trips on float-to-string formatting. See
    similarity.normalize_embeddings."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.normalize_embeddings(emb, dims=MRL_DIMS)


PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 16
PQ_ITERS = 1


def _pq_subspace_sql(
    source: str = "embeddings", pre_sliced: bool = False, flat: bool = False
) -> tuple[list[str], list[str]]:
    """Per-subspace (kmeans CTE chain, aliased code derived-table) pairs
    — the ONE place the PQ training SQL is constructed, shared by the
    codes oracle and the ADC-search oracle so they can never train
    different codebooks. ``source`` points the training at another
    relation; with ``pre_sliced`` the per-subspace source is ``{source}0
    .. {source}{m-1}`` relations already carrying the 16-dim slice.
    ``flat`` emits the chains with unique ``s{m}_`` CTE-name prefixes so
    they live in ONE top-level WITH scope (required when source derives
    from other CTEs — see _kmeans_ctes' prefix note); the final
    assignment is then ``s{m}_afinal`` and code_tables reference it
    directly instead of wrapping a nested WITH."""
    chains, code_tables = [], []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        src = (
            f"SELECT vec_id, embedding FROM {source}{m}"
            if pre_sliced
            else f"SELECT vec_id, embedding[{lo}:{hi}] AS embedding FROM {source}"
        )
        chain = ",\n".join(
            _kmeans_ctes(
                k=PQ_K,
                iters=PQ_ITERS,
                dims=PQ_SUBDIM,
                source_sql=src,
                prefix=f"s{m}_" if flat else "",
                materialize=flat,
            )
        )
        chains.append(chain)
        if flat:
            code_tables.append(
                f"(SELECT vec_id, CAST(cid AS INT) AS c{m} FROM s{m}_afinal) s{m}"
            )
        else:
            code_tables.append(
                f"(WITH {chain}\n SELECT vec_id, CAST(cid AS INT) AS c{m} FROM afinal) s{m}"
            )
    return chains, code_tables


def _pq_codes_from(code_tables: list[str]) -> str:
    return code_tables[0] + "".join(
        f"\nJOIN {s} USING (vec_id)" for s in code_tables[1:]
    )


def _pq_oracle() -> str:
    _, code_tables = _pq_subspace_sql()
    cols = ", ".join(f"c{m}" for m in range(PQ_M))
    return f"SELECT vec_id, {cols} FROM {_pq_codes_from(code_tables)}"


@register("embedding_pq_codes", oracle=_pq_oracle())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (4 subspaces x 16 dims, 16-centroid
    codebooks): per-vector nearest-centroid ids per subspace — 64x
    compression, the third leg of the ANN stack (IVF cells + int8 +
    PQ). The oracle replays all four subspace codebook trainings with
    the parameterized kmeans CTE chain (subquery-local WITH per
    subspace). See similarity.pq_codes."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.pq_codes(
        emb, m=PQ_M, subdim=PQ_SUBDIM, k=PQ_K, iters=PQ_ITERS
    )


PQ_RERANK = 20


def _pq_adc_oracle(rerank: int = PQ_RERANK) -> str:
    """Replays the full ADC pipeline: four subspace codebook trainings
    (codes from afinal, the codebook from the final-round centroid CTE),
    per-query L2 lookup tables on the SQL-recomputed codebooks, the
    left-associated 4-term ADC sum, the (adist, neighbor) shortlist cut
    at ``rerank``, and the exact cosine rerank — so the CANDIDATE SETS
    of the compressed scan, not just final scores, must match.
    ``rerank`` MUST match the operator call's rerank argument."""
    chains, code_tables = _pq_subspace_sql()
    lut_ctes = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        cb_table = f"(WITH {chains[m]}\n SELECT cid, cvec FROM c{PQ_ITERS - 1})"
        dist = folds.l2_duck("q.qs", "cb.cvec", PQ_SUBDIM)
        lut_ctes.append(
            f"""lut{m} AS (
  SELECT q.query_id, cb.cid AS c{m}, {dist} AS d
  FROM (SELECT vec_id AS query_id, embedding[{lo}:{hi}] AS qs
        FROM embeddings WHERE vec_id < 10) q
  CROSS JOIN {cb_table} cb
)"""
        )
    codes_from = _pq_codes_from(code_tables)
    lut_joins = "\n".join(
        f"JOIN lut{m} ON lut{m}.query_id = qq.query_id AND lut{m}.c{m} = x.c{m}"
        for m in range(PQ_M)
    )
    adist = " + ".join(f"lut{m}.d" for m in range(PQ_M))
    return f"""
WITH codes AS (SELECT * FROM {codes_from}),
{",".join(lut_ctes)},
cand AS (
  SELECT qq.query_id, x.vec_id AS neighbor_id, {adist} AS adist
  FROM codes x
  CROSS JOIN (SELECT DISTINCT vec_id AS query_id FROM embeddings WHERE vec_id < 10) qq
  {lut_joins}
  WHERE qq.query_id <> x.vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY adist ASC, neighbor_id ASC) <= {rerank}
),
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn FROM embeddings),
p AS (
  SELECT s.query_id, s.neighbor_id, q.qv, c.cv, q.qn, c.cn
  FROM short s JOIN q USING (query_id) JOIN c USING (neighbor_id)
),
{_COSINE_CTES}
{_FINAL}
"""


_PQ_TAG = f"pq:m{PQ_M}:d{PQ_SUBDIM}:k{PQ_K}:i{PQ_ITERS}"


@register("sim_pq_topk_scan", oracle=_pq_adc_oracle())
def sim_pq_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-5 against a PARKED index: pq_park trains and writes the
    codes + codebooks once per (data, params) fingerprint; the query loads
    the artifact and runs only the compressed scan + exact rerank — the
    production shape (offline index build, online search) measured in
    isolation, vs sim_pq_topk whose bench row is ~60% training replay.
    Same oracle as sim_pq_topk: training is deterministic (md5 seeds,
    fixed-order folds, decimal-exact means), so the SQL-retrained
    codebooks are bit-identical to the parked ones and the scan must
    produce the same candidates. See similarity.pq_adc_topk_scan."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(sf_dir, _PQ_TAG, "codes", lambda p: similarity.pq_park(
        emb, p, m=PQ_M, subdim=PQ_SUBDIM, kcb=PQ_K, iters=PQ_ITERS
    ))
    return similarity.pq_adc_topk_scan(
        emb,
        emb.where("vec_id < 10"),
        path,
        k=K,
        rerank=PQ_RERANK,
        m=PQ_M,
        subdim=PQ_SUBDIM,
    )


@register("sim_pq_topk_scan_r50", oracle=_pq_adc_oracle(rerank=50))
def sim_pq_topk_scan_r50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_pq_topk_scan at the PRODUCTION rerank window (rerank=50): the
    round-12 recall frontier (SCALE.md) showed quantized-tier recall is
    SHORTLIST-bound — widening rerank 20 -> 50 roughly doubles PQ recall
    (.152 -> .284 at nprobe=4) where extra nprobe buys almost nothing —
    so 50 is the measured deployment default and this row prices it:
    the extra cost is 2.5x more float reads per query (|queries| x
    rerank rows), nothing on the code scan. Shares the parked index
    with sim_pq_topk_scan (same data/params fingerprint); the oracle
    replays the wider shortlist cut exactly."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(sf_dir, _PQ_TAG, "codes", lambda p: similarity.pq_park(
        emb, p, m=PQ_M, subdim=PQ_SUBDIM, kcb=PQ_K, iters=PQ_ITERS
    ))
    return similarity.pq_adc_topk_scan(
        emb,
        emb.where("vec_id < 10"),
        path,
        k=K,
        rerank=50,
        m=PQ_M,
        subdim=PQ_SUBDIM,
    )


@register("sim_pq_topk", oracle=_pq_adc_oracle())
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5: the 64x-compressed candidate scan
    (m=4 LUT adds per vector, corpus floats untouched) reranked under
    the exact cosine contract — the scan IVF-PQ systems run, closing
    the ANN stack. See similarity.pq_adc_topk."""
    emb = _load(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb,
        emb.where("vec_id < 10"),
        k=K,
        rerank=PQ_RERANK,
        m=PQ_M,
        subdim=PQ_SUBDIM,
        kcb=PQ_K,
        iters=PQ_ITERS,
    )


_IVF_TAG = f"ivf:k{KM_K}:i{KM_ITERS}"


# IVF over TRAINED cells: replay kmeans (afinal = vec_id -> cid), probe the
# query's cell, cosine + rank — the trained-cell twin of _IVF_STMT (which
# probes the pre-assigned label column). The scan's in-plan nearest-centroid
# query assignment equals the afinal lookup for corpus-member queries
# (same centroids, same fixed-order fold, same (dist, cid) argmin).
_IVF_SCAN_STMT = (
    "WITH " + ",\n".join(_kmeans_ctes())
    + f""",
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn, cid AS qcell FROM afinal WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn, cid AS ccell FROM afinal),
p AS (SELECT query_id, neighbor_id, qv, cv, qn, cn FROM q JOIN c ON qcell = ccell AND query_id <> neighbor_id),
{_COSINE_CTES}
{_FINAL}"""
)


@register("sim_ivf_topk_scan", oracle=_IVF_SCAN_STMT)
def sim_ivf_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 against a PARKED index: ivf_park trains the coarse
    quantizer once per (data, params) fingerprint and writes the corpus
    PARTITIONED BY trained cell + the k-row centroid model; the query
    loads the model, assigns queries to cells in-plan, and scans only
    the probed cell partitions — the production IVF shape (offline
    train, partition-pruned online probe) measured in isolation, the
    sim_pq_topk_scan pattern applied to the coarse quantizer. Oracle
    replays training via the shared kmeans CTEs (deterministic: md5
    seeds, fixed-order folds, decimal-exact means), so the parked
    assignment and the SQL-retrained one are identical.
    See similarity.ivf_park / similarity.ivf_topk_scan."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(sf_dir, _IVF_TAG, "cells", lambda p: similarity.ivf_park(
        emb, p, k_cells=KM_K, iters=KM_ITERS
    ))
    return similarity.ivf_topk_scan(emb.where("vec_id < 10"), path, k=K)


def _ivf_pq_oracle(k: int | str = KM_K) -> str:
    """IVF-PQ scan replay: the flat _pq_adc_oracle with its candidate
    stage restricted to same-trained-cell pairs — cells from the shared
    kmeans CTEs (afinal), PQ trainings/LUTs/ADC sum/shortlist/rerank
    verbatim from the PQ machinery, so neither training can diverge from
    its standalone oracle. ``k`` feeds the cell training's seeds LIMIT
    (the auto-k twin passes the isqrt(n) scalar subquery); the PQ
    codebook trainings are k-independent."""
    chains, code_tables = _pq_subspace_sql()
    lut_ctes = []
    for m in range(PQ_M):
        lo, hi = m * PQ_SUBDIM + 1, (m + 1) * PQ_SUBDIM
        cb_table = f"(WITH {chains[m]}\n SELECT cid, cvec FROM c{PQ_ITERS - 1})"
        dist = folds.l2_duck("q.qs", "cb.cvec", PQ_SUBDIM)
        lut_ctes.append(
            f"""lut{m} AS (
  SELECT q.query_id, cb.cid AS c{m}, {dist} AS d
  FROM (SELECT vec_id AS query_id, embedding[{lo}:{hi}] AS qs
        FROM embeddings WHERE vec_id < 10) q
  CROSS JOIN {cb_table} cb
)"""
        )
    codes_from = _pq_codes_from(code_tables)
    lut_joins = "\n".join(
        f"JOIN lut{m} ON lut{m}.query_id = qq.query_id AND lut{m}.c{m} = x.c{m}"
        for m in range(PQ_M)
    )
    adist = " + ".join(f"lut{m}.d" for m in range(PQ_M))
    return (
        "WITH " + ",\n".join(_kmeans_ctes(k=k))
        + f""",
qcell AS (SELECT vec_id AS query_id, cid AS qc FROM afinal WHERE vec_id < 10),
codes AS (SELECT * FROM {codes_from}),
{",".join(lut_ctes)},
cand AS (
  SELECT qq.query_id, x.vec_id AS neighbor_id, {adist} AS adist
  FROM codes x
  JOIN afinal cc ON cc.vec_id = x.vec_id
  JOIN qcell qq ON qq.qc = cc.cid AND qq.query_id <> x.vec_id
  {lut_joins}
),
short AS (
  SELECT query_id, neighbor_id FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY adist ASC, neighbor_id ASC) <= {PQ_RERANK}
),
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn FROM embeddings),
p AS (
  SELECT s.query_id, s.neighbor_id, q.qv, c.cv, q.qn, c.cn
  FROM short s JOIN q USING (query_id) JOIN c USING (neighbor_id)
),
{_COSINE_CTES}
{_FINAL}"""
    )


_IVF_PQ_TAG = f"ivfpq:ci{KM_ITERS}:m{PQ_M}:d{PQ_SUBDIM}:k{PQ_K}:i{PQ_ITERS}"


@register("sim_ivf_pq_topk_scan", oracle=_ivf_pq_oracle())
def sim_ivf_pq_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 against the PARKED index — the canonical vector-DB
    read path end-to-end: coarse cells prune the scan (dynamic partition
    pruning on the cell-partitioned codes), PQ codes compress it 64x,
    exact rerank touches floats only for the shortlist survivors.
    ivf_pq_park trains both quantizers once per (data, params)
    fingerprint; the oracle composes the kmeans-cell replay with the
    flat PQ scan oracle restricted to same-cell candidates. See
    similarity.ivf_pq_park / similarity.ivf_pq_topk_scan."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(
        sf_dir, f"{_IVF_PQ_TAG}:kc{KM_K}", "codes",
        lambda p: similarity.ivf_pq_park(
            emb, p, k_cells=KM_K, cell_iters=KM_ITERS,
            m=PQ_M, subdim=PQ_SUBDIM, kcb=PQ_K, iters=PQ_ITERS,
        ),
    )
    return similarity.ivf_pq_topk_scan(
        emb,
        emb.where("vec_id < 10"),
        path,
        k=K,
        rerank=PQ_RERANK,
        m=PQ_M,
        subdim=PQ_SUBDIM,
    )


def _ivf_pq_residual_oracle() -> str:
    """by_residual IVF-PQ replay: the _ivf_pq_oracle shape with (a) PQ
    trained on the residual relation (vector minus assigned final-round
    centroid — exact CAST-to-double subtraction, one IEEE op per dim)
    and (b) LUTs built from the QUERY residual per probed cell. Cells,
    ADC sum, shortlist, and the exact float rerank are verbatim.

    EVERYTHING lives in ONE flat WITH scope — the subspace chains carry
    unique s{m}_ CTE-name prefixes instead of nested WITH subqueries —
    and the multiply-referenced CTEs (afinal, final centroids, rs{m},
    chain sources) are MATERIALIZED. Both are load-bearing: this DuckDB
    build inlines every CTE reference regardless of fan-out, so
    unmaterialized, each of rs{m} -> afinal and chains -> rs{m}
    re-derived its entire upstream and the duplicated per-thread
    operator state OOMed 32-thread runs at sf0.1 through ~65k mmaps;
    and a MATERIALIZED hint referenced from a NESTED scope trips a
    DuckDB internal error ("Recursive CTE scan found without recursive
    CTE node") — flat + same-scope hints is the one working combination
    (measured: 3 consecutive sf0.1 runs, ~2-4 s each, maps bounded)."""
    rs_ctes = []
    for m in range(PQ_M):
        lo = m * PQ_SUBDIM
        dims = ", ".join(
            f"CAST(a.embedding[{lo + d}] AS DOUBLE) - rc.cvec[{lo + d}]"
            for d in range(1, PQ_SUBDIM + 1)
        )
        rs_ctes.append(
            f"""rs{m} AS MATERIALIZED (
  SELECT a.vec_id, a.cid AS cell, [{dims}] AS embedding
  FROM afinal a JOIN c{KM_ITERS - 1} rc ON a.cid = rc.cid
)"""
        )
    chains, code_tables = _pq_subspace_sql(source="rs", pre_sliced=True, flat=True)
    lut_ctes = []
    for m in range(PQ_M):
        dist = folds.l2_duck("q.qs", "cb.cvec", PQ_SUBDIM)
        lut_ctes.append(
            f"""lut{m} AS (
  SELECT q.query_id, q.cell, cb.cid AS c{m}, {dist} AS d
  FROM (SELECT vec_id AS query_id, cell, embedding AS qs
        FROM rs{m} WHERE vec_id < 10) q
  CROSS JOIN (SELECT cid, cvec FROM s{m}_c{PQ_ITERS - 1}) cb
)"""
        )
    codes_from = _pq_codes_from(code_tables)
    lut_joins = "\n".join(
        f"JOIN lut{m} ON lut{m}.query_id = qq.query_id"
        f" AND lut{m}.cell = cc.cid AND lut{m}.c{m} = x.c{m}"
        for m in range(PQ_M)
    )
    adist = " + ".join(f"lut{m}.d" for m in range(PQ_M))
    return (
        "WITH " + ",\n".join(_kmeans_ctes(materialize=True))
        + f""",
{",".join(rs_ctes)},
{",".join(chains)},
qcell AS (SELECT vec_id AS query_id, cid AS qc FROM afinal WHERE vec_id < 10),
codes AS (SELECT * FROM {codes_from}),
{",".join(lut_ctes)},
cand AS (
  SELECT qq.query_id, x.vec_id AS neighbor_id, {adist} AS adist
  FROM codes x
  JOIN afinal cc ON cc.vec_id = x.vec_id
  JOIN qcell qq ON qq.qc = cc.cid AND qq.query_id <> x.vec_id
  {lut_joins}
),
short AS (
  SELECT query_id, neighbor_id FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY adist ASC, neighbor_id ASC) <= {PQ_RERANK}
),
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn FROM embeddings),
p AS (
  SELECT s.query_id, s.neighbor_id, q.qv, c.cv, q.qn, c.cn
  FROM short s JOIN q USING (query_id) JOIN c USING (neighbor_id)
),
{_COSINE_CTES}
{_FINAL}"""
    )


@register("sim_ivf_pq_residual_topk_scan", oracle=_ivf_pq_residual_oracle())
def sim_ivf_pq_residual_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """by_residual IVF-PQ top-5 against the PARKED index — the FAISS
    IndexIVFPQ DEFAULT layout: PQ codebooks are trained on (vector -
    assigned coarse centroid), whose variance is far below the raw
    vectors', so the same 4x4-bit codes carry more precision; the online
    probe builds one LUT per (query, probed cell) from the QUERY residual
    (similarity.residual_relation / _pq_adc_scan residual_cents). Scan
    shape is identical to sim_ivf_pq_topk_scan (DPP-pruned cell read, m
    LUT adds, exact float rerank). The oracle replays both trainings with
    PQ pointed at the residual CTE and LUTs keyed (query, cell)."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(
        sf_dir, f"{_IVF_PQ_TAG}:kc{KM_K}:res", "codes",
        lambda p: similarity.ivf_pq_park(
            emb, p, k_cells=KM_K, cell_iters=KM_ITERS,
            m=PQ_M, subdim=PQ_SUBDIM, kcb=PQ_K, iters=PQ_ITERS,
            by_residual=True,
        ),
    )
    return similarity.ivf_pq_topk_scan(
        emb,
        emb.where("vec_id < 10"),
        path,
        k=K,
        rerank=PQ_RERANK,
        m=PQ_M,
        subdim=PQ_SUBDIM,
        by_residual=True,
    )


IVF_NPROBE = 2


def _ivf_multiprobe_oracle() -> str:
    """Multi-probe IVF replay: rank ALL final centroids per query by the
    same (fixed-order l2, cid) order the in-plan probe uses, keep the
    nprobe nearest, and score every candidate in those cells — the
    kmeans CTE chain supplies both the final centroids (c{iters-1}) and
    the corpus assignment (afinal), so widening the probe reuses the
    training replay verbatim."""
    dist = folds.l2_duck("q0.embedding", "s.cvec", 64)
    return (
        "WITH " + ",\n".join(_kmeans_ctes())
        + f""",
qprobe AS (
  SELECT query_id, cid AS qcell FROM (
    SELECT q0.vec_id AS query_id, s.cid,
           row_number() OVER (PARTITION BY q0.vec_id ORDER BY {dist}, s.cid) AS rn
    FROM (SELECT vec_id, embedding FROM e WHERE vec_id < 10) q0
    CROSS JOIN c{KM_ITERS - 1} s
  ) WHERE rn <= {IVF_NPROBE}
),
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn FROM e WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn, cid AS ccell FROM afinal),
p AS (
  SELECT q.query_id, c.neighbor_id, q.qv, c.cv, q.qn, c.cn
  FROM qprobe jp
  JOIN q ON q.query_id = jp.query_id
  JOIN c ON c.ccell = jp.qcell AND q.query_id <> c.neighbor_id
),
{_COSINE_CTES}
{_FINAL}"""
    )


@register("sim_ivf_multiprobe_topk", oracle=_ivf_multiprobe_oracle())
def sim_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF top-5 (nprobe=2) against the same parked index as
    sim_ivf_topk_scan — the standard recall/latency knob: each query
    scans its TWO nearest cells (disjoint, so no candidate dedup), with
    dynamic partition pruning still limiting the read to the probed cell
    directories. nprobe = k_cells would degenerate to the brute-force
    exact scan. See similarity.ivf_probe_cells."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(sf_dir, _IVF_TAG, "cells", lambda p: similarity.ivf_park(
        emb, p, k_cells=KM_K, iters=KM_ITERS
    ))
    return similarity.ivf_topk_scan(
        emb.where("vec_id < 10"), path, k=K, nprobe=IVF_NPROBE
    )


def _bq_ivf_oracle() -> str:
    """Partition-pruned BQ replay: the multiprobe oracle's qprobe CTE
    (kmeans training + per-query nprobe nearest final centroids) with the
    candidate stage swapped from float cosine to the sign-pack + Hamming
    shortlist of _bq_oracle, then the shared exact-rerank tail — so
    neither the probe rule nor the binary discipline can diverge from
    their standalone oracles."""
    dist = folds.l2_duck("q0.embedding", "s.cvec", 64)
    return (
        "WITH " + ",\n".join(_kmeans_ctes())
        + f""",
qprobe AS (
  SELECT query_id, cid AS qcell FROM (
    SELECT q0.vec_id AS query_id, s.cid,
           row_number() OVER (PARTITION BY q0.vec_id ORDER BY {dist}, s.cid) AS rn
    FROM (SELECT vec_id, embedding FROM e WHERE vec_id < 10) q0
    CROSS JOIN c{KM_ITERS - 1} s
  ) WHERE rn <= {IVF_NPROBE}
),
qq AS (SELECT vec_id AS query_id, {_bq_pack_sql('embedding')} AS qcode
       FROM e WHERE vec_id < 10),
cc AS (SELECT vec_id AS neighbor_id, {_bq_pack_sql('embedding')} AS ccode,
              cid AS ccell
       FROM afinal),
cand AS (
  SELECT jp.query_id, cc.neighbor_id,
         CAST(bit_count(xor(qq.qcode, cc.ccode)) AS INT) AS ham
  FROM qprobe jp
  JOIN qq ON qq.query_id = jp.query_id
  JOIN cc ON cc.ccell = jp.qcell AND jp.query_id <> cc.neighbor_id
),
short AS (
  SELECT query_id, neighbor_id FROM cand
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY ham ASC, neighbor_id ASC) <= {RERANK}
),
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn FROM e WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn FROM e),
p AS (
  SELECT s.query_id, s.neighbor_id, q.qv, c.cv, q.qn, c.cn
  FROM short s JOIN q USING (query_id) JOIN c USING (neighbor_id)
),
{_COSINE_CTES}
{_FINAL}"""
    )


@register("sim_bq_ivf_topk", oracle=_bq_ivf_oracle())
def sim_bq_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned binary-quantization ANN top-5 — the production
    rung between sim_bq_topk (full-corpus binary scan) and the IVF-PQ
    tiers: the parked IVF index grows a binary tier (bq_ivf_park: one
    sign-packed long per vector, PARTITIONED BY trained cell), each query
    probes its two nearest cells (nprobe=2, same rule as
    sim_ivf_multiprobe_topk), the xor+popcount scan reads ONLY the probed
    cell directories (dynamic partition pruning), and the shortlist is
    reranked under the exact cosine contract. Scan bytes per query:
    8 x sum(|probed cells|) — never the corpus, never floats.
    See similarity.bq_ivf_park / similarity.bq_ivf_topk_scan."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(sf_dir, _IVF_TAG, "cells", lambda p: similarity.ivf_park(
        emb, p, k_cells=KM_K, iters=KM_ITERS
    ))
    _parked(sf_dir, _IVF_TAG, "bqcodes", lambda p: similarity.bq_ivf_park(spark, p))
    return similarity.bq_ivf_topk_scan(
        emb, emb.where("vec_id < 10"), path, k=K, rerank=RERANK,
        nprobe=IVF_NPROBE,
    )


def _ivf_auto_oracle() -> str:
    """sim_ivf_topk_scan's oracle with the seeds CTE's LIMIT swapped to
    the isqrt(n) scalar subquery — everything else (training replay,
    nprobe=1 cell join, cosine, rank) is identical, so the auto-k twin
    can only diverge from the fixture-k scan through k itself."""
    return (
        "WITH " + ",\n".join(_kmeans_ctes(k=_AUTO_K_SQL))
        + f""",
q AS (SELECT vec_id AS query_id, embedding AS qv, {_NRM} AS qn, cid AS qcell FROM afinal WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, {_NRM} AS cn, cid AS ccell FROM afinal),
p AS (SELECT query_id, neighbor_id, qv, cv, qn, cn FROM q JOIN c ON qcell = ccell AND query_id <> neighbor_id),
{_COSINE_CTES}
{_FINAL}"""
    )


@register("sim_ivf_auto_topk_scan", oracle=_ivf_auto_oracle())
def sim_ivf_auto_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-5 against an AUTO-SIZED parked index: k_cells=None derives
    k = max(2, isqrt(n)) at park time (expected cell size ~sqrt(n) — the
    FAISS-style default that keeps probe cost AND per-cell scan cost
    sqrt(corpus) as data grows, where the fixture k=8 would let cells
    grow linearly), and the probe is the same broadcast-join assignment
    every parked scan uses, which works for any k. Oracle replays
    training with the same isqrt(n) via a scalar-subquery LIMIT in the
    seeds CTE. See similarity.ivf_park (k_cells=None) /
    similarity.ivf_probe_cells."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(
        sf_dir, f"ivf:kauto:i{KM_ITERS}", "cells",
        lambda p: similarity.ivf_park(emb, p, k_cells=None, iters=KM_ITERS),
    )
    return similarity.ivf_topk_scan(emb.where("vec_id < 10"), path, k=K)


@register("sim_ivf_pq_auto_topk_scan", oracle=_ivf_pq_oracle(k=_AUTO_K_SQL))
def sim_ivf_pq_auto_topk_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-5 against an AUTO-SIZED parked index — the auto-k twin
    of sim_ivf_pq_topk_scan: k_cells=None trains max(2, isqrt(n)) coarse
    cells (expected cell size ~sqrt(n)), the probe assigns queries with
    the broadcast-join rule (ivf_probe_cells — the centroid model is
    never collected), and the DPP-pruned code read + LUT adds + shortlist +
    exact rerank are byte-for-byte sim_ivf_pq_topk_scan's fragments.
    The oracle is _ivf_pq_oracle with the cell training's seeds LIMIT
    swapped to the isqrt(n) scalar subquery. Together with
    sim_ivf_auto_topk_scan this closes the auto-k story for both parked
    tiers (floats and PQ codes)."""
    emb = _load(spark, sf_dir, "embeddings")
    path = _parked(
        sf_dir, f"{_IVF_PQ_TAG}:kcauto", "codes",
        lambda p: similarity.ivf_pq_park(
            emb, p, k_cells=None, cell_iters=KM_ITERS,
            m=PQ_M, subdim=PQ_SUBDIM, kcb=PQ_K, iters=PQ_ITERS,
        ),
    )
    return similarity.ivf_pq_topk_scan(
        emb, emb.where("vec_id < 10"), path, k=K, rerank=PQ_RERANK,
        m=PQ_M, subdim=PQ_SUBDIM,
    )
