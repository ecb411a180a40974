"""Deduplication operators for large-scale training-data pipelines
(north-star extensions, BASELINE.json).

Five near-dup regimes over a documents-style table, all built on the
hash/shingle primitives in textops.py (md5-portable, engine-stable):

- exact:        hash-groupBy on normalized text
- n-gram Jaccard: exact pairwise Jaccard over k-token shingles
- MinHash+LSH:  signature -> band buckets -> bucket join -> verify
- SimHash:      60-bit fingerprints -> band join -> hamming verify
- embedding:    pairwise cosine over the embeddings table

Scale notes (100 TB design intent):
- Exact pairwise Jaccard/cosine are the CORRECTNESS baselines; their
  shuffles grow O(pairs). The scale paths are the LSH variants: work is
  proportional to bucket collisions, and band keys are md5-stable so the
  bucket join shuffles only (band_key, doc_id) pairs.
- All ops are built-in column expressions — no Python in the hot path.
- Candidate joins use (d1 < d2) dedup so each pair shuffles once.
- Ultra-frequent shingles (stopword runs) are the skew risk in the
  shingle self-join: `df_cap` drops shingles whose document frequency
  exceeds a cap, the standard web-dedup mitigation (cf. AQE skew-join in
  session.py for the residual).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_1_spark.operators import folds, textops
from hadoop_1_spark.operators.textops import shingle_hash

# SimHash banding: 60-bit hash split into 4 bands of 15 bits. By pigeonhole,
# any pair with hamming distance <= 3 shares at least one exact band.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15

# Signature/fingerprint tables persist through the engine-wide tracked
# cache (operators/caching.py) so the registry dispatch, which calls
# caching.release_caches() before every query, can release them between
# queries.
from hadoop_1_spark.operators.caching import (
    local_checkpoint as _local_checkpoint,
    persist_tracked as _persist,
)


def normalize_text(text: Column) -> Column:
    """Normalization contract for exact dedup: lowercase, collapse
    whitespace runs, trim."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via hash-groupBy on normalized text: one representative
    (min id) + member count per group. Single shuffle on the md5 key —
    partial agg collapses duplicates map-side."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def _pair_jaccard(sh: DataFrame, id_col: str) -> DataFrame:
    """Exact Jaccard for every doc pair sharing >=1 shingle: self-join on the
    shingle key, count intersections, divide by union of set sizes."""
    # Four references below (both self-join sides + two size probes):
    # materialize the shingle relation once (see minhash_lsh_pairs).
    sh = _persist(sh)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.select(F.col(id_col).alias("d1"), "shingle")
    b = sh.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("c"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col(id_col).alias("d2"), F.col("n").alias("n2")), "d2")
        .select(
            "d1",
            "d2",
            (F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))).alias(
                "jaccard"
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (jaccard >= threshold).

    df_cap (document-frequency cap) drops shingles appearing in more than
    df_cap docs before the self-join — the skew guard for web-scale corpora
    (a shingle in 1M docs would emit 10^12 join rows)."""
    sh = textops.shingles(df, k=k, text_col=text_col, id_col=id_col)
    if df_cap is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = sh.join(F.broadcast(freq.where(F.col("df") > df_cap)), "shingle", "left_anti")
    return _pair_jaccard(sh, id_col).where(F.col("jaccard") >= threshold)


def minhash_signature_relation(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """The shared MinHash core: returns (per_doc, banded) where per_doc is
    the PERSISTED (id, h0..h{n-1}, hs) signature relation and banded the
    exploded (id, band_key) view over it. Factored out of
    minhash_lsh_pairs so directional consumers (incremental_dedup's
    batch-vs-snapshot join) reuse the identical signature contract.

    Pre-partitions the corpus by doc id: the per-doc aggregation needs
    this exact partitioning anyway (Catalyst reuses it — ONE exchange
    total), and moving the exchange before the shingle/md5 work spreads
    the hashing across the cluster even when the input arrives as a
    handful of coarse splits (same intent as FileInputFormat's
    goalSize-based split sizing, mapred/FileInputFormat.java:261).
    Explicit partition count: without it AQE's coalescer sizes the
    exchange by pre-explosion BYTES and would collapse a small corpus of
    long documents to one task — the hash work is per-shingle, not
    per-byte.

    ONE aggregation produces both the minhash signature and the full
    shingle-hash set per doc — the corpus is exploded exactly once, and
    candidate verification runs on compact per-doc arrays instead of
    re-joining the shingle relation. One md5 per shingle: the 60-bit
    digest prefix is both the hs-set member (hex) and the base of the
    affine permutation family (long). The signature table is persisted
    because consumers reference it from multiple join sides (exchange
    reuse is at the planner's discretion and AQE's broadcast choices
    defeat it unpredictably); size is per-doc signatures + hash sets (a
    few % of corpus bytes), the standard trade in web-scale minhash
    dedup."""
    assert num_hashes % bands == 0
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par, F.col(id_col))
    # Duplicate shingles don't change min() or collect_set(), so skip the
    # per-(id, shingle) distinct shuffle entirely (shingles distinct=False).
    sh = textops.shingles(df, k=k, text_col=text_col, id_col=id_col, distinct=False)
    hx = textops.hex_hash(F.col("shingle"), 0)
    base = F.conv(hx, 16, 10).cast("long") % F.lit(textops.MINHASH_P)
    hashed = sh.select(F.col(id_col), hx.alias("hx"), base.alias("hm"))
    # r15 (the r14 LSH-literal pattern): each affine permutation used to
    # be ~6 py4j Column calls x num_hashes; one parsed string per
    # aggregate now. SQL integer literals follow the same int->bigint
    # promotion as F.lit, so every (a*hm+b) % P is the exact long
    # arithmetic the Column form computed — signatures bit-identical.
    per_doc = hashed.groupBy(id_col).agg(
        *[
            F.expr(f"min(({a} * hm + {b}) % {textops.MINHASH_P}) AS h{i}")
            for i, (a, b) in enumerate(textops.minhash_coeffs(num_hashes))
        ],
        F.collect_set("hx").alias("hs"),
    )
    per_doc = _persist(per_doc)
    return per_doc, band_view(per_doc, num_hashes=num_hashes, bands=bands, id_col=id_col)


def band_view(
    per_doc: DataFrame,
    num_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """The (id, band_key) LSH view over a signature relation — works on a
    freshly computed relation OR one reloaded from storage
    (write/read_signatures), since band keys derive purely from the h*
    columns. Exploding here (rather than storing band keys) keeps the
    stored snapshot num_hashes-wide and lets bands/rows be retuned
    without recomputing signatures."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    # r15: one parsed expression for the whole band array instead of ~5
    # py4j Column calls per band (md5/concat_ws/casts) — byte-identical
    # band keys (same md5 over the same comma-joined decimal strings;
    # Spark renders bigint-to-string identically in both forms).
    band_cols = ", ".join(
        "md5(concat_ws(',', '{}', {}))".format(
            b,
            ", ".join(
                f"cast(h{b * rows + r} as string)" for r in range(rows)
            ),
        )
        for b in range(bands)
    )
    return per_doc.select(
        F.col(id_col),
        F.explode(F.expr(f"array({band_cols})")).alias("band_key"),
    )


def write_signatures(per_doc: DataFrame, path: str) -> None:
    """Park a signature relation as parquet — the steady-state store for
    incremental ingestion: the snapshot's signatures are computed once
    when the snapshot is built, then every ingest reads them instead of
    re-shingling the full corpus (incremental_dedup's snap_signatures
    parameter). Plain columnar layout (id, h0..h{n-1}, hs): the h*
    columns are fixed-width longs, hs is the shingle-hash set the verify
    stage needs; band keys are derived on read (band_view), so the store
    is independent of the bands/rows tuning."""
    per_doc.write.mode("overwrite").parquet(path)


def read_signatures(spark, path: str) -> DataFrame:
    """Load a signature relation written by write_signatures."""
    return spark.read.parquet(path)


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_cap: int | None = None,
) -> DataFrame:
    """MinHash + LSH near-dup: signature (num_hashes mins) -> band keys
    (md5 of each band's slice) -> docs sharing a band become candidates ->
    exact-Jaccard verify >= threshold.

    This is the 100 TB path: per-doc state is num_hashes longs; the only
    large shuffle is (band_key, doc_id). rows_per_band = num_hashes/bands
    tunes the S-curve: 8 bands x 2 rows catches j>=0.8 w.p. ~1-(1-0.64)^8.

    ``band_cap`` is the hot-band skew guard (the band-join analog of
    ngram_jaccard_pairs' df_cap): a band shared by B docs contributes
    O(B^2) candidate pairs, so one degenerate band (mass-produced
    boilerplate, empty-text minima) can dominate the whole join at scale.
    Bands with more than band_cap members are dropped BEFORE the
    self-join; a pair is lost only if NO other sub-cap band covers it —
    near-identical docs agree on most of their bands, so the planted-pair
    recall cost is tiny while the worst-case join cost becomes
    O(bands * cap * n)."""
    per_doc, banded = minhash_signature_relation(
        df, k=k, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    )
    if band_cap is not None:
        counts = banded.groupBy("band_key").agg(F.count(F.lit(1)).alias("_bc"))
        banded = (
            banded.join(counts.where(F.col("_bc") <= band_cap), "band_key")
            .drop("_bc")
        )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "band_key")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(F.col(f"x.{id_col}").alias("d1"), F.col(f"y.{id_col}").alias("d2"))
        .distinct()
    )
    # exact Jaccard over the 60-bit hash sets (collision odds ~|S|^2/2^61):
    # verify work is O(|candidates| x shingles/doc), the LSH-scale path —
    # never an all-pairs join.
    sets_ = per_doc.select(F.col(id_col), "hs")
    pairs = (
        cand.join(sets_.select(F.col(id_col).alias("d1"), F.col("hs").alias("hs1")), "d1")
        .join(sets_.select(F.col(id_col).alias("d2"), F.col("hs").alias("hs2")), "d2")
        .withColumn("i", F.size(F.array_intersect("hs1", "hs2")))
        .select(
            "d1",
            "d2",
            (
                F.col("i").cast("double")
                / (F.size("hs1") + F.size("hs2") - F.col("i"))
            ).alias("jaccard"),
        )
    )
    return pairs.where(F.col("jaccard") >= threshold)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup: 60-bit token simhash per doc, 4x15-bit band join
    for candidates (pigeonhole-complete for hamming <= 3), verify
    bit_count(xor) <= max_hamming."""
    toks = df.select(
        F.col(id_col), F.explode(textops.ws_tokens(F.col(text_col))).alias("token")
    )
    sh = textops.simhash64(toks, id_col=id_col)
    # Both sides of the band self-join read the fingerprint table; persist
    # so the 60-bit-plane aggregation runs once (tiny: one long per doc).
    sh = _persist(sh)
    band_exprs = [
        F.expr(
            f"shiftright(simhash, {b * SIMHASH_BAND_BITS}) & {(1 << SIMHASH_BAND_BITS) - 1}"
        ).alias("band_val")
        for b in range(SIMHASH_BANDS)
    ]
    banded = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(b)), band_exprs[b].cast("string"))
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), "band_key")
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("d1"),
            F.col(f"y.{id_col}").alias("d2"),
            F.col("x.simhash").alias("h1"),
            F.col("y.simhash").alias("h2"),
        )
        .distinct()
    )
    return cand.select(
        "d1",
        "d2",
        F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("int").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def embedding_lsh_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    bands: int = 4,
    bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup via banded random-hyperplane LSH: the 100 TB
    path for embedding_cosine_pairs. Each vector gets `bands` bucket ids
    (each from `bits` sign-bits of fixed Rademacher hyperplanes); vectors
    sharing ANY band bucket become candidates; candidates are verified
    with the exact fixed-order cosine.

    Candidate probability for a pair at angle θ is 1-(1-p^bits)^bands with
    p = 1-θ/π — the OR-of-ANDs S-curve; work scales with bucket collisions
    (the only large shuffle carries (bucket, id)), never O(n²).
    """
    # One Arrow pass computes norm + all bands*bits hyperplane sums
    # (folds.project_udf); the bucket bits are derived in a second select
    # so the pass evaluates once per row.
    all_signs = [
        row
        for b in range(bands)
        for row in folds.hyperplane_signs(bits, seed=100 + b)
    ]
    pre = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        folds.project_udf(all_signs)(F.col(vec_col)).alias("_p"),
    )
    base = pre.select(
        "id",
        "v",
        F.col("_p.nrm").alias("nrm"),
        *[
            folds.bucket_from_sums("_p.sums", b * bits, bits).alias(f"b{b}")
            for b in range(bands)
        ],
    )
    # The bucket self-join carries (v, nrm) alongside the id, and the exact
    # cosine is verified INLINE on the join output, BEFORE deduplicating
    # pairs that collide in several bands. At a low threshold the candidate
    # set is a large fraction of all pairs (hyperplane bands can't separate
    # cos 0.45 from 0.40 without killing recall), so a distinct-first shape
    # shuffles ~all candidate pairs and then joins vectors back twice;
    # verify-first re-scores multi-band collisions (~+30% vectorized dot
    # work, nearly free) but the only post-join shuffle is the distinct
    # over SURVIVORS (tiny). For high-threshold/many-band configs where
    # collisions multiply, flip back to distinct-first.
    #
    # The explicit (bucket)-hash exchange below serves both scales: both
    # self-join sides reference the SAME persisted bucket-partitioned
    # relation, so the join is co-partitioned (zero further exchanges) and
    # the verify inherits cluster-wide parallelism even when the corpus
    # scan arrives as a single row-group (local small files). The shuffle
    # carries (id, v, nrm) x bands — corpus x bands bytes, the standard
    # LSH-join trade against re-joining vectors afterwards.
    par = emb.sparkSession.sparkContext.defaultParallelism
    banded = base.select(
        "id",
        "v",
        "nrm",
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(str(b)), F.col(f"b{b}").cast("string"))
                    for b in range(bands)
                ]
            )
        ).alias("bucket"),
    ).repartition(par, F.col("bucket"))
    banded = _persist(banded)
    return (
        banded.alias("x")
        .join(banded.alias("y"), "bucket")
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("d1"),
            F.col("y.id").alias("d2"),
            F.round(
                folds.DOT_FOLD(F.col("x.v"), F.col("y.v"))
                / (F.col("x.nrm") * F.col("y.nrm")),
                9,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup: all-pairs cosine >= threshold. Correctness
    baseline (O(n^2) pairs); the scale path is LSH bucketing
    (similarity.lsh_ann_topk) feeding the same verify. Norms are computed
    once per VECTOR (not per pair) — 3x less arithmetic on the O(n^2)
    stage."""
    a = emb.select(
        F.col(id_col).alias("d1"),
        F.col(vec_col).alias("v1"),
        folds.NORM(F.col(vec_col)).alias("n1"),
    )
    b = emb.select(
        F.col(id_col).alias("d2"),
        F.col(vec_col).alias("v2"),
        folds.NORM(F.col(vec_col)).alias("n2"),
    )
    return (
        a.crossJoin(b)
        .where(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.round(
                folds.DOT_FOLD(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
                9,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    clusters: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: score cosine ONLY within a
    cluster (``clusters``: (id, cluster), e.g. similarity.
    kmeans_train_assign). The public SemDeDup recipe — k-means the
    embedding space, then pairwise-compare inside each cell — turns the
    O(n^2) all-pairs baseline into O(sum of cluster^2): an equi-join on
    the cluster id, shuffled once on that key, with AQE skew-split
    covering any oversized cell. Same cosine contract as
    embedding_cosine_pairs (fold + round 9)."""
    # Pin ONE materialization of (id, cluster, vec, norm): both self-join
    # sides read it, so the k-means subplan (3 assign rounds) and the norm
    # pass run once, not once per side — same discipline as the embedding
    # LSH's persisted bucket relation. When ``clusters`` already carries
    # the vector (kmeans_train_assign(keep_vector=True)) the re-join
    # against the source is skipped entirely — one fewer corpus scan.
    base = (
        clusters
        if vec_col in clusters.columns
        else emb.join(clusters, id_col)
    )
    e = _persist(
        base.select(
            F.col(id_col),
            F.col("cluster"),
            F.col(vec_col),
            folds.NORM(F.col(vec_col)).alias("_n"),
        )
    )
    a = e.select(
        F.col(id_col).alias("d1"),
        F.col("cluster").alias("c1"),
        F.col(vec_col).alias("v1"),
        F.col("_n").alias("n1"),
    )
    b = e.select(
        F.col(id_col).alias("d2"),
        F.col("cluster").alias("c2"),
        F.col(vec_col).alias("v2"),
        F.col("_n").alias("n2"),
    )
    # hint("merge"): the join MUST shuffle on the cluster id. Left to the
    # planner, a small persisted relation drops under the broadcast
    # threshold and the whole in-cell pair scan streams over the INPUT's
    # partitioning — one task when the corpus arrives as one parquet
    # split (r8 sf1 probe: 168 s single-task; the r7 keep_vector
    # optimization shrank the plan into broadcast range and silently
    # serialized this stage). SMJ on the cell key gives
    # min(k, shuffle.partitions)-way parallelism and lets AQE skew-split
    # subdivide an oversized cell — the docstring's contract, literally.
    return (
        a.hint("merge")
        .join(b, (F.col("c1") == F.col("c2")) & (F.col("d1") < F.col("d2")))
        .select(
            "d1",
            "d2",
            F.round(
                folds.DOT_FOLD(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")),
                9,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup_pairs_cellwise(
    emb: DataFrame,
    clusters: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    row_block: int = 2048,
    col_block: int = 2048,
) -> DataFrame:
    """semantic_dedup_pairs' matrix-form twin: ONE Arrow pass per cell.

    The pair-join form ships BOTH vectors through Arrow for every
    candidate pair — O(pairs * dims) transfer (~30 GB at the sf1 probe's
    29M pairs), which dominates its wall time.  Here each cluster group
    crosses the Arrow boundary once (one vector per ROW), and the in-cell
    pair dots are dense numpy per-DIMENSION outer-product accumulation:
    acc[i,j] += M[i,d] * M[j,d] in ascending d — the exact flop order of
    folds.DOT_FOLD / folds.dot_spark per pair, so cosines are bit-identical to the
    join form and the same oracle replays both (r8 A/B at sf1:
    140 s -> 2.5 s, identical result hash).  The division and HALF_UP
    round stay JVM-side, also as in the join form; the UDF prefilters at
    threshold - 1e-6 (strictly looser than round-at-9 >= threshold) so
    only real candidates are emitted.

    Memory: the accumulator is blocked on BOTH axes to ``row_block`` x
    ``col_block`` doubles (32 MB at the 2048x2048 defaults), a bound
    independent of cell size; the cell's own vectors (n_cell x dims x 8 B,
    ~500 MB for a 1M-row 64-dim cell) are the residency floor either way.
    Per-(i,j) flop order is unchanged by the column blocking (same
    ascending-d sequence per pair), so cosines stay bit-identical.
    Parallelism = number of cells, exactly the pair-join's SMJ shape; with
    the k=isqrt(n) scale contract both forms have ample cells, and this
    one also removes the per-pair transfer term.  Caveat vs the join form:
    AQE can skew-split an SMJ cell but NOT an applyInPandas group — if
    cluster sizes are badly skewed (a cell's vectors alone blow the
    residency floor), fall back to semantic_dedup_pairs for that regime."""
    import pandas as pd

    base = clusters if vec_col in clusters.columns else emb.join(clusters, id_col)
    cols = base.select(
        F.col(id_col).alias("_id"), F.col("cluster"), F.col(vec_col).alias("_v")
    )
    pre = float(threshold) - 1e-6

    empty = pd.DataFrame(
        {
            "d1": pd.Series(dtype="int64"),
            "d2": pd.Series(dtype="int64"),
            "dot": pd.Series(dtype="float64"),
            "n1": pd.Series(dtype="float64"),
            "n2": pd.Series(dtype="float64"),
        }
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf["_id"].to_numpy(), kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        M = np.vstack(pdf["_v"].to_numpy()[order]).astype(np.float64)
        dims = M.shape[1]
        nrm2 = np.zeros(n)
        for d in range(dims):
            nrm2 += M[:, d] * M[:, d]
        nrm = np.sqrt(nrm2)
        frames = []
        for lo in range(0, n, row_block):
            hi = min(lo + row_block, n)
            for co in range(0, n, col_block):
                ch = min(co + col_block, n)
                if ch <= lo + 1:
                    # ids are sorted: strict upper triangle == d1 < d2 by
                    # value, and this whole block sits on/below the diagonal
                    continue
                acc = np.zeros((hi - lo, ch - co))
                for d in range(dims):
                    acc += np.outer(M[lo:hi, d], M[co:ch, d])
                bi, bj = np.nonzero(
                    (acc >= pre * np.outer(nrm[lo:hi], nrm[co:ch]))
                    & (
                        np.arange(co, ch)[None, :]
                        > (lo + np.arange(hi - lo))[:, None]
                    )
                )
                if len(bi):
                    frames.append(
                        pd.DataFrame(
                            {
                                "d1": ids[lo + bi],
                                "d2": ids[co + bj],
                                "dot": acc[bi, bj],
                                "n1": nrm[lo + bi],
                                "n2": nrm[co + bj],
                            }
                        )
                    )
        return pd.concat(frames, ignore_index=True) if frames else empty

    cand = cols.groupBy("cluster").applyInPandas(
        cell, schema="d1 long, d2 long, dot double, n1 double, n2 double"
    )
    return cand.select(
        "d1",
        "d2",
        F.round(F.col("dot") / (F.col("n1") * F.col("n2")), 9).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def incremental_dedup(
    new_df: DataFrame,
    snap_df: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    snap_signatures: DataFrame | None = None,
) -> DataFrame:
    """Incremental ingestion dedup: admit a NEW batch of documents against
    an EXISTING corpus snapshot — the steady-state shape of a training-
    data pipeline (the snapshot is already deduplicated; only the delta
    needs work). One row per new doc with integer flags:

    - exact_snap:  normalized text hash already present in the snapshot
    - exact_batch: within-batch exact duplicate that is not its hash
                   group's min-id representative
    - near_snap:   verified MinHash-LSH near-duplicate (jaccard >=
                   threshold) of some snapshot doc
    - keep:        none of the above — the rows to append

    Scale shape: the snapshot side is the big one and is never self-
    joined — the band join is DIRECTIONAL (new x snapshot), so candidate
    count scales with the batch, not the corpus. Exact-hash membership is
    a key-only join on md5; the batch-representative rule is one window
    over the batch's hash groups. Signatures come from
    minhash_signature_relation; pass ``snap_signatures`` (a relation
    written once by write_signatures when the snapshot was built) to skip
    re-shingling the snapshot corpus entirely — per-ingest cost then
    scales with the batch, which is the steady-state contract."""
    nh = new_df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("_th")
    )
    snap_hashes = (
        snap_df.select(F.md5(normalize_text(F.col(text_col))).alias("_th"))
        .distinct()
        .withColumn("_in_snap", F.lit(1))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("_th")
    flagged = (
        nh.join(snap_hashes, "_th", "left")
        .withColumn("_minid", F.min(id_col).over(w))
    )
    pd_new, band_new = minhash_signature_relation(
        new_df, k=k, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    )
    if snap_signatures is not None:
        pd_snap = snap_signatures
        band_snap = band_view(
            pd_snap, num_hashes=num_hashes, bands=bands, id_col=id_col
        )
    else:
        pd_snap, band_snap = minhash_signature_relation(
            snap_df, k=k, num_hashes=num_hashes, bands=bands,
            text_col=text_col, id_col=id_col,
        )
    cand = (
        band_new.alias("x")
        .join(band_snap.alias("y"), "band_key")
        .select(
            F.col(f"x.{id_col}").alias("_dn"), F.col(f"y.{id_col}").alias("_ds")
        )
        .distinct()
    )
    near = (
        cand.join(
            pd_new.select(F.col(id_col).alias("_dn"), F.col("hs").alias("hs1")), "_dn"
        )
        .join(
            pd_snap.select(F.col(id_col).alias("_ds"), F.col("hs").alias("hs2")), "_ds"
        )
        .withColumn("_i", F.size(F.array_intersect("hs1", "hs2")))
        .where(
            F.col("_i").cast("double")
            / (F.size("hs1") + F.size("hs2") - F.col("_i"))
            >= F.lit(threshold)
        )
        .select(F.col("_dn").alias(id_col))
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    exact_snap = (F.col("_in_snap").isNotNull()).cast("int")
    # NULL-text docs hash to NULL and all land in one window partition —
    # without the null guard min(id) would "represent" them and flag the
    # rest as duplicates of each other (they are not duplicates of
    # anything; they simply have no text to compare)
    exact_batch = (
        F.col("_th").isNotNull() & (F.col(id_col) != F.col("_minid"))
    ).cast("int")
    near_snap = (F.col("_near").isNotNull()).cast("int")
    return (
        flagged.join(near, id_col, "left")
        .select(
            F.col(id_col),
            exact_snap.alias("exact_snap"),
            exact_batch.alias("exact_batch"),
            near_snap.alias("near_snap"),
            (
                (exact_snap == 0) & (exact_batch == 0) & (near_snap == 0)
            ).cast("int").alias("keep"),
        )
    )


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    fp_cap: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints (the MOSS
    match step): docs sharing at least ``min_shared`` distinct selected
    fingerprints. Complements MinHash: winnowing's selections carry a
    GUARANTEE (every shared >= k+w-1-token substring contributes one), so
    shared-count is a deterministic substring-overlap measure rather than
    a probabilistic sketch collision. Same equi-join shape as the LSH
    band join — the shuffle carries (fp, id); ``fp_cap`` is the hot-key
    guard (band_cap analog) for fingerprints shared by many docs."""
    fp = textops.winnow_fingerprints(
        df, k=k, w=w, text_col=text_col, id_col=id_col
    ).select(F.col(id_col), "fp").distinct()
    fp = _persist(fp)
    if fp_cap is not None:
        counts = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("_c"))
        fp = fp.join(counts.where(F.col("_c") <= fp_cap), "fp").drop("_c")
    return (
        fp.alias("a")
        .join(fp.alias("b"), "fp")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def duplicated_span_stats(
    df: DataFrame, k: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document duplicated-span statistics — the exact-substring-dedup
    signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): slide a k-token window over every document, hash each
    span, and call a span DUPLICATED when the identical span also appears
    in at least one OTHER document. Returns one row per document:
    (id, n_spans, n_dup_spans, dup_frac_q6) with dup_frac_q6 =
    (n_dup_spans * 1e6) div n_spans (integer-exact, 0 when the doc is
    shorter than k tokens). The fraction is the curation knob: drop or
    trim documents whose content is mostly boilerplate shared verbatim
    across the corpus. (The paper's suffix-array pass finds arbitrary-
    length duplicated substrings; fixed-k rolling windows are the
    shuffle-friendly approximation — every duplicated substring of
    length >= k is covered by a duplicated window.)

    Shape (3 exchanges + the final presentation join): ONE repartition on
    the span hash makes the (hash, doc) count, the per-hash doc count,
    and their self-join all run co-partitioned with no further shuffle
    (the (hash, doc) relation is pinned via the tracked cache — it feeds
    both sides); the per-doc rollup is the second exchange, and joining
    the zero-span documents back is the third. The shuffles carry only
    (md5, id, count) triples, never span text — at 100 TB the widest
    relation is one row per distinct (span, doc)."""
    toks = textops.ws_tokens(F.col(text_col))
    spans = (
        df.select(F.col(id_col), toks.alias("_toks"))
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"CASE WHEN size(_toks) >= {k} THEN transform("
                    f"sequence(1, size(_toks) - {k - 1}),"
                    f" i -> md5(concat_ws(' ', slice(_toks, i, {k}))))"
                    f" ELSE array() END"
                )
            ).alias("_h"),
        )
        .repartition("_h")
    )
    per_hd = _persist(
        spans.groupBy("_h", id_col).agg(F.count(F.lit(1)).alias("_cnt"))
    )
    ndocs = per_hd.groupBy("_h").agg(F.count(F.lit(1)).alias("_ndocs"))
    per_doc = (
        per_hd.join(ndocs, "_h")
        .groupBy(id_col)
        .agg(
            F.sum("_cnt").alias("n_spans"),
            F.sum(
                F.when(F.col("_ndocs") >= 2, F.col("_cnt")).otherwise(F.lit(0))
            ).alias("n_dup_spans"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
            F.when(F.coalesce(F.col("n_spans"), F.lit(0)) == 0, F.lit(0))
            .otherwise(F.expr("(n_dup_spans * 1000000) div n_spans"))
            .cast("long")
            .alias("dup_frac_q6"),
        )
    )


def connected_components(
    pairs: DataFrame, left: str = "d1", right: str = "d2", max_iter: int = 25
) -> DataFrame:
    """Connected components of a near-dup pair graph: (id, cluster) where
    cluster is the minimum doc id reachable through pair edges. Real
    dedup keeps ONE representative per cluster — per-pair dropping
    over/under-deletes on chains (a-b, b-c).

    Iterative min-label propagation (the GraphX connected-components
    shape): each round, every vertex takes the min of its own label and
    its neighbors' labels; rounds = O(cluster diameter). Near-dup
    clusters are shallow (pairs share an origin doc), so 2-3 rounds in
    practice; for adversarially long chains add pointer jumping
    (label := label of label) — measured SLOWER here (an extra shuffle
    join per round buys nothing at diameter <= 3). The driver reads ONE
    scalar per round: the label sum, strictly monotone decreasing until
    the fixpoint — it doubles as the round's materialization and needs
    no extra join to compare. Labels are locally checkpointed each round
    to cut lineage; at 100 TB swap that for checkpoint() against a
    checkpoint dir.

    The fixpoint (min reachable id) is unique, so the result is
    deterministic under any partitioning — which is what lets a recursive
    SQL oracle replay it."""
    fwd = pairs.select(F.col(left).alias("v"), F.col(right).alias("w"))
    rev = pairs.select(F.col(right).alias("v"), F.col(left).alias("w"))
    # No distinct() needed: pairs are unique under (d1 < d2), so fwd and
    # rev are each duplicate-free and disjoint — and min-label propagation
    # is idempotent to duplicate edges anyway (groupBy-min absorbs them).
    # edges and the per-round label checkpoints are registered with
    # caching so release_caches() (run by the registry dispatch before the
    # NEXT query) frees them.
    edges = _persist(fwd.union(rev))
    # Seed labels with round 1 for free: min(v, min neighbor) from the same
    # single aggregation that would otherwise just enumerate vertices —
    # shallow near-dup clusters (diameter <= 3) then converge in 1-2 loop
    # rounds instead of 2-3.
    labels = seed = (
        edges.groupBy("v")
        .agg(F.least(F.col("v"), F.min("w")).alias("l"))
        .persist()
    )
    # r15: read the SEED's label sum up front so the fixpoint check fires
    # one round earlier. The sum is strictly monotone decreasing until
    # convergence, so "round 1 changed nothing vs the seed" is exactly
    # sum(round 1) == sum(seed) — on shallow near-dup graphs (pair
    # clusters converge AT the seed) the loop now runs one propagation
    # round instead of two. This blocking aggregate is also the job that
    # materializes the persisted edges + seed labels (the pair-gen
    # pipeline), work the first loop round paid anyway; the loop rounds
    # after it run entirely on cached inputs. Labels returned are
    # value-identical: the loop still always runs >= 1 round.
    prev_sum: object = labels.agg(
        F.sum(F.col("l").cast("decimal(38,0)"))
    ).first()[0]
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("v").alias("w"), F.col("l").alias("wl")),
                "w",
            )
            .groupBy("v")
            .agg(F.min("wl").alias("nl"))
        )
        # localCheckpoint (not persist) per round: truncates lineage so
        # round N's plan doesn't replay rounds 1..N-1, and materializes in
        # the same job the fixpoint aggregate runs (eager=False).
        new = _local_checkpoint(
            labels.join(nbr, "v", "left")
            .select("v", F.least("l", F.coalesce("nl", "l")).alias("l"))
        )
        # label sum is strictly monotone decreasing until convergence —
        # one aggregate materializes the round AND detects the fixpoint
        cur_sum = new.agg(F.sum(F.col("l").cast("decimal(38,0)"))).first()[0]
        if labels is seed:
            seed.unpersist()
        labels = new
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # An adversarially deep chain (diameter > max_iter) would exit with
        # unmerged labels; surface it instead of returning silently.
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "rounds; labels may be unconverged (raise max_iter or enable "
            "pointer jumping for deep chains)",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("v"), F.col("l").alias("cluster"))


def survivorship(
    clusters: DataFrame,
    records: DataFrame,
    id_col: str,
    quality: Column,
) -> DataFrame:
    """Master-data survivorship: collapse each near-dup cluster to its
    canonical record — the step after cluster resolution that actually
    DEDUPS (connected_components labels; this elects). The survivor is
    the member maximizing (quality, then lowest id) — a total order, so
    the election is deterministic and partitioning-independent.

    Input: ``clusters`` as (v, cluster) from connected_components;
    ``records`` carries the quality signal. Returns one row per cluster:
    (cluster, survivor_id, n_members, kept_q, dropped_q) where kept_q /
    dropped_q are the survivor's and the discarded members' total
    quality mass (bigint — the audit numbers a curation run reports).

    One key-bounded shuffle on the cluster label; the rank is
    WindowGroupLimit-pruned. Cluster sizes are near-dup group sizes —
    bounded by the dedup threshold, not corpus size."""
    from pyspark.sql import Window

    m = clusters.join(
        records.select(F.col(id_col).alias("v"), quality.cast("bigint").alias("_q")),
        "v",
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("_q"), F.asc("v"))
    ranked = m.withColumn("_rn", F.row_number().over(w))
    return ranked.groupBy("cluster").agg(
        F.max(F.when(F.col("_rn") == 1, F.col("v"))).alias("survivor_id"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(F.when(F.col("_rn") == 1, F.col("_q"))).cast("bigint").alias("kept_q"),
        F.sum(F.when(F.col("_rn") > 1, F.col("_q")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("dropped_q"),
    )


def prefix_filter_jaccard_pairs(
    items: DataFrame,
    id_col: str,
    item_col: str,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (Chaudhuri et
    al. 2006 / ppjoin family): all document pairs with token-set Jaccard
    >= t, with NO false negatives — the exact complement to MinHash-LSH
    (which trades recall for cost) and to blocked matching (which trades
    recall for a block key).

    Operates on any (id, item) set relation — tokens, shingles,
    features; the caller picks the set unit (shingles for text near-dup,
    where token-level sets saturate on small vocabularies).

    The theorem: order all tokens by one GLOBAL total order (document
    frequency ascending, token ascending — rarest first); if
    J(x, y) >= t then x and y must share a token among each one's first
    |x| - ceil(t*|x|) + 1 tokens. So only records sharing a PREFIX token
    are candidates, and prefixes of rare-first orderings are mostly
    rare tokens — the candidate join fans out far less than a full
    token join.

    The threshold is the exact rational t_num/t_den: ceil(t*n) computes
    as (t_num*n + t_den - 1) div t_den — integer arithmetic, so the
    prefix length (and therefore the candidate SET, not just the
    output) is engine-exact; no float boundary can silently shorten a
    prefix and break the no-false-negative guarantee. Verification is
    integer q6 Jaccard on the full token sets.

    Plan: distinct (doc, token) relation persisted (read by df counts,
    prefix ranking, and both verify sides); token-df join broadcasts
    the df relation is NOT possible (token-sized) — it shuffles on
    token once; prefix rank is a per-doc window; the candidate join
    shuffles on the prefix token. Skew: a token frequent enough to be
    in many prefixes is by construction NEAR-RARE globally (prefixes
    prefer low-df tokens), the property that makes this the exact
    scale path.

    DENSITY CAVEAT (measured): the candidate economics require a SPARSE
    item space (zipf-ish df, most items rare — true of real-text
    shingles at web scale). On the synthetic corpus's ~30-word
    vocabulary the 3-shingle space is dense (avg df ~55 at sf0.1), so
    prefixes stop being selective and the candidate set grows
    quadratically (15.7 s at sf0.1, worse beyond) — for dense item
    spaces use minhash_lsh_pairs (approximate) or ngram_jaccard_pairs
    with df_cap. This operator is the EXACTNESS path, kept at its
    honest cost."""
    tok = _persist(
        items.select(F.col(id_col).alias("_id"), F.col(item_col).alias("_tok"))
        .where(F.col(item_col).isNotNull())
        .distinct()
    )
    from pyspark.sql import Window

    dfreq = tok.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
    sz = tok.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))
    ranked = (
        tok.join(dfreq, "_tok")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_id").orderBy(F.asc("_df"), F.asc("_tok"))
            ),
        )
        .join(sz, "_id")
    )
    prefix = ranked.where(
        F.col("_rn")
        <= F.col("_n") - F.expr(f"({t_num} * _n + {t_den - 1}) div {t_den}") + 1
    ).select("_id", "_tok", "_n")
    a = prefix.select(F.col("_id").alias("id_a"), "_tok", F.col("_n").alias("_na"))
    b = prefix.select(F.col("_id").alias("id_b"), "_tok", F.col("_n").alias("_nb"))
    cand = (
        a.join(b, "_tok")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "_na", "_nb")
        .distinct()
    )
    ta = tok.select(F.col("_id").alias("id_a"), "_tok")
    tb = tok.select(F.col("_id").alias("id_b"), "_tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "_tok"])
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.count(F.lit(1)).alias("_i"))
    )
    # threshold test on the EXACT rational (i * den >= union * num) — a
    # test on the q6-truncated value would drop pairs sitting exactly at
    # a threshold whose q6 image truncates (e.g. t=1/3: J=1/3 maps to
    # 333333 and 333333*3 < 10^6), silently breaking the
    # no-false-negative guarantee for non-divisible thresholds
    return inter.where(
        F.col("_i") * t_den >= (F.col("_na") + F.col("_nb") - F.col("_i")) * t_num
    ).select(
        "id_a",
        "id_b",
        F.expr("(_i * 1000000) div (_na + _nb - _i)")
        .cast("bigint")
        .alias("jaccard_q6"),
    )


def containment_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: directed (src, dst, containment)
    with containment(src -> dst) = |S_src ∩ S_dst| / |S_src| >= threshold
    over k-token shingle SETS. The asymmetric twin of ngram_jaccard_pairs
    for the case Jaccard structurally misses: a short document quoted
    inside a long one has Jaccard ~|src|/|dst| (tiny) but containment ~1
    — the quote/boilerplate/subset-duplicate detector training-data
    pipelines run alongside symmetric near-dup (public practice:
    Broder's containment from the same resemblance sketch family).

    Shape: one shingle self-join (the intersection is computed ONCE per
    unordered pair, then both directions are emitted and thresholded —
    the join never runs twice), sizes joined back by id. Same skew story
    as ngram_jaccard_pairs: ``df_cap`` drops shingles in more than
    df_cap docs before the self-join (at web scale a 1M-doc shingle is
    10^12 join rows); under the cap BOTH the intersections and the set
    sizes are over the capped shingle sets (the dedup_ngram_jaccard_capped
    convention — the statistic is containment of the rare-shingle
    profile, and the oracle replays it identically)."""
    # Persist the BASE shingle relation before the cap branch: the DF
    # guard's frequency pre-agg and the capped relation's anti-join both
    # consume it, and without the pin the guard re-runs the full
    # tokenize+shingle lineage (r11 verdict watch #3 — this constant was
    # the most expensive sf0.1 bench row). Spark's CacheManager matches
    # canonicalized plans, so an uncapped containment_pairs call in the
    # same session shares this cache entry too.
    sh = _persist(textops.shingles(df, k=k, text_col=text_col, id_col=id_col))
    if df_cap is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        sh = _persist(
            sh.join(
                F.broadcast(freq.where(F.col("df") > df_cap)),
                "shingle",
                "left_anti",
            )
        )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    a = sh.select(F.col(id_col).alias("d1"), "shingle")
    b = sh.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("c"))
    )
    both = inter.join(
        sizes.select(F.col(id_col).alias("d1"), F.col("n").alias("n1")), "d1"
    ).join(sizes.select(F.col(id_col).alias("d2"), F.col("n").alias("n2")), "d2")
    fwd = both.select(
        F.col("d1").alias("src"),
        F.col("d2").alias("dst"),
        (F.col("c").cast("double") / F.col("n1")).alias("containment"),
    )
    rev = both.select(
        F.col("d2").alias("src"),
        F.col("d1").alias("dst"),
        (F.col("c").cast("double") / F.col("n2")).alias("containment"),
    )
    return fwd.unionAll(rev).where(F.col("containment") >= threshold)


def sentence_dedup_stats(
    df: DataFrame,
    min_chars: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-level duplication report: split each document into
    sentences ([.!?]+ boundaries), normalize (lowercase, collapsed
    whitespace), drop fragments under ``min_chars``, and per document
    count how many of its DISTINCT sentences also occur in at least one
    OTHER document — the boilerplate/churnalism signal sentence-level
    dedup pipelines act on (docs whose prose is mostly shared lines:
    cookie banners, templated reviews, syndicated paragraphs).

    Output (id, n_sents, n_dup, boilerplate) with boilerplate =
    n_dup * 2 >= n_sents (an exact cross-multiplied >= 50% cut; no
    float share crosses engines). Scale shape: the sentence relation is
    (doc, md5) rows; duplication is one groupBy on the hash counting
    DISTINCT docs (map-side partial), joined back on the hash — two
    hash-key shuffles and one per-doc aggregation, never a self-join
    (sentence identity is exact equality, so no pair enumeration
    exists). The reference analog is the line-oriented dedup idiom of
    sort -u / secondary sort (SURVEY §2.6)."""
    sents = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), r"[.!?]+")).alias("_s"),
        )
        .select(
            F.col(id_col),
            normalize_text(F.col("_s")).alias("_n"),
        )
        .where(F.length("_n") >= min_chars)
        .select(F.col(id_col), F.md5(F.col("_n")).alias("_h"))
        .distinct()
    )
    sents = _persist(sents)
    docs_per_sent = sents.groupBy("_h").agg(
        F.count(F.lit(1)).cast("bigint").alias("_docs")
    )
    per = (
        sents.join(docs_per_sent, "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sents"),
            F.sum(F.when(F.col("_docs") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
    )
    return (
        df.select(id_col)
        .join(per, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_sents"), F.lit(0)).cast("bigint").alias("n_sents"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup"),
            (
                F.coalesce(F.col("n_dup"), F.lit(0)) * 2
                >= F.greatest(F.coalesce(F.col("n_sents"), F.lit(0)), F.lit(1))
            ).alias("boilerplate"),
        )
    )
