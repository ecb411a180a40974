"""End-to-end training-corpus cleaning pipeline (north-star showcase):
quality filter -> language filter -> near-dup removal, composed from the
text-analysis and dedup operator families into one declarative plan.

This is the canonical LLM-data-pipeline shape at 100 TB: every stage is a
narrow transform or a hash-key shuffle; the dedup stage is MinHash+LSH
(scale path), and the "drop the later duplicate" rule is a left-anti join
against the pair list — no driver-side state anywhere.

The oracle literally composes the already-verified oracle SQL of
text_quality, text_lang_id, and dedup_minhash_lsh as CTE subqueries, so
the composition is checked end-to-end, not re-derived.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_1_spark.operators import corpusprep, dedup, folds, sampling, textops
from hadoop_1_spark.registry import ORACLE, _load, register

MIN_QUALITY = 0.5
KEEP_LANGS = ("en", "es")


def _oracle() -> str:
    quality_sql = ORACLE["text_quality"]
    lang_sql = ORACLE["text_lang_id"]
    dups_sql = ORACLE["dedup_minhash_lsh"]
    return f"""
WITH q AS (SELECT doc_id, quality FROM ({quality_sql})),
lb AS (SELECT doc_id, lang_pred FROM ({lang_sql})),
dups AS ({dups_sql})
SELECT d.doc_id, q.quality, lb.lang_pred
FROM documents d
JOIN q USING (doc_id)
JOIN lb USING (doc_id)
WHERE q.quality >= {MIN_QUALITY}
  AND lb.lang_pred IN {KEEP_LANGS!r}
  AND d.doc_id NOT IN (SELECT d2 FROM dups)
"""


@register("corpus_clean", oracle=_oracle())
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning: keep documents with quality >= 0.5 whose predicted
    language is in {en, es}, dropping the higher-id member of every
    MinHash-LSH near-dup pair (threshold 0.8)."""
    docs = _load(spark, sf_dir, "documents")
    quality = textops.quality_score(docs).select("doc_id", "quality")
    lang = textops.lang_id(docs, spark).select("doc_id", "lang_pred")
    dups = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=8, threshold=0.8)
    return (
        docs.select("doc_id")
        .join(quality, "doc_id")
        .join(lang, "doc_id")
        .where(
            (F.col("quality") >= MIN_QUALITY) & F.col("lang_pred").isin(*KEEP_LANGS)
        )
        .join(dups.select(F.col("d2").alias("doc_id")), "doc_id", "left_anti")
        .select("doc_id", "quality", "lang_pred")
    )


# --- Corpus preparation (operators/corpusprep.py) -----------------------
# Deterministic split / packing / decontamination over documents; the md5
# bucket arithmetic is the engine-portable idiom shared with sampling.

_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"
_B100 = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100"

PACK_BUDGET = 512
PACK_SHARDS = 8
BENCH_MOD = 7
DECON_K = 5


@register(
    "corpus_split",
    oracle=f"""
SELECT CASE WHEN {_B100} < 80 THEN 'train'
            WHEN {_B100} < 90 THEN 'valid'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
FROM documents GROUP BY 1
""",
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split (md5-bucket of doc_id;
    no RNG, no shuffle — any engine reproduces the same assignment), folded
    to per-split doc/token totals."""
    from hadoop_1_spark.operators import corpusprep, textops

    docs = _load(spark, sf_dir, "documents")
    toks = F.size(textops.ws_tokens(F.col("text")))
    return (
        corpusprep.hash_split(docs)
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(toks).cast("long").alias("n_tokens"),
        )
    )


@register(
    "corpus_pack_bins",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % {PACK_SHARDS} AS shard,
         len({_TOKS}) AS toks
  FROM documents
),
w AS (
  SELECT shard, toks,
         sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - toks AS prefix
  FROM d
)
SELECT shard, CAST(floor(prefix / {PACK_BUDGET}) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS bin_tokens
FROM w GROUP BY 1, 2
""",
)
def corpus_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into ~512-token training bins across 8 md5 shards
    (one shuffle on the shard key; per-shard window = reducer-sorted
    iteration). Output is the per-bin occupancy table."""
    from hadoop_1_spark.operators import corpusprep, textops

    docs = _load(spark, sf_dir, "documents").select(
        "doc_id", F.size(textops.ws_tokens(F.col("text"))).alias("toks")
    )
    return corpusprep.pack_bins(
        docs, "toks", budget=PACK_BUDGET, shards=PACK_SHARDS
    )


@register(
    "corpus_decontaminate",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+{DECON_K - 1}], ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - {DECON_K - 2})) AS i
        FROM t WHERE len(toks) >= {DECON_K})
),
bs AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCH_MOD} = 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM sh JOIN bs USING (shingle)
WHERE doc_id % {BENCH_MOD} <> 0
GROUP BY 1
""",
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (synthetic benchmark = every
    7th doc) sharing >= 1 five-token shingle with the benchmark, with the
    count of shared shingles. The benchmark shingle set is broadcast — the
    corpus side is scan + broadcast semi-join, no corpus-wide shuffle."""
    from hadoop_1_spark.operators import corpusprep

    docs = _load(spark, sf_dir, "documents")
    bench = docs.where(F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0)
    train = docs.where(F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) != 0)
    return corpusprep.decontaminate(train, bench, k=DECON_K)


def _fuzzy_decon_oracle() -> str:
    from hadoop_1_spark.queries.q_dedup import _minhash_oracle

    return _minhash_oracle(bench_mod=BENCH_MOD)


@register("corpus_decontaminate_fuzzy", oracle=_fuzzy_decon_oracle())
def corpus_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-DUPLICATE twin of corpus_decontaminate (same every-7th-doc
    synthetic benchmark): MinHash(16) + LSH(8 bands) candidates joined
    DIRECTIONALLY corpus x benchmark, exact-Jaccard verified at 0.8 —
    the leak mode exact shingle overlap misses (paraphrased/reformatted
    eval material). The benchmark side broadcasts (band relation AND
    hash sets); the corpus is shuffled once for signatures. The oracle
    replays the full LSH pipeline with the directional candidate stage
    (q_dedup._minhash_oracle(bench_mod=7)), so candidate-set equality is
    part of the check. See corpusprep.decontaminate_fuzzy."""
    docs = _load(spark, sf_dir, "documents")
    bench = docs.where(F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0)
    train = docs.where(F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) != 0)
    return corpusprep.decontaminate_fuzzy(
        train, bench, k=3, num_hashes=16, bands=8, threshold=0.8
    )


def _contamination_report_oracle() -> str:
    exact = ORACLE["corpus_decontaminate"]
    fuzzy = ORACLE["corpus_decontaminate_fuzzy"]
    return f"""
WITH ex AS (SELECT * FROM ({exact})),
fz0 AS (SELECT * FROM ({fuzzy})),
fz AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS fuzzy_hits, max(jaccard) AS max_jaccard
  FROM fz0 GROUP BY 1
)
SELECT coalesce(ex.doc_id, fz.doc_id) AS doc_id,
       coalesce(ex.n_shared, 0) AS exact_shingles,
       coalesce(fz.fuzzy_hits, 0) AS fuzzy_hits,
       coalesce(fz.max_jaccard, 0.0) AS max_jaccard,
       CASE WHEN ex.doc_id IS NOT NULL AND fz.doc_id IS NOT NULL THEN 'both'
            WHEN ex.doc_id IS NOT NULL THEN 'exact' ELSE 'fuzzy' END AS method
FROM ex FULL JOIN fz ON ex.doc_id = fz.doc_id
"""


@register("corpus_contamination_report", oracle=_contamination_report_oracle())
def corpus_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document contamination REPORT a data team actually reviews
    before a scrub: one row per flagged corpus doc unifying the exact
    rung (shared 5-token shingle count, corpus_decontaminate) and the
    fuzzy rung (MinHash-LSH verified benchmark hits + max Jaccard,
    corpus_decontaminate_fuzzy), with a method tag
    (exact / fuzzy / both) — the drop-list with evidence attached.
    (The semantic rung reports per VECTOR id on the embeddings table
    and stays a separate artifact, corpus_decontaminate_semantic.)

    Scale shape: both rungs keep their own economics (benchmark side
    broadcast in each; corpus never shuffled except the fuzzy rung's
    one signature aggregation); the report join is flagged-docs x
    flagged-docs — leak-sized, not corpus-sized. The oracle composes
    the two registered rung oracles verbatim, so the report can only
    diverge if a rung itself does."""
    from hadoop_1_spark.operators import corpusprep

    docs = _load(spark, sf_dir, "documents")
    bench = docs.where(F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0)
    train = docs.where(F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) != 0)
    ex = corpusprep.decontaminate(train, bench, k=DECON_K)
    fz = (
        corpusprep.decontaminate_fuzzy(
            train, bench, k=3, num_hashes=16, bands=8, threshold=0.8
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("fuzzy_hits"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )
    exa = ex.select("doc_id", "n_shared").alias("ex")
    fza = fz.alias("fz")
    j = exa.join(fza, F.col("ex.doc_id") == F.col("fz.doc_id"), "full")
    return j.select(
        F.coalesce(F.col("ex.doc_id"), F.col("fz.doc_id")).alias("doc_id"),
        F.coalesce(F.col("ex.n_shared"), F.lit(0).cast("bigint")).alias("exact_shingles"),
        F.coalesce(F.col("fz.fuzzy_hits"), F.lit(0).cast("bigint")).alias("fuzzy_hits"),
        F.coalesce(F.col("fz.max_jaccard"), F.lit(0.0)).alias("max_jaccard"),
        F.when(
            F.col("ex.doc_id").isNotNull() & F.col("fz.doc_id").isNotNull(), "both"
        ).when(F.col("ex.doc_id").isNotNull(), "exact").otherwise("fuzzy")
        .alias("method"),
    )


def _semantic_decon_oracle(bands: int = 4, min_bits: int = 4,
                           max_bits: int = 8, target: int = 128,
                           threshold: float = 0.45) -> str:
    bucket_cols = ",\n       ".join(
        f"{folds.bucket_duck('embedding', folds.hyperplane_signs(max_bits, seed=100 + b), 'nb.nbits')} AS b{b}"
        for b in range(bands)
    )
    band_list = ", ".join(f"'{b}' || ':' || b{b}::VARCHAR" for b in range(bands))
    return f"""
WITH nb AS (
  SELECT {folds.occupancy_nbits("n", target, min_bits, max_bits)} AS nbits
  FROM (SELECT count(*) AS n FROM embeddings)
),
e AS (
  SELECT vec_id, embedding,
       {folds.norm_duck("embedding")} AS nrm,
       {bucket_cols}
  FROM embeddings, nb
),
banded AS (SELECT vec_id, unnest([{band_list}]) AS bucket FROM e),
cand AS (
  SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
  FROM banded x JOIN banded y ON x.bucket = y.bucket
   AND x.vec_id % {BENCH_MOD} <> 0 AND y.vec_id % {BENCH_MOD} = 0
),
c AS (
  SELECT d1, d2,
         round(({folds.dot_duck("e1.embedding", "e2.embedding")}) / (e1.nrm * e2.nrm), 9) AS cosine
  FROM cand JOIN e e1 ON d1 = e1.vec_id JOIN e e2 ON d2 = e2.vec_id
)
SELECT d1 AS vec_id, d2 AS bench_id, cosine FROM c WHERE cosine >= {threshold}
"""


@register("corpus_decontaminate_semantic", oracle=_semantic_decon_oracle())
def corpus_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING rung of the decontamination ladder (same every-7th-id
    synthetic benchmark as the exact and fuzzy rungs, on the embeddings
    table): banded hyperplane-LSH candidates (dedup_embedding_lsh's
    band family and seeds, band WIDTH derived in-plan from corpus size —
    the knn_graph_auto rule, capped at 8 bits) joined DIRECTIONALLY
    corpus x benchmark with the benchmark side BROADCAST, exact
    fixed-order cosine verified at 0.45 — the leak mode token-overlap
    scrubbing structurally misses (rewrites/translations of eval
    material that embed close but share no n-grams). The corpus is
    never shuffled; the only exchange is the distinct over surviving
    pairs. The oracle replays the width derivation, bucket assignment,
    the directional candidate stage, and the verify. See
    corpusprep.decontaminate_semantic."""
    emb = _load(spark, sf_dir, "embeddings")
    return corpusprep.decontaminate_semantic(
        emb, F.pmod(F.col("vec_id"), F.lit(BENCH_MOD)) == 0,
        threshold=0.45, bands=4, min_bits=4, max_bits=8,
    )


@register(
    "corpus_shards",
    oracle=f"""
WITH kept AS (SELECT doc_id FROM ({{clean}})),
d AS (
  SELECT k.doc_id,
         CASE WHEN {_B100} < 80 THEN 'train'
              WHEN {_B100} < 90 THEN 'valid'
              ELSE 'test' END AS split,
         ('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))::BIGINT % {{shards}} AS shard,
         len({_TOKS}) AS toks
  FROM kept k JOIN documents USING (doc_id)
),
w AS (
  SELECT split, shard, toks,
         sum(toks) OVER (PARTITION BY split, shard ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - toks AS prefix
  FROM d
)
SELECT split, shard, CAST(floor(prefix / {{budget}}) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(toks) AS BIGINT) AS bin_tokens
FROM w GROUP BY 1, 2, 3
""".format(clean=ORACLE["corpus_clean"], shards=4, budget=PACK_BUDGET),
)
def corpus_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pipeline to training shards: corpus_clean (quality + lang +
    LSH dedup) -> deterministic split -> per-(split, shard) sequence
    packing. Output is the shard/bin occupancy table a shard writer would
    partitionBy((split, shard)) on. The oracle composes the already-
    verified corpus_clean SQL with the split/pack CTEs end-to-end."""
    from pyspark.sql.window import Window

    from hadoop_1_spark.operators import corpusprep, textops
    from hadoop_1_spark.operators.sampling import md5_mod

    kept = corpus_clean(spark, sf_dir).select("doc_id")
    docs = _load(spark, sf_dir, "documents").join(kept, "doc_id")
    d = corpusprep.hash_split(docs).select(
        "doc_id",
        "split",
        md5_mod(F.col("doc_id"), 4).alias("shard"),
        F.size(textops.ws_tokens(F.col("text"))).alias("toks"),
    )
    w = Window.partitionBy("split", "shard").orderBy("doc_id")
    prefix = F.sum("toks").over(w) - F.col("toks")
    return (
        d.withColumn("bin", F.floor(prefix / F.lit(PACK_BUDGET)))
        .groupBy("split", "shard", "bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("toks").cast("long").alias("bin_tokens"),
        )
    )


SAMPLE_K = 5
LANG_TARGETS = {"en": 50, "es": 30, "de": 20}


@register(
    "corpus_sample_stratified",
    oracle=f"""
SELECT source, doc_id FROM documents
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
) <= {SAMPLE_K}
""",
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-{K}-per-source deterministic sample (md5-ranked within each
    stratum) — replayable per-key reservoir sampling for corpus balancing
    and eval-set carving."""
    from hadoop_1_spark.operators import corpusprep

    docs = _load(spark, sf_dir, "documents").select("source", "doc_id")
    return corpusprep.stratified_sample(docs, "source", SAMPLE_K)


def _rebalance_oracle() -> str:
    langs = ", ".join(f"'{l}'" for l in LANG_TARGETS)
    tvals = ", ".join(f"('{l}', {p})" for l, p in LANG_TARGETS.items())
    return f"""
WITH s AS (SELECT doc_id, lang FROM documents WHERE lang IN ({langs})),
c AS (SELECT lang, count(*) AS n, sum(count(*)) OVER () AS tot
      FROM s GROUP BY 1),
t(lang, pct) AS (VALUES {tvals}),
k AS (
  SELECT s.doc_id, s.lang
  FROM s JOIN c USING (lang) JOIN t USING (lang)
  WHERE ('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
        * n * 100 < pct * tot * 1000000
)
SELECT k.lang,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(any_value(c.n) AS BIGINT) AS n_total
FROM k JOIN c USING (lang)
GROUP BY 1
"""


@register("corpus_rebalance_langs", oracle=_rebalance_oracle())
def corpus_rebalance_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing toward a 50/30/20 en/es/de mix: over-represented
    languages are deterministically downsampled (exact integer keep rule,
    engine-replayable), under-represented ones pass through whole. Runs on
    the corpus's lang labels (the operator is label-agnostic — swap in
    lang_id predictions upstream when no labels exist). Output:
    per-language kept/total counts."""
    from hadoop_1_spark.operators import corpusprep

    labeled = _load(spark, sf_dir, "documents").select("doc_id", "lang")
    kept = corpusprep.rebalance_by_language(labeled, LANG_TARGETS, lang_col="lang")
    totals = (
        labeled.where(F.col("lang").isin(*LANG_TARGETS))
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_total"))
    )
    return (
        kept.groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_kept"))
        .join(totals, "lang")
    )


CHUNK_SIZE = 32
CHUNK_STRIDE = 24


@register(
    "corpus_chunk_windows",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, toks,
         unnest(range(1, greatest(len(toks), 1) + 1, {CHUNK_STRIDE})) AS start
  FROM t
),
c AS (
  SELECT doc_id, start,
         row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1 AS chunk_idx,
         toks[start:start + {CHUNK_SIZE} - 1] AS w
  FROM s
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(start AS INT) AS start_token,
       CAST(len(w) AS INT) AS n_tokens,
       array_to_string(w, ' ') AS chunk
FROM c WHERE len(w) > 0
""",
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking over documents (size 32, stride 24 —
    8-token overlap): long documents become overlapping training windows,
    the complement of corpus_pack_bins' short-doc packing."""
    from hadoop_1_spark.operators import corpusprep

    return corpusprep.chunk_windows(
        _load(spark, sf_dir, "documents"),
        chunk_size=CHUNK_SIZE,
        stride=CHUNK_STRIDE,
    )


@register(
    "corpus_mix_report",
    oracle=f"""
WITH per_doc AS (
  SELECT source, lang,
         CAST(len({_TOKS}) AS BIGINT) AS nt
  FROM documents
),
cells AS (
  SELECT source, lang, count(*) AS n_docs, sum(nt) AS n_tokens
  FROM per_doc GROUP BY 1, 2
),
tot AS (SELECT sum(n_tokens) AS total FROM cells)
SELECT source, lang,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(CASE WHEN (SELECT total FROM tot) = 0 THEN 0
                 ELSE (n_tokens * 1000000) // (SELECT total FROM tot) END AS BIGINT) AS share_q6
FROM cells
""",
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, lang) document/token counts with integer-exact token
    shares — the mixture-observability step before rebalancing. One scan,
    one cell aggregation, a 1-row broadcast total."""
    from hadoop_1_spark.operators import corpusprep

    return corpusprep.mix_report(_load(spark, sf_dir, "documents"))


TOKEN_BUDGET = 10_000


def _budget_trim_oracle() -> str:
    quality_sql = ORACLE["text_quality"]
    return f"""
WITH q AS (SELECT doc_id, quality FROM ({quality_sql})),
toks AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
ordered AS (
  SELECT q.doc_id, q.quality, t.n_tokens,
         sum(t.n_tokens) OVER (ORDER BY q.quality DESC, q.doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM q JOIN toks t USING (doc_id)
)
SELECT doc_id, round(quality, 6) AS quality, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ordered WHERE cum_tokens <= {TOKEN_BUDGET}
"""


@register("corpus_budget_trim", oracle=_budget_trim_oracle())
def corpus_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curriculum trim: rank the corpus by quality score and
    keep the best documents until a fixed token budget is exhausted — the
    data-selection step between scoring and shard writing. The cumulative
    token count comes from sort.global_prefix_sum (range shuffle +
    per-partition Arrow scan + broadcast offsets), never a global
    single-partition window."""
    from hadoop_1_spark.operators import sort as sortops
    from hadoop_1_spark.operators import textops

    docs = _load(spark, sf_dir, "documents")
    q = textops.quality_score(docs).select("doc_id", "quality")
    toks = docs.select(
        F.col("doc_id"),
        F.size(textops.ws_tokens(F.col("text"))).cast("long").alias("n_tokens"),
    )
    scored = q.join(toks, "doc_id")
    cum = sortops.global_prefix_sum(
        scored, F.desc("quality"), F.asc("doc_id"),
        value_col="n_tokens", out_col="cum_tokens",
    )
    return cum.where(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", F.round("quality", 6).alias("quality"), "n_tokens", "cum_tokens"
    )


@register(
    "corpus_interleave",
    oracle="""
WITH r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS src_rank
  FROM documents
),
c AS (SELECT source, count(*) AS ns FROM r GROUP BY source),
t AS (SELECT count(*) AS n FROM r),
k AS (
  SELECT r.doc_id, r.source, r.src_rank,
         ((2 * r.src_rank - 1) * t.n) // (2 * c.ns) AS key
  FROM r JOIN c USING (source), t
)
SELECT doc_id, source, src_rank,
       CAST(row_number() OVER (ORDER BY key, source, src_rank) AS BIGINT) AS position
FROM k
""",
)
def corpus_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-interleaved training order: integer midpoint spacing per
    source, global position via the distributed rank. See
    corpusprep.interleave_sources."""
    return corpusprep.interleave_sources(_load(spark, sf_dir, "documents"))


_GOPHER_STOP = "[" + ", ".join(f"'{w}'" for w in textops.STOPWORDS) + "]"


@register(
    "corpus_gopher_filter",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
base AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens_ws,
         round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS mean_token_len,
         CAST(len(list_filter(toks, x -> list_contains({_GOPHER_STOP}, lower(x)))) AS BIGINT) AS stop_hits
  FROM t
),
g AS (
  SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t WHERE len(toks) >= 2)
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
rep AS (
  SELECT doc_id,
         round(1 - count(*) / CAST(sum(c) AS DOUBLE), 9) AS dup_gram_frac,
         round(max(c) / CAST(sum(c) AS DOUBLE), 9) AS top_gram_frac
  FROM c GROUP BY doc_id
),
j AS (
  SELECT base.*, coalesce(rep.dup_gram_frac, 0.0) AS dup_gram_frac,
         coalesce(rep.top_gram_frac, 0.0) AS top_gram_frac
  FROM base LEFT JOIN rep USING (doc_id)
)
SELECT doc_id, n_tokens_ws, mean_token_len, stop_hits, dup_gram_frac, top_gram_frac,
       (n_tokens_ws BETWEEN 20 AND 100000) AS r_word_count,
       (mean_token_len BETWEEN 3.0 AND 10.0) AS r_mean_len,
       (stop_hits >= 2) AS r_stopwords,
       (dup_gram_frac < 0.3) AS r_dup_grams,
       (top_gram_frac < 0.2) AS r_top_gram,
       ((n_tokens_ws BETWEEN 20 AND 100000) AND (mean_token_len BETWEEN 3.0 AND 10.0)
        AND (stop_hits >= 2) AND (dup_gram_frac < 0.3) AND (top_gram_frac < 0.2)) AS keep
FROM j
""",
)
def corpus_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality filter (Rae et al. 2021 Appendix A
    rules, thresholds adapted to this corpus's 10-100-token docs): word
    count, mean token length, minimum stopword evidence, duplicate- and
    top-bigram fractions, folded into per-rule flags and one keep bit.
    ONE pass composition: the narrow per-doc stats project off the scan
    and join the (doc,gram)-aggregated repetition branch on doc_id. All
    flag comparisons run on the ROUNDED metric values both engines
    output, so the booleans are hash-identical."""
    docs = _load(spark, sf_dir, "documents")
    toks = textops.ws_tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in textops.STOPWORDS])
    base = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens_ws"),
        F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("mean_token_len"),
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
        .cast("bigint")
        .alias("stop_hits"),
    )
    rep = textops.repetition_stats(docs, n=2).select(
        "doc_id", "dup_gram_frac", "top_gram_frac"
    )
    j = base.join(rep, "doc_id", "left").select(
        "doc_id",
        "n_tokens_ws",
        "mean_token_len",
        "stop_hits",
        F.coalesce("dup_gram_frac", F.lit(0.0)).alias("dup_gram_frac"),
        F.coalesce("top_gram_frac", F.lit(0.0)).alias("top_gram_frac"),
    )
    r1 = F.col("n_tokens_ws").between(20, 100000)
    r2 = F.col("mean_token_len").between(3.0, 10.0)
    r3 = F.col("stop_hits") >= 2
    r4 = F.col("dup_gram_frac") < 0.3
    r5 = F.col("top_gram_frac") < 0.2
    return j.select(
        "*",
        r1.alias("r_word_count"),
        r2.alias("r_mean_len"),
        r3.alias("r_stopwords"),
        r4.alias("r_dup_grams"),
        r5.alias("r_top_gram"),
        (r1 & r2 & r3 & r4 & r5).alias("keep"),
    )


@register(
    "corpus_snapshot_diff",
    oracle="""
WITH o AS (
  SELECT doc_id, md5(concat_ws(chr(31), text)) AS fp
  FROM documents WHERE doc_id % 7 <> 0
),
n AS (
  SELECT doc_id,
         md5(concat_ws(chr(31),
             CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END)) AS fp
  FROM documents WHERE doc_id % 5 <> 0
),
d AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM o FULL JOIN n ON o.doc_id = n.doc_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n,
       min(doc_id) AS min_key, max(doc_id) AS max_key
FROM d GROUP BY 1
""",
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning audit between two corpus snapshots (the "what
    changed since the last shard cut" report). The snapshots are carved
    deterministically from the documents table: the old snapshot lacks
    every 7th document, the new one lacks every 5th and rewrites every
    11th — exercising all four diff statuses. One keyed shuffle; see
    corpusprep.snapshot_diff."""
    docs = _load(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return (
        corpusprep.snapshot_diff(old, new)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("doc_id").alias("min_key"),
            F.max("doc_id").alias("max_key"),
        )
    )


def _refresh_plan_oracle() -> str:
    # composes the already-verified text_lm_score oracle as a subquery —
    # the corpus_clean composition idiom: check the composition, don't
    # re-derive the stage
    from hadoop_1_spark.registry import ORACLE

    return f"""
WITH o AS (
  SELECT doc_id, md5(concat_ws(chr(31), text)) AS fp
  FROM documents WHERE doc_id % 7 <> 0
),
n AS (
  SELECT doc_id,
         md5(concat_ws(chr(31),
             CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END)) AS fp
  FROM documents WHERE doc_id % 5 <> 0
),
d AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.fp IS NULL THEN 'added'
              WHEN n.fp IS NULL THEN 'removed'
              WHEN o.fp <> n.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM o FULL JOIN n ON o.doc_id = n.doc_id
),
lm AS ({ORACLE["text_lm_score"]})
SELECT d.status, lm.keep,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(lm.n_tokens) AS BIGINT) AS n_tokens
FROM d JOIN lm USING (doc_id)
WHERE d.status <> 'removed'
GROUP BY 1, 2
"""


@register("corpus_refresh_plan", oracle=_refresh_plan_oracle())
def corpus_refresh_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refresh decision artifact a pipeline produces before
    re-cutting shards: for every document in the NEW snapshot, its diff
    status (added/changed/unchanged vs the old snapshot) crossed with
    the LM quality gate, with document and token counts per cell — "the
    crawl refresh adds N docs / M tokens that pass the gate". Composes
    two independently-verified stages (corpusprep.snapshot_diff +
    textops.lm_score); the LM scores the documents table directly, which
    equals scoring the new snapshot's text because the rewrite
    (upper-casing) is erased by the scorer's case-folding — asserted in
    tests. Scale: the diff's keyed shuffle + the scorer's broadcast
    model join; the composition adds one doc_id-keyed join."""
    docs = _load(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text",
        F.when(F.col("doc_id") % 11 == 0, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    diff = corpusprep.snapshot_diff(old, new).where(F.col("status") != "removed")
    model = textops.unigram_lm(docs.where(F.col("source") == "src0"))
    scored = textops.lm_score(docs, model).select("doc_id", "n_tokens", "keep")
    return (
        diff.join(scored, "doc_id")
        .groupBy("status", "keep")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "corpus_mix_temperature",
    oracle=f"""
WITH per AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM per),
s AS (
  SELECT source, n_tokens,
         CAST((n_tokens * 1000000) // total AS BIGINT) AS share_q6
  FROM per, t
),
w AS (
  SELECT *, CAST(floor(sqrt(CAST(share_q6 * 1000000 AS DOUBLE))) AS BIGINT) AS wgt
  FROM s
),
wt AS (SELECT CAST(sum(wgt) AS BIGINT) AS wtot FROM w)
SELECT source, n_tokens, share_q6,
       CAST((wgt * 1000000) // wtot AS BIGINT) AS temp_share_q6
FROM w, wt
""",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) sampling weights per source —
    the multilingual rebalancing report: exact q6 token shares next to
    the sqrt-tempered shares that upweight low-resource sources. See
    corpusprep.mix_temperature for the IEEE-sqrt portability argument."""
    return corpusprep.mix_temperature(_load(spark, sf_dir, "documents"))


PPS_K = 100


@register(
    "corpus_sample_weighted",
    oracle=f"""
WITH w AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS wt,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents WHERE n_chars > 0),
c AS (SELECT doc_id, wt,
             sum(wt) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum,
             sum(wt) OVER () AS tot
      FROM w)
SELECT doc_id, wt AS weight, CAST(cum AS BIGINT) AS cum_wt
FROM c
WHERE (cum * {PPS_K}) // tot > ((cum - wt) * {PPS_K}) // tot
""",
)
def corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted document sampling (~100 docs, inclusion odds
    proportional to n_chars — the token-budget-aware corpus sampling
    rule) via deterministic systematic PPS: md5-ordered tape, exact
    integer prefix sums from the distributed scan, k threshold
    crossings. The sample MEMBERSHIP itself is the oracle check —
    no float acceptance test anywhere. Equal-probability twin:
    corpus_sample_stratified."""
    docs = _load(spark, sf_dir, "documents")
    return sampling.weighted_systematic(docs, "doc_id", "n_chars", k=PPS_K)


OVERSAMPLE_CAP = 4


@register(
    "corpus_oversample_sources",
    oracle=f"""
WITH n AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
           FROM documents GROUP BY 1),
mx AS (SELECT max(mass) AS m FROM n),
f AS (SELECT n.source,
             CAST(least((mx.m + n.mass - 1) // n.mass,
                        {OVERSAMPLE_CAP}) AS BIGINT) AS repeat_factor
      FROM n, mx)
SELECT d.doc_id, d.source, CAST(r.i AS INT) AS repeat_idx,
       f.repeat_factor
FROM documents d
JOIN f USING (source),
     unnest(range(1, CAST(f.repeat_factor AS BIGINT) + 1)) r(i)
""",
)
def corpus_oversample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source oversampling toward a balanced mix — the epochs-per-source
    rule of pretraining data recipes: each source repeats
    ceil(max_mass / mass) times (mass = total characters — the
    token-budget proxy; doc counts are uniform in this corpus), capped at {OVERSAMPLE_CAP} (unbounded
    upsampling of a tiny source just memorizes it). Emits every
    (doc, repeat_idx) pair via an explode over the per-source factor —
    the downsampling complement of corpus_rebalance_langs. Counts
    relation is source-sized and broadcast; the corpus side is one
    scan + explode, no shuffle of document rows."""
    docs = _load(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.sum("n_chars").cast("bigint").alias("mass"))
    mx = n.agg(F.max("mass").alias("_m"))
    f = n.crossJoin(F.broadcast(mx)).select(
        "source",
        F.least(
            F.expr("(_m + mass - 1) div mass"), F.lit(OVERSAMPLE_CAP)
        ).cast("bigint").alias("repeat_factor"),
    )
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(f), "source")
        .select(
            "doc_id", "source",
            F.explode(F.sequence(F.lit(1), F.col("repeat_factor"))).alias("_i"),
            "repeat_factor",
        )
        .select(
            "doc_id", "source",
            F.col("_i").cast("int").alias("repeat_idx"), "repeat_factor",
        )
    )


@register(
    "corpus_vocab_overlap",
    oracle="""
WITH tok AS (
  SELECT DISTINCT source,
         unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                            t -> t <> '')) AS tk
  FROM documents WHERE text IS NOT NULL
),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS c
  FROM tok a JOIN tok b ON a.tk = b.tk AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b, i.c AS n_shared,
       sa.n AS n_a, sb.n AS n_b,
       CAST((i.c * 1000000) // (sa.n + sb.n - i.c) AS BIGINT) AS jaccard_q6
FROM inter i
JOIN sz sa ON i.src_a = sa.source
JOIN sz sb ON i.src_b = sb.source
""",
)
def corpus_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between sources — the
    mixture-redundancy observability view (two sources with
    near-identical vocabularies add diversity on paper only): exact
    token-set Jaccard per source pair, the exact twin of
    sketch_kmv_setops' estimates. One distinct (source, token) shuffle;
    the pair join keys on the token, so the shuffle fan-out is bounded
    by per-token source lists (source-count-bounded, not corpus-
    bounded); the size relation is source-sized and broadcast."""
    docs = _load(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    tok = docs.select(
        "source",
        F.explode(
            F.array_distinct(
                F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != F.lit(""))
            )
        ).alias("tk"),
    ).distinct()
    from hadoop_1_spark.operators.caching import persist_tracked

    tok = persist_tracked(tok)
    sz = tok.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = tok.select(F.col("source").alias("src_a"), "tk")
    b = tok.select(F.col("source").alias("src_b"), "tk")
    inter = (
        a.join(b, "tk")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    return (
        inter.join(F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))), "src_a")
        .join(F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))), "src_b")
        .select(
            "src_a", "src_b", "n_shared", "n_a", "n_b",
            F.expr("(n_shared * 1000000) div (n_a + n_b - n_shared)")
            .cast("bigint").alias("jaccard_q6"),
        )
    )


# CCNet perplexity-bucket thresholds (q6 mean inverse probability),
# calibrated on the reference corpus so head/middle/tail are non-trivial.
CCNET_HEAD_Q6 = 30_400_000
CCNET_MID_Q6 = 31_000_000


def _ccnet_mix_oracle() -> str:
    lang_sql = ORACLE["text_lang_id"]
    lm_sql = ORACLE["text_lm_score"]
    return f"""
WITH lang AS ({lang_sql}),
lm AS ({lm_sql}),
j AS (
  SELECT lang.lang_pred,
         CASE WHEN lm.mean_invp_q6 < {CCNET_HEAD_Q6} THEN 'head'
              WHEN lm.mean_invp_q6 < {CCNET_MID_Q6} THEN 'middle'
              ELSE 'tail' END AS bucket,
         lm.n_tokens
  FROM lang JOIN lm USING (doc_id)
),
g AS (
  SELECT lang_pred, bucket,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM j GROUP BY 1, 2
)
SELECT lang_pred, bucket, n_docs, n_tokens,
       CAST((CAST(n_tokens AS HUGEINT) * 1000000)
            // sum(n_tokens) OVER (PARTITION BY lang_pred) AS BIGINT)
         AS lang_share_q6
FROM g
"""


@register("corpus_ccnet_mix", oracle=_ccnet_mix_oracle())
def corpus_ccnet_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet pipeline end-to-end (Wenzek et al. 2019): language-ID
    every document, score it against the curated-slice LM, bucket into
    head/middle/tail by perplexity surrogate, and report the
    (language, bucket) doc/token mix with exact within-language token
    shares — the table a data-mixing decision reads. Oracle composes
    the already-verified text_lang_id and text_lm_score SQL verbatim.

    Shape at 100 TB: both inputs are one-scan pipelines joined on
    doc_id (co-partitioned); the share window runs over the bounded
    (lang, bucket) aggregate, never data."""
    docs = _load(spark, sf_dir, "documents")
    lang = textops.lang_id(docs, spark)
    model = textops.unigram_lm(docs.where(F.col("source") == "src0"))
    lm = textops.lm_score(docs, model)
    j = lang.select("doc_id", "lang_pred").join(
        lm.select(
            "doc_id",
            "n_tokens",
            F.when(F.col("mean_invp_q6") < CCNET_HEAD_Q6, "head")
            .when(F.col("mean_invp_q6") < CCNET_MID_Q6, "middle")
            .otherwise("tail")
            .alias("bucket"),
        ),
        "doc_id",
    )
    g = j.groupBy("lang_pred", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    return g.select(
        "lang_pred",
        "bucket",
        "n_docs",
        "n_tokens",
        # DECIMAL(38,0) route: n_tokens * 10^6 wraps int64 once a
        # (lang, bucket) group passes ~9.2e12 tokens — inside 100 TB scale
        F.expr(
            "CAST((CAST(n_tokens AS DECIMAL(38,0)) * CAST(1000000 AS DECIMAL(38,0)))"
            " div (CAST(sum(n_tokens) OVER (PARTITION BY lang_pred)"
            " AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("lang_share_q6"),
    )


def _split_leak_oracle() -> str:
    fp_sql = ORACLE["text_winnow_fingerprints"]
    split_case = (
        "CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'"
        " WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'valid'"
        " ELSE 'test' END"
    )
    return f"""
WITH fp AS ({fp_sql}),
s AS (SELECT doc_id, {split_case} AS split FROM documents),
f AS (SELECT DISTINCT fp.doc_id, fp.fp, s.split FROM fp JOIN s USING (doc_id)),
tr AS (SELECT DISTINCT fp FROM f WHERE split = 'train'),
ev AS (SELECT split, doc_id, fp FROM f WHERE split <> 'train'),
n AS (SELECT split, doc_id, CAST(count(*) AS BIGINT) AS n_fps FROM ev GROUP BY 1, 2),
h AS (SELECT split, doc_id, CAST(count(*) AS BIGINT) AS n_hit
      FROM ev JOIN tr USING (fp) GROUP BY 1, 2)
SELECT n.split, n.doc_id, n.n_fps,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       coalesce(h.n_hit, 0) * 10 >= n.n_fps * 5 AS leaked
FROM n LEFT JOIN h USING (split, doc_id)
"""


@register("corpus_split_leak_report", oracle=_split_leak_oracle())
def corpus_split_leak_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination audit: for every valid/test document
    (with >= 1 winnowing fingerprint), how many of its fingerprints
    also occur in ANY train document, and a ``leaked`` call at >= 50%
    overlap (exact cross-multiplication). Winnowing's guarantee makes
    this sound: any shared run of k+w-1 = 6 tokens yields a shared
    fingerprint, so real leaks cannot hide. Oracle composes the
    verified winnow SQL with the md5 split rule.

    Shape at 100 TB: fingerprints + split are one-scan pipelines; the
    contamination check is a fingerprint-keyed semi-join (train side
    never widens rows) and two doc-keyed aggregations — all bounded by
    the fingerprint relation (~2/(w+1) per token)."""
    docs = _load(spark, sf_dir, "documents")
    fps = (
        textops.winnow_fingerprints(docs)
        .select("doc_id", "fp")
        .distinct()
        .join(corpusprep.hash_split(docs.select("doc_id")), "doc_id")
    )
    train = fps.where(F.col("split") == "train").select("fp").distinct()
    ev = fps.where(F.col("split") != "train")
    n = ev.groupBy("split", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fps")
    )
    h = (
        ev.join(train, "fp", "left_semi")
        .groupBy("split", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    return n.join(h, ["split", "doc_id"], "left").select(
        "split",
        "doc_id",
        "n_fps",
        F.coalesce(F.col("n_hit"), F.lit(0)).cast("bigint").alias("n_hit"),
        (
            F.coalesce(F.col("n_hit"), F.lit(0)) * 10 >= F.col("n_fps") * 5
        ).alias("leaked"),
    )


_DSIR_B = 1024


@register(
    "corpus_dsir_select",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5('0:' || g), 1, 15))::BIGINT % {_DSIR_B} AS bk,
         (lang = 'en') AS is_t
  FROM grams
),
raw AS (
  SELECT bk, count(*) AS cr,
         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
  FROM b GROUP BY bk
),
tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM raw),
model AS (
  SELECT bk,
         CAST(((ct + 1)::HUGEINT * (tot.nr + {_DSIR_B}) * 1000000)
              // ((cr + 1)::HUGEINT * (tot.nt + {_DSIR_B})) AS BIGINT) AS ratio_q6
  FROM raw, tot
),
per AS (
  SELECT d.doc_id,
         CAST(count(m.ratio_q6) AS BIGINT) AS n_grams,
         CAST(coalesce(sum(m.ratio_q6), 0)
              // greatest(count(m.ratio_q6), 1) AS BIGINT) AS dsir_q6
  FROM documents d
  LEFT JOIN b ON b.doc_id = d.doc_id
  LEFT JOIN model m ON m.bk = b.bk
  GROUP BY d.doc_id
),
nd AS (SELECT count(*) AS n FROM documents),
r AS (
  SELECT doc_id, n_grams, dsir_q6,
         CAST(row_number() OVER (ORDER BY dsir_q6 DESC, doc_id) AS BIGINT) AS rank
  FROM per
)
SELECT doc_id, n_grams, dsir_q6, rank, (rank * 4 <= nd.n * 1) AS selected
FROM r, nd
""",
)
def corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection toward an English target domain:
    hashed-bigram bucket LMs (B=1024) for the lang='en' slice vs the raw
    corpus, per-doc q6 mean probability ratio, top-quarter selection by
    (importance DESC, doc_id) — exact integer arithmetic end-to-end
    (decimal(38,0) products, integer quotients, cross-multiplied cut),
    so the oracle replays buckets, both models, scores, ranks, and the
    selection bit-for-bit. See corpusprep.dsir_importance."""
    docs = _load(spark, sf_dir, "documents")
    return corpusprep.dsir_importance(
        docs, F.col("lang") == "en", n_buckets=_DSIR_B, share=(1, 4)
    )
