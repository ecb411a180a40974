"""Deduplication queries (north-star extensions): exact, n-gram Jaccard,
MinHash+LSH, SimHash, embedding-cosine — each with a full DuckDB oracle
replica of the same md5-based pipeline so results match bit-for-bit.

Thresholds are tuned to the driver corpus: the generator plants 25 near-dup
doc pairs (Jaccard >= 0.8; the background distribution tops out at ~0.03),
and cosine >= 0.45 selects the top ~14 embedding pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_1_spark.operators import dedup, dedup_autocap, folds, linkage, textops
from hadoop_1_spark.registry import _load, register

_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')"

# Shared oracle CTEs: distinct 3-token shingles + exact pairwise Jaccard.
_SHINGLE_CTES = f"""
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t WHERE len(toks) >= 3)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT d1, d2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
)
"""


@register(
    "dedup_exact",
    oracle="""
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
       min(doc_id) AS rep_id,
       CAST(count(*) AS BIGINT) AS n_dups
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized text."""
    return dedup.exact_dedup(_load(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    oracle=f"WITH {_SHINGLE_CTES} SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.8",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at threshold 0.8."""
    return dedup.ngram_jaccard_pairs(_load(spark, sf_dir, "documents"), k=3, threshold=0.8)


# Skew-guarded twin: shingles in more than DF_CAP documents are dropped
# BEFORE the self-join (dedup.ngram_jaccard_pairs df_cap — the web-dedup
# stopword-run mitigation; a shingle in 1M docs emits 10^12 join rows).
# Jaccard is then over the capped shingle sets in BOTH engines.
DF_CAP = 20

_SHINGLE_CTES_CAPPED = f"""
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t WHERE len(toks) >= 3)
),
sh AS (
  SELECT doc_id, shingle FROM sh_all
  QUALIFY count(*) OVER (PARTITION BY shingle) <= {DF_CAP}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT d1, d2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
)
"""


@register(
    "dedup_ngram_jaccard_capped",
    oracle=f"WITH {_SHINGLE_CTES_CAPPED} SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.8",
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df_cap skew guard as a verified query: 3-gram Jaccard at 0.8
    over shingle sets with document frequency capped at DF_CAP (the
    left-anti hot-shingle drop in dedup.ngram_jaccard_pairs:127-129)."""
    return dedup.ngram_jaccard_pairs(
        _load(spark, sf_dir, "documents"), k=3, threshold=0.8, df_cap=DF_CAP
    )


def _band_filter_ctes(band_cap: int | None, auto_cap: tuple[int, int] | None,
                      work_factor: int = 16) -> str:
    """The ``banded`` CTE (plus helpers) for the minhash oracle: uncapped,
    statically capped, or occupancy-auto-capped. The auto-cap rule is the
    TWO-LEVEL cap in exact integer arithmetic — lower-median via the
    cumulative histogram, work cap = largest occupancy whose cumulative
    nbands*bc^2 stays within ``work_factor`` times the total banded rows —
    replaying operators/dedup_autocap.median_cap + work_budget_cap to the
    bit. ``work_factor`` MUST match the operator's work_factor argument
    (both default 16) or the replay-to-the-bit contract breaks."""
    if auto_cap is not None:
        floor_, factor = auto_cap
        return f"""occ AS (SELECT count(*) AS bc FROM banded0 GROUP BY band_key),
hist AS (SELECT bc, count(*) AS nbands FROM occ GROUP BY bc),
cum AS (SELECT bc, sum(nbands) OVER (ORDER BY bc) AS cumb,
               sum(nbands::HUGEINT * bc * bc) OVER (ORDER BY bc) AS cumj
        FROM hist),
nbt AS (SELECT sum(nbands) AS nb, sum(nbands::HUGEINT * bc) AS total_rows FROM hist),
med AS (SELECT min(bc) AS m FROM cum, nbt WHERE cumb >= (nb + 1) // 2),
wc AS (SELECT max(bc) AS w FROM cum, nbt WHERE cumj <= {work_factor} * total_rows),
capv AS (SELECT greatest({floor_}, least({factor} * m, coalesce(w, 0))) AS cap FROM med, wc),
banded AS (
  SELECT doc_id, band_key FROM banded0
  QUALIFY count(*) OVER (PARTITION BY band_key) <= (SELECT cap FROM capv)
),"""
    if band_cap is not None:
        return (
            "banded AS (SELECT doc_id, band_key FROM banded0 QUALIFY "
            f"count(*) OVER (PARTITION BY band_key) <= {band_cap}),"
        )
    return "banded AS (SELECT doc_id, band_key FROM banded0),"


# Auto-capped shingle CTEs: document frequency capped at the derived
# TWO-LEVEL cap — max(floor, min(4 * lower-median DF, work-budget cap))
# (replays operators/dedup_autocap.median_cap AND work_budget_cap to the
# bit — exact integer histogram arithmetic; the work cap is the largest
# df whose cumulative nkeys*df^2 stays within work_factor times the total
# shingle rows; work_factor MUST match the operator argument, both
# default 16), Jaccard over the capped sets.
def _shingle_ctes_autocap(work_factor: int = 16) -> str:
    return f"""
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t WHERE len(toks) >= 3)
),
freq AS (SELECT shingle, count(*) AS df FROM sh_all GROUP BY shingle),
fhist AS (SELECT df, count(*) AS nkeys FROM freq GROUP BY df),
fcum AS (SELECT df, sum(nkeys) OVER (ORDER BY df) AS cumb,
                sum(nkeys::HUGEINT * df * df) OVER (ORDER BY df) AS cumj
         FROM fhist),
fnbt AS (SELECT sum(nkeys) AS nb, sum(nkeys::HUGEINT * df) AS total_rows FROM fhist),
fmed AS (SELECT min(df) AS m FROM fcum, fnbt WHERE cumb >= (nb + 1) // 2),
fwc AS (SELECT max(df) AS wc FROM fcum, fnbt WHERE cumj <= {work_factor} * total_rows),
fcapv AS (SELECT greatest(8, least(4 * m, coalesce(wc, 0))) AS cap FROM fmed, fwc),
sh AS (
  SELECT s.doc_id, s.shingle
  FROM sh_all s JOIN freq f ON s.shingle = f.shingle, fcapv
  WHERE f.df <= fcapv.cap
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT d1, d2, CAST(c AS DOUBLE) / (s1.n + s2.n - c) AS jaccard
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
)
"""


@register(
    "dedup_ngram_autocap",
    oracle=f"WITH {_shingle_ctes_autocap()} SELECT d1, d2, jaccard FROM jac WHERE jaccard >= 0.8",
)
def dedup_ngram_autocap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df_cap auto-derived twin of dedup_ngram_jaccard_capped: shingle
    document frequency capped at max(8, 4 * lower-median DF) measured from
    the data (operators/dedup_autocap.ngram_jaccard_pairs_autocap) — no
    static knob; the degenerate-vocabulary regime caps itself. The oracle
    replays the histogram-median arithmetic and the capped-set Jaccard."""
    return dedup_autocap.ngram_jaccard_pairs_autocap(
        _load(spark, sf_dir, "documents"), k=3, threshold=0.8,
        cap_floor=8, cap_factor=4,
    )


def _minhash_oracle(
    num_hashes: int = 16,
    bands: int = 8,
    band_cap: int | None = None,
    auto_cap: tuple[int, int] | None = None,
    bench_mod: int | None = None,
    work_factor: int = 16,
) -> str:
    """``bench_mod`` switches the candidate stage to the DIRECTIONAL
    corpus-vs-benchmark form (benchmark = doc_id % bench_mod == 0) used
    by corpus_decontaminate_fuzzy: same signatures, same band keys, same
    exact-Jaccard verify — only the pair universe changes."""
    rows = num_hashes // bands
    # affine permutations over one md5-derived base hash (matches
    # textops.minhash_affine — same literal coefficients and modulus)
    from hadoop_1_spark.operators.textops import MINHASH_P, minhash_coeffs

    mins = ",\n    ".join(
        f"min(({a} * hm + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    band_keys = ", ".join(
        "md5('{b}' || ',' || {parts})".format(
            b=b,
            parts=" || ',' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows)),
        )
        for b in range(bands)
    )
    return f"""
WITH {_SHINGLE_CTES},
hashed AS (
  SELECT doc_id, ('0x' || substr(md5('0:' || shingle), 1, 15))::BIGINT % {MINHASH_P} AS hm
  FROM sh
),
mins AS (
  SELECT doc_id,
    {mins}
  FROM hashed GROUP BY doc_id
),
banded0 AS (SELECT doc_id, unnest([{band_keys}]) AS band_key FROM mins),
{_band_filter_ctes(band_cap, auto_cap, work_factor)}
cand AS (
  {"SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2"
   " FROM banded x JOIN banded y ON x.band_key = y.band_key"
   f" AND x.doc_id % {bench_mod} <> 0 AND y.doc_id % {bench_mod} = 0"
   if bench_mod is not None else
   "SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2"
   " FROM banded x JOIN banded y ON x.band_key = y.band_key AND x.doc_id < y.doc_id"}
)
{f"SELECT cand.d1 AS doc_id, cand.d2 AS bench_id, jac.jaccard"
 f" FROM cand JOIN jac ON jac.d1 = least(cand.d1, cand.d2)"
 f" AND jac.d2 = greatest(cand.d1, cand.d2)"
 if bench_mod is not None else
 "SELECT cand.d1, cand.d2, jac.jaccard"
 " FROM cand JOIN jac ON cand.d1 = jac.d1 AND cand.d2 = jac.d2"}
WHERE jac.jaccard >= 0.8
"""


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(8 bands x 2 rows) candidates, exact-Jaccard
    verified at 0.8. The oracle replicates the full LSH pipeline (same md5
    band keys), so candidate-set equality is part of the check."""
    return dedup.minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), k=3, num_hashes=16, bands=8, threshold=0.8
    )


BAND_CAP = 2  # sf0.01 band sizes top out at 3 — cap 2 exercises the guard


@register("dedup_minhash_lsh_capped", oracle=_minhash_oracle(band_cap=BAND_CAP))
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-band skew-guarded twin of dedup_minhash_lsh (band_cap=2):
    bands shared by more than cap docs are dropped before the self-join,
    bounding the worst-case candidate blowup a degenerate band (mass
    boilerplate) causes at scale — the band-join analog of the
    df_cap-guarded Jaccard twin. The oracle replays the cap."""
    return dedup.minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), k=3, num_hashes=16, bands=8,
        threshold=0.8, band_cap=BAND_CAP,
    )


@register("dedup_minhash_autocap", oracle=_minhash_oracle(auto_cap=(8, 4)))
def dedup_minhash_autocap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occupancy-auto-capped MinHash-LSH (operators/dedup_autocap.py): the
    hot-band cap is derived in-plan from the measured occupancy
    distribution — the TWO-LEVEL rule max(8, min(4 * lower-median
    occupancy, work-budget cap)), median over BANDS so hot bands cannot
    inflate their own cap, work cap bounding the admitted band join to
    16x the banded rows (r12, same rule as dedup_ngram_autocap) —
    instead of passed as a static knob, so the path degrades gracefully
    on degenerate vocabularies AND mostly-duplicate corpora. On this
    corpus (max band occupancy 3 < floor 8) the result is bit-identical
    to dedup_minhash_lsh; the oracle replays the histogram arithmetic
    exactly."""
    return dedup_autocap.minhash_lsh_pairs_autocap(
        _load(spark, sf_dir, "documents"), k=3, num_hashes=16, bands=8,
        threshold=0.8, cap_floor=8, cap_factor=4,
    )


def _simhash_oracle(max_hamming: int = 3) -> str:
    bands = ", ".join(
        f"'{b}' || ':' || ((simhash >> {b * dedup.SIMHASH_BAND_BITS}) & {(1 << dedup.SIMHASH_BAND_BITS) - 1})::VARCHAR"
        for b in range(dedup.SIMHASH_BANDS)
    )
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS token FROM t),
th AS (SELECT doc_id, ('0x' || substr(md5('0:' || token), 1, 15))::BIGINT AS h FROM tok),
bits AS (
  SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS c
  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
),
s AS (SELECT doc_id, b, sum(c) AS s FROM bits GROUP BY 1, 2),
sh64 AS (
  SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END) AS simhash
  FROM s GROUP BY doc_id
),
banded AS (SELECT doc_id, simhash, unnest([{bands}]) AS band_key FROM sh64),
cand AS (
  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2, x.simhash AS h1, y.simhash AS h2
  FROM banded x JOIN banded y ON x.band_key = y.band_key AND x.doc_id < y.doc_id
)
SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INT) AS hamming
FROM cand
WHERE CAST(bit_count(xor(h1, h2)) AS INT) <= {max_hamming}
"""


@register("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 60-bit token simhash, 4x15-bit band
    candidates, hamming <= 3."""
    return dedup.simhash_pairs(_load(spark, sf_dir, "documents"), max_hamming=3)


_COSINE_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         {folds.norm_duck("embedding")} AS nrm
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2, a.embedding AS v1, b.embedding AS v2,
         a.nrm AS n1, b.nrm AS n2
  FROM e a JOIN e b ON a.vec_id < b.vec_id
),
c AS (
  SELECT d1, d2, round(({folds.dot_duck("v1", "v2", 64)}) / (n1 * n2), 9) AS cosine
  FROM p
)
SELECT d1, d2, cosine FROM c WHERE cosine >= 0.45
"""


@register("dedup_embedding_cosine", oracle=_COSINE_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at threshold 0.45: per-vector norms
    and pair dots are the fixed-order double folds (folds.NORM /
    folds.DOT_FOLD; the oracle replays folds.norm_duck / folds.dot_duck),
    rounded to 9 places."""
    return dedup.embedding_cosine_pairs(_load(spark, sf_dir, "embeddings"), threshold=0.45)


def _embedding_lsh_oracle(bands: int = 4, bits: int = 4) -> str:
    bucket_cols = ",\n       ".join(
        f"{folds.bucket_duck('embedding', folds.hyperplane_signs(bits, seed=100 + b))} AS b{b}"
        for b in range(bands)
    )
    band_list = ", ".join(f"'{b}' || ':' || b{b}::VARCHAR" for b in range(bands))
    return f"""
WITH e AS (
  SELECT vec_id, embedding,
       {folds.norm_duck("embedding")} AS nrm,
       {bucket_cols}
  FROM embeddings
),
banded AS (SELECT vec_id, unnest([{band_list}]) AS bucket FROM e),
cand AS (
  SELECT DISTINCT x.vec_id AS d1, y.vec_id AS d2
  FROM banded x JOIN banded y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
),
c AS (
  SELECT d1, d2,
         round(({folds.dot_duck("e1.embedding", "e2.embedding", 64)}) / (e1.nrm * e2.nrm), 9) AS cosine
  FROM cand JOIN e e1 ON d1 = e1.vec_id JOIN e e2 ON d2 = e2.vec_id
)
SELECT d1, d2, cosine FROM c WHERE cosine >= 0.45
"""


@register("dedup_embedding_lsh", oracle=_embedding_lsh_oracle())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: banded hyperplane-LSH candidates
    (4 bands x 4 bits, OR-of-ANDs) verified with the exact fixed-order
    cosine at 0.45. The oracle replicates bucket assignment AND verify, so
    the candidate set itself is checked."""
    return dedup.embedding_lsh_pairs(
        _load(spark, sf_dir, "embeddings"), threshold=0.45, bands=4, bits=4
    )


def _clusters_oracle() -> str:
    """Recursive min-label closure over the (already-verified) minhash
    pair list: cluster = min doc id reachable through pair edges."""
    return f"""
WITH RECURSIVE pairs AS (SELECT d1, d2 FROM ({_minhash_oracle()})),
e AS (SELECT d1 AS v, d2 AS w FROM pairs UNION SELECT d2, d1 FROM pairs),
walk(v, l) AS (
  SELECT v, v FROM (SELECT DISTINCT v FROM e) t
  UNION
  SELECT e.v, w.l FROM e JOIN walk w ON e.w = w.v
)
SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS cluster FROM walk GROUP BY v
"""


@register("dedup_clusters", oracle=_clusters_oracle())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved to connected components: every doc that
    appears in a verified MinHash-LSH pair, labeled with its cluster
    representative (min reachable doc id). Keeping rows where
    doc_id == cluster dedups per CLUSTER — correct on chains (a-b, b-c),
    where per-pair dropping is not. Oracle = recursive min-label closure
    over the same pair list."""
    pairs = dedup.minhash_lsh_pairs(
        _load(spark, sf_dir, "documents"), k=3, num_hashes=16, bands=8, threshold=0.8
    )
    return dedup.connected_components(pairs).select(
        F.col("v").alias("doc_id"), "cluster"
    )


@register(
    "dedup_span_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+4], ' ')) AS h
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
        FROM t WHERE len(toks) >= 5)
),
hd AS (SELECT h, doc_id, count(*) AS cnt FROM s GROUP BY 1, 2),
nd AS (SELECT h, count(*) AS n_docs FROM hd GROUP BY 1),
pd AS (
  SELECT doc_id, sum(cnt) AS n_spans,
         sum(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS n_dup
  FROM hd JOIN nd USING (h) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_spans,
       CAST(CASE WHEN coalesce(n_spans, 0) = 0 THEN 0
                 ELSE (n_dup * 1000000) // n_spans END AS BIGINT) AS dup_frac_q6
FROM documents d LEFT JOIN pd USING (doc_id)
""",
)
def dedup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring-dedup signal: per-document fraction of 5-token
    rolling spans that appear verbatim in another document (Lee et al.
    2022's duplicated-substring metric, fixed-window approximation) —
    the boilerplate/contamination trim knob of a pretraining pipeline.
    See dedup.duplicated_span_stats for the 3-exchange shape."""
    return dedup.duplicated_span_stats(_load(spark, sf_dir, "documents"), k=5)


def _incremental_oracle(
    batch: str = "src7", num_hashes: int = 16, bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """Replays dedup.incremental_dedup end-to-end: exact-hash membership +
    batch min-id representative + DIRECTIONAL minhash band candidates
    (batch x snapshot) verified by exact cross-split Jaccard."""
    rows = num_hashes // bands
    from hadoop_1_spark.operators.textops import MINHASH_P, minhash_coeffs

    mins = ",\n    ".join(
        f"min(({a} * hm + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    band_keys = ", ".join(
        "md5('{b}' || ',' || {parts})".format(
            b=b,
            parts=" || ',' || ".join(f"h{b * rows + r}::VARCHAR" for r in range(rows)),
        )
        for b in range(bands)
    )
    norm = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"

    def side(tag: str, pred: str) -> str:
        return f"""t_{tag} AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents WHERE {pred}
),
sh_{tag} AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM t_{tag} WHERE len(toks) >= 3)
),
hashed_{tag} AS (
  SELECT doc_id, ('0x' || substr(md5('0:' || shingle), 1, 15))::BIGINT % {MINHASH_P} AS hm
  FROM sh_{tag}
),
mins_{tag} AS (SELECT doc_id, {mins} FROM hashed_{tag} GROUP BY doc_id),
banded_{tag} AS (SELECT doc_id, unnest([{band_keys}]) AS band_key FROM mins_{tag}),
sizes_{tag} AS (SELECT doc_id, count(*) AS n FROM sh_{tag} GROUP BY doc_id)"""

    return f"""
WITH {side("new", f"source = '{batch}'")},
{side("snap", f"source <> '{batch}'")},
nh AS (SELECT doc_id, {norm} AS th FROM documents WHERE source = '{batch}'),
snap_h AS (SELECT DISTINCT {norm} AS th FROM documents WHERE source <> '{batch}'),
minid AS (SELECT th, min(doc_id) AS mid FROM nh GROUP BY 1),
cand AS (
  SELECT DISTINCT x.doc_id AS dn, y.doc_id AS ds
  FROM banded_new x JOIN banded_snap y USING (band_key)
),
inter AS (
  SELECT a.doc_id AS dn, b.doc_id AS ds, count(*) AS c
  FROM sh_new a JOIN sh_snap b ON a.shingle = b.shingle
  GROUP BY 1, 2
),
near AS (
  SELECT DISTINCT cand.dn
  FROM cand JOIN inter ON cand.dn = inter.dn AND cand.ds = inter.ds
  JOIN sizes_new s1 ON cand.dn = s1.doc_id
  JOIN sizes_snap s2 ON cand.ds = s2.doc_id
  WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {threshold}
)
SELECT n.doc_id,
       CAST(CASE WHEN sh.th IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_snap,
       CAST(CASE WHEN n.th IS NOT NULL AND n.doc_id <> m.mid THEN 1 ELSE 0 END AS INT) AS exact_batch,
       CAST(CASE WHEN nr.dn IS NOT NULL THEN 1 ELSE 0 END AS INT) AS near_snap,
       CAST(CASE WHEN sh.th IS NULL AND (n.th IS NULL OR n.doc_id = m.mid)
                  AND nr.dn IS NULL
                 THEN 1 ELSE 0 END AS INT) AS keep
FROM nh n
LEFT JOIN snap_h sh USING (th)
LEFT JOIN minid m USING (th)
LEFT JOIN near nr ON n.doc_id = nr.dn
"""


@register("dedup_incremental", oracle=_incremental_oracle())
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit the src7 batch against the rest of the corpus as snapshot:
    exact-hash membership, within-batch representative rule, and a
    DIRECTIONAL MinHash-LSH near-dup check (batch x snapshot only — the
    snapshot is never self-joined), flags per incoming doc. The oracle
    replays the full pipeline including the band-candidate restriction."""
    docs = _load(spark, sf_dir, "documents")
    return dedup.incremental_dedup(
        docs.where(F.col("source") == "src7"),
        docs.where(F.col("source") != "src7"),
        k=3, num_hashes=16, bands=8, threshold=0.8,
    )


WINNOW_MIN_SHARED = 10


def _winnow_overlap_oracle() -> str:
    from hadoop_1_spark.operators.textops import winnow_oracle_sql

    return f"""
WITH f AS ({winnow_oracle_sql(_TOKS, k=3, w=4)}),
d AS (SELECT DISTINCT doc_id, fp FROM f)
SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS shared_fps
FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


@register("dedup_winnow_overlap", oracle=_winnow_overlap_oracle())
def dedup_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs: documents sharing >= 10 winnowing
    fingerprints — the deterministic substring-overlap companion to the
    probabilistic MinHash candidates (planted near-dups share 17-41 fps
    at sf0.01; the background tops out well below 10)."""
    return dedup.winnow_overlap_pairs(
        _load(spark, sf_dir, "documents"), k=3, w=4,
        min_shared=WINNOW_MIN_SHARED,
    )


FUZZY_DIST = 5
FUZZY_PREFIX = 40


@register(
    "dedup_fuzzy_titles",
    oracle=f"""
WITH d AS (SELECT doc_id, substr(text, 1, {FUZZY_PREFIX}) AS t,
                  split_part(text, ' ', 1) AS blk
           FROM documents WHERE text IS NOT NULL)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.t, b.t) AS INT) AS dist
FROM d a JOIN d b
  ON a.blk = b.blk AND a.doc_id < b.doc_id
 AND abs(length(a.t) - length(b.t)) <= {FUZZY_DIST}
WHERE levenshtein(a.t, b.t) <= {FUZZY_DIST}
""",
)
def dedup_fuzzy_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant near-dup pairs on document title prefixes (first 40
    chars), blocked by leading token, exact Levenshtein <= 5 — the
    character-level member of the dedup family (shingle/minhash misses
    single-character edits inside words; edit distance is built for
    them). Fixed-width comparator + length-difference lower-bound
    prefilter keep per-pair cost bounded."""
    docs = _load(spark, sf_dir, "documents")
    return linkage.blocked_levenshtein_pairs(
        docs, "doc_id", F.col("text"),
        block=F.split_part(F.col("text"), F.lit(" "), F.lit(1)),
        max_dist=FUZZY_DIST, prefix_len=FUZZY_PREFIX,
    )


def _survivorship_oracle() -> str:
    return f"""
WITH cl AS ({_clusters_oracle()}),
m AS (
  SELECT cl.cluster, cl.doc_id AS v, CAST(d.n_chars AS BIGINT) AS q,
         row_number() OVER (PARTITION BY cl.cluster
                            ORDER BY d.n_chars DESC, cl.doc_id ASC) AS rn
  FROM cl JOIN documents d ON cl.doc_id = d.doc_id
)
SELECT cluster,
       max(CASE WHEN rn = 1 THEN v END) AS survivor_id,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(CASE WHEN rn = 1 THEN q END) AS BIGINT) AS kept_q,
       CAST(sum(CASE WHEN rn > 1 THEN q ELSE 0 END) AS BIGINT) AS dropped_q
FROM m GROUP BY cluster
"""


@register("dedup_survivorship", oracle=_survivorship_oracle())
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster election: each MinHash near-dup cluster collapsed to its
    canonical document (longest text wins, lowest id breaks ties), with
    member counts and the kept/dropped character mass a curation run
    audits. Completes the dedup pipeline: pairs (LSH) -> clusters
    (connected components) -> one survivor per cluster."""
    docs = _load(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, k=3, num_hashes=16, bands=8, threshold=0.8)
    clusters = dedup.connected_components(pairs)
    return dedup.survivorship(clusters, docs, "doc_id", F.col("n_chars"))


@register(
    "dedup_fuzzy_titles_fine",
    oracle=f"""
WITH d AS (SELECT doc_id, substr(text, 1, {FUZZY_PREFIX}) AS t,
                  split_part(text, ' ', 1) || '|' || split_part(text, ' ', 2) AS blk
           FROM documents WHERE text IS NOT NULL)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.t, b.t) AS INT) AS dist
FROM d a JOIN d b
  ON a.blk = b.blk AND a.doc_id < b.doc_id
 AND abs(length(a.t) - length(b.t)) <= {FUZZY_DIST}
WHERE levenshtein(a.t, b.t) <= {FUZZY_DIST}
""",
)
def dedup_fuzzy_titles_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-block scale twin of dedup_fuzzy_titles: blocking on the
    first TWO tokens divides block sizes by the second-token vocabulary,
    which divides the quadratic pair count by its square — the
    entity_match_parts_fine lever applied to edit-distance matching
    (measured: coarse 46.5x vs fine ~2x on 10x data). The recall
    bargain: a typo INSIDE the first two tokens moves the pair out of
    the block; run both passes and union for recall (standard
    multi-pass blocking)."""
    docs = _load(spark, sf_dir, "documents")
    return linkage.blocked_levenshtein_pairs(
        docs, "doc_id", F.col("text"),
        block=F.concat_ws(
            "|",
            F.split_part(F.col("text"), F.lit(" "), F.lit(1)),
            F.split_part(F.col("text"), F.lit(" "), F.lit(2)),
        ),
        max_dist=FUZZY_DIST, prefix_len=FUZZY_PREFIX,
    )


@register(
    "dedup_prefix_filter",
    oracle=f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (
  SELECT DISTINCT doc_id AS id, array_to_string(toks[i:i+2], ' ') AS tk
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        FROM t WHERE len(toks) >= 3)
),
dfreq AS (SELECT tk, count(*) AS df FROM tok GROUP BY 1),
sz AS (SELECT id, count(*) AS n FROM tok GROUP BY 1),
r AS (
  SELECT tok.id, tok.tk, sz.n,
         row_number() OVER (PARTITION BY tok.id ORDER BY dfreq.df, tok.tk) AS rn
  FROM tok JOIN dfreq USING (tk) JOIN sz ON tok.id = sz.id
),
pre AS (SELECT id, tk, n FROM r WHERE rn <= n - (3 * n + 4) // 5 + 1),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb
  FROM pre a JOIN pre b ON a.tk = b.tk AND a.id < b.id
),
i AS (
  SELECT c.id_a, c.id_b, c.na, c.nb, count(*) AS inter
  FROM cand c
  JOIN tok x ON x.id = c.id_a
  JOIN tok y ON y.id = c.id_b AND y.tk = x.tk
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       CAST((inter * 1000000) // (na + nb - inter) AS BIGINT) AS jaccard_q6
FROM i
WHERE inter * 5 >= (na + nb - inter) * 3
""",
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-Jaccard >= 3/5 self-join via prefix filtering: the
    no-false-negative scale path (MinHash trades recall; this trades
    nothing — only pairs sharing a rarest-first prefix shingle are ever
    compared, and the threshold theorem proves that covers every
    qualifying pair). Prefix lengths use exact rational arithmetic
    ((3n+4) div 5), so the candidate SET itself — not just the output —
    is engine-identical. Shingles, not tokens: token sets saturate on
    this corpus's ~30-word vocabulary."""
    docs = _load(spark, sf_dir, "documents")
    sh = textops.shingles(docs, k=3, distinct=False)  # operator dedups
    return dedup.prefix_filter_jaccard_pairs(
        sh, "doc_id", "shingle", t_num=3, t_den=5
    )


CONTAIN_T = 0.5


@register(
    "dedup_containment",
    oracle=f"""
WITH {_SHINGLE_CTES},
cont AS (
  SELECT d1 AS src, d2 AS dst, CAST(c AS DOUBLE) / s1.n AS containment
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id
  UNION ALL
  SELECT d2 AS src, d1 AS dst, CAST(c AS DOUBLE) / s2.n AS containment
  FROM inter JOIN sizes s2 ON d2 = s2.doc_id
)
SELECT src, dst, containment FROM cont WHERE containment >= {CONTAIN_T}
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed n-gram CONTAINMENT pairs at threshold 0.5 — the
    asymmetric twin of dedup_ngram_jaccard: containment(src -> dst) =
    |S_src ∩ S_dst| / |S_src| finds quotes/boilerplate/subset
    duplicates Jaccard structurally misses when sizes differ (a short
    doc quoted in a long one has Jaccard ~|src|/|dst| but containment
    ~1). The intersection is computed once per unordered pair; both
    directions are emitted and thresholded. See
    dedup.containment_pairs (df_cap is the same skew guard as the
    Jaccard path)."""
    return dedup.containment_pairs(
        _load(spark, sf_dir, "documents"), k=3, threshold=CONTAIN_T
    )


@register(
    "dedup_sentences",
    oracle="""
WITH s0 AS (
  SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s FROM documents
),
sn AS (
  SELECT DISTINCT doc_id,
         md5(trim(regexp_replace(lower(s), '\\s+', ' ', 'g'))) AS h
  FROM s0
  WHERE length(trim(regexp_replace(lower(s), '\\s+', ' ', 'g'))) >= 20
),
dps AS (SELECT h, count(*) AS docs FROM sn GROUP BY h),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents,
         CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM sn JOIN dps USING (h) GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(per.n_sents, 0) AS n_sents,
       coalesce(per.n_dup, 0) AS n_dup,
       (coalesce(per.n_dup, 0) * 2 >= greatest(coalesce(per.n_sents, 0), 1)) AS boilerplate
FROM documents d LEFT JOIN per USING (doc_id)
""",
)
def dedup_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level duplication report: per document, how many of its
    distinct normalized sentences (>= 20 chars) occur in at least one
    other document; boilerplate = exact cross-multiplied >= 50% cut.
    Never a self-join — sentence identity is exact md5 equality, so the
    duplication count is one groupBy on the hash. See
    dedup.sentence_dedup_stats."""
    return dedup.sentence_dedup_stats(_load(spark, sf_dir, "documents"))


@register(
    "dedup_containment_capped",
    oracle=f"""
WITH {_SHINGLE_CTES_CAPPED},
cont AS (
  SELECT d1 AS src, d2 AS dst, CAST(c AS DOUBLE) / s1.n AS containment
  FROM inter JOIN sizes s1 ON d1 = s1.doc_id
  UNION ALL
  SELECT d2 AS src, d1 AS dst, CAST(c AS DOUBLE) / s2.n AS containment
  FROM inter JOIN sizes s2 ON d2 = s2.doc_id
)
SELECT src, dst, containment FROM cont WHERE containment >= {CONTAIN_T}
""",
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df_cap skew-guarded containment twin (same arrangement as
    dedup_ngram_jaccard / _capped): shingles in more than DF_CAP
    documents are dropped before the self-join, so the pair count stays
    bounded on degenerate vocabularies — the variant to gate/run at
    scale, while dedup_containment is the exact baseline. Sizes are the
    CAPPED set sizes in both engines (the _capped Jaccard convention),
    so the two engines replay the identical statistic."""
    return dedup.containment_pairs(
        _load(spark, sf_dir, "documents"), k=3, threshold=CONTAIN_T, df_cap=DF_CAP
    )
