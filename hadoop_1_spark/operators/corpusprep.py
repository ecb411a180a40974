"""Training-corpus preparation operators (north-star extensions beyond the
reference surface, alongside dedup/similarity/textops): deterministic
train/valid/test splitting, fixed-budget sequence packing, and benchmark
decontamination — the operations a large-scale pretraining-data pipeline
runs after cleaning and before tokenizer/training shards are written.

There is no reference analog (Hadoop 1 ships no corpus tooling); the
nearest primitives are the deterministic sampling filters
(mapred/SequenceFileInputFilter.java MD5Filter — the md5-bucket idiom
reused here) and TotalOrderPartitioner-style range sharding.

Scale notes (100 TB design intent):
- hash_split is a pure narrow projection — no shuffle, no RNG state; the
  split of any document is reproducible from its id alone, so reruns,
  backfills, and multi-site pipelines agree without coordination.
- pack_bins shuffles once on the shard key; the per-shard window sort is
  the same per-reducer sorted iteration every MapReduce reduce performs.
  Shard count scales with data volume (thousands at 100 TB), bounding
  each window's partition to a reducer-sized slice.
- decontaminate broadcasts the benchmark shingle set (benchmarks are
  tiny relative to the corpus — MBs against TBs), so the corpus side
  stays a narrow scan + broadcast-hash semi-join: no corpus shuffle at
  all until the per-doc count aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hadoop_1_spark.operators.sampling import md5_mod
from hadoop_1_spark.operators import folds, textops


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[tuple[str, int], ...] = (("train", 80), ("valid", 10), ("test", 10)),
) -> DataFrame:
    """Deterministic stratified split: md5-bucket the id into 100 cells and
    carve them by cumulative weight (e.g. 80/10/10). Adds a ``split``
    column; engine-portable (md5 hex arithmetic, see sampling.md5_mod)."""
    total = sum(w for _, w in weights)
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    bucket = md5_mod(F.col(id_col), 100)
    expr: Column | None = None
    acc = 0
    cases = []
    for name, w in weights:
        acc += w
        cases.append((acc, name))
    expr = F.when(bucket < cases[0][0], cases[0][1])
    for hi, name in cases[1:-1]:
        expr = expr.when(bucket < hi, name)
    expr = expr.otherwise(cases[-1][1])
    return df.withColumn("split", expr)


def pack_bins(
    df: DataFrame,
    token_col: str,
    budget: int,
    shards: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-budget sequence packing: assign documents to training bins of
    ~``budget`` tokens. Documents are sharded by md5(id) % shards; within a
    shard (ordered by id) a document's bin is floor(exclusive-prefix-sum /
    budget) — the streaming one-pass packing rule, so a bin's token total
    exceeds the budget by at most its last document's length (real
    pipelines truncate/pad that tail at tokenization time). A document
    longer than the budget consumes several budgets' worth of prefix, so
    bin indices may SKIP after it (the skipped indices are its overflow);
    within a shard, bins start at 0 and max(bin) <= shard tokens // budget.

    Output: one row per (shard, bin) with n_docs and bin_tokens."""
    shard = md5_mod(F.col(id_col), shards)
    w = Window.partitionBy("shard").orderBy(id_col)
    prefix = F.sum(token_col).over(w) - F.col(token_col)
    return (
        df.withColumn("shard", shard)
        .withColumn("bin", F.floor(prefix / F.lit(budget)))
        .groupBy("shard", "bin")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(token_col).cast("long").alias("bin_tokens"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least one
    k-token shingle with any benchmark document (the n-gram-overlap test
    used to scrub eval sets out of pretraining corpora; k is large enough
    that incidental phrase collisions are rare).

    Returns (id, n_shared) for contaminated docs — n_shared counts the
    distinct shingles of the doc that also occur in the benchmark. Callers
    drop them with a left-anti join on the id.

    The corpus side stays shuffle-free until after the broadcast join:
    shingles are NOT pre-deduped (distinct=False skips a corpus-wide
    shuffle); count_distinct over the joined rows — only the matched,
    contaminated sliver of the corpus — dedups instead."""
    corpus_sh = textops.shingles(
        corpus, k=k, text_col=text_col, id_col=id_col, distinct=False
    )
    bench_sh = (
        textops.shingles(benchmark, k=k, text_col=text_col, id_col=id_col)
        .select("shingle")
        .distinct()
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("shingle")).cast("long").alias("n_shared"))
    )


def decontaminate_fuzzy(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """FUZZY benchmark decontamination: flag corpus documents whose
    MinHash-LSH-verified Jaccard against ANY benchmark document reaches
    ``threshold`` — the near-duplicate complement of ``decontaminate``
    (exact shingle overlap), for the leak mode exact n-grams miss:
    paraphrased, reformatted, or lightly-edited eval material (the
    fuzzy-dedup-against-eval step public pipeline reports run alongside
    exact n-gram scrubbing). Returns (doc_id, bench_id, jaccard) per
    contaminated (corpus doc, benchmark doc) pair; callers drop doc_ids
    with a left-anti join.

    Scale shape: the benchmark is eval-set-sized (thousands of rows), so
    BOTH its band relation and its signature/hash-set relation broadcast
    — the band join is DIRECTIONAL (corpus x benchmark, same discipline
    as incremental_dedup's batch-vs-snapshot join), candidates scale
    with benchmark occupancy per band, and the corpus is shuffled
    exactly once (the per-doc signature aggregation inside
    minhash_signature_relation). The verify leg is the standard exact
    Jaccard over the 60-bit shingle-hash sets, restricted to the
    candidate sliver."""
    from hadoop_1_spark.operators import dedup

    pd_c, band_c = dedup.minhash_signature_relation(
        corpus, k=k, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    )
    pd_b, band_b = dedup.minhash_signature_relation(
        benchmark, k=k, num_hashes=num_hashes, bands=bands,
        text_col=text_col, id_col=id_col,
    )
    cand = (
        band_c.join(
            F.broadcast(
                band_b.select(F.col(id_col).alias("bench_id"), "band_key")
            ),
            "band_key",
        )
        .select(F.col(id_col), "bench_id")
        .distinct()
    )
    sets_c = pd_c.select(F.col(id_col), F.col("hs").alias("_hs1"))
    sets_b = pd_b.select(F.col(id_col).alias("bench_id"), F.col("hs").alias("_hs2"))
    pairs = (
        cand.join(sets_c, id_col)
        .join(F.broadcast(sets_b), "bench_id")
        .withColumn("_i", F.size(F.array_intersect("_hs1", "_hs2")))
        .select(
            F.col(id_col),
            "bench_id",
            (
                F.col("_i").cast("double")
                / (F.size("_hs1") + F.size("_hs2") - F.col("_i"))
            ).alias("jaccard"),
        )
    )
    return pairs.where(F.col("jaccard") >= threshold)


def decontaminate_semantic(
    emb: DataFrame,
    bench_pred: Column,
    threshold: float = 0.45,
    bands: int = 4,
    min_bits: int = 4,
    max_bits: int = 8,
    target_occupancy: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC benchmark decontamination — the third rung of the
    decontamination ladder (exact shingle ``decontaminate`` -> MinHash
    ``decontaminate_fuzzy`` -> embedding cosine here): flag corpus
    vectors whose exact cosine against ANY benchmark vector reaches
    ``threshold``, with candidates generated by banded random-hyperplane
    LSH (dedup.embedding_lsh_pairs' family and seeds; OR-of-ANDs). This
    is the leak mode token-overlap methods structurally miss: full
    rewrites/translations of eval material that embed close but share
    no n-grams. Returns (vec_id, bench_id, cosine) per contaminated
    pair; callers drop vec_ids with a left-anti join.

    Band WIDTH is derived in-plan from the corpus size — the
    knn_graph_auto rule (folds.occupancy_nbits: smallest b in
    [min_bits, max_bits] with 2^b * target >= n, exact integer CASE
    chain) — so expected per-band candidates stay ~bands * target *
    |benchmark| instead of growing with corpus x benchmark occupancy
    (measured at the sf1 probe: fixed 4-bit buckets read 52 s from 12M
    verify pairs; the derived 8-bit width reads ~2 s). ``max_bits``
    CAPS the width because wider AND-keys cost recall on the
    OR-of-ANDs S-curve (p^bits per band): a deployment sizes
    (bands, max_bits) together — more bands buy back the recall wider
    keys spend, at linearly more candidate work. All knobs are exposed;
    the defaults match the fixture oracle.

    Scale shape: each side is scanned ONCE with the benchmark predicate
    pushed into the scan, and the Arrow hyperplane projection runs only
    on its own side's rows; the benchmark is eval-set-sized so its
    banded relation BROADCASTS — the corpus is never shuffled (the band
    join is a broadcast hash join on the bucket; the width relation is
    a broadcast 1-row count), and the only exchange is the distinct
    over surviving pairs. Verify is the exact fixed-order DOT_FOLD
    cosine inline on the join output, as in embedding_lsh_pairs."""
    all_signs = [
        row
        for b in range(bands)
        for row in folds.hyperplane_signs(max_bits, seed=100 + b)
    ]
    nbits = folds.occupancy_nbits("_cnt", target_occupancy, min_bits, max_bits)
    nrel = emb.agg(F.count(F.lit(1)).alias("_cnt")).select(
        F.expr(f"cast({nbits} as int)").alias("_nbits")
    )

    def side(pred: Column, name: str) -> DataFrame:
        pre = emb.where(pred).crossJoin(F.broadcast(nrel)).select(
            F.col(id_col).alias(name),
            F.col(vec_col).alias(f"_v_{name}"),
            folds.project_udf(all_signs)(F.col(vec_col)).alias("_p"),
            "_nbits",
        )
        return pre.select(
            name,
            f"_v_{name}",
            F.col("_p.nrm").alias(f"_n_{name}"),
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            ":",
                            F.lit(str(b)),
                            folds.bucket_from_sums(
                                "_p.sums", b * max_bits, max_bits, "_nbits"
                            ).cast("string"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bucket"),
        )

    corpus = side(~bench_pred, id_col)
    bench = side(bench_pred, "bench_id")
    return (
        corpus.join(F.broadcast(bench), "bucket")
        .select(
            F.col(id_col),
            "bench_id",
            F.round(
                folds.DOT_FOLD(F.col(f"_v_{id_col}"), F.col("_v_bench_id"))
                / (F.col(f"_n_{id_col}") * F.col("_n_bench_id")),
                9,
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank rows inside each
    stratum by (md5(id), id) — a fixed random-looking order any engine
    reproduces — and keep the first k. The deterministic twin of per-key
    reservoir sampling (InputSampler.RandomSampler intent, made
    replayable). One shuffle on the stratum key; per-stratum top-k is
    WindowGroupLimit-pruned (rank <= k pushes into the sort)."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_rk")
    )


def rebalance_by_language(
    labeled: DataFrame,
    targets: dict[str, int],
    id_col: str = "doc_id",
    lang_col: str = "lang_pred",
    mod: int = 1_000_000,
) -> DataFrame:
    """Downsample a language-labeled corpus toward a target language mix —
    the multilingual-rebalancing step of a pretraining pipeline. ``targets``
    maps language -> integer percent (must sum to <= 100). Languages
    outside ``targets`` are dropped; language L keeps
    min(1, pct_L/100 * N / n_L) of its docs (N = total in-scope docs), so
    over-represented languages shrink toward the mix and under-represented
    ones pass through whole.

    The keep rule is EXACT integer arithmetic — doc kept iff
        md5_bucket(id, mod) * n_L * 100 < pct_L * N * mod
    — no floating-point fraction, so any engine replays the same sample.
    Overflow bound: both sides are bounded by 100 * mod * N, so with
    mod = 10^6 the products stay < 2^63 (~9.2e18) for corpora up to
    N ~ 9.2e10 docs; at larger N drop mod to 10^4 (bound ~9.2e12).

    Scale shape: one aggregation for per-language counts (a handful of
    rows), broadcast back; the corpus side is scan -> broadcast join ->
    filter, no corpus-wide shuffle."""
    in_scope = labeled.where(F.col(lang_col).isin(*targets))
    counts = in_scope.groupBy(lang_col).agg(F.count("*").alias("_n"))
    # total over <= len(targets) rows — the unpartitioned window is fine
    counts = counts.withColumn(
        "_total", F.sum("_n").over(Window.partitionBy())
    )
    pct = F.create_map(
        *[x for lang, p in targets.items() for x in (F.lit(lang), F.lit(p))]
    )[F.col(lang_col)]
    bucket = md5_mod(F.col(id_col), mod)
    return (
        in_scope.join(F.broadcast(counts), lang_col)
        .where(bucket * F.col("_n") * F.lit(100) < pct * F.col("_total") * F.lit(mod))
        .drop("_n", "_total")
    )


def chunk_windows(
    df: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    token windows (size ``chunk_size``, step ``stride``) — the complement
    of pack_bins (short docs pack, long docs chunk) in a pretraining prep
    pipeline. Every token is covered when stride <= chunk_size; the last
    window of a doc may be shorter.

    Narrow per-document op: tokens, window starts (sequence with step),
    and slices are all array expressions in one projection — the only
    wide operation is whatever the consumer does next."""
    from hadoop_1_spark.operators.textops import ws_tokens

    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    toks = ws_tokens(F.col(text_col))
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    chunks = F.filter(
        F.transform(
            starts,
            lambda s: F.struct(
                s.alias("start"),
                F.array_join(F.slice(toks, s, chunk_size), " ").alias("chunk"),
                F.size(F.slice(toks, s, chunk_size)).alias("n_tokens"),
            ),
        ),
        lambda c: c["n_tokens"] > 0,
    )
    return (
        df.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "c"))
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.col("c.start").cast("int").alias("start_token"),
            F.col("c.n_tokens").cast("int").alias("n_tokens"),
            F.col("c.chunk").alias("chunk"),
        )
    )


def mix_report(
    df: DataFrame,
    group_cols: list[str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Data-mixture report: per (source, lang) document and token counts
    plus each cell's integer-exact share of the corpus token budget
    (share_q6 = tokens * 1e6 div total) — the observability step before
    rebalance_by_language/stratified_sample decide what to resample.

    Shape: ONE corpus scan computes per-doc token counts in the
    projection; one group aggregation (map-side partial) reduces to the
    |sources| x |langs| cells; the 1-row total broadcasts back. No
    per-doc data crosses the shuffle — only (group, count, tokens)
    partials."""
    gcols = group_cols or ["source", "lang"]
    per_doc = df.select(
        *[F.col(c) for c in gcols],
        F.size(textops.ws_tokens(F.col(text_col))).cast("long").alias("_nt"),
    )
    cells = per_doc.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
    )
    total = cells.agg(F.sum("n_tokens").alias("_total"))
    return cells.crossJoin(F.broadcast(total)).select(
        *[F.col(c) for c in gcols],
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        # zero-token corpus (all-empty texts): shares are 0, not a
        # DIVIDE_BY_ZERO (Spark 4 ANSI) — same guard as span stats
        F.when(F.col("_total") == 0, F.lit(0))
        .otherwise(F.expr("(n_tokens * 1000000) div _total"))
        .cast("long")
        .alias("share_q6"),
    )


def interleave_sources(
    df: DataFrame, source_col: str = "source", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic source-interleaved training order: assign every doc
    a global position such that each source's documents are spread
    evenly across the whole epoch (the data-ordering step of a
    pretraining pipeline — no source forms a contiguous block, so the
    loss curve never sees a distribution cliff).

    Midpoint spacing in exact integers: a source with n_s docs places
    its r-th doc (rank by id within source, 1-based) at key
    ``(2r - 1) * N div (2 * n_s)`` — the r-th of n_s evenly spaced
    midpoints of [0, N). The final position is the global rank over
    (key, source, src_rank), a total order, computed by the distributed
    ``sort.global_rank`` (range shuffle + broadcast offsets — never a
    single-partition window).

    Shape: one window shuffle on source for the per-source rank, a
    broadcast of per-source counts and the corpus total, then the
    global-rank range shuffle. All arithmetic bigint-exact, so the
    ordering is identical in the oracle replay."""
    from hadoop_1_spark.operators import sort as S

    w = Window.partitionBy(source_col).orderBy(id_col)
    ranked = df.select(
        F.col(id_col),
        F.col(source_col),
        F.row_number().over(w).cast("bigint").alias("src_rank"),
    )
    counts = ranked.groupBy(source_col).agg(F.count(F.lit(1)).alias("_ns"))
    total = ranked.agg(F.count(F.lit(1)).alias("_n"))
    keyed = (
        ranked.join(F.broadcast(counts), source_col)
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            source_col,
            "src_rank",
            F.expr("((2 * src_rank - 1) * _n) div (2 * _ns)")
            .cast("bigint")
            .alias("_key"),
        )
    )
    out = S.global_rank(
        keyed, F.col("_key"), F.col(source_col), F.col("src_rank"),
        rank_col="position",
    )
    return out.select(id_col, source_col, "src_rank", F.col("position"))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "doc_id",
    payload_cols: tuple[str, ...] = ("text",),
) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots: full outer
    join on the key, md5 content fingerprints on the payload columns,
    row status in {added, removed, changed, unchanged}. The audit step a
    pipeline runs before re-training on a refreshed crawl — what changed
    since the shards were last cut, and does the delta justify a re-run.

    Scale: ONE key-keyed shuffle (the sort-merge full outer join); the
    fingerprint is a narrow projection computed before the join, so the
    exchange carries (key, 32-hex fp), never the payload. At 100 TB both
    snapshots shuffle — unavoidable for a keyed diff — but bucketing both
    snapshots on the key at write time turns this into a zero-exchange
    zip (see sources.write_bucketed).

    NULL semantics: a NULL payload column fingerprints as the empty
    string via concat_ws (engine-portable; DuckDB's concat_ws agrees),
    so NULL vs '' is NOT distinguished — document-content columns are
    non-null by contract (TESTDATA.md)."""
    fp = F.md5(F.concat_ws("\x1f", *payload_cols))
    o = old.select(F.col(key_col), fp.alias("_fp_old"))
    n = new.select(F.col(key_col), fp.alias("_fp_new"))
    joined = o.join(n, key_col, "full_outer")
    return joined.select(
        key_col,
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


def mix_temperature(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture weights (alpha = 0.5) per corpus
    source — the multilingual-pretraining rebalancing rule (sampling
    probability proportional to share^alpha upweights low-resource
    sources; public practice from the multilingual-LM literature).

    Exact arithmetic contract: shares are integer q6; the alpha=0.5
    power is floor(sqrt(share_q6 * 10^6)) computed with IEEE-double
    sqrt — the DOUBLE is fully determined by IEEE-754 (sqrt is a
    correctly-rounded operation and every input here is < 2^53, so the
    int->double conversion is exact), which makes the floor
    engine-portable even in the boundary case where the rounded sqrt
    lands on an integer; the contract is cross-engine determinism, not
    number-theoretic isqrt. Normalized temperature shares are then an
    exact integer division.

    Shape: one token-count aggregation per group (map-side combined),
    then every derivation runs on the groups-sized relation."""
    toks = docs.select(
        F.col(group_col), F.size(textops.ws_tokens(F.col(text_col))).alias("_n")
    )
    per = toks.groupBy(group_col).agg(F.sum("_n").cast("bigint").alias("n_tokens"))
    totals = per.agg(F.sum("n_tokens").cast("bigint").alias("_total"))
    shared = per.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_tokens",
        F.expr("(n_tokens * 1000000) div _total").cast("bigint").alias("share_q6"),
    )
    weighted = shared.select(
        "*",
        F.floor(F.sqrt(F.col("share_q6") * F.lit(1000000)))
        .cast("bigint")
        .alias("_w"),
    )
    wtot = weighted.agg(F.sum("_w").cast("bigint").alias("_wtot"))
    return weighted.crossJoin(F.broadcast(wtot)).select(
        group_col,
        "n_tokens",
        "share_q6",
        F.expr("(_w * 1000000) div _wtot").cast("bigint").alias("temp_share_q6"),
    )


def dsir_importance(
    docs: DataFrame,
    target: Column,
    n_buckets: int = 1024,
    share: tuple[int, int] = (1, 4),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style data selection (Data Selection with Importance
    Resampling, Xie et al. 2023 — public method): fit hashed-bigram
    bucket LMs on the TARGET slice (``target`` is a boolean Column over
    ``docs``) and on the RAW corpus, score every document by the mean
    Laplace-smoothed bucket probability ratio p_t(b)/p_r(b) over its
    bigrams, and select the top ``share[0]/share[1]`` of documents by
    (importance DESC, id) — the deterministic top-k variant of the
    paper's Gumbel resampling (driver RNG is not oracle-replayable; the
    paper evaluates noise-free top-k selection as a variant).

    Exact integer arithmetic throughout — no logs, no floats (the same
    oracle-ability trade as textops.lm_score, which documents why a
    log/perplexity twin cannot be checked across engines):

    - bucket(b) = shingle_hash(bigram) % n_buckets (md5-derived, both
      engines replay it);
    - per bucket, ratio_q6 = ((c_t+1)(N_r+B) * 10^6) div
      ((c_r+1)(N_t+B)) — the Laplace-smoothed probability ratio in q6
      fixed point, computed in decimal(38,0) so corpus-scale products
      never overflow;
    - per doc, dsir_q6 = mean of ratio_q6 over its bigrams (arithmetic
      mean stands in for the paper's sum-of-logs exactly as lm_score's
      mean inverse probability stands in for perplexity: both are
      monotone in the per-gram ratios and need no logs);
    - selected = global rank by (dsir_q6 DESC, id) * share[1]
      <= n_docs * share[0] — an exact cross-multiplied cut.

    Scale shape at 100 TB: both bucket models are B-row relations ->
    broadcast joins against the exploded gram stream (the corpus is
    never shuffled on grams); per-doc scores are one groupBy on id; the
    only total-order machinery is sort.global_rank's range shuffle over
    the (doc, score) relation — the budget-trim primitive, never a
    single-partition window. The exploded gram relation feeds BOTH the
    model build and the per-doc score join, so it is persisted once
    (the same discipline as dedup.containment_pairs' shingle relation);
    n_docs is a count of the INPUT relation (explode_outer guarantees
    one ``per`` row per doc), never a replay of the gram lineage.

    Input precondition: ``id_col`` must be unique in ``docs`` (one row
    per document). The selection denominator counts input ROWS — the
    registered oracle replays exactly that (count(*) over the table) —
    so duplicated ids would both shrink the effective share (rank rows
    collapse under the groupBy while the denominator keeps the dups)
    and double-count the dup's grams in the raw model. Dedup upstream
    (exact_dedup) before scoring; this operator does not pay a
    count-distinct shuffle to re-check it.
    Reference analog: the md5-bucket sampling discipline of
    SequenceFileInputFilter.MD5Filter
    (mapred/SequenceFileInputFilter.java:242)."""
    from hadoop_1_spark.operators import sort as sortops
    from hadoop_1_spark.operators.caching import persist_tracked as _persist

    B = n_buckets
    toks = F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), textops.TOKEN_RE),
        lambda t: t != F.lit(""),
    )
    grams_arr = F.when(
        F.size(F.col("_t")) >= 2,
        F.expr("transform(sequence(1, size(_t) - 1), "
               "i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"),
    ).otherwise(F.expr("array()"))
    grams = _persist(
        docs.select(F.col(id_col), target.alias("_is_t"), toks.alias("_t"))
        .select(F.col(id_col), "_is_t", F.explode_outer(grams_arr).alias("_g"))
        .select(
            F.col(id_col),
            "_is_t",
            F.when(
                F.col("_g").isNotNull(),
                textops.shingle_hash(F.col("_g"), 0) % B,
            ).alias("_b"),
        )
    )
    raw = grams.where(F.col("_b").isNotNull()).groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cr"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).cast("bigint").alias("_ct"),
    )
    totals = raw.agg(
        F.coalesce(F.sum("_cr"), F.lit(0)).cast("bigint").alias("_nr"),
        F.coalesce(F.sum("_ct"), F.lit(0)).cast("bigint").alias("_nt"),
    )
    model = raw.crossJoin(F.broadcast(totals)).select(
        "_b",
        F.expr(
            f"cast((cast(_ct + 1 as decimal(38,0)) * (_nr + {B}) * 1000000)"
            f" div (cast(_cr + 1 as decimal(38,0)) * (_nt + {B})) as bigint)"
        ).alias("_ratio_q6"),
    )
    per = (
        grams.join(F.broadcast(model), "_b", "left")
        .groupBy(id_col)
        .agg(
            F.count("_b").cast("bigint").alias("n_grams"),
            F.coalesce(F.sum("_ratio_q6"), F.lit(0)).cast("bigint").alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            F.expr("_s div greatest(n_grams, CAST(1 AS BIGINT))")
            .cast("bigint")
            .alias("dsir_q6"),
        )
    )
    ranked = sortops.global_rank(
        per, F.desc("dsir_q6"), F.asc(id_col)
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    return ranked.crossJoin(F.broadcast(n_docs)).select(
        F.col(id_col),
        "n_grams",
        "dsir_q6",
        F.col("rank").cast("bigint").alias("rank"),
        (F.col("rank") * share[1] <= F.col("_n") * share[0]).alias("selected"),
    )
