"""Corpus-cleaning pipeline composition vs composed oracle."""

from __future__ import annotations

from tests.conftest import assert_query_matches_oracle


def test_corpus_clean_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_clean")


def test_corpus_clean_drops_dup_and_offlang(spark):
    from hadoop_1_spark import registry
    from hadoop_1_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").count()
    kept = registry.QUERIES["corpus_clean"](spark, sf)
    rows = kept.collect()
    assert 0 < len(rows) < docs
    assert {r["lang_pred"] for r in rows} <= {"en", "es"}
    assert all(r["quality"] >= 0.5 for r in rows)


def test_hash_split_partitions_every_doc(spark):
    """Split is total, deterministic, and roughly 80/10/10."""
    from hadoop_1_spark.operators import corpusprep
    from hadoop_1_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n = docs.count()
    split = corpusprep.hash_split(docs)
    counts = {r["split"]: r["n"] for r in split.groupBy("split").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("n")
    ).collect()}
    assert sum(counts.values()) == n
    assert set(counts) == {"train", "valid", "test"}
    assert counts["train"] > counts["valid"]
    assert counts["train"] > counts["test"]
    # re-running yields the identical assignment (no RNG anywhere)
    again = {r["split"]: r["n"] for r in corpusprep.hash_split(docs).groupBy(
        "split").count().withColumnRenamed("count", "n").collect()}
    assert again == counts


def test_pack_bins_accounting(spark):
    """Packing conserves docs/tokens; bins are contiguous from 0 per shard
    and only a bin's LAST doc may carry it past the budget (exclusive-
    prefix rule)."""
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import corpusprep, textops
    from hadoop_1_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", F.size(textops.ws_tokens(F.col("text"))).alias("toks")
    )
    budget = 256
    bins = corpusprep.pack_bins(docs, "toks", budget=budget, shards=4).collect()
    totals = docs.agg(F.count("*"), F.sum("toks")).first()
    assert sum(r["n_docs"] for r in bins) == totals[0]
    assert sum(r["bin_tokens"] for r in bins) == totals[1]
    by_shard: dict[int, list] = {}
    for r in bins:
        by_shard.setdefault(r["shard"], []).append(r)
    max_tok = docs.agg(F.max("toks")).first()[0]
    for shard, rows in by_shard.items():
        seq = sorted(r["bin"] for r in rows)
        toks_s = sum(r["bin_tokens"] for r in rows)
        # bins start at 0 and never exceed the token total; indices may
        # skip where one doc spans several budgets
        assert seq[0] == 0 and len(set(seq)) == len(seq), f"shard {shard}"
        assert seq[-1] <= toks_s // budget
        for r in rows:
            assert r["bin_tokens"] < budget + max_tok


def test_decontaminate_flags_planted_near_dups(spark):
    """A doc made of a benchmark doc's text plus noise shares shingles and
    is flagged; an unrelated doc is not."""
    from pyspark.sql import functions as F  # noqa: F401

    from hadoop_1_spark.operators import corpusprep

    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, "prefix words alpha beta gamma delta epsilon more tail"),
            (11, "completely different tokens with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_shared"] for r in corpusprep.decontaminate(corpus, bench, k=5).collect()}
    assert 10 in out and out[10] >= 1
    assert 11 not in out


def test_stratified_and_rebalance_match_oracle(spark, duck):
    for name in ("corpus_sample_stratified", "corpus_rebalance_langs"):
        assert_query_matches_oracle(spark, duck, name)


def test_stratified_sample_exact_k(spark):
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import corpusprep
    from hadoop_1_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "source", "doc_id"
    )
    per = (
        corpusprep.stratified_sample(docs, "source", 3)
        .groupBy("source")
        .count()
        .collect()
    )
    avail = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    assert per
    for r in per:
        assert r["count"] == min(3, avail[r["source"]])
    # deterministic: second run samples the identical ids
    a = sorted(r["doc_id"] for r in corpusprep.stratified_sample(docs, "source", 3).collect())
    b = sorted(r["doc_id"] for r in corpusprep.stratified_sample(docs, "source", 3).collect())
    assert a == b


def test_rebalance_shrinks_overrepresented_only(spark):
    from hadoop_1_spark import registry

    rows = {
        r["lang"]: (r["n_kept"], r["n_total"])
        for r in registry.QUERIES["corpus_rebalance_langs"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    assert set(rows) == {"en", "es", "de"}
    total = sum(t for _, t in rows.values())
    for lang, (kept, tot) in rows.items():
        frac_target = {"en": 0.5, "es": 0.3, "de": 0.2}[lang]
        if tot <= frac_target * total:  # under-represented: passes whole
            assert kept == tot, lang
        else:  # over-represented: strictly downsampled
            assert kept < tot, lang


def test_chunk_windows_coverage_and_overlap(spark):
    from hadoop_1_spark.operators import corpusprep

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = sorted(
        corpusprep.chunk_windows(df, chunk_size=4, stride=3).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    d1 = [r for r in rows if r.doc_id == 1]
    # starts 1,4,7,10 -> windows of 4,4,4,1 tokens
    assert [(r.start_token, r.n_tokens) for r in d1] == [(1, 4), (4, 4), (7, 4), (10, 1)]
    assert d1[0].chunk == "t0 t1 t2 t3" and d1[1].chunk == "t3 t4 t5 t6"
    # stride < size -> every token appears in >= 1 chunk
    covered = {t for r in d1 for t in r.chunk.split()}
    assert covered == {f"t{i}" for i in range(10)}
    d2 = [r for r in rows if r.doc_id == 2]
    assert [(r.start_token, r.n_tokens, r.chunk) for r in d2] == [(1, 2, "a b")]
    assert not [r for r in rows if r.doc_id == 3]  # empty doc -> no chunks


def test_chunk_windows_rejects_bad_params(spark):
    import pytest as _pytest

    from hadoop_1_spark.operators import corpusprep

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        corpusprep.chunk_windows(df, chunk_size=0)
    with _pytest.raises(ValueError):
        corpusprep.chunk_windows(df, stride=0)


def test_mix_report_exact_shares(spark):
    from hadoop_1_spark.operators import corpusprep

    df = spark.createDataFrame(
        [
            (1, "a b c", "en", "s1"),
            (2, "d e", "en", "s1"),
            (3, "f g h i j", "fr", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {(r.source, r.lang): (r.n_docs, r.n_tokens, r.share_q6)
           for r in corpusprep.mix_report(df).collect()}
    assert out[("s1", "en")] == (2, 5, 500_000)   # 5/10 tokens
    assert out[("s2", "fr")] == (1, 5, 500_000)


def test_mix_report_zero_token_corpus(spark):
    """An all-empty corpus reports zero shares instead of DIVIDE_BY_ZERO."""
    from hadoop_1_spark.operators import corpusprep

    df = spark.createDataFrame(
        [(1, None, "en", "s1"), (2, "   ", "en", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    rows = corpusprep.mix_report(df).collect()
    assert rows and all(r.n_tokens == 0 and r.share_q6 == 0 for r in rows)


def test_interleave_even_spread(spark):
    """Each source's docs are spread evenly: consecutive positions of the
    same source never gap by more than ceil(N/n_s) + 1, and positions
    are a permutation of 1..N."""
    import pyspark.sql.functions as F

    from hadoop_1_spark.operators import corpusprep

    rows = [(i, "big") for i in range(60)] + [(100 + i, "small") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = corpusprep.interleave_sources(df).collect()
    n = len(rows)
    assert sorted(r["position"] for r in out) == list(range(1, n + 1))
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["position"])
    for src, ps in by_src.items():
        ps.sort()
        ns = len(ps)
        max_gap = max(b - a for a, b in zip(ps, ps[1:])) if ns > 1 else 0
        assert max_gap <= -(-n // ns) + 1, (src, ps)


def test_interleave_single_source_identity_order(spark):
    from hadoop_1_spark.operators import corpusprep

    df = spark.createDataFrame([(i, "s") for i in range(10)], "doc_id long, source string")
    out = sorted(corpusprep.interleave_sources(df).collect(), key=lambda r: r["position"])
    assert [r["doc_id"] for r in out] == list(range(10))


def test_snapshot_diff_all_four_statuses(spark):
    from hadoop_1_spark.operators import corpusprep

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["status"]
        for r in corpusprep.snapshot_diff(old, new).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_snapshot_diff_multicol_payload(spark):
    from hadoop_1_spark.operators import corpusprep

    old = spark.createDataFrame([(1, "a", "x")], "doc_id long, text string, lang string")
    new = spark.createDataFrame([(1, "a", "y")], "doc_id long, text string, lang string")
    # payload includes lang -> changed; payload text-only -> unchanged
    both = corpusprep.snapshot_diff(old, new, payload_cols=("text", "lang")).collect()
    assert both[0]["status"] == "changed"
    text_only = corpusprep.snapshot_diff(old, new, payload_cols=("text",)).collect()
    assert text_only[0]["status"] == "unchanged"


def test_snapshot_diff_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_snapshot_diff")


def test_refresh_plan_casefold_invariance_and_oracle(spark):
    # the composition claim: upper-casing (the snapshot rewrite) does not
    # change LM scores, so scoring `documents` == scoring the new snapshot
    from hadoop_1_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "a B c"), (2, "A b C")], "doc_id long, text string"
    )
    model = textops.unigram_lm(docs)
    from pyspark.sql import functions as F

    upper = docs.withColumn("text", F.upper(F.col("text")))
    a = {r["doc_id"]: r["mean_invp_q6"] for r in textops.lm_score(docs, model).collect()}
    b = {r["doc_id"]: r["mean_invp_q6"] for r in textops.lm_score(upper, model).collect()}
    assert a == b


def test_mix_temperature_upweights_low_resource(spark):
    from hadoop_1_spark.operators import corpusprep

    rows = [(i, "w " * 90, "big") for i in range(10)] + [(100, "w " * 100, "small")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in corpusprep.mix_temperature(docs).collect()}
    # raw shares: big 900/1000, small 100/1000
    assert got["big"]["share_q6"] == 900_000
    assert got["small"]["share_q6"] == 100_000
    # alpha=0.5 tempering: weights sqrt(0.9):sqrt(0.1) ~ 0.948:0.316 ->
    # small rises from 10% to ~25%
    assert got["small"]["temp_share_q6"] > got["small"]["share_q6"]
    assert got["big"]["temp_share_q6"] < got["big"]["share_q6"]
    # exact replay of the integer arithmetic
    import math
    wb = math.floor(math.sqrt(900_000 * 1_000_000))
    ws = math.floor(math.sqrt(100_000 * 1_000_000))
    assert got["small"]["temp_share_q6"] == (ws * 1_000_000) // (wb + ws)


def test_mix_temperature_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_mix_temperature")


def test_weighted_sampling_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_sample_weighted")


def test_weighted_sampling_partitioning_independent(spark):
    from hadoop_1_spark.operators import sampling

    rows = [(i, (i * 37) % 50 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "id bigint, w bigint")
    a = sorted(map(tuple, sampling.weighted_systematic(df.repartition(1), "id", "w", k=20).collect()))
    b = sorted(map(tuple, sampling.weighted_systematic(df.repartition(13), "id", "w", k=20).collect()))
    assert a == b and len(a) == 20


def test_oversample_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_oversample_sources")


def test_oversample_factor_bounds(spark):
    """Every doc appears exactly repeat_factor times; factors within
    [1, cap]."""
    from hadoop_1_spark import registry
    from hadoop_1_spark.queries.q_corpus import OVERSAMPLE_CAP

    rows = registry.QUERIES["corpus_oversample_sources"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    per_doc = {}
    for r in rows:
        assert 1 <= r.repeat_factor <= OVERSAMPLE_CAP
        per_doc.setdefault(r.doc_id, []).append(r)
    for doc, rs in per_doc.items():
        assert len(rs) == rs[0].repeat_factor
        assert sorted(x.repeat_idx for x in rs) == list(range(1, len(rs) + 1))


def test_vocab_overlap_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_vocab_overlap")


def test_corpus_ccnet_mix_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_ccnet_mix")


def test_corpus_split_leak_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_split_leak_report")


def test_split_leak_detects_verbatim_copy(spark):
    """A test-split doc that verbatim-copies a train doc must flag
    leaked=True (winnowing guarantee: any shared >= 6-token run yields
    a shared fingerprint); an unrelated test doc must flag False.
    doc_ids precomputed for the md5 split: 0 -> train, 8/20 -> test."""
    from hadoop_1_spark import registry

    leak_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    clean_text = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    df = spark.createDataFrame(
        [(0, leak_text), (8, leak_text), (20, clean_text)],
        "doc_id long, text string",
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        rows = {
            r["doc_id"]: r
            for r in registry.QUERIES["corpus_split_leak_report"](spark, d).collect()
        }
    assert rows[8]["leaked"] is True and rows[8]["n_hit"] == rows[8]["n_fps"]
    assert rows[20]["leaked"] is False and rows[20]["n_hit"] == 0
    assert rows[8]["split"] == "test"


def test_corpus_dsir_select_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_dsir_select")


def test_corpus_decontaminate_fuzzy_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_decontaminate_fuzzy")


def test_decontaminate_fuzzy_flags_paraphrased_leak(spark):
    """A corpus doc that is a lightly-edited copy of a benchmark doc
    shares no long exact shingle run but crosses the 0.8 Jaccard bar —
    the fuzzy pass must flag it; an unrelated doc must not be flagged;
    and the direction is corpus -> benchmark only."""
    from hadoop_1_spark.operators import corpusprep

    bench_text = " ".join(f"tok{i}" for i in range(30))
    leaked = " ".join(f"tok{i}" for i in range(29)) + " zz"
    clean = "entirely different words about some other topic altogether now"
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, leaked), (2, clean)], "doc_id long, text string"
    )
    got = corpusprep.decontaminate_fuzzy(corpus, bench, k=3, threshold=0.8).collect()
    assert {(r["doc_id"], r["bench_id"]) for r in got} == {(1, 100)}
    assert all(r["jaccard"] >= 0.8 for r in got)


def test_corpus_contamination_report_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "corpus_contamination_report")


def test_contamination_report_consistent_with_rungs(spark):
    """Every report row must be derivable from the two rung queries: the
    exact_shingles column equals corpus_decontaminate's n_shared, the
    fuzzy columns aggregate corpus_decontaminate_fuzzy, and the method
    tag reflects exactly which rungs flagged the doc."""
    from hadoop_1_spark import registry

    sf = "/root/testdata/sf0.01"
    rep = {r["doc_id"]: r for r in registry.QUERIES["corpus_contamination_report"](spark, sf).collect()}
    ex = {r["doc_id"]: r["n_shared"] for r in registry.QUERIES["corpus_decontaminate"](spark, sf).collect()}
    fz: dict[int, list] = {}
    for r in registry.QUERIES["corpus_decontaminate_fuzzy"](spark, sf).collect():
        fz.setdefault(r["doc_id"], []).append(r["jaccard"])
    assert set(rep) == set(ex) | set(fz)
    for d, r in rep.items():
        assert r["exact_shingles"] == ex.get(d, 0)
        assert r["fuzzy_hits"] == len(fz.get(d, []))
        want = "both" if d in ex and d in fz else ("exact" if d in ex else "fuzzy")
        assert r["method"] == want


def test_decontaminate_semantic_directional_vs_lsh_pairs(spark):
    """At the clamped width (sf0.01: n=500 -> 4 bits, the
    dedup_embedding_lsh family) the semantic decon must equal the
    embedding-LSH pair set restricted to exactly-one-bench-member pairs,
    oriented corpus -> bench — directional completeness both ways, with
    identical cosines."""
    from hadoop_1_spark.operators import corpusprep, dedup
    from hadoop_1_spark.session import load_table
    from pyspark.sql import functions as F

    # sf0.01 explicitly: the default test sf (sf0.001, ~50 vectors) has
    # no cross-side pair above the threshold, which would make the
    # equality below vacuously true.
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    got = {
        (r["vec_id"], r["bench_id"]): r["cosine"]
        for r in corpusprep.decontaminate_semantic(
            emb, F.pmod(F.col("vec_id"), F.lit(7)) == 0, threshold=0.45
        ).collect()
    }
    ref = {}
    for r in dedup.embedding_lsh_pairs(emb, threshold=0.45).collect():
        b1, b2 = r["d1"] % 7 == 0, r["d2"] % 7 == 0
        if b1 != b2:  # exactly one bench member
            c, b = (r["d2"], r["d1"]) if b1 else (r["d1"], r["d2"])
            ref[(c, b)] = r["cosine"]
    assert got == ref
    assert got  # non-degenerate on this fixture


def test_dsir_selects_target_like_docs(spark):
    """Selection must skew toward the target distribution: with lang='en'
    as the target, the selected quarter should be majority-en (the raw
    corpus is ~44% en), every doc gets exactly one rank, and the selected
    count is exactly floor(n/4)."""
    from hadoop_1_spark import registry
    from hadoop_1_spark.session import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    out = registry.QUERIES["corpus_dsir_select"](spark, SF_DIR)
    rows = out.join(docs.select("doc_id", "lang"), "doc_id").collect()
    n = len(rows)
    assert sorted(r["rank"] for r in rows) == list(range(1, n + 1))
    sel = [r for r in rows if r["selected"]]
    assert len(sel) == n // 4
    en_share_sel = sum(1 for r in sel if r["lang"] == "en") / len(sel)
    en_share_all = sum(1 for r in rows if r["lang"] == "en") / n
    assert en_share_sel > en_share_all
