"""Dedup family (dedup.py) vs DuckDB oracle + unit semantics checks."""

from __future__ import annotations

import os

import pytest

from hadoop_1_spark.operators import dedup
from tests.conftest import SF_DIR, assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "dedup_exact",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "dedup_embedding_lsh",
    ],
)
def test_dedup_queries_match_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def test_embedding_lsh_subset_of_brute_force(spark):
    """LSH candidates verified at the same threshold are a subset of the
    brute-force pairs (prefilter can only lose pairs, never invent them)."""
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    brute = {
        (r["d1"], r["d2"]) for r in dedup.embedding_cosine_pairs(emb, 0.45).collect()
    }
    lsh = {(r["d1"], r["d2"]) for r in dedup.embedding_lsh_pairs(emb, 0.45).collect()}
    assert lsh <= brute


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    rows = {r["rep_id"]: r["n_dups"] for r in dedup.exact_dedup(df).collect()}
    assert rows == {1: 2, 3: 1}


def test_ngram_jaccard_finds_planted_pair(spark):
    a = "the quick brown fox jumps over the lazy dog again today"
    b = a.replace("today", "tomorrow")
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "unrelated words entirely different from all others here")],
        "doc_id long, text string",
    )
    pairs = {(r["d1"], r["d2"]) for r in dedup.ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()}
    assert pairs == {(1, 2)}


def test_minhash_lsh_recall_matches_exact(spark, duck):
    """At threshold 0.8 with 8x2 bands, LSH must recover every exact pair
    on the driver corpus (planted dups are ~0.9+ Jaccard)."""
    from hadoop_1_spark import registry

    sf = SF_DIR
    exact = {
        (r["d1"], r["d2"])
        for r in registry.QUERIES["dedup_ngram_jaccard"](spark, sf).collect()
    }
    lsh = {
        (r["d1"], r["d2"])
        for r in registry.QUERIES["dedup_minhash_lsh"](spark, sf).collect()
    }
    assert lsh == exact


def test_df_cap_drops_hot_shingles(spark):
    df = spark.createDataFrame(
        [(i, "common shingle text here") for i in range(5)],
        "doc_id long, text string",
    )
    # every shingle appears in all 5 docs; df_cap=3 drops them all -> no pairs
    assert dedup.ngram_jaccard_pairs(df, k=3, threshold=0.1, df_cap=3).count() == 0


def test_connected_components_chains(spark):
    """Chains collapse to one cluster (min id); disjoint pairs stay apart;
    per-pair dropping would mishandle the a-b, b-c chain."""
    from hadoop_1_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "d1 long, d2 long",
    )
    got = {r["v"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_checkpoints_released_by_next_query(spark):
    """connected_components' per-round local checkpoints are registered
    with caching, so the next registered query's release_caches() frees
    their blocks (DataFrame.unpersist() alone does not free a local
    checkpoint)."""
    from hadoop_1_spark import registry
    from hadoop_1_spark.operators import caching

    jsc = spark.sparkContext._jsc.sc()

    def rdds_with_blocks():
        return {i.id() for i in jsc.getRDDStorageInfo()}

    caching.release_caches()
    before = rdds_with_blocks()
    # held, so a JVM GC cannot free the checkpoints (ContextCleaner) in
    # the release's place
    out = registry.QUERIES["dedup_clusters"](spark, SF_DIR)
    out.collect()
    cc = rdds_with_blocks() - before
    assert cc, "dedup_clusters left no blocks to release"
    registry.QUERIES["grep"](spark, SF_DIR).collect()
    assert not rdds_with_blocks() & cc


def test_dedup_clusters_matches_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "dedup_clusters")


def test_duplicated_span_stats(spark):
    """Planted verbatim overlap is found; short docs get 0; the fraction
    is integer-exact; a span repeated only WITHIN one doc doesn't count."""
    from hadoop_1_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon"            # one 5-token span
    df = spark.createDataFrame(
        [
            (1, shared + " zeta"),                       # 2 spans, 1 dup'd
            (2, "prefix " + shared),                     # 2 spans, 1 dup'd
            (3, "tiny doc"),                             # < 5 tokens
            (4, "p q r s t p q r s t"),                  # self-repeat only
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_frac_q6)
           for r in dedup.duplicated_span_stats(df, k=5).collect()}
    assert out[1] == (2, 1, 500_000)
    assert out[2] == (2, 1, 500_000)
    assert out[3] == (0, 0, 0)
    # doc 4: 6 spans; 'p q r s t' appears twice in-doc but nowhere else
    assert out[4] == (6, 0, 0)


def test_incremental_dedup_flags(spark):
    """Exact snapshot hit, batch representative rule, directional near-dup
    vs snapshot, and the keep conjunction."""
    from hadoop_1_spark.operators import dedup

    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(29)) + " zz"   # high jaccard vs base
    snap = spark.createDataFrame(
        [(100, base), (101, "completely different snapshot text here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "  " + base.upper() + "  "),  # exact after normalization
            (2, "fresh unique content alpha beta"),
            (3, "fresh unique content alpha beta"),  # batch dup of 2
            (4, near),                                # near-dup of snapshot
            (5, "another novel doc entirely unlike others"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.exact_snap, r.exact_batch, r.near_snap, r.keep)
           for r in dedup.incremental_dedup(new, snap, threshold=0.8).collect()}
    assert out[1][0] == 1 and out[1][3] == 0          # exact vs snapshot
    assert out[2] == (0, 0, 0, 1)                     # representative kept
    assert out[3][1] == 1 and out[3][3] == 0          # batch dup dropped
    assert out[4][2] == 1 and out[4][3] == 0          # near-dup dropped
    assert out[5] == (0, 0, 0, 1)
    assert len(out) == 5                              # one row per new doc


def test_incremental_dedup_stored_signatures(tmp_path, spark):
    """The steady-state path: snapshot signatures written once and reloaded
    must yield flag-identical results to recomputing them from text."""
    from hadoop_1_spark.operators import dedup

    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(29)) + " zz"
    snap = spark.createDataFrame(
        [(100, base), (101, "completely different snapshot text here")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, near), (2, "novel content entirely")],
        "doc_id long, text string",
    )
    fresh = {r.doc_id: tuple(r)[1:] for r in dedup.incremental_dedup(new, snap).collect()}

    sigs, _ = dedup.minhash_signature_relation(snap)
    dedup.write_signatures(sigs, str(tmp_path / "snap_sigs"))
    stored = dedup.read_signatures(spark, str(tmp_path / "snap_sigs"))
    via_store = {r.doc_id: tuple(r)[1:] for r in dedup.incremental_dedup(
        new, snap, snap_signatures=stored).collect()}
    assert fresh == via_store and fresh[1][2] == 1  # near-dup still caught


def test_minhash_band_cap_guard(spark):
    """A degenerate hot band (30 identical docs -> every band shared by
    all 30) is dropped by the cap, while a normal near-dup pair whose
    bands stay under the cap is still found."""
    from hadoop_1_spark.operators import dedup

    boiler = "mass produced boiler plate text repeated verbatim everywhere always"
    base = " ".join(f"tok{i}" for i in range(25))
    near = " ".join(f"tok{i}" for i in range(24)) + " zz"
    rows = [(i, boiler) for i in range(30)] + [(100, base), (101, near)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {(r.d1, r.d2) for r in dedup.minhash_lsh_pairs(df, threshold=0.8).collect()}
    capped = {(r.d1, r.d2) for r in dedup.minhash_lsh_pairs(
        df, threshold=0.8, band_cap=5).collect()}
    # the boilerplate clique is 30*29/2 pairs uncapped, gone when capped
    assert len(uncapped) >= 435
    assert capped == {(100, 101)}


def test_incremental_dedup_null_text_docs(spark):
    """NULL-text batch docs are not duplicates of each other (or anything):
    one row each, all flags 0, keep=1."""
    from hadoop_1_spark.operators import dedup

    snap = spark.createDataFrame([(100, "snapshot doc text")],
                                 "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, None), (2, None), (3, "fresh doc entirely new")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.exact_snap, r.exact_batch, r.near_snap, r.keep)
           for r in dedup.incremental_dedup(new, snap).collect()}
    assert out[1] == (0, 0, 0, 1)
    assert out[2] == (0, 0, 0, 1)
    assert out[3] == (0, 0, 0, 1)
    assert len(out) == 3


def test_winnow_overlap_pairs(spark):
    """Docs sharing a long substring pair up; unrelated docs don't; the
    fp_cap guard kills a mass-shared fingerprint clique."""
    from hadoop_1_spark.operators import dedup

    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, "x y z " + shared),
        (2, shared + " p q r"),
        (3, "totally different content here entirely unrelated words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.d1, r.d2): r.shared_fps
             for r in dedup.winnow_overlap_pairs(df, min_shared=2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)

    boiler = [(i, shared) for i in range(10, 40)]
    df2 = spark.createDataFrame(rows + boiler, "doc_id long, text string")
    capped = dedup.winnow_overlap_pairs(df2, min_shared=2, fp_cap=5).collect()
    assert capped == []  # every fp of the clique exceeds the cap


def test_fuzzy_titles_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_fuzzy_titles")


def test_blocked_levenshtein_hand(spark):
    """kitten/sitting distance 3 found in-block; cross-block pair never
    compared; length prefilter drops the hopeless pair."""
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import linkage

    rows = [
        (1, "kitten extras", "k"), (2, "sitting extras", "k"),
        (3, "kitten extras", "x"),             # same text, other block
        (4, "kitten extras padpadpadpad", "k"),  # len diff 12 > max_dist
    ]
    df = spark.createDataFrame(rows, "id bigint, t string, blk string")
    out = linkage.blocked_levenshtein_pairs(
        df, "id", F.col("t"), block=F.col("blk"), max_dist=3, prefix_len=40
    ).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in out] == [(1, 2, 3)]


def test_survivorship_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_survivorship")


def test_survivorship_hand(spark):
    """Chain cluster {1,2,3} (quality 10,30,30) -> survivor 2 (quality
    ties break on lowest id); singleton pair cluster {5,6}."""
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)], "v bigint, cluster bigint"
    )
    recs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (5, 7), (6, 2)], "id bigint, q bigint"
    )
    out = {
        r.cluster: r
        for r in dedup.survivorship(clusters, recs, "id", F.col("q")).collect()
    }
    assert (out[1].survivor_id, out[1].n_members, out[1].kept_q, out[1].dropped_q) == (2, 3, 30, 40)
    assert (out[5].survivor_id, out[5].kept_q, out[5].dropped_q) == (5, 7, 2)


def test_fuzzy_titles_fine_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_fuzzy_titles_fine")


def test_prefix_filter_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_prefix_filter")


def test_prefix_filter_no_false_negatives(spark):
    """Against brute force on a small random-ish corpus: every pair with
    Jaccard >= 3/5 must appear (the theorem under test), no pair below
    may appear, and the q6 values must agree."""
    from hadoop_1_spark.operators import dedup

    sets = {
        1: {"a", "b", "c", "d", "e"},
        2: {"a", "b", "c", "d", "f"},      # J(1,2) = 4/6 = 0.667 >= 0.6
        3: {"a", "b", "x", "y", "z"},      # J(1,3) = 2/8 = 0.25
        4: {"a", "b", "c", "d", "e"},      # J(1,4) = 1.0
        5: {"q", "r", "s"},
        6: {"q", "r", "s", "t"},           # J(5,6) = 3/4 = 0.75
    }
    rows = [(i, t) for i, ts in sets.items() for t in ts]
    df = spark.createDataFrame(rows, "id bigint, item string")
    got = {
        (r.id_a, r.id_b): r.jaccard_q6
        for r in dedup.prefix_filter_jaccard_pairs(df, "id", "item").collect()
    }
    exp = {}
    for a in sets:
        for b in sets:
            if a < b:
                i = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                q6 = i * 1000000 // u
                if q6 * 5 >= 3000000:
                    exp[(a, b)] = q6
    assert got == exp


def test_prefix_filter_exact_boundary_threshold(spark):
    """t = 1/3 with J exactly 1/3: the q6 image truncates (333333*3 <
    10^6), so a threshold test on the truncated value would drop the
    qualifying pair — the exact-rational comparison must keep it."""
    from hadoop_1_spark.operators import dedup

    rows = [(1, "a"), (2, "a"), (2, "b"), (2, "c")]
    df = spark.createDataFrame(rows, "id bigint, item string")
    out = dedup.prefix_filter_jaccard_pairs(df, "id", "item", t_num=1, t_den=3).collect()
    assert [(r.id_a, r.id_b, r.jaccard_q6) for r in out] == [(1, 2, 333333)]


def test_containment_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_containment")


def test_sentences_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_sentences")


def test_containment_finds_quote_jaccard_misses(spark):
    """The motivating asymmetry: a short doc fully quoted inside a long
    one must score containment 1.0 (short -> long) while its Jaccard
    stays under any dedup threshold."""
    from hadoop_1_spark.operators import dedup

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id long, text string",
    )
    cont = {(r["src"], r["dst"]): r["containment"]
            for r in dedup.containment_pairs(df, k=3, threshold=0.5).collect()}
    assert cont[(1, 2)] == 1.0
    assert (2, 1) not in cont  # long doc is NOT contained in the quote
    jac = dedup.ngram_jaccard_pairs(df, k=3, threshold=0.5).collect()
    assert jac == []  # symmetric Jaccard misses the pair entirely


def test_sentence_dedup_flags_boilerplate(spark):
    """A doc whose sentences are mostly shared lines is flagged; a doc of
    unique prose is not; sub-min_chars fragments don't count."""
    from hadoop_1_spark.operators import dedup

    shared = "This cookie banner sentence is shared boilerplate text."
    df = spark.createDataFrame(
        [
            (1, f"{shared} Unique opening line for document one."),
            (2, f"{shared} Entirely different closing line for two."),
            (3, "Totally original prose with no duplicated sentences here. ok"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.sentence_dedup_stats(df).collect()}
    assert rows[1]["n_dup"] == 1 and rows[1]["boilerplate"]
    assert rows[2]["n_dup"] == 1 and rows[2]["boilerplate"]
    assert rows[3]["n_dup"] == 0 and not rows[3]["boilerplate"]
    assert rows[3]["n_sents"] == 1  # the trailing "ok" fragment dropped


def test_containment_capped_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "dedup_containment_capped")
