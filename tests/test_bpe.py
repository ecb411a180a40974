"""BPE merge-learning tests: hand-computed merges on a tiny corpus,
tie-break determinism, segmentation round-trip, degenerate corpora."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hadoop_1_spark.operators import bpe


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_hand_computed_merges(spark):
    # corpus: aaab x2, ab x3
    # r1: (a,b) cnt 2+3=5 beats (a,a) cnt 4  -> merge 'ab'
    # r2: aaab=[a,a,ab] ab=[ab]; (a,a) cnt 2 ties (a,ab) cnt 2 -> rhs
    #     tie-break picks (a,a)                      -> merge 'aa'
    # r3: aaab=[aa,ab]; (aa,ab) cnt 2                -> merge 'aaab'
    df = _docs(spark, ["aaab aaab ab ab ab"])
    out = bpe.bpe_merges(df, rounds=3).orderBy("rank").collect()
    got = [(r["rank"], r["lhs"], r["rhs"], r["merged"], r["cnt"]) for r in out]
    assert got == [
        (1, "a", "b", "ab", 5),
        (2, "a", "a", "aa", 2),
        (3, "aa", "ab", "aaab", 2),
    ]


def test_adjacent_same_symbol_merges_leftmost_nonoverlapping(spark):
    # 'aaaa': one round of (a,a) must merge positions (1,2) and (3,4)
    # (left-to-right non-overlapping), yielding [aa, aa] — and the
    # delimiter framing must not let the shared middle pair merge.
    df = _docs(spark, ["aaaa"])
    merges = bpe.bpe_merges(df, rounds=2)
    seg = bpe.segment(df, merges).collect()[0]
    assert seg["symbols"] == ["aaaa"]  # round 2 merges [aa, aa] -> [aaaa]
    one = bpe.segment(df, bpe.bpe_merges(df, rounds=1)).collect()[0]
    assert one["symbols"] == ["aa", "aa"]


def test_segment_round_trip(spark):
    """Concatenating a word's learned symbols must reproduce the word."""
    df = _docs(spark, ["the quick brown fox the lazy dog the end", "quick quick end"])
    merges = bpe.bpe_merges(df, rounds=6)
    seg = bpe.segment(df, merges)
    bad = seg.where(F.concat_ws("", F.col("symbols")) != F.col("word")).count()
    assert bad == 0


def test_single_char_words_no_pairs(spark):
    """A corpus of 1-char words has no adjacent pairs: zero merges."""
    df = _docs(spark, ["a b c a b"])
    assert bpe.bpe_merges(df, rounds=3).count() == 0


def test_merge_counts_weighted_by_word_freq(spark):
    # 'xy' appears 5 times as a word; pair (x,y) counted once per
    # OCCURRENCE (weighted by freq), not once per distinct word.
    df = _docs(spark, ["xy xy xy", "xy xy z"])
    out = bpe.bpe_merges(df, rounds=1).collect()
    assert (out[0]["lhs"], out[0]["rhs"], out[0]["cnt"]) == ("x", "y", 5)


def test_vocab_table_ids_and_kinds(spark):
    df = _docs(spark, ["ab ab b"])
    out = bpe.vocab_table(df, rounds=1).collect()
    by_symbol = {r["symbol"]: r for r in out}
    # base chars a, b get ids 1, 2 by symbol order; merge 'ab' id 3
    assert (by_symbol["a"]["token_id"], by_symbol["a"]["kind"]) == (1, "char")
    assert (by_symbol["b"]["token_id"], by_symbol["b"]["kind"]) == (2, "char")
    assert (by_symbol["ab"]["token_id"], by_symbol["ab"]["kind"]) == (3, "merge")
    # char counts: a appears 2x, b 3x; merge count = pair count 2
    assert by_symbol["a"]["cnt"] == 2
    assert by_symbol["b"]["cnt"] == 3
    assert by_symbol["ab"]["cnt"] == 2


def test_bpe_fertility_bounds(spark):
    # fertility >= 1 (a word is at least one piece) and pieces <= chars
    from hadoop_1_spark import registry

    rows = registry.QUERIES["text_bpe_fertility"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        assert r["fertility_q6"] >= 1_000_000
        assert r["n_pieces"] >= r["n_words"]
