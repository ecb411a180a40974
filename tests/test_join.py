"""Join family (SURVEY.md §2.4): composite expression semantics, edge cases
(duplicate keys, empty sources), and oracle-checked queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_1_spark.operators import join as J
from tests.conftest import assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    [
        "datamerge_inner",
        "datamerge_outer",
        "datamerge_override",
        "datamerge_nested",
        "join_broadcast",
        "join_tagged_residual",
    ],
)
def test_join_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def _df(spark, rows, cols):
    return spark.createDataFrame(rows, cols)


def test_override_duplicate_keys_no_cross_product(spark):
    """Override emits exactly the winner's rows — duplicate keys in loser
    sources must not multiply output (OverrideRecordReader skips the
    cross-product)."""
    a = J.tbl(_df(spark, [(1, "a1"), (1, "a2"), (2, "a3")], ["k", "va"]), "k", "va")
    b = J.tbl(_df(spark, [(1, "b1"), (3, "b2")], ["k", "vb"]), "k", "vb")
    got = {tuple(r) for r in J.override(a, b).compile().collect()}
    assert got == {(1, None, "b1"), (2, "a3", None), (3, None, "b2")}


def test_inner_cross_product_per_key(spark):
    """Inner join emits the per-key cross-product of value lists
    (InnerJoinRecordReader: ValuesIterator cross-product)."""
    a = J.tbl(_df(spark, [(1, "a1"), (1, "a2")], ["k", "va"]), "k", "va")
    b = J.tbl(_df(spark, [(1, "b1"), (1, "b2"), (2, "b3")], ["k", "vb"]), "k", "vb")
    rows = J.inner(a, b).compile().collect()
    assert len(rows) == 4  # 2 x 2 for key 1; key 2 absent from a
    assert {tuple(r) for r in rows} == {
        (1, "a1", "b1"), (1, "a1", "b2"), (1, "a2", "b1"), (1, "a2", "b2")
    }


def test_outer_with_empty_source(spark):
    """Empty source contributes null slots everywhere, drops nothing."""
    a = J.tbl(_df(spark, [(1, "a1")], ["k", "va"]), "k", "va")
    empty = _df(spark, [(0, "x")], ["k", "vb"]).filter(F.lit(False))
    b = J.tbl(empty, "k", "vb")
    assert [tuple(r) for r in J.outer(a, b).compile().collect()] == [(1, "a1", None)]
    assert J.inner(a, b).compile().count() == 0


def test_duplicate_value_columns_rejected(spark):
    a = J.tbl(_df(spark, [(1, "x")], ["k", "v"]), "k", "v")
    b = J.tbl(_df(spark, [(1, "y")], ["k", "v"]), "k", "v")
    with pytest.raises(ValueError, match="duplicate value columns"):
        J.inner(a, b).compile()


def test_broadcast_join_is_broadcast(spark):
    """The physical plan must contain a BroadcastHashJoin (J7 parity is a
    *plan* property, not just a result property)."""
    big = spark.range(10_000).select(F.col("id"), (F.col("id") % 5).alias("fk"))
    small = spark.range(5).select(F.col("id").alias("sk"), F.lit("dim").alias("name"))
    plan = J.broadcast_hash_join(big, small, F.col("fk") == F.col("sk"))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_null_keys_never_merge(spark):
    """SQL equi-join semantics for NULL keys: inner drops them, outer emits
    each NULL-keyed row as its own null-padded row (no cross-product of the
    NULL group), override passes them through from every source."""
    a = spark.createDataFrame([(None, 1), (None, 2), ("k", 3)], "key string, av int")
    b = spark.createDataFrame([(None, 10), ("k", 30)], "key string, bv int")
    ea, eb = J.tbl(a, "key", "av"), J.tbl(b, "key", "bv")

    inner_rows = J.inner(ea, eb).compile().collect()
    assert [(r["key"], r["av"], r["bv"]) for r in inner_rows] == [("k", 3, 30)]

    outer_rows = sorted(
        ((r["key"], r["av"], r["bv"]) for r in J.outer(ea, eb).compile().collect()),
        key=str,
    )
    assert outer_rows == sorted(
        [("k", 3, 30), (None, 1, None), (None, 2, None), (None, None, 10)], key=str
    )

    override_rows = sorted(
        ((r["key"], r["av"], r["bv"]) for r in J.override(ea, eb).compile().collect()),
        key=str,
    )
    # 'k' overridden by b (rightmost); every NULL-keyed row survives as-is.
    assert override_rows == sorted(
        [("k", None, 30), (None, 1, None), (None, 2, None), (None, None, 10)], key=str
    )


def test_salted_join_matches_plain_inner(spark):
    import pyspark.sql.functions as F

    from hadoop_1_spark.operators.skew import salted_join

    big = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (3, "d")], "sk long, tag string")
    got = salted_join(big, small, "k", "sk", 4, salt_src=F.col("v")).collect()
    want = big.join(small, big["k"] == small["sk"]).collect()
    assert sorted(tuple(r) for r in got) == sorted(tuple(r) for r in want)


def test_salted_join_left_keeps_unmatched(spark):
    import pyspark.sql.functions as F

    from hadoop_1_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    small = spark.createDataFrame([(1, "x")], "sk long, tag string")
    out = salted_join(big, small, "k", "sk", 3, salt_src=F.col("v"), how="left")
    rows = {(r["k"], r["tag"]) for r in out.collect()}
    assert rows == {(1, "x"), (2, None)}


def test_salted_join_rejects_full_outer(spark):
    import pyspark.sql.functions as F
    import pytest

    from hadoop_1_spark.operators.skew import salted_join

    df = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(df, df, "k", "k", 2, salt_src=F.col("k"), how="full")


def test_blocked_jaccard_match_blocks_and_threshold(spark):
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import linkage

    recs = spark.createDataFrame(
        [
            (1, "acme inc", "east"),
            (2, "acme incorporated", "east"),   # shares 'acme' only: 1/3
            (3, "acme inc", "west"),            # identical text, other block
            (4, "acme inc", "east"),            # exact dup of 1
        ],
        "id long, name string, region string",
    )
    got = {
        (r["id1"], r["id2"]): r["jaccard_q6"]
        for r in linkage.blocked_jaccard_match(
            recs, "id", F.col("name"), ("region",), min_jaccard_q6=0
        ).collect()
    }
    # cross-block pair (1,3)/(3,4) never compared
    assert (1, 3) not in got and (3, 4) not in got
    assert got[(1, 4)] == 1_000_000
    assert got[(1, 2)] == got[(2, 4)] == 1_000_000 // 3
    assert (1, 2) in got and (2, 4) in got and len(got) == 3


def test_blocked_jaccard_hot_token_cap(spark):
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import linkage

    # 'common' appears in all 4 records -> dropped at cap 3; pairs then
    # only form via the rarer tokens
    recs = spark.createDataFrame(
        [(i, f"common tok{i // 2}") for i in range(4)],
        "id long, name string",
    )
    recs = recs.withColumn("blk", F.lit("b"))
    capped = linkage.blocked_jaccard_match(
        recs, "id", F.col("name"), ("blk",), min_jaccard_q6=0, hot_token_cap=3
    ).collect()
    got = {(r["id1"], r["id2"]) for r in capped}
    assert got == {(0, 1), (2, 3)}  # only the tok0/tok1 co-members meet


def test_entity_match_parts_matches_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "entity_match_parts")


def test_entity_match_fine_matches_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "entity_match_parts_fine")


def test_skew_key_report_exact_shares_and_salt(spark):
    from hadoop_1_spark.operators import skew

    rows = [("hot",)] * 70 + [("warm",)] * 25 + [("cold",)] * 5
    df = spark.createDataFrame(rows, "k string")
    got = {
        r["k"]: r
        for r in skew.skew_key_report(
            df, "k", top_n=2, target_rows_per_task=30
        ).collect()
    }
    assert set(got) == {"hot", "warm"}  # top-2 only
    assert got["hot"]["rank"] == 1 and got["hot"]["cnt"] == 70
    assert got["hot"]["share_q6"] == 700_000
    assert got["hot"]["salt_factor"] == 3   # ceil(70/30)
    assert got["warm"]["salt_factor"] == 1


def test_universe_sampling_join_coherence(spark):
    """The universe-sampling guarantee: joins of samples == samples of
    joins, row for row (Bernoulli sampling cannot give this)."""
    from hadoop_1_spark.operators import sampling
    from hadoop_1_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    ev = load_table(spark, sf, "events")
    cu = load_table(spark, sf, "customer")
    k = 30
    s_ev = sampling.universe_sample(ev, F.col("user_id"), k)
    s_cu = sampling.universe_sample(cu, F.col("c_custkey"), k)
    join_of_samples = s_ev.join(cu, ev["user_id"] == cu["c_custkey"]).select(
        "event_id", "c_custkey"
    )
    # full join filtered by the SAME key predicate == sample of the join
    full = ev.join(cu, ev["user_id"] == cu["c_custkey"])
    sample_of_join = sampling.universe_sample(
        full, F.col("c_custkey"), k
    ).select("event_id", "c_custkey")
    a = sorted(map(tuple, join_of_samples.collect()))
    b = sorted(map(tuple, sample_of_join.collect()))
    assert a == b and len(a) > 0
    # and sampling both sides changes nothing vs sampling one side
    c = sorted(map(tuple, s_ev.join(s_cu, s_ev["user_id"] == s_cu["c_custkey"]).select("event_id", "c_custkey").collect()))
    assert c == a


def test_universe_sample_rejects_bad_pct(spark):
    import pytest as _pytest

    from hadoop_1_spark.operators import sampling

    df = spark.range(5)
    with _pytest.raises(ValueError):
        sampling.universe_sample(df, F.col("id"), 101)


def test_sample_universe_join_matches_oracle(spark, duck):
    from tests.conftest import assert_query_matches_oracle

    assert_query_matches_oracle(spark, duck, "sample_universe_join")


def test_tpch_q3_shape(spark):
    """Top-10 contract: exactly 10 ranked rows, revenue strings ordered
    non-increasing as decimals, every order inside the date window."""
    from decimal import Decimal

    from hadoop_1_spark import registry
    from hadoop_1_spark.queries.q_join import Q3_CUT_US, Q3_K
    from tests.conftest import SF_DIR

    rows = registry.QUERIES["tpch_q3_topk"](spark, SF_DIR).collect()
    assert len(rows) == Q3_K
    assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == list(
        range(1, Q3_K + 1)
    )
    revs = [Decimal(r["revenue"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert revs == sorted(revs, reverse=True)
    assert all(r["orderdate_us"] < Q3_CUT_US for r in rows)


def test_tpch_q18_threshold_contract(spark):
    """Every returned order's sum_qty exceeds the threshold, and no
    qualifying order is dropped (independent recount over lineitem)."""
    from decimal import Decimal

    from hadoop_1_spark import registry
    from hadoop_1_spark.queries.q_join import Q18_QTY
    from tests.conftest import SF_DIR

    rows = registry.QUERIES["tpch_q18_large_orders"](spark, SF_DIR).collect()
    assert rows, "threshold left no rows at this SF — lower Q18_QTY"
    assert all(Decimal(r["sum_qty"]) > Q18_QTY for r in rows)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    n_big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("s"))
        .where(F.col("s") > Q18_QTY)
        .count()
    )
    assert len(rows) == n_big


def test_tpch_q10_shape(spark):
    """20 ranked rows, revenue strictly non-increasing, custkey breaks
    ties, every row from the date window's R-flag set."""
    from decimal import Decimal

    from hadoop_1_spark import registry
    from tests.conftest import SF_DIR

    rows = registry.QUERIES["tpch_q10_returns"](spark, SF_DIR).collect()
    assert len(rows) == 20
    assert [r["rank"] for r in rows] == sorted(r["rank"] for r in rows)
    revs = [Decimal(r["revenue"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert all(a >= b for a, b in zip(revs, revs[1:]))


def test_tpch_q14_pct_consistent(spark):
    """promo_pct equals 100 * promo/total recomputed from the row's own
    decimal strings (the one double division is self-consistent)."""
    from decimal import Decimal

    from hadoop_1_spark import registry
    from tests.conftest import SF_DIR

    r = registry.QUERIES["tpch_q14_promo"](spark, SF_DIR).collect()[0]
    pr, tr = Decimal(r["promo_revenue"]), Decimal(r["total_revenue"])
    assert 0 < pr < tr
    assert abs(float(100 * pr / tr) - r["promo_pct"]) < 1e-5


def test_tpch_q13_zero_order_customers_present(spark):
    """The LEFT join must surface customers with no orders as c_count=0
    whenever such customers exist (outer-join-then-count idiom)."""
    from hadoop_1_spark import registry
    from tests.conftest import SF_DIR

    rows = {r["c_count"]: r["custdist"]
            for r in registry.QUERIES["tpch_q13_order_distribution"](spark, SF_DIR).collect()}
    import duckdb

    con = duckdb.connect()
    zero = con.execute(
        f"""SELECT count(*) FROM read_parquet('{SF_DIR}/customer.parquet') c
            WHERE NOT EXISTS (SELECT 1 FROM read_parquet('{SF_DIR}/orders.parquet') o
                              WHERE o.o_custkey = c.c_custkey)"""
    ).fetchone()[0]
    assert rows.get(0, 0) == zero
