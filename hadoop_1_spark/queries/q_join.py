"""Join-family queries (SURVEY.md §2.4).

The datamerge_* queries replicate the reference's join test design
(src/test/.../mapred/join/TestDatamerge.java:249-296): four synthetic
sources whose keys are the multiples of 2,3,4,5 and whose values encode
(key, source) arithmetically — so inner/outer/override/nested correctness is
independently checkable per-record, and the DuckDB oracle recomputes the
expected relation from the same arithmetic instead of mirroring our joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_1_spark.operators import folds
from hadoop_1_spark.operators import join as J
from hadoop_1_spark.registry import _load, register

N_KEYS = 10_000  # range upper bound for the synthetic sources
_DIVS = (2, 3, 4, 5)  # source i has the multiples of _DIVS[i]

# money terms (folds.money_sum, folds.decimal_sum): the decimal(18,4)
# quantity, price and discount, the decimal(6,4) discount the TPC-H
# completion queries use, and the revenue price * (1 - discount) over each
# discount
_Q = folds.money("l_quantity")
_P = folds.money("l_extendedprice")
_D = folds.money("l_discount")
_D6 = folds.money("l_discount", 6)
_REV = _P * (1 - _D)
_REV6 = _P * (1 - _D6)


def _source(spark: SparkSession, i: int) -> J.JoinExpr:
    """Source i: keys = multiples of _DIVS[i] in [0, N_KEYS); value = k*10+i+1."""
    d = _DIVS[i]
    df = (
        spark.range(N_KEYS)
        .filter(F.col("id") % d == 0)
        .select(F.col("id"), (F.col("id") * 10 + i + 1).alias(f"v{i + 1}"))
    )
    return J.tbl(df, "id", f"v{i + 1}")


def _sources(spark: SparkSession) -> list[J.JoinExpr]:
    return [_source(spark, i) for i in range(4)]


@register(
    "datamerge_inner",
    oracle=f"""
SELECT k AS key, k*10+1 AS v1, k*10+2 AS v2, k*10+3 AS v3, k*10+4 AS v4
FROM range({N_KEYS}) t(k)
WHERE k % 2 = 0 AND k % 3 = 0 AND k % 4 = 0 AND k % 5 = 0
""",
)
def datamerge_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inner(s1,s2,s3,s4): keys present in ALL sources
    (InnerJoinRecordReader.java:41). Expected keys: multiples of lcm=60."""
    return J.inner(*_sources(spark)).compile()


@register(
    "datamerge_outer",
    oracle=f"""
SELECT k AS key,
       CASE WHEN k % 2 = 0 THEN k*10+1 END AS v1,
       CASE WHEN k % 3 = 0 THEN k*10+2 END AS v2,
       CASE WHEN k % 4 = 0 THEN k*10+3 END AS v3,
       CASE WHEN k % 5 = 0 THEN k*10+4 END AS v4
FROM range({N_KEYS}) t(k)
WHERE k % 2 = 0 OR k % 3 = 0 OR k % 4 = 0 OR k % 5 = 0
""",
)
def datamerge_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """outer(s1,s2,s3,s4): keys in ANY source, absent slots null — nullable
    columns are the TupleWritable presence bitmask
    (OuterJoinRecordReader.java:41, TupleWritable.java:43)."""
    return J.outer(*_sources(spark)).compile()


@register(
    "datamerge_override",
    oracle=f"""
WITH u AS (
  SELECT k, CASE WHEN k % 5 = 0 THEN 4 WHEN k % 4 = 0 THEN 3
                 WHEN k % 3 = 0 THEN 2 WHEN k % 2 = 0 THEN 1 END AS win
  FROM range({N_KEYS}) t(k)
)
SELECT k AS key,
       CASE WHEN win = 1 THEN k*10+1 END AS v1,
       CASE WHEN win = 2 THEN k*10+2 END AS v2,
       CASE WHEN win = 3 THEN k*10+3 END AS v3,
       CASE WHEN win = 4 THEN k*10+4 END AS v4
FROM u WHERE win IS NOT NULL
""",
)
def datamerge_override(spark: SparkSession, sf_dir: str) -> DataFrame:
    """override(s1,s2,s3,s4): per key, values only from the RIGHTMOST source
    containing it, no cross-product (OverrideRecordReader.java:36,49,62)."""
    return J.override(*_sources(spark)).compile()


@register(
    "datamerge_nested",
    oracle=f"""
SELECT k AS key,
       CASE WHEN k % 6 = 0 THEN k*10+1 END AS v1,
       CASE WHEN k % 6 = 0 THEN k*10+2 END AS v2,
       CASE WHEN k % 4 = 0 THEN k*10+3 END AS v3,
       CASE WHEN k % 5 = 0 THEN k*10+4 END AS v4
FROM range({N_KEYS}) t(k)
WHERE k % 6 = 0 OR k % 4 = 0 OR k % 5 = 0
""",
)
def datamerge_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested composite expression outer(inner(s1,s2), outer(s3,s4)) — the
    exact shape of TestDatamerge.java:261-296 / the CompositeInputFormat
    grammar's recursive case (Parser.java:64)."""
    s1, s2, s3, s4 = _sources(spark)
    return J.outer(J.inner(s1, s2), J.outer(s3, s4)).compile()


@register(
    "join_3way",
    oracle="""
SELECT c_mktsegment, o_orderpriority,
       CAST(count(*) AS BIGINT) AS line_count,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) AS VARCHAR) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_mktsegment, o_orderpriority
""",
)
def join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained n-way equi-join (J2/J6 shape) customer ⋈ orders ⋈ lineitem +
    grouped revenue. Plan (session.py, "Broadcast policy"): customer is a
    small dimension and is broadcast into the orders scan; orders ⋈
    lineitem is planned as a shuffle join on orderkey. At sf0.1, AQE
    measures the shuffled customer-orders side (150k rows) under its
    broadcast threshold and turns the join into a broadcast join; lineitem
    is still read by reducer partition, so the probe and the partial
    aggregate run on every core. Each joined row's revenue is one
    unscaled long (folds.with_unscaled: two 4-place unscaled values and
    one checked product), summed on three long lanes (folds.money_sum)
    instead of two decimal casts, a decimal product and a decimal(38) add
    per row. At 100 TB both joins shuffle on
    their keys with AQE skew-splitting; co-location comes free when the
    tables are bucketed by custkey/orderkey (the CompositeInputFormat
    no-shuffle analog)."""
    c = _load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    j, rev = folds.with_unscaled(
        c.join(o, c.c_custkey == o.o_custkey).join(li, o.o_orderkey == li.l_orderkey), _REV
    )
    return j.groupBy("c_mktsegment", "o_orderpriority").agg(
        F.count("*").cast("bigint").alias("line_count"),
        # string-typed exact decimal: see agg_sums_by_flag sum_disc_price
        folds.money_sum(rev).cast("string").alias("revenue"),
    )


@register(
    "join_broadcast",
    oracle="""
SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS customers,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
""",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-side hash join against small dims (J7, DistributedCache.java:77-83):
    nation and region are broadcast — zero shuffle on the fact side until the
    final aggregation exchange."""
    c = _load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    n = _load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    dims = J.broadcast_hash_join(n, r, n.n_regionkey == r.r_regionkey)
    joined = J.broadcast_hash_join(c, dims, F.col("c_nationkey") == F.col("n_nationkey"))
    return joined.groupBy("r_name", "n_name").agg(
        F.count("*").cast("bigint").alias("customers"),
        folds.decimal_sum(folds.money("c_acctbal")).cast("double").alias("total_acctbal"),
    )


@register(
    "join_tagged_residual",
    oracle="""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS big_lines
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_extendedprice > o_totalprice * 0.5
GROUP BY o_orderpriority
""",
)
def join_tagged_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduce-side tagged join with a residual theta predicate inside the key
    group (DataJoinReducerBase.joinAndCollect:174-214): equi-join on orderkey
    + a non-equi residual that the reference would evaluate in combine()."""
    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    joined = J.tagged_join(
        o, li, F.col("o_orderkey") == F.col("l_orderkey"),
        residual=F.col("l_extendedprice") > F.col("o_totalprice") * 0.5,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("big_lines")
    )


@register(
    "join_semi",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi join (customers having orders). The reference can only
    express this with a hand-written reducer (SURVEY §2.4 note); Spark
    gives it as a first-class join type — listed as an extension."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti join (customers with no large orders) — extension twin of
    join_semi; the filtered right side keeps the result non-trivial."""
    cust = _load(spark, sf_dir, "customer")
    orders = _load(spark, sf_dir, "orders").where("o_totalprice > 300000")
    return cust.join(
        orders, cust["c_custkey"] == orders["o_custkey"], "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_bloom_prefilter",
    oracle="""
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '1-URGENT')
GROUP BY l_returnflag
""",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join lineitem to urgent orders through a hand-built bloom
    prefilter (the manual runtime row-level filter): the big side is cut
    by a broadcast 2 KB bit array before the exact verifying semi-join,
    so bloom false positives never reach the output. Aggregated per
    returnflag to keep the compared result compact. See
    join.bloom_prefilter_semi_join."""
    li = _load(spark, sf_dir, "lineitem")
    urgent = _load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_orderkey").alias("l_orderkey"))
    filtered = J.bloom_prefilter_semi_join(li, urgent, "l_orderkey")
    return filtered.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        folds.decimal_sum(_Q).cast("double").alias("sum_qty"),
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT s_nationkey,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
""",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join of lineitem to supplier (each suppkey is a
    hot key: ~6000 lineitem rows per supplier at sf0.1): the supplier
    side is replicated 8x and the big side salted by a deterministic row
    fingerprint, spreading each hot key over 8 reducers. Row-identical
    to the plain join — the oracle is the unsalted SQL. See
    skew.salted_join."""
    from hadoop_1_spark.operators.skew import salted_join

    li = _load(spark, sf_dir, "lineitem")
    supp = _load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    joined, qty = folds.with_unscaled(
        salted_join(
            li, supp, "l_suppkey", "s_suppkey", 8,
            salt_src=F.concat_ws(":", "l_orderkey", "l_linenumber"),
        ),
        _Q,
    )
    return joined.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        folds.money_sum(qty).cast("double").alias("sum_qty"),
    )


_PTOKS = (
    "list_distinct(list_filter("
    "string_split_regex(trim(lower(p_name || ' ' || p_type)), '\\s+'),"
    " t -> t <> ''))"
)


@register(
    "entity_match_parts",
    oracle=f"""
WITH tok AS (
  SELECT p_brand AS blk, p_partkey AS id, unnest({_PTOKS}) AS token FROM part
),
sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS c
  FROM tok a JOIN tok b ON a.blk = b.blk AND a.token = b.token AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id1, id2,
       CAST((c * 1000000) // (s1.n + s2.n - c) AS BIGINT) AS jaccard_q6
FROM inter
JOIN sizes s1 ON inter.id1 = s1.id
JOIN sizes s2 ON inter.id2 = s2.id
WHERE (c * 1000000) // (s1.n + s2.n - c) >= 660000
""",
)
def entity_match_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part dimension: block by brand, match
    on the token set of name + type with exact q6 Jaccard >= 0.66 — the
    master-data "same product, different row" report. Blocking bounds
    candidate generation to in-brand pairs sharing a token; see
    operators/linkage.py for the scale levers (block choice,
    hot_token_cap)."""
    from hadoop_1_spark.operators import linkage

    part = _load(spark, sf_dir, "part")
    return linkage.blocked_jaccard_match(
        part,
        id_col="p_partkey",
        text=F.concat_ws(" ", F.col("p_name"), F.col("p_type")),
        block_cols=("p_brand",),
        min_jaccard_q6=660000,
    )


@register(
    "entity_match_parts_fine",
    oracle=f"""
WITH tok AS (
  SELECT p_brand AS blk1, p_size AS blk2, p_partkey AS id,
         unnest({_PTOKS}) AS token
  FROM part
),
sizes AS (SELECT id, count(*) AS n FROM tok GROUP BY 1),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS c
  FROM tok a JOIN tok b
    ON a.blk1 = b.blk1 AND a.blk2 = b.blk2 AND a.token = b.token AND a.id < b.id
  GROUP BY 1, 2
)
SELECT id1, id2,
       CAST((c * 1000000) // (s1.n + s2.n - c) AS BIGINT) AS jaccard_q6
FROM inter
JOIN sizes s1 ON inter.id1 = s1.id
JOIN sizes s2 ON inter.id2 = s2.id
WHERE (c * 1000000) // (s1.n + s2.n - c) >= 660000
""",
)
def entity_match_parts_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path twin of entity_match_parts: composite
    (brand, size) blocking — 1,250 blocks instead of 25, so in-block
    candidate generation stays reducer-sized as the dimension grows
    (measured: the brand-only query is ~31x at 10x data from the
    quadratic in-block pair growth; this one stays near-linear). The
    recall trade is the classic multi-pass blocking bargain: a true
    match with a size typo needs a second pass under a different block
    key (entity_match_parts IS that coarser pass)."""
    from hadoop_1_spark.operators import linkage

    part = _load(spark, sf_dir, "part")
    return linkage.blocked_jaccard_match(
        part,
        id_col="p_partkey",
        text=F.concat_ws(" ", F.col("p_name"), F.col("p_type")),
        block_cols=("p_brand", "p_size"),
        min_jaccard_q6=660000,
    )


_U = "('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 8))::BIGINT % 100 < 20"


@register(
    "sample_universe_join",
    oracle=f"""
WITH e AS (SELECT * FROM events WHERE {_U.format(k="user_id")}),
c AS (SELECT * FROM customer WHERE {_U.format(k="c_custkey")})
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_joined,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM e JOIN c ON e.user_id = c.c_custkey
GROUP BY 1
""",
)
def sample_universe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Universe sampling in action: events and customers sampled
    COHERENTLY at 20% of the user-key universe, then joined — the
    entity-coherence guarantee (joins of samples == samples of joins,
    exactly) that row-level Bernoulli sampling cannot give; the test
    suite pins that identity row-for-row. Reported as per-segment
    joined counts. See sampling.universe_sample."""
    from hadoop_1_spark.operators import sampling

    ev = sampling.universe_sample(
        _load(spark, sf_dir, "events"), F.col("user_id"), 20
    )
    cu = sampling.universe_sample(
        _load(spark, sf_dir, "customer"), F.col("c_custkey"), 20
    )
    j = ev.join(cu, ev["user_id"] == cu["c_custkey"])
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_joined"),
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
    )


Q3_SEGMENT = "BUILDING"
Q3_CUT_US = 896659200000000  # 1998-06-01 UTC, epoch micros
Q3_CUT_TS = "1998-06-01 00:00:00"
Q3_K = 10


@register(
    "tpch_q3_topk",
    oracle=f"""
SELECT l_orderkey,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8))
            AS VARCHAR) AS revenue,
       CAST(epoch_us(o_orderdate) AS BIGINT) AS orderdate_us,
       o_orderpriority,
       CAST(row_number() OVER (
            ORDER BY CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) DESC,
                     epoch_us(o_orderdate) ASC, l_orderkey ASC) AS INT) AS rank
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{Q3_SEGMENT}'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
QUALIFY rank <= {Q3_K}
""",
)
def tpch_q3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): the canonical OLAP star join —
    segment-filtered customers x date-filtered orders x date-filtered
    lineitem, decimal-exact revenue per order, top-10 by revenue.
    Revenue ships as a DECIMAL(38,8) STRING (the agg_sums_by_flag
    1-ulp rule); o_orderdate as exact epoch micros.

    Shape: both filters push to the parquet scans. The segment-filtered
    customers are a small dimension, broadcast into the orders scan
    (session.py, "Broadcast policy"), so c->o needs no shuffle; o->l is
    planned as a shuffle join on orderkey. When a shuffled side measures
    under AQE's broadcast threshold (at sf0.1 the filtered orders or the
    date-filtered lineitem, whichever stage finishes first) AQE turns
    it into a broadcast join and reads the other side by reducer
    partition. At 100 TB both o->l sides stay shuffled. The per-order
    revenue is the plain decimal sum (folds.decimal_sum) in the partial
    aggregate after the join: its input is the joined, date-filtered
    rows, a small share of lineitem, and the long lanes measured slower
    here (0.60 vs 0.55 s at sf0.1). Top-10 is a TakeOrdered over the
    grouped relation, never a global sort; the rank window runs over the
    10 survivors."""
    from pyspark.sql.window import Window

    cu = _load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == Q3_SEGMENT)
    od = _load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(Q3_CUT_TS).cast("timestamp_ntz")
    )
    li = _load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(Q3_CUT_TS).cast("timestamp_ntz")
    )
    j = cu.join(od, cu["c_custkey"] == od["o_custkey"]).join(
        li, od["o_orderkey"] == li["l_orderkey"]
    )
    g = j.groupBy(
        "l_orderkey",
        F.unix_micros(F.col("o_orderdate")).alias("orderdate_us"),
        "o_orderpriority",
    ).agg(folds.decimal_sum(_REV).alias("_rev"))
    top = g.orderBy(
        F.desc("_rev"), F.asc("orderdate_us"), F.asc("l_orderkey")
    ).limit(Q3_K)
    w = Window.orderBy(F.desc("_rev"), F.asc("orderdate_us"), F.asc("l_orderkey"))
    return top.select(
        "l_orderkey",
        F.col("_rev").cast("string").alias("revenue"),
        "orderdate_us",
        "o_orderpriority",
        F.row_number().over(w).cast("int").alias("rank"),
    )


Q5_REGION = "ASIA"
Q5_LO_US = 820454400000000  # 1996-01-01 UTC, epoch micros
Q5_LO_TS = "1996-01-01 00:00:00"
Q5_HI_US = 852076800000000  # 1997-01-01 UTC
Q5_HI_TS = "1997-01-01 00:00:00"


@register(
    "tpch_q5_local_volume",
    oracle=f"""
SELECT n_name,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8))
            AS VARCHAR) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def tpch_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the six-way snowflake join —
    region -> nation -> supplier tied back to customer nationality
    (c_nationkey = s_nationkey, the query's signature local-commerce
    condition) against date-windowed orders. Revenue per nation as the
    decimal-exact string.

    Shape at 100 TB: region/nation are broadcast leaves; the date
    window pushes to the orders scan; customer->orders and
    orders->lineitem shuffle on their keys with AQE sizing; supplier
    joins on (suppkey, nationkey) — all equi-joins, no residual
    filters outside join conditions."""
    cu = _load(spark, sf_dir, "customer")
    od = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(Q5_LO_TS).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(Q5_HI_TS).cast("timestamp_ntz"))
    )
    li = _load(spark, sf_dir, "lineitem")
    su = _load(spark, sf_dir, "supplier")
    na = _load(spark, sf_dir, "nation")
    re = _load(spark, sf_dir, "region").where(F.col("r_name") == Q5_REGION)
    j = (
        cu.join(od, cu["c_custkey"] == od["o_custkey"])
        .join(li, od["o_orderkey"] == li["l_orderkey"])
        .join(
            su,
            (li["l_suppkey"] == su["s_suppkey"])
            & (cu["c_nationkey"] == su["s_nationkey"]),
        )
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .join(F.broadcast(re), na["n_regionkey"] == re["r_regionkey"])
    )
    return j.groupBy("n_name").agg(folds.decimal_sum(_REV).cast("string").alias("revenue"))


Q18_QTY = 300


@register(
    "tpch_q18_large_orders",
    oracle=f"""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY 1
  HAVING sum(CAST(l_quantity AS DECIMAL(18,4))) > {Q18_QTY}
)
SELECT c_name, c_custkey, o_orderkey,
       CAST(epoch_us(o_orderdate) AS BIGINT) AS orderdate_us,
       CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR) AS totalprice,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4))
            AS VARCHAR) AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
""",
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): the HAVING-driven semi-join —
    orders whose total lineitem quantity exceeds the threshold, joined
    back for customer attribution. Quantities aggregate as exact
    decimals (folds.money_sum); o_totalprice ships as the decimal string.

    Plan: lineitem is aggregated ONCE per l_orderkey (a map-side-combined
    aggregation, the one lineitem scan and shuffle) and the HAVING test
    keeps the big orders' partial sums; orders ⋈ big ⋈ customer follows,
    and sum_qty sums those partials. This is eager aggregation below the
    join: each partial meets every order row with its key exactly as its
    lineitems did, so the sums are the detail join's sums without
    assuming o_orderkey is unique, and no second lineitem join runs.
    No LIMIT — the threshold bounds the result."""
    cu = _load(spark, sf_dir, "customer")
    od = _load(spark, sf_dir, "orders")
    li, qty = folds.with_unscaled(_load(spark, sf_dir, "lineitem"), _Q)
    big = (
        li.groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(folds.money_sum(qty).alias("_sq"))
        .where(F.col("_sq") > Q18_QTY)
    )
    j = od.join(big, "o_orderkey").join(cu, F.col("c_custkey") == F.col("o_custkey"))
    return j.groupBy(
        "c_name",
        "c_custkey",
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate")).alias("orderdate_us"),
        F.col("o_totalprice").cast("decimal(18,4)").alias("_tp"),
    ).agg(
        F.sum("_sq").cast("decimal(38,4)").cast("string").alias("sum_qty")
    ).select(
        "c_name", "c_custkey", "o_orderkey", "orderdate_us",
        F.col("_tp").cast("string").alias("totalprice"), "sum_qty",
    )


Q6_LO_US = 852076800000000   # 1997-01-01 UTC, epoch micros
Q6_LO_TS = "1997-01-01 00:00:00"
Q6_HI_US = 883612800000000   # 1998-01-01 UTC
Q6_HI_TS = "1998-01-01 00:00:00"
Q6_QTY = 24


@register(
    "tpch_q6_forecast",
    oracle=f"""
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(38,8))
            AS VARCHAR) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN CAST(0.05 AS DOUBLE) AND CAST(0.07 AS DOUBLE)
  AND l_quantity < {Q6_QTY}
""",
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-aggregate —
    three range predicates (ship year, discount band, quantity cap) and
    one decimal-exact product sum, no join, no group. The benchmark's
    filter-pushdown shape: all three predicates reach the parquet scan
    and the aggregation is a single map-side-combined fold.

    Shape at 100 TB: one pass over lineitem, partial aggregation per
    partition, one 1-row exchange."""
    li = _load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q6_LO_TS).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q6_HI_TS).cast("timestamp_ntz"))
        # raw-double comparisons so all three predicates PUSH to the
        # parquet scan (a decimal cast would block row-group skipping;
        # both engines compare the same stored double to the same
        # double literal, so the boundary is still engine-identical)
        & F.col("l_discount").between(F.lit(0.05), F.lit(0.07))
        & (F.col("l_quantity") < F.lit(float(Q6_QTY)))
    )
    return li.agg(
        folds.decimal_sum(_P * _D).cast("string").alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


Q10_LO_US = 867715200000000  # 1997-07-01 UTC, epoch micros
Q10_LO_TS = "1997-07-01 00:00:00"
Q10_HI_US = 875664000000000  # 1997-10-01 UTC
Q10_HI_TS = "1997-10-01 00:00:00"
Q10_K = 20


@register(
    "tpch_q10_returns",
    oracle=f"""
SELECT c_custkey, c_name,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8))
            AS VARCHAR) AS revenue,
       CAST(CAST(c_acctbal AS DECIMAL(18,4)) AS VARCHAR) AS acctbal,
       n_name,
       CAST(row_number() OVER (
            ORDER BY CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                              * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) DESC,
                     c_custkey ASC) AS INT) AS rank
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
QUALIFY rank <= {Q10_K}
""",
)
def tpch_q10_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): quarter-windowed orders x
    returned lineitems attributed back to customers and their nation —
    the lost-revenue ranking. Top-20 by decimal-exact revenue with the
    c_custkey tiebreak making the LIMIT boundary deterministic.

    Shape at 100 TB: the returnflag filter pushes to the lineitem scan,
    the date window to orders; nation broadcasts; the top-20 is a
    TakeOrdered over the grouped relation, never a global sort."""
    from pyspark.sql.window import Window

    cu = _load(spark, sf_dir, "customer")
    od = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(Q10_LO_TS).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(Q10_HI_TS).cast("timestamp_ntz"))
    )
    li = _load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    na = _load(spark, sf_dir, "nation")
    j = (
        cu.join(od, cu["c_custkey"] == od["o_custkey"])
        .join(li, od["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(na), cu["c_nationkey"] == na["n_nationkey"])
    )
    g = j.groupBy(
        "c_custkey", "c_name",
        F.col("c_acctbal").cast("decimal(18,4)").alias("_ab"),
        "n_name",
    ).agg(folds.decimal_sum(_REV).alias("_rev"))
    top = g.orderBy(F.desc("_rev"), F.asc("c_custkey")).limit(Q10_K)
    w = Window.orderBy(F.desc("_rev"), F.asc("c_custkey"))
    return top.select(
        "c_custkey", "c_name",
        F.col("_rev").cast("string").alias("revenue"),
        F.col("_ab").cast("string").alias("acctbal"),
        "n_name",
        F.row_number().over(w).cast("int").alias("rank"),
    )


Q14_LO_US = 873072000000000  # 1997-09-01 UTC, epoch micros
Q14_LO_TS = "1997-09-01 00:00:00"
Q14_HI_US = 875664000000000  # 1997-10-01 UTC
Q14_HI_TS = "1997-10-01 00:00:00"


@register(
    "tpch_q14_promo",
    oracle=f"""
SELECT CAST(CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                          THEN CAST(l_extendedprice AS DECIMAL(18,4))
                               * (1 - CAST(l_discount AS DECIMAL(18,4)))
                          ELSE 0 END) AS DECIMAL(38,8)) AS VARCHAR) AS promo_revenue,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8))
            AS VARCHAR) AS total_revenue,
       round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                   * (1 - CAST(l_discount AS DECIMAL(18,4)))
                              ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 6)
         AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
""",
)
def tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): month-windowed lineitem x part with
    a conditional revenue split — promo share of revenue. Numerator and
    denominator ship as decimal-exact strings; the percentage is the one
    double division, rounded to 6 (both engines divide the identical
    decimal-exact sums, so the quotient bits match).

    Shape at 100 TB: the date window pushes to the lineitem scan; part
    joins on partkey (broadcast under AQE when the projected two columns
    fit); one 1-row aggregation."""
    li = _load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q14_LO_TS).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q14_HI_TS).cast("timestamp_ntz"))
    )
    pa = _load(spark, sf_dir, "part").select("p_partkey", "p_type")
    agg = li.join(pa, li["l_partkey"] == pa["p_partkey"]).agg(
        folds.decimal_sum(_REV, when="p_type LIKE 'PROMO%'").alias("_pr"),
        folds.decimal_sum(_REV).alias("_tr"),
    )
    return agg.select(
        F.col("_pr").cast("string").alias("promo_revenue"),
        F.col("_tr").cast("string").alias("total_revenue"),
        F.round(
            F.lit(100.0) * F.col("_pr").cast("double") / F.col("_tr").cast("double"), 6
        ).alias("promo_pct"),
    )


Q7_N1, Q7_N2 = "NATION_1", "NATION_2"
Q7_LO_US = 820454400000000  # 1996-01-01 UTC, epoch micros
Q7_LO_TS = "1996-01-01 00:00:00"
Q7_HI_US = 883612800000000  # 1998-01-01 UTC
Q7_HI_TS = "1998-01-01 00:00:00"


@register(
    "tpch_q7_nation_volume",
    oracle=f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8))
            AS VARCHAR) AS revenue
FROM supplier
JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE ((ns.n_name = '{Q7_N1}' AND nc.n_name = '{Q7_N2}')
    OR (ns.n_name = '{Q7_N2}' AND nc.n_name = '{Q7_N1}'))
  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
""",
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): bidirectional trade volume between two
    nations by ship year — the double-nation-dimension join (the nation
    table joins TWICE under different roles, supplier's and customer's,
    with a disjunctive cross-role predicate).

    Shape at 100 TB: both nation legs broadcast; the OR predicate
    evaluates after the two cheap dimension joins, never widening the
    fact-side shuffle; the date window pushes to the lineitem scan."""
    su = _load(spark, sf_dir, "supplier")
    li = _load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q7_LO_TS).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q7_HI_TS).cast("timestamp_ntz"))
    )
    od = _load(spark, sf_dir, "orders")
    cu = _load(spark, sf_dir, "customer")
    na = _load(spark, sf_dir, "nation")
    ns = na.select(
        F.col("n_nationkey").alias("_ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = na.select(
        F.col("n_nationkey").alias("_nc_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        su.join(li, su["s_suppkey"] == li["l_suppkey"])
        .join(od, od["o_orderkey"] == li["l_orderkey"])
        .join(cu, cu["c_custkey"] == od["o_custkey"])
        .join(F.broadcast(ns), su["s_nationkey"] == F.col("_ns_key"))
        .join(F.broadcast(nc), cu["c_nationkey"] == F.col("_nc_key"))
        .where(
            ((F.col("supp_nation") == Q7_N1) & (F.col("cust_nation") == Q7_N2))
            | ((F.col("supp_nation") == Q7_N2) & (F.col("cust_nation") == Q7_N1))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation",
        F.year(F.col("l_shipdate")).cast("int").alias("l_year"),
    ).agg(folds.decimal_sum(_REV).cast("string").alias("revenue"))


Q8_REGION = "AMERICA"
Q8_NATION = "NATION_1"
Q8_TYPE = "ECONOMY"


@register(
    "tpch_q8_market_share",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(CAST(sum(CASE WHEN ns.n_name = '{Q8_NATION}'
                          THEN CAST(l_extendedprice AS DECIMAL(18,4))
                               * (1 - CAST(l_discount AS DECIMAL(18,4)))
                          ELSE 0 END) AS DECIMAL(38,8)) AS VARCHAR) AS nation_volume,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8))
            AS VARCHAR) AS total_volume,
       round(CAST(sum(CASE WHEN ns.n_name = '{Q8_NATION}'
                      THEN CAST(l_extendedprice AS DECIMAL(18,4))
                           * (1 - CAST(l_discount AS DECIMAL(18,4)))
                      ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE), 6)
         AS mkt_share
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region ON nc.n_regionkey = r_regionkey
WHERE r_name = '{Q8_REGION}'
  AND p_type = '{Q8_TYPE}'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
""",
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): a supplier nation's share of a
    region's order volume for one part type, by order year — the widest
    snowflake in the suite (part, lineitem, orders, customer, supplier,
    two nation roles, region). Numerator/denominator ship decimal-exact;
    the share is one rounded double division of identical sums.

    Shape at 100 TB: part-type and region filters push to leaf scans,
    dimensions broadcast; only lineitem/orders/customer shuffle."""
    pa = _load(spark, sf_dir, "part").where(F.col("p_type") == Q8_TYPE)
    li = _load(spark, sf_dir, "lineitem")
    od = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(Q7_LO_TS).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(Q7_HI_TS).cast("timestamp_ntz"))
    )
    cu = _load(spark, sf_dir, "customer")
    su = _load(spark, sf_dir, "supplier")
    na = _load(spark, sf_dir, "nation")
    re = _load(spark, sf_dir, "region").where(F.col("r_name") == Q8_REGION)
    ns = na.select(
        F.col("n_nationkey").alias("_ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = na.select(
        F.col("n_nationkey").alias("_nc_key"), F.col("n_regionkey").alias("_nc_reg")
    )
    j = (
        F.broadcast(pa).join(li, pa["p_partkey"] == li["l_partkey"])
        .join(od, od["o_orderkey"] == li["l_orderkey"])
        .join(cu, cu["c_custkey"] == od["o_custkey"])
        .join(su, su["s_suppkey"] == li["l_suppkey"])
        .join(F.broadcast(ns), su["s_nationkey"] == F.col("_ns_key"))
        .join(F.broadcast(nc), cu["c_nationkey"] == F.col("_nc_key"))
        .join(F.broadcast(re), F.col("_nc_reg") == re["r_regionkey"])
    )
    g = j.groupBy(F.year(F.col("o_orderdate")).cast("int").alias("o_year")).agg(
        folds.decimal_sum(_REV, when=f"supp_nation = '{Q8_NATION}'").alias("_nv"),
        folds.decimal_sum(_REV).alias("_tv"),
    )
    return g.select(
        "o_year",
        F.col("_nv").cast("string").alias("nation_volume"),
        F.col("_tv").cast("string").alias("total_volume"),
        F.round(F.col("_nv").cast("double") / F.col("_tv").cast("double"), 6).alias("mkt_share"),
    )


@register(
    "tpch_q13_order_distribution",
    oracle="""
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS INT) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
""",
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order distribution): LEFT-join count per
    customer (zero-order customers MUST appear — the outer-join-then-
    count-non-null idiom), then the histogram of those counts. (The
    reference query's o_comment NOT LIKE filter is dropped: the fixture
    has no o_comment column; the join/distribution shape is the point.)

    Shape at 100 TB: one equi-join shuffle on custkey with map-side
    partial counts, then a bounded second aggregation (distinct order
    counts are O(hundreds))."""
    cu = _load(spark, sf_dir, "customer").select("c_custkey")
    od = _load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per = (
        cu.join(od, cu["c_custkey"] == od["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("int").alias("c_count"))
    )
    return per.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


Q15_LO_US = 852076800000000  # 1997-01-01 UTC, epoch micros
Q15_LO_TS = "1997-01-01 00:00:00"
Q15_HI_US = 859852800000000  # 1997-04-01 UTC
Q15_HI_TS = "1997-04-01 00:00:00"


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY 1
)
SELECT s_suppkey, s_name, CAST(total_revenue AS VARCHAR) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the view-then-scalar-subquery shape —
    quarterly revenue per supplier, keep the supplier(s) AT the maximum
    (ties all returned, per the spec; decimal equality is exact so the
    boundary is deterministic).

    Shape at 100 TB: the revenue relation is supplier-sized; its max is
    a 1-row broadcast joined back — the view is computed ONCE and read
    twice via persist, not recomputed per leg."""
    from hadoop_1_spark.operators.caching import persist_tracked

    li = _load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q15_LO_TS).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q15_HI_TS).cast("timestamp_ntz"))
    )
    rev = persist_tracked(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            folds.decimal_sum(_REV).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    su = _load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), rev["total_revenue"] == mx["_mx"])
        .join(su, su["s_suppkey"] == rev["supplier_no"])
        .select(
            "s_suppkey", "s_name",
            F.col("total_revenue").cast("string").alias("total_revenue"),
        )
    )


Q17_BRAND = "Brand#23"


@register(
    "tpch_q17_small_quantity",
    oracle=f"""
WITH pl AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = '{Q17_BRAND}'
),
avgq AS (
  SELECT l_partkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS sq,
         CAST(count(*) AS BIGINT) AS cnt
  FROM pl GROUP BY 1
)
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,8))
            AS VARCHAR) AS sum_extprice,
       CAST(count(*) AS BIGINT) AS n_items,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0, 6)
         AS avg_yearly
FROM pl JOIN avgq USING (l_partkey)
WHERE CAST(l_quantity AS DECIMAL(18,4)) * 5 * cnt < sq
""",
)
def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated scalar
    subquery — keep lineitems whose quantity is under 20% of their
    part's average. Decorrelated to a per-part aggregate + self-join
    (what Catalyst does to the correlated form), with the 0.2*avg
    comparison made EXACT by cross-multiplying: qty < 0.2*(sum/cnt)
    <=> 5*qty*cnt < sum — no division, pure decimal/integer arithmetic,
    so the boundary rows match the oracle bit-for-bit. (The reference
    query's p_container filter is dropped: no such column; brand alone
    keeps the shape.)

    Shape at 100 TB: part-brand filter pushes into the broadcast part
    leg; ONE shuffle on l_partkey feeds both the per-part aggregate and
    the rejoin (same key). Output is a 1-row summary."""
    from hadoop_1_spark.operators.caching import persist_tracked

    pa = _load(spark, sf_dir, "part").where(F.col("p_brand") == Q17_BRAND)
    li = _load(spark, sf_dir, "lineitem")
    dq = F.col("l_quantity").cast("decimal(18,4)")
    pl = persist_tracked(
        li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"]).select(
            "l_partkey", "l_quantity", "l_extendedprice"
        )
    )
    avgq = pl.groupBy("l_partkey").agg(
        folds.decimal_sum(_Q).alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    )
    j = pl.join(avgq, "l_partkey").where(dq * 5 * F.col("cnt") < F.col("sq"))
    return j.agg(
        folds.decimal_sum(_P).alias("_s"), F.count(F.lit(1)).cast("bigint").alias("n_items")
    ).select(
        F.col("_s").cast("decimal(38,8)").cast("string").alias("sum_extprice"),
        "n_items",
        F.round(F.col("_s").cast("double") / F.lit(7.0), 6).alias("avg_yearly"),
    )


# ---------------------------------------------------------------------------
# TPC-H family completion (round 7). The driver testdata is a simplified
# TPC-H: no partsupp table and no l_commitdate/l_receiptdate/l_shipmode/
# p_container/c_phone columns. Q2 and Q11 are partsupp-only and stay out of
# scope (SURVEY §2.4 note); the rest of the family is implemented with the
# reference plan SHAPES intact and the missing columns adapted to present
# ones — each adaptation documented on the query. Decimal discipline as the
# rest of the family: sums as DECIMAL strings, comparisons cross-multiplied,
# discount/tax as DECIMAL(6,4) so chained products stay inside precision 38
# in BOTH engines.

Q1_CUT_TS = "1998-09-02 00:00:00"


@register(
    "tpch_q1_pricing",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS VARCHAR) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(38,8)) AS VARCHAR) AS sum_disc_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(6,4)))
                     * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS DECIMAL(38,12)) AS VARCHAR) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / count(*), 6) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{Q1_CUT_TS}'
GROUP BY l_returnflag, l_linestatus
""",
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 (pricing summary report), the full column set: per
    (returnflag, linestatus) over shipped-by-cutoff lineitems — quantity /
    base / discounted / charged sums (exact decimals shipped as strings;
    disc and tax cast to DECIMAL(6,4) so the 3-factor charge product is
    (34,12) in Spark and (33,12) in DuckDB, exact in both) and the three
    averages (round(double/count, 6), division identical in both engines).

    Shape at 100 TB: the benchmark's map-side-combine yardstick — one
    pushed-filter scan, partial aggregation per partition, a 4-row
    exchange."""
    li = _load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit(Q1_CUT_TS).cast("timestamp_ntz")
    )
    li, qty, price, rev, charge, disc = folds.with_unscaled(
        li, folds.money("l_quantity", 12), _P, _REV6,
        _REV6 * (1 + folds.money("l_tax", 6)), _D6,
    )
    cnt = F.col("count_order")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            folds.money_sum(qty).alias("_q"),
            folds.money_sum(price).alias("_p"),
            folds.money_sum(rev).cast("string").alias("sum_disc_price"),
            folds.money_sum(charge).cast("string").alias("sum_charge"),
            folds.money_sum(disc).alias("_d"),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            F.col("_q").cast("string").alias("sum_qty"),
            F.col("_p").cast("string").alias("sum_base_price"),
            "sum_disc_price", "sum_charge",
            F.round(F.col("_q").cast("double") / cnt, 6).alias("avg_qty"),
            F.round(F.col("_p").cast("double") / cnt, 6).alias("avg_price"),
            F.round(F.col("_d").cast("double") / cnt, 6).alias("avg_disc"),
            "count_order",
        )
    )


Q4_LO_TS = "1997-07-01 00:00:00"
Q4_HI_TS = "1997-10-01 00:00:00"
Q4_LATE_DAYS = 60


@register(
    "tpch_q4_priority",
    oracle=f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{Q4_LO_TS}' AND o_orderdate < TIMESTAMP '{Q4_HI_TS}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY)
GROUP BY o_orderpriority
""",
)
def tpch_q4_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): one quarter of orders, counted
    per priority when EXISTS a late lineitem. The reference's lateness is
    l_commitdate < l_receiptdate (columns absent here); adapted to
    l_shipdate > o_orderdate + 60 days — same correlated-EXISTS shape,
    which decorrelates to a LEFT SEMI join with a non-equi residual.

    Shape at 100 TB: the date window pushes to the orders scan; ONE
    shuffle pair on orderkey for the semi join (lineitem is never wider
    than (orderkey, shipdate) after pruning); 5-row output."""
    od = _load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit(Q4_LO_TS).cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit(Q4_HI_TS).cast("timestamp_ntz"))
    )
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = od.join(
        li,
        (od["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > od["o_orderdate"] + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("order_count")
    )


Q9_NAME_PREFIX = "red"


@register(
    "tpch_q9_profit",
    oracle=f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                       * (1 - CAST(l_discount AS DECIMAL(6,4)))
                     - (CAST(p_retailprice AS DECIMAL(12,4)) * CAST(0.6 AS DECIMAL(6,4)))
                       * CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,12))
            AS VARCHAR) AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '{Q9_NAME_PREFIX}%'
GROUP BY n_name, year(o_orderdate)
""",
)
def tpch_q9_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit): profit per (supplier nation, order
    year) over name-filtered parts. The reference's cost leg is
    ps_supplycost * quantity (no partsupp table here); adapted to a fixed
    0.6 * p_retailprice unit cost — the 5-way snowflake (3 broadcast dims
    + the orderkey shuffle) and the year(extract)-grouped exact-decimal
    profit sum keep Q9's plan shape.

    Shape at 100 TB: part (name-filtered), supplier and nation broadcast;
    lineitem⋈orders is the one big shuffle; group keys are 25 nations x
    ~7 years, so the final exchange is trivial."""
    li = _load(spark, sf_dir, "lineitem")
    pa = _load(spark, sf_dir, "part").where(F.col("p_name").startswith(Q9_NAME_PREFIX))
    su = _load(spark, sf_dir, "supplier")
    od = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    na = _load(spark, sf_dir, "nation")
    cost = folds.money("p_retailprice", 12) * folds.money_const("0.6", 6)
    amount = _REV6 - cost * folds.money("l_quantity", 12)
    j, amount = folds.with_unscaled(
        li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"])
        .join(F.broadcast(su), li["l_suppkey"] == su["s_suppkey"])
        .join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"]),
        amount,
    )
    return j.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    ).agg(folds.money_sum(amount).cast("string").alias("sum_profit"))


Q12_YEAR_LO = "1997-01-01 00:00:00"
Q12_YEAR_HI = "1998-01-01 00:00:00"
Q12_LATE_DAYS = 30


@register(
    "tpch_q12_shipmode",
    oracle=f"""
SELECT l_linestatus AS ship_class,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '{Q12_YEAR_LO}'
  AND l_shipdate < TIMESTAMP '{Q12_YEAR_HI}'
  AND l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
GROUP BY l_linestatus
""",
)
def tpch_q12_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes and order priority): per shipping class,
    how many late lines belonged to high- vs low-priority orders. The
    reference classes by l_shipmode with a commit/receipt lateness chain
    (columns absent here); adapted to l_linestatus classes and
    l_shipdate > o_orderdate + 30 days within the 1997 ship year — the
    same join + dual conditional-count shape.

    Shape at 100 TB: both date predicates push to the lineitem scan; one
    orderkey shuffle join (the priority column is the only orders column
    kept); 2-row output from map-side-combined CASE sums."""
    od = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit(Q12_YEAR_LO).cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit(Q12_YEAR_HI).cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        od.join(
            li,
            (od["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > od["o_orderdate"] + F.expr(f"INTERVAL {Q12_LATE_DAYS} DAYS")),
        )
        .groupBy(F.col("l_linestatus").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


Q16_EXCL_BRAND = "Brand#1"
Q16_SIZES = (1, 4, 7, 10, 13, 16, 19, 22)


@register(
    "tpch_q16_supplier_cnt",
    oracle=f"""
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> '{Q16_EXCL_BRAND}'
  AND p_size IN {Q16_SIZES}
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
)
def tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): distinct supplier count
    per (brand, type, size) for a size list minus one brand, excluding
    black-listed suppliers via NOT IN. Two adaptations: the part-supplier
    relation is the distinct (l_partkey, l_suppkey) pairs of lineitem (no
    partsupp table), and the complaint blacklist is s_acctbal < 0 (no
    s_comment column) — the NOT-IN anti-join + distinct-count shape is
    the point.

    Shape at 100 TB: the blacklist is supplier-sized and broadcast as a
    LEFT ANTI join; the pair-distinct and the count-distinct share the
    same (partkey-major) shuffle; part is a broadcast dim with both
    filters pushed."""
    li = _load(spark, sf_dir, "lineitem")
    pa = _load(spark, sf_dir, "part").where(
        (F.col("p_brand") != Q16_EXCL_BRAND) & F.col("p_size").isin(*Q16_SIZES)
    )
    bad = _load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    ps = li.select("l_partkey", "l_suppkey").distinct()
    return (
        ps.join(F.broadcast(bad), ps["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(pa), F.col("l_partkey") == pa["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


Q19_BANDS = (("Brand#12", 5, 1, 11), ("Brand#23", 10, 10, 20), ("Brand#34", 15, 20, 30))


@register(
    "tpch_q19_disjunctive",
    oracle=f"""
SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(38,8))
            AS VARCHAR) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE ({" OR ".join(f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {s} AND l_quantity BETWEEN {ql} AND {qh})" for b, s, ql, qh in Q19_BANDS)})
""",
)
def tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue): the disjunctive join — an OR of
    three (brand, size band, quantity band) conjunctions that references
    BOTH sides, so it can only be a join residual, not a pushed filter.
    The reference's container/shipmode legs are absent; brand x size x
    quantity keeps the three-armed OR shape.

    Shape at 100 TB: part is broadcast; each OR arm's single-side
    conjuncts (brand+size on part, quantity on lineitem) are extracted by
    Catalyst into pushed pre-filters (the classic Q19 optimization), the
    full disjunction evaluated as the join residual."""
    li = _load(spark, sf_dir, "lineitem")
    pa = _load(spark, sf_dir, "part")
    arm = None
    for b, s, ql, qh in Q19_BANDS:
        a = (
            (pa["p_brand"] == b)
            & pa["p_size"].between(1, s)
            & li["l_quantity"].between(float(ql), float(qh))
        )
        arm = a if arm is None else (arm | a)
    j = li.join(F.broadcast(pa), (li["l_partkey"] == pa["p_partkey"]) & arm)
    return j.agg(
        folds.decimal_sum(_REV6).cast("string").alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


Q20_NAME_PREFIX = "red"
Q20_YEAR_LO = "1997-01-01 00:00:00"
Q20_YEAR_HI = "1998-01-01 00:00:00"


@register(
    "tpch_q20_part_promotion",
    oracle=f"""
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS qty_total,
         CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '{Q20_YEAR_LO}'
                        AND l_shipdate < TIMESTAMP '{Q20_YEAR_HI}'
                       THEN CAST(l_quantity AS DECIMAL(12,4))
                       ELSE CAST(0 AS DECIMAL(12,4)) END) AS DECIMAL(38,4)) AS qty_1997
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '{Q20_NAME_PREFIX}%')
  GROUP BY l_partkey, l_suppkey
)
SELECT DISTINCT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM ps
                    WHERE 2 * qty_1997 > qty_total AND qty_total >= 60)
""",
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers whose stock of
    name-filtered parts is dominated by one year's shipments. The
    reference compares ps_availqty against 0.5 * the year's shipped
    quantity (no partsupp here); adapted to pairs derived from lineitem —
    keep (part, supplier) pairs whose 1997 shipments exceed half their
    all-time shipments, cross-multiplied (2*q97 > qtotal) so the 0.5
    factor never divides, with a volume floor (qty_total >= 60) standing
    in for the reference's availqty magnitude so the predicate is
    actually selective (39 of 100 suppliers at sf0.01). Same
    nested-semi-join chain: part-name filter -> per-pair correlated
    aggregate -> supplier semi-join.

    Shape at 100 TB: the part filter broadcasts into the lineitem scan as
    a semi join; ONE (partkey, suppkey) shuffle computes both quantity
    sums in a single pass (conditional aggregation, not a second scan);
    the surviving supplier-key set is tiny and broadcast."""
    li = _load(spark, sf_dir, "lineitem")
    pa = _load(spark, sf_dir, "part").where(
        F.col("p_name").startswith(Q20_NAME_PREFIX)
    ).select("p_partkey")
    su = _load(spark, sf_dir, "supplier")
    in_97 = (
        f"l_shipdate >= CAST('{Q20_YEAR_LO}' AS TIMESTAMP_NTZ)"
        f" AND l_shipdate < CAST('{Q20_YEAR_HI}' AS TIMESTAMP_NTZ)"
    )
    semi, dq = folds.with_unscaled(
        li.join(F.broadcast(pa), li["l_partkey"] == pa["p_partkey"], "left_semi"),
        folds.money("l_quantity", 12),
    )
    ps = (
        semi.groupBy("l_partkey", "l_suppkey")
        .agg(
            folds.money_sum(dq).alias("qty_total"),
            folds.money_sum(dq, when=in_97).alias("qty_1997"),
        )
        .where(
            (F.lit(2) * F.col("qty_1997") > F.col("qty_total"))
            & (F.col("qty_total") >= 60)
        )
        .select("l_suppkey")
    )
    return (
        su.join(F.broadcast(ps), su["s_suppkey"] == ps["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .distinct()
    )


Q21_LATE_DAYS = 90


@register(
    "tpch_q21_waiting",
    oracle=f"""
WITH fo AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN fo ON l_orderkey = o_orderkey
),
late AS (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem JOIN fo ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM pairs p WHERE p.l_orderkey = l1.l_orderkey
                AND p.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3 WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
""",
)
def tpch_q21_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting): over finished
    orders, count per supplier the multi-supplier orders where ONLY that
    supplier was late — the double correlated EXISTS / NOT EXISTS on the
    same fact table. Lateness adapted to l_shipdate > o_orderdate + 90
    days (no commit/receipt dates); the reference's nation filter is
    dropped (4 suppliers per nation at driver scale would zero the
    result) — the self-semi/anti join chain is the shape under test.

    Shape at 100 TB: one orderkey shuffle builds both the late and the
    all-pairs relations from the same scan; the EXISTS legs are
    orderkey-co-partitioned semi/anti self-joins (no extra exchange of
    the fact table); supplier names broadcast at the end."""
    from hadoop_1_spark.operators.caching import persist_tracked

    od = _load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    su = _load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    lo = li.join(od, li["l_orderkey"] == od["o_orderkey"]).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")).alias("is_late"),
    )
    pairs = persist_tracked(
        lo.groupBy("l_orderkey", "l_suppkey").agg(F.max("is_late").alias("late"))
    )
    late = pairs.where(F.col("late"))
    others = pairs.select(
        F.col("l_orderkey").alias("o_k"), F.col("l_suppkey").alias("o_s"), "late"
    )
    waiting = (
        late.join(
            others,
            (F.col("l_orderkey") == F.col("o_k")) & (F.col("l_suppkey") != F.col("o_s")),
            "left_semi",
        )
        .join(
            others.where(F.col("late")),
            (F.col("l_orderkey") == F.col("o_k")) & (F.col("l_suppkey") != F.col("o_s")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(su), waiting["l_suppkey"] == su["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
    )


Q22_NATIONS = (1, 3, 5, 7, 9, 11, 13)
Q22_ACTIVE_TS = "1999-01-01 00:00:00"


@register(
    "tpch_q22_global_sales",
    oracle=f"""
WITH pos AS (
  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM customer WHERE c_acctbal > 0 AND c_nationkey IN {Q22_NATIONS}
)
SELECT c_nationkey AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS VARCHAR) AS totacctbal
FROM customer, pos
WHERE c_nationkey IN {Q22_NATIONS}
  AND CAST(c_acctbal AS DECIMAL(12,4)) * n > s
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_ACTIVE_TS}')
GROUP BY c_nationkey
""",
)
def tpch_q22_global_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): customers in a country list
    with above-average positive balances and no RECENT orders (every
    sf0.01 customer has some historical order, so the reference's
    no-orders-ever anti-join would be vacuously empty; inactivity since
    1999 keeps the NOT EXISTS bite — 29 customers qualify), counted per
    country. The country code is c_nationkey (no c_phone column). The
    scalar AVG subquery is kept exact by cross-multiplying:
    acctbal > sum/cnt <=> acctbal * cnt > sum — decimal-integer
    arithmetic, no division; the anti-join is the NOT EXISTS.

    Shape at 100 TB: the 1-row (sum, cnt) aggregate broadcasts via
    crossJoin; orders is pruned to (custkey, date-filtered) for the anti
    join (the one shuffle); 7-row output."""
    cu = _load(spark, sf_dir, "customer").where(
        F.col("c_nationkey").isin(*Q22_NATIONS)
    )
    od = (
        _load(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit(Q22_ACTIVE_TS).cast("timestamp_ntz"))
        .select("o_custkey")
    )
    bal = folds.money("c_acctbal", 12)
    pos = cu.where(F.col("c_acctbal") > 0).agg(
        folds.decimal_sum(bal).alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        cu.crossJoin(F.broadcast(pos))
        .where(F.expr(bal.dec) * F.col("n") > F.col("s"))
        .join(od, F.col("c_custkey") == od["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            folds.decimal_sum(bal).cast("string").alias("totacctbal"),
        )
    )
