"""Aggregation-family queries (SURVEY.md §2.5): the aggregate framework,
sum/min/max reducers, UniqValueCount cap semantics, ValueHistogram, and the
DBCountPageView group-count.

Determinism policy: double sums go through DECIMAL(18,4) (exact, order-
independent) and back to DOUBLE — identical bits in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_1_spark.operators import aggregate as agg
from hadoop_1_spark.operators import folds
from hadoop_1_spark.registry import _load, register

UNIQ_CAP = 10


@register(
    "agg_framework",
    oracle=f"""
SELECT concat('count_', event_type) AS key, CAST(count(*) AS VARCHAR) AS value
FROM events GROUP BY event_type
UNION ALL
SELECT 'max_user', CAST(max(user_id) AS VARCHAR) FROM events
UNION ALL
SELECT 'min_user', CAST(min(user_id) AS VARCHAR) FROM events
UNION ALL
SELECT 'etype_max', max(event_type) FROM events
UNION ALL
SELECT 'etype_min', min(event_type) FROM events
UNION ALL
SELECT 'uniq_users', CAST(least(count(DISTINCT user_id), {UNIQ_CAP + 1}) AS VARCHAR) FROM events
""",
)
def agg_framework(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full aggregate-descriptor framework (ValueAggregatorJob.java:81)
    over events: per-type record counts (LongValueSum with data-derived id,
    the AggregatorTests shape), numeric and string min/max, capped
    UniqValueCount. One framework invocation = several named aggregations."""
    events = _load(spark, sf_dir, "events")
    descriptors = [
        agg.Descriptor(agg.LONG_VALUE_SUM, F.concat(F.lit("count_"), F.col("event_type")), F.lit(1)),
        agg.Descriptor(agg.LONG_VALUE_MAX, F.lit("max_user"), F.col("user_id")),
        agg.Descriptor(agg.LONG_VALUE_MIN, F.lit("min_user"), F.col("user_id")),
        agg.Descriptor(agg.STRING_VALUE_MAX, F.lit("etype_max"), F.col("event_type")),
        agg.Descriptor(agg.STRING_VALUE_MIN, F.lit("etype_min"), F.col("event_type")),
        agg.Descriptor(agg.UNIQ_VALUE_COUNT, F.lit("uniq_users"), F.col("user_id")),
    ]
    return agg.aggregate_descriptors(events, descriptors, uniq_cap=UNIQ_CAP)


@register(
    "agg_sums_by_flag",
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8)) AS VARCHAR) AS sum_disc_price,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(max(l_quantity) AS DOUBLE) AS max_qty,
  CAST(min(l_quantity) AS DOUBLE) AS min_qty,
  CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def agg_sums_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LongValueSum/DoubleValueSum/Max/Min reducers in one grouped plan
    (mapred/lib/aggregate + LongSumReducer.java:33): the canonical pricing
    summary. Catalyst's partial aggregation = the reference combiner; at
    100 TB this is one shuffle on a 6-value grouping key."""
    dp = folds.money("l_extendedprice")
    li, qty, price, rev = folds.with_unscaled(
        _load(spark, sf_dir, "lineitem"),
        folds.money("l_quantity"), dp, dp * (1 - folds.money("l_discount")),
    )
    sum_qty = folds.money_sum(qty).cast("double")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_qty.alias("sum_qty"),
        folds.money_sum(price).cast("double").alias("sum_base_price"),
        # scale-8 decimal stays a STRING: DuckDB's decimal->double cast
        # double-rounds (int128->double, then /10^8) and drifts 1 ulp from
        # Spark's correctly-rounded cast once the scaled int passes 2^53
        # (surfaced by the sf0.1 oracle sweep; scale-4 sums stay exact)
        folds.money_sum(rev).cast("string").alias("sum_disc_price"),
        (sum_qty / F.count("*")).alias("avg_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.count("*").cast("bigint").alias("count_order"),
    )


@register(
    "uniq_count_capped",
    oracle=f"""
SELECT c_mktsegment,
  CAST(least(count(DISTINCT c_nationkey), {UNIQ_CAP + 1}) AS BIGINT) AS uniq_nations,
  CAST(count(DISTINCT c_nationkey) AS BIGINT) AS exact_nations
FROM customer GROUP BY c_mktsegment
""",
)
def uniq_count_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniqValueCount cap semantics (UniqValueCount.java:81): result is
    min(distinct, cap+1) — the insert loop stops only after exceeding the
    cap. approx_count_distinct is the documented scale-out alternative."""
    cust = _load(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        agg.uniq_value_count(F.col("c_nationkey"), UNIQ_CAP).cast("bigint").alias("uniq_nations"),
        F.count_distinct(F.col("c_nationkey")).cast("bigint").alias("exact_nations"),
    )


@register(
    "value_histogram",
    oracle="""
WITH freqs AS (
  SELECT event_type AS id, user_id AS val, count(*) AS cnt
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT id, val, cnt, row_number() OVER (PARTITION BY id ORDER BY cnt ASC, val ASC) AS rn
  FROM freqs
), sizes AS (
  SELECT id, count(*) AS nvals FROM freqs GROUP BY id
), base AS (
  SELECT id, CAST(count(*) AS BIGINT) AS unique_values,
         CAST(min(cnt) AS BIGINT) AS min_freq,
         CAST(max(cnt) AS BIGINT) AS max_freq,
         CAST(sum(cnt) AS BIGINT) AS total,
         CAST(sum(cnt * cnt) AS BIGINT) AS total_sq
  FROM freqs GROUP BY id
), med AS (
  SELECT r.id, CAST(r.cnt AS BIGINT) AS median_freq
  FROM ranked r JOIN sizes s ON r.id = s.id
  WHERE r.rn = CAST(floor(s.nvals / 2) AS INT) + 1
)
SELECT b.id, b.unique_values, b.min_freq, m.median_freq, b.max_freq,
       b.total * 1.0 / b.unique_values AS avg_freq,
       sqrt(b.total_sq * 1.0 / b.unique_values
            - (b.total * 1.0 / b.unique_values) * (b.total * 1.0 / b.unique_values)) AS stddev_freq
FROM base b JOIN med m ON b.id = m.id
""",
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValueHistogram (ValueHistogram.java:78-134) as typed columns: per
    event_type, the frequency-histogram stats over user_id occurrences
    (#unique, min/upper-median/max/mean/population-stddev of frequencies).
    The exact report-string variant is histogram_report_df (unit-tested
    against the reference's formatting)."""
    events = _load(spark, sf_dir, "events")
    return agg.histogram_stats(events, F.col("event_type"), F.col("user_id"))


@register(
    "dbcount_pageview",
    oracle="""
SELECT event_type AS url, CAST(count(*) AS BIGINT) AS pageview
FROM events GROUP BY event_type
""",
)
def dbcount_pageview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBCountPageView (examples/DBCountPageView.java:72), LIVE end-to-end
    against embedded Derby (the JDBC engine Spark ships, standing in for
    the reference's embedded HSQLDB, DBCountPageView.java:124):

    initialize() -> JDBC-write the access log into an Access table (K8);
    the job     -> JDBC-read it back through DataDrivenDBInputFormat-style
                   min/max range splits (S11), group-count by url;
    verify()    -> JDBC-write the Pageview table and read it back — what's
                   returned has round-tripped the database twice.

    The Derby database is in-memory and keyed by a fresh uuid per call, so
    repeated runs never collide; at cluster scale the same code points at
    a real database URL and ``num_partitions`` caps connections."""
    import uuid

    from hadoop_1_spark.sources import io

    url = f"jdbc:derby:memory:dbcount_{uuid.uuid4().hex};create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    events = _load(spark, sf_dir, "events")
    access = events.select(
        F.col("event_type").alias("url"), F.col("user_id").alias("ip")
    )
    io.write_jdbc(access, url, "access", mode="overwrite", **drv)
    access_db = io.read_jdbc(
        spark, url, "access",
        partition_column="ip", lower=0, upper=100_000, num_partitions=4,
        **drv,
    )
    counts = access_db.groupBy("url").agg(
        F.count(F.lit(1)).cast("bigint").alias("pageview")
    )
    io.write_jdbc(counts, url, "pageview", mode="overwrite", **drv)
    return io.read_jdbc(spark, url, "pageview", **drv).select(
        "url", F.col("pageview").cast("bigint").alias("pageview")
    )


@register(
    "value_histogram_details",
    oracle="""
SELECT event_type AS id, CAST(user_id AS VARCHAR) AS val, CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY 1, 2
""",
)
def value_histogram_details(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ValueHistogram.getReportDetails parity (ValueHistogram.java:103-115):
    the per-(id, value) frequency dump behind the report stats."""
    events = _load(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.col("event_type").alias("id"),
            F.col("user_id").cast("string").alias("val"),
        )
        .agg(F.count("*").cast("long").alias("cnt"))
    )


@register(
    "agg_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ROLLUP — a Catalyst-free extension the
    reference cannot express in one job (SURVEY §2.5 'not present':
    grouping sets/cube/rollup need one MR pass per level there; Spark
    evaluates all levels in a single Expand + one shuffle)."""
    li, qty = folds.with_unscaled(_load(spark, sf_dir, "lineitem"), folds.money("l_quantity"))
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").cast("bigint").alias("n"),
        folds.money_sum(qty).cast("double").alias("sum_qty"),
    )


@register(
    "agg_cube",
    oracle="""
SELECT c_mktsegment, c_nationkey,
  CAST(GROUPING(c_mktsegment, c_nationkey) AS INT) AS gid,
  CAST(count(*) AS BIGINT) AS n,
  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer
GROUP BY CUBE(c_mktsegment, c_nationkey)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-subsets aggregation via CUBE (extension, same Expand-based
    single-shuffle evaluation)."""
    cust = _load(spark, sf_dir, "customer")
    return cust.cube("c_mktsegment", "c_nationkey").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count("*").cast("bigint").alias("n"),
        folds.decimal_sum(folds.money("c_acctbal")).cast("double").alias("total_bal"),
    )


@register("uniq_count_approx")  # rows-only: HLL sketch values are engine-specific
def uniq_count_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-scale variant of UniqValueCount: approx_count_distinct
    (HyperLogLog++, fixed-size sketch, no exact-distinct shuffle). No SQL
    oracle — sketch estimates are engine-specific, so the driver applies
    its weaker rows-only check; the exact twin is uniq_count_capped."""
    ev = _load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users")
    )


@register("percentile_approx_cdf")  # rows-only: sketch values are engine-specific
def percentile_approx_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale variant of rumen_cdf: percentile_approx (bounded-memory
    sketch) instead of exact percentile. Rows-only check; exact twin is
    rumen_cdf. Scalar columns (not one array column) so the driver's
    row canonicalization can sort/hash the result."""
    ev = _load(spark, sf_dir, "events")
    q = F.percentile_approx("value", [0.25, 0.5, 0.75, 0.95], 10000)
    return ev.groupBy("event_type").agg(
        F.element_at(q, 1).alias("p25"),
        F.element_at(q, 2).alias("p50"),
        F.element_at(q, 3).alias("p75"),
        F.element_at(q, 4).alias("p95"),
    )


KMV_K = 64


@register(
    "uniq_count_kmv",
    oracle=f"""
WITH h AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
r AS (SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM h),
t AS (SELECT event_type, count(*) AS n,
             max(CASE WHEN rk = {KMV_K}
                 THEN (CAST(('0x' || substr(h, 1, 13))::BIGINT AS DOUBLE) + 1.0)
                      / 4503599627370496.0 END) AS kth
      FROM r WHERE rk <= {KMV_K} GROUP BY 1)
SELECT event_type,
       CASE WHEN n < {KMV_K} THEN CAST(n AS DOUBLE)
            ELSE round({KMV_K - 1}.0 / kth, 6) END AS distinct_est,
       CAST(n AS INT) AS n_hashes
FROM t
""",
)
def uniq_count_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV distinct-count sketch per event type — the
    oracle-checkable approximate twin of UniqValueCount: unlike the HLL
    variant (uniq_count_approx, engine-specific registers, rows-only
    check), every step replays in SQL so the driver hash-checks the
    SKETCH VALUES themselves. Exact twin: uniq_count_capped."""
    ev = _load(spark, sf_dir, "events")
    return agg.kmv_distinct(ev, "event_type", "user_id", k=KMV_K)


@register(
    "percentile_sample_quantiles",
    oracle="""
WITH r AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rk
  FROM events
),
s AS (SELECT event_type, v FROM r WHERE rk <= 200),
a AS (SELECT event_type, list_sort(list(v)) AS vs FROM s GROUP BY 1)
SELECT event_type,
  round(vs[CAST(floor((len(vs) - 1) * 0.5) AS INT) + 1], 6) AS p50,
  round(vs[CAST(floor((len(vs) - 1) * 0.95) AS INT) + 1], 6) AS p95,
  round(vs[CAST(floor((len(vs) - 1) * 0.99) AS INT) + 1], 6) AS p99
FROM a
""",
)
def percentile_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sample-based quantiles per event type (s=200 rows
    chosen by md5 rank) — the oracle-checkable approximate twin of
    percentile_approx_cdf: bounded memory like a sketch, but the sample
    membership and index arithmetic replay exactly in SQL. Exact twin:
    rumen_cdf."""
    ev = _load(spark, sf_dir, "events")
    return agg.sample_quantiles(
        ev, "event_type", "value", "event_id", s=200, qs=(0.5, 0.95, 0.99)
    )


@register(
    "sketch_kmv_setops",
    oracle=f"""
WITH h AS (SELECT DISTINCT event_type AS g, md5(CAST(user_id AS VARCHAR)) AS h FROM events),
tk AS (SELECT g, h FROM (
         SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM h)
       WHERE rk <= {KMV_K}),
gs AS (SELECT DISTINCT g FROM tk),
pairs AS (SELECT a.g AS g1, b.g AS g2 FROM gs a, gs b WHERE a.g < b.g),
e AS (
  SELECT p.g1, p.g2, t.h,
         max(CASE WHEN t.g = p.g1 THEN 1 ELSE 0 END) AS ina,
         max(CASE WHEN t.g = p.g2 THEN 1 ELSE 0 END) AS inb
  FROM pairs p JOIN tk t ON t.g = p.g1 OR t.g = p.g2
  GROUP BY 1, 2, 3
),
r AS (SELECT *, row_number() OVER (PARTITION BY g1, g2 ORDER BY h) AS rk FROM e),
s AS (
  SELECT g1, g2, count(*) AS total,
         max(CASE WHEN rk = {KMV_K}
             THEN (CAST(('0x' || substr(h, 1, 13))::BIGINT AS DOUBLE) + 1.0)
                  / 4503599627370496.0 END) AS kth,
         sum(CASE WHEN rk <= {KMV_K} AND ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS nb
  FROM r GROUP BY 1, 2
)
SELECT g1 AS type_a, g2 AS type_b,
       CASE WHEN total < {KMV_K} THEN CAST(total AS DOUBLE)
            ELSE round({KMV_K - 1}.0 / kth, 6) END AS union_est,
       CASE WHEN total < {KMV_K} THEN CAST(nb AS DOUBLE)
            ELSE round(nb * {KMV_K - 1}.0 / ({KMV_K}.0 * kth), 6) END AS inter_est,
       CAST(nb AS INT) AS n_common_hashes
FROM s
""",
)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra between event-type audiences: pairwise union and
    intersection (overlap) estimates of the user sets, read from the
    bottom-k sketches alone — the audience-overlap planner that never
    re-scans the data. Exact below k per pair, deterministic md5 family,
    estimates themselves oracle-checked. See agg.kmv_set_estimates."""
    ev = _load(spark, sf_dir, "events")
    return agg.kmv_set_estimates(ev, "event_type", "user_id", k=KMV_K)


@register(
    "validate_lineitem",
    oracle="""
WITH r AS (
  SELECT CAST(count(*) AS BIGINT) AS rows,
         CAST(count(CASE WHEN l_orderkey IS NOT NULL THEN 1 END) AS BIGINT) AS c0,
         CAST(count(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 END) AS BIGINT) AS c1,
         CAST(count(CASE WHEN l_extendedprice >= 0 THEN 1 END) AS BIGINT) AS c2,
         CAST(count(CASE WHEN l_returnflag IN ('A', 'N', 'R') THEN 1 END) AS BIGINT) AS c3,
         CAST(count(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 1 END) AS BIGINT) AS c4
  FROM lineitem
),
u AS (
  SELECT CAST(count(*) AS BIGINT) AS rows,
         CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS d
  FROM lineitem
),
fk AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS rows,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS o
)
SELECT * FROM (
  SELECT 'not_null(l_orderkey)' AS constraint,
         CAST(CASE WHEN rows = 0 THEN 1000000 ELSE (c0 * 1000000) // rows END AS BIGINT) AS observed_q6,
         (CASE WHEN rows = 0 THEN 1000000 ELSE (c0 * 1000000) // rows END) >= 1000000 AS passed FROM r
  UNION ALL
  SELECT 'range(l_quantity,1,50)',
         CAST(CASE WHEN rows = 0 THEN 1000000 ELSE (c1 * 1000000) // rows END AS BIGINT),
         (CASE WHEN rows = 0 THEN 1000000 ELSE (c1 * 1000000) // rows END) >= 1000000 FROM r
  UNION ALL
  SELECT 'nonneg(l_extendedprice)',
         CAST(CASE WHEN rows = 0 THEN 1000000 ELSE (c2 * 1000000) // rows END AS BIGINT),
         (CASE WHEN rows = 0 THEN 1000000 ELSE (c2 * 1000000) // rows END) >= 1000000 FROM r
  UNION ALL
  SELECT 'domain(l_returnflag)',
         CAST(CASE WHEN rows = 0 THEN 1000000 ELSE (c3 * 1000000) // rows END AS BIGINT),
         (CASE WHEN rows = 0 THEN 1000000 ELSE (c3 * 1000000) // rows END) >= 1000000 FROM r
  UNION ALL
  SELECT 'range(l_discount,0,0.1)',
         CAST(CASE WHEN rows = 0 THEN 1000000 ELSE (c4 * 1000000) // rows END AS BIGINT),
         (CASE WHEN rows = 0 THEN 1000000 ELSE (c4 * 1000000) // rows END) >= 950000 FROM r
  UNION ALL
  SELECT 'unique(l_orderkey,l_linenumber)',
         CAST(CASE WHEN rows = 0 THEN 1000000 ELSE (d * 1000000) // rows END AS BIGINT),
         (CASE WHEN rows = 0 THEN 1000000 ELSE (d * 1000000) // rows END) >= 1000000 FROM u
  UNION ALL
  SELECT 'fk(l_orderkey->o_orderkey)',
         CAST(CASE WHEN rows = 0 THEN 1000000 ELSE ((rows - o) * 1000000) // rows END AS BIGINT),
         (CASE WHEN rows = 0 THEN 1000000 ELSE ((rows - o) * 1000000) // rows END) >= 1000000 FROM fk
)
""",
)
def validate_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite over lineitem (the Deequ idea):
    five row-local constraints folded into ONE scan, a composite-key
    uniqueness check (one keyed shuffle), and l_orderkey referential
    integrity into orders (anti-join) — a (constraint, observed_q6,
    passed) report with exact integer fractions. The discount-range
    check carries a 0.95 threshold to show non-unanimous gates. See
    operators/validate.py."""
    from hadoop_1_spark.operators import validate as V

    li = _load(spark, sf_dir, "lineitem")
    od = _load(spark, sf_dir, "orders")
    checks = [
        V.Check("not_null(l_orderkey)", F.col("l_orderkey").isNotNull()),
        V.Check("range(l_quantity,1,50)", F.col("l_quantity").between(1, 50)),
        V.Check("nonneg(l_extendedprice)", F.col("l_extendedprice") >= 0),
        V.Check("domain(l_returnflag)", F.col("l_returnflag").isin("A", "N", "R")),
        V.Check(
            "range(l_discount,0,0.1)",
            F.col("l_discount").between(0, 0.1),
            min_pass_q6=950_000,
        ),
    ]
    return (
        V.run_checks(li, checks)
        .unionByName(V.uniqueness_check(li, ("l_orderkey", "l_linenumber")))
        .unionByName(V.referential_check(li, "l_orderkey", od, "o_orderkey"))
    )


def _profile_oracle() -> str:
    num = ["event_id", "user_id", "value"]
    ts = ["ts"]
    s = ["event_type"]
    sel = ["CAST(count(*) AS BIGINT) AS n_rows"]
    for c in (*num, *s, *ts):
        sel.append(f"CAST(count({c}) AS BIGINT) AS nn_{c}")
        sel.append(f"CAST(count(DISTINCT {c}) AS BIGINT) AS d_{c}")
    for c in num:
        sel.append(f"CAST(min({c}) AS DOUBLE) AS mn_{c}")
        sel.append(f"CAST(max({c}) AS DOUBLE) AS mx_{c}")
    for c in ts:
        sel.append(f"CAST(epoch_us(min({c})) AS DOUBLE) AS mn_{c}")
        sel.append(f"CAST(epoch_us(max({c})) AS DOUBLE) AS mx_{c}")
    unions = []
    for c in (*num, *s, *ts):
        unions.append(
            f"SELECT '{c}' AS col_name, 'completeness_q6' AS metric, "
            f"CAST(CASE WHEN n_rows = 0 THEN 1000000 ELSE (nn_{c} * 1000000) // n_rows END AS DOUBLE) AS value_num, "
            f"CAST(NULL AS VARCHAR) AS value_str FROM r"
        )
        unions.append(
            f"SELECT '{c}', 'distinct', CAST(d_{c} AS DOUBLE), NULL FROM r"
        )
    for c in (*num, *ts):
        unions.append(f"SELECT '{c}', 'min', mn_{c}, NULL FROM r")
        unions.append(f"SELECT '{c}', 'max', mx_{c}, NULL FROM r")
    for c in s:
        unions.append(
            f"""SELECT '{c}', 'top_share_q6',
            CAST(CASE WHEN r.n_rows = 0 THEN 0 ELSE (t.cnt * 1000000) // r.n_rows END AS DOUBLE),
            t.{c}
            FROM (SELECT {c}, CAST(count(*) AS BIGINT) AS cnt FROM events
                  GROUP BY 1 ORDER BY cnt DESC, {c} LIMIT 1) t, r"""
        )
    body = "\nUNION ALL\n".join(unions)
    return f"WITH r AS (SELECT {', '.join(sel)} FROM events)\n{body}"


@register("profile_events", oracle=_profile_oracle())
def profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report over the event stream: completeness and
    exact distinct counts for every column in ONE scan (Catalyst's
    Expand handles the multi-distinct), numeric/timestamp min-max
    (timestamps as exact epoch micros), and the modal event_type with
    its q6 share — the trust-a-new-drop artifact. See
    validate.profile_table."""
    from hadoop_1_spark.operators import validate as V

    ev = _load(spark, sf_dir, "events")
    return V.profile_table(
        ev,
        num_cols=("event_id", "user_id", "value"),
        str_cols=("event_type",),
        ts_cols=("ts",),
    )


@register(
    "mv_wordcount_merge",
    # the oracle is the FULL RECOMPUTE — checking the merge identity
    # agg(A) ⊕ agg(B) == agg(A ∪ B), not a replay of the merge plan
    oracle="""
SELECT token, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS token
      FROM documents)
GROUP BY 1
""",
)
def mv_wordcount_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: a parked wordcount
    snapshot (docs with doc_id % 3 <> 0) merged with the delta batch's
    partial aggregate (doc_id % 3 = 0) — checked against the FULL
    recompute as the oracle, so the monoid-merge identity is what the
    driver hash-verifies. See agg.merge_aggregate_snapshots."""
    from hadoop_1_spark.operators import textops

    docs = _load(spark, sf_dir, "documents")

    def wc(df):
        return (
            df.select(F.explode(textops.ws_tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )

    snap = wc(docs.where(F.col("doc_id") % 3 != 0))
    delta = wc(docs.where(F.col("doc_id") % 3 == 0))
    return agg.merge_aggregate_snapshots(snap, delta, ("token",), ("cnt",))


@register(
    "pivot_returnflag_status",
    oracle="""
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_F,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,4)) END) AS DOUBLE) AS qty_O,
       CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS n_F,
       CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS n_O
FROM lineitem GROUP BY 1
""",
)
def pivot_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: quantities and counts by return flag, spread
    across the line-status domain with Spark's native pivot operator
    (explicit value list — no discovery scan) and decimal-exact sums so
    both engines aggregate identical values regardless of partial-agg
    order. Pivot compiles to ONE hash aggregation with conditional
    aggregates — a single shuffle, same cost as the flat groupBy."""
    li, qty = folds.with_unscaled(_load(spark, sf_dir, "lineitem"), folds.money("l_quantity"))
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            folds.money_sum(qty).alias("qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return out.select(
        "l_returnflag",
        F.col("F_qty").cast("double").alias("qty_F"),
        F.col("O_qty").cast("double").alias("qty_O"),
        F.col("F_n").cast("bigint").alias("n_F"),
        F.col("O_n").cast("bigint").alias("n_O"),
    )


@register(
    "anomaly_zscore_events",
    oracle="""
WITH q AS (
  SELECT event_type,
         CAST(floor(value * 1000000) AS BIGINT) AS vq
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(vq AS HUGEINT)) AS HUGEINT) AS sm,
         CAST(sum(CAST(vq AS HUGEINT) * CAST(vq AS HUGEINT)) AS HUGEINT) AS sq
  FROM q GROUP BY 1
)
SELECT q.event_type,
       CAST(s.n AS BIGINT) AS n,
       CAST(count(CASE WHEN (CAST(q.vq AS HUGEINT) * s.n - s.sm)
                            * (CAST(q.vq AS HUGEINT) * s.n - s.sm)
                            > 9 * (s.n * s.sq - s.sm * s.sm)
                        AND CAST(q.vq AS HUGEINT) * s.n > s.sm
                  THEN 1 END) AS BIGINT) AS n_outliers,
       CAST(max(CASE WHEN (CAST(q.vq AS HUGEINT) * s.n - s.sm)
                          * (CAST(q.vq AS HUGEINT) * s.n - s.sm)
                          > 9 * (s.n * s.sq - s.sm * s.sm)
                      AND CAST(q.vq AS HUGEINT) * s.n > s.sm
                 THEN q.vq END) AS BIGINT) AS max_outlier_vq6
FROM q JOIN s USING (event_type)
GROUP BY 1, s.n
""",
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact z-score anomaly detection per event type: flag values more
    than 3 population standard deviations ABOVE the mean — with the
    z > 3 test algebraically cleared of divisions and square roots:
    (vq·n − S)² > 9(nQ − S²) over q6-quantized values, all integer
    arithmetic in decimal(38,0)/HUGEINT, so the outlier SET (not a
    float approximation of it) is what the oracle hash-checks.

    Shape: one stats aggregation per type + a broadcast join back over
    the stream — two passes, no window; the quantization floor(v·10^6)
    is a deterministic double op on both engines."""
    ev = _load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vq"),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = ev.groupBy("event_type").agg(
        d(F.count(F.lit(1))).alias("n"),
        d(F.sum("vq")).alias("sm"),
        F.sum(d(F.col("vq")) * d(F.col("vq"))).cast("decimal(38,0)").alias("sq"),
    )
    j = ev.join(F.broadcast(s), "event_type")
    dev = d(F.col("vq")) * F.col("n") - F.col("sm")
    is_out = (dev * dev > F.lit(9) * (F.col("n") * F.col("sq") - F.col("sm") * F.col("sm"))) & (
        d(F.col("vq")) * F.col("n") > F.col("sm")
    )
    return j.groupBy("event_type").agg(
        F.first("n").cast("bigint").alias("n"),
        F.count(F.when(is_out, 1)).cast("bigint").alias("n_outliers"),
        F.max(F.when(is_out, F.col("vq"))).cast("bigint").alias("max_outlier_vq6"),
    )


# ONE SQL text, TWO engines: this exact string is both the Spark input
# (spark.sql over registered views) and the DuckDB oracle — the raw-SQL
# user surface demonstrated end to end (TPC-H Q1 shape, decimal-exact
# aggregation so partial-agg order cannot split the engines). The
# scale-8 product sum ships as a DECIMAL(38,8) STRING, not DOUBLE: the
# decimal->double cast double-rounds in DuckDB (int128 then /10^8) vs
# Spark's correctly-rounded cast — a measured 1-ulp divergence at sf0.1
# (5045798393.0123 vs ...0123005), the agg_sums_by_flag workaround.
_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(38,8))
            AS VARCHAR(48)) AS sum_disc_price,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@register("sql_pricing_summary", oracle=_SQL_PRICING)
def sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-SQL interface surface: registered temp views + spark.sql
    running the IDENTICAL text the DuckDB oracle runs — a user who
    writes plain ANSI SQL against this engine gets hash-identical
    results (load_tables registers every TESTDATA table as a view)."""
    from hadoop_1_spark import session

    session.load_tables(spark, sf_dir, "lineitem")
    return spark.sql(_SQL_PRICING)




# Shared portable-HLL SQL: sketch CTEs + estimate expression. Both the
# batch oracle (uniq_count_hll) and the streaming oracle
# (stream_hll_distinct, q_streaming.py) are assembled from these, so the
# register arithmetic and estimate constants live exactly once in SQL
# (aggregate.hll_estimate_col is the single Column-side home).
HLL_SKETCH_CTES = """
h AS (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h
      FROM events WHERE user_id IS NOT NULL),
b AS (SELECT event_type, ('0x' || substr(h, 1, 2))::BIGINT AS idx,
             ('0x' || substr(h, 3, 10))::BIGINT AS w FROM h),
r AS (SELECT event_type, idx,
             max(CASE WHEN w = 0 THEN 41 ELSE 41 - length(bin(w)) END) AS m
      FROM b GROUP BY 1, 2),
s AS (SELECT event_type,
             CAST(sum(1::BIGINT << (41 - m))
                  + (256 - count(*)) * (1::BIGINT << 41) AS BIGINT) AS sum_inv,
             CAST(256 - count(*) AS INT) AS v_zero
      FROM r GROUP BY 1)
"""
HLL_EST_SQL = (
    "(0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 2199023255552.0"
    " / CAST(sum_inv AS DOUBLE)"
)


@register(
    "uniq_count_hll",
    oracle=f"""
WITH {HLL_SKETCH_CTES}
SELECT event_type,
       round({HLL_EST_SQL}, 6) AS hll_est,
       sum_inv, v_zero,
       ({HLL_EST_SQL} <= 2.5 * 256.0 AND v_zero > 0) AS small_range
FROM s
""",
)
def uniq_count_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-HLL distinct users per event type — the register-exact
    approximate twin of UniqValueCount that, unlike uniq_count_approx
    (engine-specific registers, rows-only check), the driver
    hash-checks REGISTER-FOR-REGISTER: md5 top-8-bit indexing, 40-bit
    rho, and an exact-integer harmonic denominator replay identically
    in both engines. Exact twin: uniq_count_capped; bottom-k sibling:
    uniq_count_kmv."""
    ev = _load(spark, sf_dir, "events")
    return agg.hll_distinct(ev, "event_type", "user_id", p=8)


@register(
    "regression_trend_events",
    oracle="""
WITH e AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS x,
         CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS y
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
  FROM e GROUP BY 1
),
r AS (
  SELECT event_type, n,
         CAST(n * sxy - sx * sy AS DECIMAL(38,0)) AS num,
         CAST(n * sxx - sx * sx AS DECIMAL(38,0)) AS den
  FROM s
)
SELECT event_type, n,
       CAST(num AS VARCHAR) AS num, CAST(den AS VARCHAR) AS den,
       CASE WHEN den = 0 THEN NULL
            ELSE CAST(CAST(num AS HUGEINT) // CAST(den AS HUGEINT) AS BIGINT)
            END AS slope_q6
FROM r
""",
)
def regression_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS value trend (micro-units per day) in exact
    scaled-integer arithmetic: epoch-day regressor, value scaled to q6,
    DECIMAL(38,0) sufficient statistics, truncate-toward-zero slope
    division (Spark decimal div truncates; the oracle divides as
    HUGEINT, which truncates too — DECIMAL // in DuckDB rounds and is
    avoided). num/den ship as exact decimal strings."""
    ev = _load(spark, sf_dir, "events")
    return agg.linear_trend(
        ev.where(F.col("ts").isNotNull() & F.col("value").isNotNull()),
        "event_type",
        x=F.expr("unix_micros(ts) div 86400000000"),
        y_q6=(F.col("value").cast("decimal(18,6)") * 1000000).cast("bigint"),
    )


@register(
    "unpivot_pricing_long",
    oracle="""
WITH w AS (
  SELECT l_returnflag,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
         CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) AS sum_tax
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, metric, val FROM (
  SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM w
  UNION ALL
  SELECT l_returnflag, 'sum_disc', sum_disc FROM w
  UNION ALL
  SELECT l_returnflag, 'sum_tax', sum_tax FROM w
)
""",
)
def unpivot_pricing_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT surface — the inverse of pivot_returnflag_status: wide
    per-flag decimal-exact sums melted to (flag, metric, val) long form
    with Spark's native unpivot operator (one Expand node over the
    aggregated rows — no re-scan, no extra shuffle; the oracle replays
    it as a UNION ALL, which is what Expand computes)."""
    li, qty, disc, tax = folds.with_unscaled(
        _load(spark, sf_dir, "lineitem"),
        folds.money("l_quantity"), folds.money("l_discount"), folds.money("l_tax"),
    )
    wide = li.groupBy("l_returnflag").agg(
        folds.money_sum(qty).cast("double").alias("sum_qty"),
        folds.money_sum(disc).cast("double").alias("sum_disc"),
        folds.money_sum(tax).cast("double").alias("sum_tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_disc", "sum_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )


NTILE_K = 4


@register(
    "ntile_user_spend",
    oracle=f"""
WITH s AS (
  SELECT user_id,
         CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS VARCHAR)
           AS total_spend,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS _t
  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
  GROUP BY 1
)
SELECT user_id, total_spend,
       CAST(ntile({NTILE_K}) OVER (ORDER BY _t DESC, user_id ASC) AS INT)
         AS quartile
FROM s
""",
)
def ntile_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend-quartile segmentation (the RFM 'M' axis): users ranked by
    exact-decimal purchase totals and NTILE(4)-bucketed. Spark computes
    the tiles WITHOUT a single-partition window: the distributed
    global_rank (range shuffle + broadcast offsets) plus the closed-form
    NTILE arithmetic — first (n mod k) tiles get the larger size — so
    the segmentation scales to any user count; the oracle checks it
    against the engine NTILE."""
    ev = _load(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    s = ev.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(38,6)").alias("_t")
    )
    from hadoop_1_spark.operators import sort as sortops

    ranked = sortops.global_rank(s, F.desc("_t"), F.asc("user_id"), rank_col="_r")
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    tile = sortops.ntile_from_rank(F.col("_r"), F.col("_n"), NTILE_K)
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "user_id",
            F.col("_t").cast("string").alias("total_spend"),
            tile.alias("quartile"),
        )
    )


EQUIDEPTH_K = 8


@register(
    "stats_equidepth_value",
    oracle=f"""
WITH v AS (SELECT CAST(floor(value * 1000000) AS BIGINT) AS vq, event_id
           FROM events WHERE value IS NOT NULL),
r AS (SELECT vq, row_number() OVER (ORDER BY vq, event_id) AS rk,
             count(*) OVER () AS n FROM v),
b AS (SELECT vq, ((rk - 1) * {EQUIDEPTH_K}) // n AS bucket FROM r)
SELECT CAST(bucket AS INT) AS bucket, CAST(count(*) AS BIGINT) AS cnt,
       min(vq) AS lo_q6, max(vq) AS hi_q6
FROM b GROUP BY 1
""",
)
def stats_equidepth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of event values — the
    optimizer-statistics construction a CBO runs over a column at scale:
    exact rank-based bucket boundaries ((rk-1)*k div n over q6-quantized
    values), the selectivity-estimation complement of value_histogram's
    equi-width per-key report. The global rank is the DISTRIBUTED
    global_rank scan (range shuffle + broadcast offsets) — no
    single-partition window over the data at any scale; the oracle uses
    the engine's global window, checking the scan against it."""
    from hadoop_1_spark.operators import sort as sortops

    ev = _load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = ev.select(
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vq"),
        "event_id",
    )
    ranked = sortops.global_rank(v, F.asc("vq"), F.asc("event_id"), rank_col="_rk")
    n = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(n))
        .select(
            "vq",
            F.expr(f"((_rk - 1) * {EQUIDEPTH_K}) div _n").cast("int").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.min("vq").alias("lo_q6"),
            F.max("vq").alias("hi_q6"),
        )
    )


@register(
    "anomaly_mad_events",
    oracle="""
WITH v AS (SELECT event_type, event_id,
                  CAST(floor(value * 1000000) AS BIGINT) AS vq
           FROM events WHERE value IS NOT NULL),
med AS (
  SELECT event_type, vq AS med_q6 FROM (
    SELECT event_type, vq,
           row_number() OVER (PARTITION BY event_type ORDER BY vq, event_id) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM v)
  WHERE rk = (n + 1) // 2
),
dev AS (
  SELECT v.event_type, v.event_id, v.vq, m.med_q6,
         abs(v.vq - m.med_q6) AS d
  FROM v JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, d AS mad_q6 FROM (
    SELECT event_type, d,
           row_number() OVER (PARTITION BY event_type ORDER BY d, event_id) AS rk,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM dev)
  WHERE rk = (n + 1) // 2
)
SELECT dev.event_type, dev.event_id, dev.vq, dev.med_q6, mad.mad_q6
FROM dev JOIN mad USING (event_type)
WHERE abs(dev.vq - dev.med_q6) > 3 * mad.mad_q6
""",
)
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier set per event type: |v - median| > 3 * MAD, the
    breakdown-resistant twin of anomaly_zscore_events (one wild value
    shifts a mean and inflates a stddev, but not the median or the
    MAD). Both medians are exact rank-based LOWER medians ((n+1) div 2
    over q6-quantized values with event_id tie-break) — pure integer
    arithmetic end to end, no interpolation, so the outlier SET
    hash-matches across engines. Two keyed windows share one exchange;
    the median/MAD relations are type-sized and broadcast back."""
    from pyspark.sql.window import Window

    ev = _load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = ev.select(
        "event_type", "event_id",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("vq"),
    )
    def lower_median(df, col, out):
        w = Window.partitionBy("event_type").orderBy(F.asc(col), F.asc("event_id"))
        wn = Window.partitionBy("event_type")
        return (
            df.withColumn("_rk", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wn))
            .where(F.col("_rk") == F.expr("(_n + 1) div 2"))
            .select("event_type", F.col(col).alias(out))
        )

    med = lower_median(v, "vq", "med_q6")
    dev = v.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("vq") - F.col("med_q6"))
    )
    mad = lower_median(dev, "d", "mad_q6")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.abs(F.col("vq") - F.col("med_q6")) > 3 * F.col("mad_q6"))
        .select("event_type", "event_id", "vq", "med_q6", "mad_q6")
    )


_SQL_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INT) AS g_flag,
       CAST(grouping(l_linestatus) AS INT) AS g_status,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@register("sql_grouping_sets", oracle=_SQL_GROUPING_SETS)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS surface (the generalization rollup/cube
    compile to): the IDENTICAL SQL text runs in spark.sql and the
    oracle, with grouping() markers distinguishing NULL-as-subtotal
    from NULL-as-data. One Expand + one hash aggregation — same cost
    shape as the flat groupBy times the number of sets. Completes the
    multi-grain family: agg_rollup, agg_cube, pivot, unpivot."""
    from hadoop_1_spark import session

    session.load_tables(spark, sf_dir, "lineitem")
    return spark.sql(_SQL_GROUPING_SETS)


@register(
    "feature_target_encode",
    oracle="""
WITH v AS (SELECT event_id, event_type,
                  CAST(floor(value * 1000000) AS BIGINT) AS vq
           FROM events WHERE value IS NOT NULL),
g AS (SELECT event_type,
             CAST(sum(vq) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
      FROM v GROUP BY 1)
SELECT v.event_id, v.event_type,
       CAST(g.s - v.vq AS BIGINT) AS loo_num,
       CAST(g.n - 1 AS BIGINT) AS loo_den,
       CAST(CASE WHEN g.n = 1 THEN NULL
            ELSE CAST(g.s - v.vq AS HUGEINT) // CAST(g.n - 1 AS HUGEINT)
            END AS BIGINT) AS loo_mean_q6
FROM v JOIN g USING (event_type)
""",
)
def feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the categorical-feature trick
    that replaces a category with the mean target of the OTHER rows in
    its group (keeping a row's own label out prevents target leakage):
    loo_mean = (sum_g - v) / (n_g - 1), exact q6-integer arithmetic
    with num/den emitted for consumers needing full precision
    (truncating HUGEINT division in the oracle matches Spark's div).
    One group aggregation broadcast back over the scan — no per-row
    recomputation of group sums; singleton groups encode NULL."""
    ev = _load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    v = ev.select(
        "event_id", "event_type",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("_vq"),
    )
    g = v.groupBy("event_type").agg(
        F.sum("_vq").cast("bigint").alias("_s"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
    )
    return (
        v.join(F.broadcast(g), "event_type")
        .select(
            "event_id", "event_type",
            (F.col("_s") - F.col("_vq")).cast("bigint").alias("loo_num"),
            (F.col("_n") - 1).cast("bigint").alias("loo_den"),
            F.when(F.col("_n") == 1, F.lit(None).cast("bigint"))
            .otherwise(F.expr("(_s - _vq) div (_n - 1)").cast("bigint"))
            .alias("loo_mean_q6"),
        )
    )


@register(
    "abtest_conversion_lift",
    oracle="""
WITH u AS (
  SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
              THEN 'A' ELSE 'B' END AS v,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
g AS (
  SELECT CAST(sum(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS users_a,
         CAST(sum(CASE WHEN v = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN v = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS users_b,
         CAST(sum(CASE WHEN v = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM u
),
w AS (
  SELECT *,
         CAST(users_a + users_b AS HUGEINT) AS n,
         CAST(conv_a AS HUGEINT) * (users_b - conv_b)
           - CAST(users_a - conv_a AS HUGEINT) * conv_b AS adbc,
         CAST(users_a AS HUGEINT) * users_b
           * (conv_a + conv_b) * (users_a + users_b - conv_a - conv_b) AS den
  FROM g
)
SELECT users_a, conv_a, users_b, conv_b,
       CASE WHEN users_a > 0
            THEN CAST(CAST(conv_a AS HUGEINT) * 1000000 // users_a AS BIGINT) END AS cr_a_q6,
       CASE WHEN users_b > 0
            THEN CAST(CAST(conv_b AS HUGEINT) * 1000000 // users_b AS BIGINT) END AS cr_b_q6,
       CASE WHEN den > 0
            THEN CAST((n * adbc * adbc * 1000000) // den AS BIGINT) END AS chi2_q6,
       (den > 0 AND n * adbc * adbc * 1000000 > 3841459 * den) AS significant
FROM w
""",
)
def abtest_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic md5 arm assignment over
    users, purchase-conversion 2x2 contingency, exact micro-scaled
    conversion rates, and an exact-integer chi-square significance call
    (cross-multiplied against the 3.841459 critical value — the flag
    never touches a float). aggregate.ab_test_report docstring carries
    the overflow bound and the past-bound rescaling rule."""
    ev = _load(spark, sf_dir, "events")
    return agg.ab_test_report(ev)


@register(
    "drift_ks_events",
    oracle="""
WITH e AS (
  SELECT CAST(floor(value * 1000000) AS BIGINT) AS vq,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
  FROM events WHERE value IS NOT NULL AND event_type IN ('click', 'view')
),
a AS (
  SELECT vq, CAST(sum(is1) AS BIGINT) AS c1,
         CAST(sum(1 - is1) AS BIGINT) AS c2
  FROM e GROUP BY 1
),
t AS (SELECT CAST(sum(c1) AS HUGEINT) AS n1, CAST(sum(c2) AS HUGEINT) AS n2 FROM a),
s AS (
  SELECT vq, sum(c1 * t.n2 - c2 * t.n1) OVER (ORDER BY vq) AS cum
  FROM a, t
),
b AS (SELECT vq, abs(cum) AS d FROM s ORDER BY d DESC, vq ASC LIMIT 1)
SELECT CAST(t.n1 AS BIGINT) AS n1, CAST(t.n2 AS BIGINT) AS n2,
       CAST(b.d AS BIGINT) AS d_num,
       CAST(b.vq AS BIGINT) AS at_value_q6,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE CAST((CAST(b.d AS HUGEINT) * 1000000) // (t.n1 * t.n2) AS BIGINT)
            END AS ks_q6,
       (t.n1 > 0 AND t.n2 > 0
        AND CAST(b.d AS HUGEINT) * b.d
            > (1844164 * (t.n1 + t.n2) * t.n1 * t.n2) // 1000000) AS drifted
FROM b, t
""",
)
def drift_ks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: exact two-sample Kolmogorov-Smirnov
    test between the value distributions of click vs view events — the
    CDF-difference walk as ONE distributed prefix scan, the alpha=0.05
    call by cross-multiplication (validate.ks_two_sample docstring
    carries the arithmetic and the int64 bound)."""
    from hadoop_1_spark.operators import validate as validate_ops

    ev = _load(spark, sf_dir, "events")
    return validate_ops.ks_two_sample(ev, "value", "event_type", "click", "view")


CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _corr_oracle() -> str:
    cols = CORR_COLS
    sel = ", ".join(
        f"CAST(floor({c} * 1000000) AS BIGINT) AS q_{c}" for c in cols
    )
    notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    aggs = ["CAST(count(*) AS HUGEINT) AS n"]
    for c in cols:
        aggs.append(f"CAST(sum(CAST(q_{c} AS HUGEINT)) AS HUGEINT) AS s_{c}")
    for i, c1 in enumerate(cols):
        for c2 in cols[i:]:
            aggs.append(
                f"CAST(sum(CAST(q_{c1} AS HUGEINT) * q_{c2}) AS HUGEINT)"
                f" AS p_{c1}_{c2}"
            )
    pair_sel = []
    for i, c1 in enumerate(cols):
        for c2 in cols[i + 1 :]:
            pair_sel.append(
                f"""SELECT '{c1}' AS col_x, '{c2}' AS col_y,
       CAST(n AS BIGINT) AS n,
       CAST(n * p_{c1}_{c2} - s_{c1} * s_{c2} AS VARCHAR) AS num_str,
       CAST(n * p_{c1}_{c1} - s_{c1} * s_{c1} AS VARCHAR) AS dx_str,
       CAST(n * p_{c2}_{c2} - s_{c2} * s_{c2} AS VARCHAR) AS dy_str,
       CASE WHEN n > 0 AND n * p_{c1}_{c1} - s_{c1} * s_{c1} > 0
                 AND n * p_{c2}_{c2} - s_{c2} * s_{c2} > 0
            THEN round(CAST(n * p_{c1}_{c2} - s_{c1} * s_{c2} AS DOUBLE)
                       / sqrt(CAST(n * p_{c1}_{c1} - s_{c1} * s_{c1} AS DOUBLE)
                              * CAST(n * p_{c2}_{c2} - s_{c2} * s_{c2} AS DOUBLE)), 9)
       END AS r_q9
  FROM a"""
            )
    return (
        f"WITH v AS (SELECT {sel} FROM lineitem WHERE {notnull}),\n"
        f"a AS (SELECT {', '.join(aggs)} FROM v)\n"
        + "\nUNION ALL\n".join(pair_sel)
    )


@register("feature_corr_report", oracle=_corr_oracle())
def feature_corr_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the lineitem numeric
    features — the pre-training redundancy/leakage screen. One scan,
    exact DECIMAL(38,0) sufficient statistics, centered moments shipped
    as decimal strings, r itself as the one IEEE-identical float chain
    (validate.pearson_corr docstring carries the arithmetic and the
    10^16-row exactness bound)."""
    from hadoop_1_spark.operators import validate as V

    li = _load(spark, sf_dir, "lineitem")
    return V.pearson_corr(li, CORR_COLS)


@register(
    "feature_winsorize",
    oracle="""
WITH q AS (
  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL
),
per AS (SELECT event_type, vq, CAST(count(*) AS BIGINT) AS c FROM q GROUP BY 1, 2),
cw AS (
  SELECT event_type, vq, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY vq) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM per
),
b AS (
  SELECT event_type,
         min(CASE WHEN cum * 100 >= n * 1 THEN vq END) AS lo,
         min(CASE WHEN cum * 100 >= n * 99 THEN vq END) AS hi,
         max(n) AS gn
  FROM cw GROUP BY 1
)
SELECT per.event_type,
       CAST(max(gn) AS BIGINT) AS n,
       CAST(max(lo) AS BIGINT) AS lo_q6,
       CAST(max(hi) AS BIGINT) AS hi_q6,
       CAST(sum(CASE WHEN vq < lo THEN c ELSE 0 END) AS BIGINT) AS n_clip_lo,
       CAST(sum(CASE WHEN vq > hi THEN c ELSE 0 END) AS BIGINT) AS n_clip_hi,
       CAST(CAST(sum(CAST(greatest(least(vq, hi), lo) AS HUGEINT) * c) AS HUGEINT)
            AS VARCHAR) AS winsorized_sum_q6
FROM per JOIN b USING (event_type)
GROUP BY 1
""",
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact P1/P99 winsorization report over events.value per event
    type: cross-multiplied percentile boundaries on the collapsed q6
    relation, clipped-row counts, and the winsorized sum as a decimal
    string (aggregate.winsorize_report — the feature-preprocessing
    outlier tamer)."""
    ev = _load(spark, sf_dir, "events")
    return agg.winsorize_report(ev, "value", "event_type")


NEG_K = 3


@register(
    "events_negative_sample",
    oracle=f"""
WITH pos AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
),
uni AS (
  SELECT DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE props IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
),
users AS (SELECT DISTINCT user_id FROM pos),
cand AS (SELECT u.user_id, i.item FROM users u CROSS JOIN uni i),
neg AS (
  SELECT c.user_id, c.item FROM cand c
  LEFT JOIN pos p ON c.user_id = p.user_id AND c.item = p.item
  WHERE p.user_id IS NULL
),
r AS (
  SELECT user_id, item,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY md5(':' || CAST(user_id AS VARCHAR) || ':' || CAST(item AS VARCHAR)),
                                     item) AS rn
  FROM neg
)
SELECT user_id, item, CAST(rn AS INT) AS rank FROM r WHERE rn <= {NEG_K}
""",
)
def events_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Implicit-feedback negative sampling: for every purchasing user,
    3 deterministic md5-ranked item negatives drawn from the catalog
    (props.k) minus the user's purchases — the recommender/contrastive
    training-pair generator (sampling.negative_sample)."""
    from hadoop_1_spark.operators import sampling

    ev = _load(spark, sf_dir, "events")
    item = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    pos = ev.where(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
        & F.col("props").isNotNull()
        & item.isNotNull()
    ).select("user_id", item.alias("item"))
    uni = ev.where(F.col("props").isNotNull() & item.isNotNull()).select(
        item.alias("item")
    )
    return sampling.negative_sample(pos, uni, k=NEG_K)


NEG_M = 8 * NEG_K + 16  # draws per user in the PRNG-draw sampler


@register(
    "events_negative_sample_draws",
    oracle=f"""
WITH pos AS (
  SELECT DISTINCT user_id,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
),
uni AS (
  SELECT DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
  FROM events WHERE props IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
),
users AS (SELECT DISTINCT user_id FROM pos),
idx AS (SELECT item, row_number() OVER (ORDER BY item) - 1 AS di FROM uni),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
draws AS (
  SELECT u.user_id, g.j,
         ('0x' || substr(md5(':' || CAST(u.user_id AS VARCHAR)
                          || ':' || CAST(g.j AS VARCHAR)), 1, 8))::BIGINT
           % greatest(n.n, 1) AS di
  FROM users u, n, (SELECT unnest(generate_series(1, {NEG_M})) AS j) g
),
cand AS (
  SELECT d.user_id, i.item, min(d.j) AS jmin
  FROM draws d JOIN idx i USING (di)
  WHERE NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.user_id = d.user_id AND p.item = i.item)
  GROUP BY d.user_id, i.item
),
kept AS (
  SELECT user_id, item,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY jmin) AS INT) AS rank
  FROM cand QUALIFY rank <= {NEG_K}
),
full_users AS (SELECT user_id FROM kept GROUP BY user_id HAVING count(*) >= {NEG_K}),
shortu AS (SELECT user_id FROM users
           WHERE user_id NOT IN (SELECT user_id FROM full_users)),
fb AS (
  SELECT s.user_id, c.item,
         CAST(row_number() OVER (PARTITION BY s.user_id
              ORDER BY md5(':' || CAST(s.user_id AS VARCHAR)
                           || ':' || CAST(c.item AS VARCHAR)), c.item) AS INT) AS rank
  FROM shortu s CROSS JOIN uni c
  WHERE NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.user_id = s.user_id AND p.item = c.item)
  QUALIFY rank <= {NEG_K}
)
SELECT user_id, item, rank FROM kept
WHERE user_id NOT IN (SELECT user_id FROM shortu)
UNION ALL
SELECT user_id, item, rank FROM fb
""",
)
def events_negative_sample_draws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRNG-draw negative sampling — the O(users x draws) scale contract
    (r7, TODO 0e): per purchasing user, {NEG_M} hashed catalog-index
    draws, first {NEG_K} distinct non-positives kept in draw order;
    draw-starved users fall back to the exact full-catalog ranking. Work
    is independent of catalog size (the exact ranker's linear term);
    sampling.negative_sample_draws documents the contract."""
    from hadoop_1_spark.operators import sampling

    ev = _load(spark, sf_dir, "events")
    item = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    pos = ev.where(
        (F.col("event_type") == "purchase")
        & F.col("user_id").isNotNull()
        & F.col("props").isNotNull()
        & item.isNotNull()
    ).select("user_id", item.alias("item"))
    uni = ev.where(F.col("props").isNotNull() & item.isNotNull()).select(
        item.alias("item")
    )
    return sampling.negative_sample_draws(pos, uni, k=NEG_K, m=NEG_M)
