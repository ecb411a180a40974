"""Aggregate framework: oracle checks + exact golden parity with
TestAggregates.java (reference style-3 golden test)."""

import pytest
from pyspark.sql import functions as F

from hadoop_1_spark.operators import aggregate as agg
from tests.conftest import assert_query_matches_oracle


@pytest.mark.parametrize(
    "name",
    ["agg_framework", "agg_sums_by_flag", "uniq_count_capped", "value_histogram", "dbcount_pageview"],
)
def test_matches_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def _golden_input(spark):
    """TestAggregates.launch() input: lines 1..19, line i = "%04d" repeated i
    times, space-separated (TestAggregates.java:58-68)."""
    rows = [(" ".join([f"{i:04d}"] * i),) for i in range(1, 20)]
    return spark.createDataFrame(rows, "line string")


def test_aggregates_golden(spark):
    """Replicates TestAggregates.java:53-72 expected output exactly,
    including the cap quirk (cap 14 -> uniq_count 15)."""
    df = _golden_input(spark)
    word = F.explode(F.split("line", " ")).alias("word")
    words = df.select(word)
    descriptors = [
        agg.Descriptor(agg.LONG_VALUE_SUM, F.concat(F.lit("count_"), F.col("word")), F.lit(1)),
        agg.Descriptor(agg.LONG_VALUE_MAX, F.lit("max"), F.col("word").cast("long")),
        agg.Descriptor(agg.LONG_VALUE_MIN, F.lit("min"), F.col("word").cast("long")),
        agg.Descriptor(agg.STRING_VALUE_MAX, F.lit("value_as_string_max"), F.col("word").cast("long")),
        agg.Descriptor(agg.STRING_VALUE_MIN, F.lit("value_as_string_min"), F.col("word").cast("long")),
        agg.Descriptor(agg.UNIQ_VALUE_COUNT, F.lit("uniq_count"), F.col("word")),
    ]
    out = agg.aggregate_descriptors(words, descriptors, uniq_cap=14)
    got = {r["key"]: r["value"] for r in out.collect()}

    expected = {"max": "19", "min": "1", "value_as_string_max": "9", "value_as_string_min": "1", "uniq_count": "15"}
    for i in range(1, 20):
        expected[f"count_{i:04d}"] = str(i)
    assert got == expected


def test_histogram_report_golden(spark):
    """ValueHistogram.getReport parity: frequencies {a:1, b:2, c:3} ->
    "3\t1\t2\t3\t2.0\t0.816496580927726" (n, min, counts[n/2], max,
    avg via Double.toString, population stddev)."""
    rows = [("h", "a"), ("h", "b"), ("h", "b"), ("h", "c"), ("h", "c"), ("h", "c")]
    df = spark.createDataFrame(rows, "id string, value string")
    out = agg.histogram_report_df(df).collect()
    assert len(out) == 1
    assert out[0]["value"] == "3\t1\t2\t3\t2.0\t0.816496580927726"


def test_histogram_tab_count_inputs(spark):
    """addNextValue parses "value\tcount" (ValueHistogram.java:46-64)."""
    rows = [("h", "a\t3"), ("h", "a"), ("h", "b\t2")]
    df = spark.createDataFrame(rows, "id string, value string")
    out = agg.histogram_report_df(df).collect()
    # freqs: a=4, b=2 -> n=2 min=2 median=counts[1]=4 max=4 avg=3.0 sd=1.0
    assert out[0]["value"] == "2\t2\t4\t4\t3.0\t1.0"


def test_kmv_exact_below_k_and_estimate_above(spark):
    from hadoop_1_spark.operators import aggregate as agg
    from pyspark.sql import functions as F

    df = spark.range(2000).select(
        F.when(F.col("id") < 20, "small").otherwise("big").alias("grp"),
        # 'small': 10 distinct values; 'big': 1980 distinct values
        F.when(F.col("id") < 20, F.col("id") % 10).otherwise(F.col("id")).alias("v"),
    )
    rows = {r.grp: r for r in agg.kmv_distinct(df, "grp", "v", k=64).collect()}
    assert rows["small"].distinct_est == 10.0  # exact below k
    assert rows["small"].n_hashes == 10
    assert rows["big"].n_hashes == 64
    # KMV sigma ~ 1/sqrt(k) ~ 12.5%; allow 4 sigma
    assert abs(rows["big"].distinct_est - 1980) / 1980 < 0.5


def test_sample_quantiles_exact_when_group_fits_sample(spark):
    from hadoop_1_spark.operators import aggregate as agg
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.lit("g").alias("grp"), F.col("id").alias("eid"),
        (F.col("id") * 1.0).alias("v"),
    )
    row = agg.sample_quantiles(df, "grp", "v", "eid", s=200, qs=(0.5, 0.95)).first()
    # n=100 <= s: sample is the whole group -> index quantiles of 0..99
    assert row.p50 == 49.0   # floor(99*0.5)=49
    assert row.p95 == 94.0   # floor(99*0.95)=94


def test_kmv_setops_exact_below_k(spark):
    rows = [("a", u) for u in range(10)] + [("b", u) for u in range(5, 15)]
    df = spark.createDataFrame(rows, "g string, u long")
    out = agg.kmv_set_estimates(df, "g", "u", k=64).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["type_a"], r["type_b"]) == ("a", "b")
    assert r["union_est"] == 15.0   # exact below k
    assert r["inter_est"] == 5.0


def test_kmv_setops_estimate_matches_python_replay(spark):
    import hashlib

    k = 8
    a_vals = list(range(100))
    b_vals = list(range(50, 150))
    rows = [("a", u) for u in a_vals] + [("b", u) for u in b_vals]
    df = spark.createDataFrame(rows, "g string, u long")
    got = agg.kmv_set_estimates(df, "g", "u", k=k).collect()[0]

    def bottomk(vals):
        return sorted({hashlib.md5(str(v).encode()).hexdigest() for v in vals})[:k]

    ka, kb = bottomk(a_vals), bottomk(b_vals)
    merged = sorted(set(ka) | set(kb))
    bot = merged[:k]
    kth = (int(bot[k - 1][:13], 16) + 1.0) / 16**13
    union_est = round((k - 1) / kth, 6)
    nb = sum(1 for h in bot if h in set(ka) and h in set(kb))
    inter_est = round(nb * (k - 1) / (k * kth), 6)
    assert got["union_est"] == union_est
    assert got["inter_est"] == inter_est
    assert got["n_common_hashes"] == nb
    # directional sanity: true union 150, true inter 50
    assert 0 < got["inter_est"] < got["union_est"]


def test_kmv_setops_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "sketch_kmv_setops")


def test_validation_checks_semantics(spark):
    from hadoop_1_spark.operators import validate as V

    df = spark.createDataFrame(
        [(1, 10), (2, 60), (3, None)], "id long, v long"
    )
    got = {
        r["constraint"]: r
        for r in V.run_checks(
            df,
            [
                V.Check("not_null(v)", F.col("v").isNotNull(), 1_000_000),
                V.Check("range(v)", F.col("v").between(0, 50), 600_000),
            ],
        ).collect()
    }
    # 2/3 non-null -> 666666 q6, fails the 100% gate
    assert got["not_null(v)"]["observed_q6"] == 666_666
    assert not got["not_null(v)"]["passed"]
    # 1/3 in range -> 333333, fails the 60% gate (NULL is not satisfied)
    assert got["range(v)"]["observed_q6"] == 333_333
    assert not got["range(v)"]["passed"]


def test_validation_empty_input_vacuous_pass(spark):
    from hadoop_1_spark.operators import validate as V

    df = spark.createDataFrame([], "id long, v long")
    rows = V.run_checks(df, [V.Check("nn", F.col("v").isNotNull())]).collect()
    assert rows[0]["observed_q6"] == 1_000_000 and rows[0]["passed"]
    u = V.uniqueness_check(df, ("id",)).collect()[0]
    assert u["observed_q6"] == 1_000_000 and u["passed"]


def test_validation_uniqueness_and_fk(spark):
    from hadoop_1_spark.operators import validate as V

    child = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 2), (9, 3)], "fk long, ln long"
    )
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    u = V.uniqueness_check(child, ("fk", "ln")).collect()[0]
    assert u["observed_q6"] == 750_000 and not u["passed"]  # 3 distinct / 4
    f = V.referential_check(child, "fk", parent, "pk").collect()[0]
    assert f["observed_q6"] == 750_000 and not f["passed"]  # 1 orphan / 4


def test_validate_lineitem_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "validate_lineitem")


def test_profile_table_semantics(spark):
    from hadoop_1_spark.operators import validate as V

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (None, "b")], "v long, s string"
    )
    got = {
        (r["col_name"], r["metric"]): r
        for r in V.profile_table(df, num_cols=("v",), str_cols=("s",)).collect()
    }
    assert got[("v", "completeness_q6")]["value_num"] == 666666.0
    assert got[("v", "distinct")]["value_num"] == 2.0
    assert got[("v", "min")]["value_num"] == 1.0
    assert got[("v", "max")]["value_num"] == 2.0
    top = got[("s", "top_share_q6")]
    assert top["value_str"] == "a" and top["value_num"] == 666666.0


def test_profile_events_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "profile_events")


def test_mv_merge_identity_and_disjoint_keys(spark):
    from hadoop_1_spark.operators import aggregate as A

    snap = spark.createDataFrame([("a", 3), ("b", 1)], "k string, n long")
    delta = spark.createDataFrame([("a", 2), ("c", 7)], "k string, n long")
    got = {
        r["k"]: r["n"]
        for r in A.merge_aggregate_snapshots(snap, delta, ("k",), ("n",)).collect()
    }
    assert got == {"a": 5, "b": 1, "c": 7}


def test_mv_wordcount_merge_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "mv_wordcount_merge")


def test_pivot_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "pivot_returnflag_status")


def test_anomaly_zscore_exact_set(spark):
    from hadoop_1_spark import registry

    # hand corpus: one type, 100 small values plus a huge outlier (note a
    # single outlier among n points is bounded at z = (n-1)/sqrt(n), so n
    # must exceed ~11 for z=3 to be reachable at all);
    # replicate the cleared inequality in exact Python integers
    vals = [float(v % 9 + 1) for v in range(100)] + [2000.0]
    vq = [int(v * 1_000_000) for v in vals]
    n, S = len(vq), sum(vq)
    Q = sum(x * x for x in vq)
    expected = [x for x in vq if (x * n - S) ** 2 > 9 * (n * Q - S * S) and x * n > S]

    df = spark.createDataFrame([("t", v) for v in vals], "event_type string, value double")
    from pyspark.sql import functions as F

    ev = df.select(
        "event_type", F.floor(F.col("value") * 1000000).cast("bigint").alias("vq")
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
    got = sorted(r["vq"] for r in j.where(is_out).collect())
    assert got == sorted(expected) == [2_000_000_000]  # z ~ 9.9 here


def test_anomaly_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "anomaly_zscore_events")


def test_sql_surface_identical_text_both_engines(spark):
    # the registered view surface is complete: every TESTDATA table
    from hadoop_1_spark import session

    session.load_tables(spark, "/root/testdata/sf0.001")
    got = spark.sql("SELECT count(*) AS n FROM nation").collect()[0]["n"]
    assert got == 25


def test_validation_rejects_empty_specs(spark):
    import pytest as _pytest

    from hadoop_1_spark.operators import validate as V

    df = spark.range(3)
    with _pytest.raises(ValueError):
        V.run_checks(df, [])
    with _pytest.raises(ValueError):
        V.profile_table(df)


def test_hll_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "uniq_count_hll")


def test_hll_exact_register_replay(spark):
    """Register-for-register parity with an independent Python HLL built
    from hashlib: same md5 slicing, same rho, same integer denominator."""
    import hashlib

    vals = [f"user-{i}" for i in range(400)] * 3  # duplicates must not matter
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v string")
    got = agg.hll_distinct(df, "g", "v").collect()[0]

    regs = {}
    for v in set(vals):
        h = hashlib.md5(v.encode()).hexdigest()
        idx = int(h[:2], 16)
        w = int(h[2:12], 16)
        rho = 41 if w == 0 else 41 - w.bit_length()
        regs[idx] = max(regs.get(idx, 0), rho)
    s = sum(1 << (41 - m) for m in regs.values()) + (256 - len(regs)) * (1 << 41)
    assert got.sum_inv == s
    assert got.v_zero == 256 - len(regs)
    est = (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * float(1 << 41) / float(s)
    assert got.hll_est == round(est, 6)
    # 400 distinct with 256 registers: raw estimate within 25%
    assert abs(got.hll_est - 400) / 400 < 0.25


def test_hll_partitioning_independent(spark):
    df = spark.createDataFrame(
        [("g", f"u{i % 97}") for i in range(1000)], "g string, v string"
    )
    a = agg.hll_distinct(df.repartition(1), "g", "v").collect()
    b = agg.hll_distinct(df.repartition(13), "g", "v").collect()
    assert a == b


def test_regression_trend_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "regression_trend_events")


def test_linear_trend_hand(spark):
    """Perfect line y = 2x + 1 (q6-scaled): slope exactly 2_000_000;
    negative slope truncates toward zero; degenerate x -> NULL."""
    from hadoop_1_spark.operators import aggregate as agg

    rows = (
        [("up", x, (2 * x + 1) * 1_000_000) for x in range(5)]
        # y = -x * 10^6 / 3: slope -333333.33 -> truncates to -333333
        + [("down", x, -x * 1_000_000 // 3) for x in range(4)]
        + [("flat_x", 7, 1_000_000), ("flat_x", 7, 2_000_000)]
    )
    df = spark.createDataFrame(rows, "g string, x bigint, y bigint")
    got = {
        r.g: r.slope_q6
        for r in agg.linear_trend(df, "g", F.col("x"), F.col("y")).collect()
    }
    assert got["up"] == 2_000_000
    assert got["down"] == -333333   # toward zero, not -333334
    assert got["flat_x"] is None


def test_ntile_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "ntile_user_spend")


def test_ntile_closed_form_uneven(spark, duck):
    """The SPARK closed-form expression (global_rank + ntile_from_rank)
    must agree with engine NTILE on non-divisible (10, 4), divisible
    (8, 4), and n < k (3, 4) counts — the branches the single-dataset
    oracle test may never hit."""
    from pyspark.sql import functions as F

    from hadoop_1_spark.operators import sort as sortops

    for n, k in [(10, 4), (8, 4), (3, 4), (1, 4)]:
        df = spark.range(n).select(F.col("id").cast("bigint"))
        ranked = sortops.global_rank(df, F.asc("id"), rank_col="_r")
        cnt = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
        got = {
            r.id: r.t
            for r in ranked.crossJoin(F.broadcast(cnt))
            .select("id", sortops.ntile_from_rank(F.col("_r"), F.col("_n"), k).alias("t"))
            .collect()
        }
        exp = dict(
            duck.execute(
                f"SELECT i, ntile({k}) OVER (ORDER BY i) FROM range({n}) t(i)"
            ).fetchall()
        )
        assert got == exp, (n, k, got, exp)


def test_equidepth_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "stats_equidepth_value")


def test_mad_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "anomaly_mad_events")


def test_mad_robust_to_wild_outlier(spark):
    """One wild value must be flagged and must NOT drag the median/MAD
    (the breakdown property z-scores lack)."""
    from pyspark.sql import functions as F  # noqa: F401

    from hadoop_1_spark import registry  # noqa: F401
    # replicate the query's arithmetic on a hand set via the oracle shape
    vals = [10.0] * 5 + [11.0] * 5 + [1e6]
    rows = [("t", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_type string, event_id bigint, value double")
    # run the same lower-median logic through SQL on a temp view
    df.createOrReplaceTempView("_mad_t")
    out = spark.sql("""
      WITH v AS (SELECT event_type, event_id,
                        CAST(floor(value * 1000000) AS BIGINT) AS vq FROM _mad_t),
      med AS (SELECT event_type, vq AS med_q6 FROM (
                SELECT event_type, vq,
                       row_number() OVER (PARTITION BY event_type ORDER BY vq, event_id) AS rk,
                       count(*) OVER (PARTITION BY event_type) AS n FROM v)
              WHERE rk = (n + 1) div 2)
      SELECT med_q6 FROM med
    """).collect()
    assert out[0].med_q6 == 11_000_000  # rank-6 of 11; untouched by the wild value


@pytest.mark.parametrize("name", ["sql_grouping_sets"])
def test_grouping_sets_matches_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def test_target_encode_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "feature_target_encode")


def test_target_encode_no_leakage_hand(spark):
    """Group [2, 4, 6] (q6-scaled): row with value 2 encodes mean(4,6)=5
    — its own label never contributes; singleton group encodes NULL."""
    from pyspark.sql import functions as F  # noqa: F401

    rows = [(1, "a", 2.0), (2, "a", 4.0), (3, "a", 6.0), (4, "b", 9.0)]
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    df.write.mode("overwrite").parquet("/tmp/_te_events.parquet")
    import os, shutil, tempfile

    d = tempfile.mkdtemp()
    # build the same shape the query expects via a scratch sf_dir
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    shutil.move("/tmp/_te_events.parquet", os.path.join(d, "events.parquet"))
    from hadoop_1_spark import registry

    got = {
        r.event_id: (r.loo_mean_q6, r.loo_den)
        for r in registry.QUERIES["feature_target_encode"](spark, d).collect()
    }
    assert got[1] == (5_000_000, 2)
    assert got[2] == (4_000_000, 2)
    assert got[3] == (3_000_000, 2)
    assert got[4] == (None, 0)


def test_abtest_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "abtest_conversion_lift")


def test_ab_test_report_exact_chi2(spark):
    """Perfect-separation 10v10 design (md5 arms precomputed: users
    1,3,6,9,10,13,16,17,18,20 -> A; 2,4,5,7,8,11,12,14,15,19 -> B):
    every A converts, no B does -> chi2 = N = 20 exactly, significant;
    then a fully-balanced design -> chi2 = 0, not significant."""
    a_users = [1, 3, 6, 9, 10, 13, 16, 17, 18, 20]
    b_users = [2, 4, 5, 7, 8, 11, 12, 14, 15, 19]
    rows = [(u, "purchase") for u in a_users] + [(u, "view") for u in b_users]
    ev = spark.createDataFrame(rows, "user_id long, event_type string")
    r = agg.ab_test_report(ev).collect()[0]
    assert (r["users_a"], r["conv_a"], r["users_b"], r["conv_b"]) == (10, 10, 10, 0)
    assert (r["cr_a_q6"], r["cr_b_q6"]) == (1_000_000, 0)
    assert r["chi2_q6"] == 20_000_000  # N*(ad-bc)^2/den = 20*10^4/10^4
    assert r["significant"] is True

    balanced = [(u, "purchase") for u in a_users[:5] + b_users[:5]] + [
        (u, "view") for u in a_users[5:] + b_users[5:]
    ]
    ev2 = spark.createDataFrame(balanced, "user_id long, event_type string")
    r2 = agg.ab_test_report(ev2).collect()[0]
    assert r2["chi2_q6"] == 0
    assert r2["significant"] is False


def test_ab_test_report_degenerate_margin_is_null(spark):
    """Zero conversions anywhere -> den = 0 -> chi2 NULL, not significant
    (the test is undefined on an empty margin, never a crash or a 0/0)."""
    ev = spark.createDataFrame(
        [(u, "view") for u in range(1, 21)], "user_id long, event_type string"
    )
    r = agg.ab_test_report(ev).collect()[0]
    assert r["chi2_q6"] is None
    assert r["significant"] is False


def test_drift_ks_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "drift_ks_events")


def test_mann_whitney_auc_semantics(spark):
    """Perfect ranking -> AUC 1; a single tied score -> 0.5 (half credit);
    no negatives -> NULL (undefined, not 0/0)."""
    perfect = spark.createDataFrame([(1, 0), (2, 1)], "qq long, y int")
    r = agg.mann_whitney_auc(perfect).collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc_num2"], r["auc_q6"]) == (1, 1, "2", 1_000_000)

    tied = spark.createDataFrame([(1, 0), (1, 1)], "qq long, y int")
    assert agg.mann_whitney_auc(tied).collect()[0]["auc_q6"] == 500_000

    allpos = spark.createDataFrame([(1, 1), (2, 1)], "qq long, y int")
    assert agg.mann_whitney_auc(allpos).collect()[0]["auc_q6"] is None


def test_ks_two_sample_semantics(spark):
    """Disjoint supports -> D = 1 (ks_q6 = 10^6) attained at the largest
    g1 value; identical samples -> D = 0 at the smallest value (the
    deterministic tie-break); tiny n stays under the 0.05 critical bar."""
    from hadoop_1_spark.operators import validate as validate_ops

    ev = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "b"), (4.0, "b")], "value double, g string"
    )
    r = validate_ops.ks_two_sample(ev, "value", "g", "a", "b").collect()[0]
    assert (r["n1"], r["n2"], r["d_num"], r["ks_q6"]) == (2, 2, 4, 1_000_000)
    assert r["at_value_q6"] == 2_000_000
    assert r["drifted"] is False  # n=2 per side: 16e6 < 1844164*4*4

    same = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (1.0, "b"), (2.0, "b")], "value double, g string"
    )
    r2 = validate_ops.ks_two_sample(same, "value", "g", "a", "b").collect()[0]
    assert (r2["d_num"], r2["ks_q6"], r2["at_value_q6"], r2["drifted"]) == (
        0, 0, 1_000_000, False,
    )


def test_feature_corr_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "feature_corr_report")


def test_pearson_corr_hand(spark):
    """x=[1,2,3] / y=[2,4,6] -> r = 1.0 exactly; w=[3,2,1] -> r = -1.0;
    constant z -> zero variance -> r_q9 NULL; the exact centered moments
    ship as decimal strings."""
    from hadoop_1_spark.operators import validate as V

    df = spark.createDataFrame(
        [(1.0, 2.0, 5.0, 3.0), (2.0, 4.0, 5.0, 2.0), (3.0, 6.0, 5.0, 1.0)],
        "x double, y double, z double, w double",
    )
    got = {(r["col_x"], r["col_y"]): r for r in V.pearson_corr(df, ["x", "y", "z", "w"]).collect()}
    assert len(got) == 6
    xy = got[("x", "y")]
    assert xy["n"] == 3
    # q6 values: x = 1e6,2e6,3e6; y = 2e6,4e6,6e6
    # num = 3*(2+8+18)e12 - 6e6*12e6 = 84e12 - 72e12 = 12e12
    assert xy["num_str"] == str(12 * 10**12)
    assert xy["r_q9"] == 1.0
    assert got[("x", "w")]["r_q9"] == -1.0
    assert got[("x", "z")]["r_q9"] is None  # constant column: dy = 0
    assert got[("x", "z")]["dy_str"] == "0"


def test_pearson_corr_listwise_deletion(spark):
    """A NULL in ANY listed column drops the row for EVERY pair (one
    shared n), and fewer than two columns is a contract error."""
    import pytest

    from hadoop_1_spark.operators import validate as V

    df = spark.createDataFrame(
        [(1.0, 2.0, 1.0), (2.0, 4.0, None), (3.0, 6.0, 3.0)],
        "x double, y double, z double",
    )
    rows = V.pearson_corr(df, ["x", "y", "z"]).collect()
    assert all(r["n"] == 2 for r in rows)
    with pytest.raises(ValueError):
        V.pearson_corr(df, ["x"])


def test_ks_two_sample_drifted_true(spark):
    """Disjoint supports at n=40 per side clear the 0.05 bar: d_num =
    1600, d^2 = 2.56e6 > (1844164*80*1600) div 10^6 = 236_053 -> True.
    Locks the divided comparison form (exactly equivalent to the
    textbook cross-multiplication for positive integers, but within
    DECIMAL(38,0) headroom across the whole int64 scan range)."""
    from hadoop_1_spark.operators import validate as validate_ops

    rows = [(float(i), "a") for i in range(40)] + [
        (float(100 + i), "b") for i in range(40)
    ]
    ev = spark.createDataFrame(rows, "value double, g string")
    r = validate_ops.ks_two_sample(ev, "value", "g", "a", "b").collect()[0]
    assert (r["d_num"], r["ks_q6"]) == (1600, 1_000_000)
    assert r["drifted"] is True


def test_feature_winsorize_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "feature_winsorize")


def test_winsorize_report_hand(spark):
    """100 values 1..100 in one group: P1 = 1, P99 = 99 (cum*100 >= n*p
    rule), one row clipped high (100 -> 99), none low; winsorized sum =
    5050 - 1 = 5049 (q6-scaled)."""
    rows = [(float(i), "g") for i in range(1, 101)]
    df = spark.createDataFrame(rows, "value double, t string")
    r = agg.winsorize_report(df, "value", "t").collect()[0]
    assert (r["n"], r["lo_q6"], r["hi_q6"]) == (100, 1_000_000, 99_000_000)
    assert (r["n_clip_lo"], r["n_clip_hi"]) == (0, 1)
    assert r["winsorized_sum_q6"] == str(5049 * 1_000_000)


def test_negative_sample_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "events_negative_sample")


def test_negative_sample_contract(spark):
    """Exactly k negatives per positive-holding user, never one of the
    user's own positives, and a rerun returns identical rows (the
    md5-determinism contract)."""
    from hadoop_1_spark.operators import sampling

    pos = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10)], "user_id long, item long"
    )
    uni = spark.createDataFrame([(i,) for i in range(10, 20)], "item long")
    a = sampling.negative_sample(pos, uni, k=3).collect()
    b = sampling.negative_sample(pos, uni, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_user = {}
    for r in a:
        by_user.setdefault(r["user_id"], []).append(r["item"])
    assert len(by_user[1]) == 3 and len(by_user[2]) == 3
    assert not {10, 11} & set(by_user[1])
    assert 10 not in by_user[2]


def test_negative_sample_draws_matches_oracle(spark, duck):
    assert_query_matches_oracle(spark, duck, "events_negative_sample_draws")


def test_negative_sample_draws_contract_and_fallback(spark):
    """Draw-order contract: k distinct non-positive negatives per user,
    deterministic across reruns; a draw-starved user (fewer than k
    possible negatives) falls back to the exact ranking and returns
    every negative that exists."""
    from hadoop_1_spark.operators import sampling

    pos = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10)], "user_id long, item long"
    )
    uni = spark.createDataFrame([(i,) for i in (10, 11, 12, 13)], "item long")
    a = sampling.negative_sample_draws(pos, uni, k=3).collect()
    b = sampling.negative_sample_draws(pos, uni, k=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    by_user = {}
    for r in a:
        by_user.setdefault(r["user_id"], []).append((r["rank"], r["item"]))
    # user 1: only one possible negative (13) -> short-user fallback
    assert sorted(by_user[1]) == [(1, 13)]
    # user 2: three negatives exist -> exactly k, ranks 1..3, no positives
    items2 = {i for _, i in by_user[2]}
    assert sorted(r for r, _ in by_user[2]) == [1, 2, 3]
    assert items2 <= {11, 12, 13} and 10 not in items2


def test_negative_sample_draws_first_rank_is_first_draw(spark):
    """rank 1 is the FIRST non-positive distinct draw in j order — the
    draw-order contract, replayed here in plain Python."""
    import hashlib

    from hadoop_1_spark.operators import sampling

    pos = spark.createDataFrame([(7, 100)], "user_id long, item long")
    items = sorted(range(100, 120))
    uni = spark.createDataFrame([(i,) for i in items], "item long")
    out = {r["rank"]: r["item"] for r in sampling.negative_sample_draws(
        pos, uni, k=2, m=16).collect()}
    seen, expect = set(), []
    for j in range(1, 17):
        h = int(hashlib.md5(f":7:{j}".encode()).hexdigest()[:8], 16) % len(items)
        it = items[h]
        if it == 100 or it in seen:
            continue
        seen.add(it)
        expect.append(it)
    assert out[1] == expect[0] and out[2] == expect[1]


def test_negative_sample_draws_empty_universe(spark):
    """An empty catalog yields a clean empty result (no ANSI mod-by-zero
    from the draw hash)."""
    from hadoop_1_spark.operators import sampling

    pos = spark.createDataFrame([(1, 10)], "user_id long, item long")
    uni = spark.createDataFrame([], "item long")
    assert sampling.negative_sample_draws(pos, uni, k=2).count() == 0


def test_negative_sample_thinned_path_is_exact(spark):
    """Catalog (500 items) above the thinning cutoff (2 * max(64, 8k)):
    the hash-thinned shape must return exactly what a full ranking would
    — including for a user whose positives saturate the catalog (498 of
    500: thinned survivors < k, so the short-user fallback re-ranks the
    full catalog and returns the only 2 legal negatives)."""
    import hashlib

    from hadoop_1_spark.operators import sampling

    items = list(range(1000, 1500))
    pos_rows = [(1, 1000), (1, 1001), (2, 1250)]
    # user 3: every item except the last two is a positive
    pos_rows += [(3, i) for i in items[:-2]]
    pos = spark.createDataFrame(pos_rows, "user_id long, item long")
    uni = spark.createDataFrame([(i,) for i in items], "item long")
    got = sorted(
        map(tuple, sampling.negative_sample(pos, uni, k=3).collect())
    )

    def md5(u: int, i: int) -> str:
        return hashlib.md5(f":{u}:{i}".encode()).hexdigest()

    want = []
    by_user = {}
    for u, i in pos_rows:
        by_user.setdefault(u, set()).add(i)
    for u, p in by_user.items():
        ranked = sorted((md5(u, i), i) for i in items if i not in p)
        want += [(u, i, r + 1) for r, (_, i) in enumerate(ranked[:3])]
    assert got == sorted(want)
    assert sum(1 for u, _, _ in got if u == 3) == 2  # only 2 legal negatives
