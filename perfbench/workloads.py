"""Workload definitions: which registered queries run, at which scale.

Every workload is a single-client closed loop over registered queries
(``registry.QUERIES``), all with a DuckDB oracle (``registry.ORACLE``). The
seed shuffles the query order within each pass. The tables are copies of
the repository's read-only test tables (``data/``, see ``README.md``).

``catalog_floor`` and ``tpch_star`` are the benchmark's workloads.
``catalog_floor_all`` and ``tpch_star_all`` hold the full query lists they
are cut from. A run of them takes minutes rather than seconds; they are
there to compare the traced layer shares of the cut lists with the full
ones.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]

    @property
    def data(self) -> str:
        return os.path.join(DATA, f"sf{self.sf:g}")


CATALOG_ALL = (
    "grep", "wordcount", "agg_framework", "agg_sums_by_flag", "value_histogram",
    "fieldsel", "top_k", "secondary_sort", "text_lang_id", "uniq_count_kmv",
    "index_build", "rumen_cdf", "funnel_conversion", "sessionize_events",
    "pivot_returnflag_status", "sql_pricing_summary", "cohort_retention",
    "path_transitions", "validate_lineitem", "profile_events",
    "partitioner_histogram", "nline_split_counts", "chain_pipeline",
    "db_split_bounds", "events_debounce", "ntile_user_spend",
    "abtest_conversion_lift", "text_tfidf_topk", "corpus_pii_scrub",
    "text_repetition", "label_agreement_kappa", "tpch_q6_forecast",
)
TPCH_ALL = tuple(f"tpch_{q}" for q in (
    "q1_pricing", "q3_topk", "q4_priority", "q5_local_volume", "q6_forecast",
    "q7_nation_volume", "q8_market_share", "q9_profit", "q10_returns",
    "q12_shipmode", "q13_order_distribution", "q14_promo", "q15_top_supplier",
    "q16_supplier_cnt", "q17_small_quantity", "q18_large_orders",
    "q19_disjunctive", "q20_part_promotion", "q21_waiting", "q22_global_sales",
)) + ("join_3way", "datamerge_outer")

WORKLOADS = {
    w.name: w
    for w in (
        # short one-shot queries from many families: fixed per-query cost
        # (table loads, driver build, Catalyst, job launch) is most of the
        # time. kv_text_separator (writes through sources.io) and
        # stream_tumbling_counts (micro-batches) put the write and streaming
        # layers on this workload.
        Workload(
            "catalog_floor",
            0.01,
            (
                "grep",
                "top_k",
                "sessionize_events",
                "tpch_q6_forecast",
                "kv_text_separator",
                "stream_tumbling_counts",
            ),
        ),
        # star joins over 600k lineitem rows: scan, join, broadcast and
        # shuffle execution dominate, and the driver build is small
        Workload(
            "tpch_star",
            0.1,
            (
                "tpch_q3_topk",
                "tpch_q18_large_orders",
                "join_3way",
            ),
        ),
        Workload("catalog_floor_all", 0.01, CATALOG_ALL),
        Workload("tpch_star_all", 0.1, TPCH_ALL),
    )
}
