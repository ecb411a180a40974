"""Drift-guard baseline semantics (round-13 verdict #2a).

The variance guard used to compare each row against only the immediately
prior committed table, which let a row ratchet: double every round while
staying under the 2x fresh-JVM trigger (sim_pq_topk went 4.77 -> 8.70 ->
16.74 s across three tables with the guard never firing). The baseline is
now the MIN across the last three committed tables, so a ratcheting row
must eventually face the fresh-JVM re-measure.
"""

import json

import bench


def _write_table(tmp_path, rnd: int, rows: dict) -> None:
    with open(tmp_path / f"BENCH_LOCAL_r{rnd:02d}.json", "w") as fh:
        json.dump({"sf": 0.1, "rows": rows}, fh)


def test_prior_rows_take_min_over_last_three(tmp_path):
    # the ratchet scenario: a row doubling each round
    _write_table(tmp_path, 11, {"q": {"spark_s": 4.77, "duck_s": 4.0}})
    _write_table(tmp_path, 12, {"q": {"spark_s": 8.70, "duck_s": 3.0}})
    _write_table(tmp_path, 13, {"q": {"spark_s": 16.74, "duck_s": 5.0}})
    prior = bench._prior_committed_rows(base=str(tmp_path))
    # min across all three tables, per engine side independently
    assert prior["q"]["spark_s"] == 4.77
    assert prior["q"]["duck_s"] == 3.0
    # 16.74 > 2 * 4.77: the fresh-JVM trigger now fires where the
    # prior-table-only compare (16.74 < 2 * 8.70) never did


def test_prior_rows_window_is_three_tables(tmp_path):
    # a 4-rounds-ago fast reading must NOT pin the baseline forever:
    # genuine (confirmed) slowdowns age out of the window
    _write_table(tmp_path, 10, {"q": {"spark_s": 1.0}})
    _write_table(tmp_path, 11, {"q": {"spark_s": 6.0}})
    _write_table(tmp_path, 12, {"q": {"spark_s": 6.2}})
    _write_table(tmp_path, 13, {"q": {"spark_s": 6.1}})
    prior = bench._prior_committed_rows(base=str(tmp_path))
    assert prior["q"]["spark_s"] == 6.0


def test_prior_rows_handles_missing_and_new_queries(tmp_path):
    _write_table(tmp_path, 12, {"old": {"spark_s": 2.0, "duck_s": None}})
    _write_table(tmp_path, 13, {"new": {"spark_s": 1.5}})
    prior = bench._prior_committed_rows(base=str(tmp_path))
    assert prior["old"]["spark_s"] == 2.0
    assert prior["old"].get("duck_s") is None
    assert prior["new"]["spark_s"] == 1.5


def test_prior_rows_empty_dir(tmp_path):
    assert bench._prior_committed_rows(base=str(tmp_path)) == {}


def test_prior_rows_skip_suffixed_filenames(tmp_path):
    # BENCH_LOCAL_r14_c8.json-style names (the driver's 8-core runs use
    # the analogous BENCH_r14_c8.json) must be skipped, not crash the
    # sort key (round-14 ADVICE)
    _write_table(tmp_path, 13, {"q": {"spark_s": 2.0}})
    with open(tmp_path / "BENCH_LOCAL_r14_c8.json", "w") as fh:
        json.dump({"sf": 0.1, "rows": {"q": {"spark_s": 0.1}}}, fh)
    prior = bench._prior_committed_rows(base=str(tmp_path))
    assert prior["q"]["spark_s"] == 2.0


def test_contract_line_is_compact():
    """The final stdout line must stay far below an 8 KiB tail-capture
    window (an embedded per-row table once pushed it past that). Simulate
    a full-size run: 200 queries through the function main() prints."""
    times = {f"query_name_{i:03d}": 12.345 for i in range(200)}
    duck = {name: 0.617 for name in times}
    line = bench.contract_line(times, duck, 0.1)
    assert "\n" not in line and len(line) < 8192
    # exactly the contract fields: no verbose per-row table
    assert set(json.loads(line)) == {
        "metric", "value", "unit", "queries", "oracle_total", "sf"
    }


def test_next_table_is_one_past_newest_committed(tmp_path):
    assert bench._next_table_path(str(tmp_path)) == str(tmp_path / "BENCH_LOCAL_r01.json")
    _write_table(tmp_path, 7, {})
    _write_table(tmp_path, 16, {})
    # a suffixed table and the old round ledger do not set the number
    for stray in ("BENCH_LOCAL_r17_c8.json", "CORRECTNESS_r30.json"):
        (tmp_path / stray).write_text("{}")
    assert bench._next_table_path(str(tmp_path)) == str(tmp_path / "BENCH_LOCAL_r17.json")
