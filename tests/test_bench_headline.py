"""Guard the driver-facing bench output contract.

Whatever runs ``python bench.py`` parses its LAST stdout line from a
bounded tail capture.  These tests pin that line and the pieces that
shape it:

* one compact JSON object, well under a conservative 4 KB window,
  carrying metric/value, per-row times, both throughput figures the
  north metric names (docs/sec AND triples/sec) and the N/M scaling block;
* a failed scaling build or battery row is recorded in the line, never
  raised past it, and rows past the wall budget are listed as skipped;
* every phase size comes from the host's cores and driver heap.

No SparkSession is needed — the functions under test are pure.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

ROWS = (("kg_pipeline",) + bench.REGISTRY_ROWS
        + ("serialize_turtle_full", "simhash_full", "dedup_classes_full",
           "cc_distributed", "sparql_closure", "salted_link_at_cutover",
           "domain_cap_zipf", "pack_shards"))


class _Tree:
    """Stands in for ``tracing.ProcessTree``: one CPU-second per call."""

    def __init__(self):
        self.n = 0

    def cpu_s(self):
        self.n += 1
        return float(self.n)


def _fake_result(scaling=None):
    result = {
        "metric": "kg_construction_wall_clock", "value": 61.234,
        "unit": "sec", "sf": "sf0.1", "cpus": 4, "heap_mb": 4017,
        "pages": bench.PAGES,
        "queries": {name: 123.456 for name in ROWS},
        "cpu_s": {name: 456.78 for name in ROWS},
        "throughput": {"docs_per_sec": 1633.1, "triples_per_sec": 143210.9,
                       "cc_rounds": 7, "path_closure_rounds": 3,
                       "domain_cap_over_domains": 2, "pack_shards_max_ix": 11},
        "stage_rows": {stage: 12_345_678 for stage in (
            "docs_clean", "mentions", "raw_triples", "alias_table", "linked",
            "canonical_map", "entities", "relations", "frames", "slots",
            "triples", "provenance")},
        "sizes": bench.sizes(32, 8192),
    }
    if scaling is not None:
        result["scaling"] = scaling
    return result


def _line(result, capsys):
    bench.emit(result)
    line = capsys.readouterr().out.splitlines()[-1]
    assert len(line) < 4096, f"headline too big for tail capture: {len(line)}"
    return json.loads(line)


def test_headline_success_path_small_and_parseable(capsys):
    parsed = _line(_fake_result(bench.scaling_block(1, 200.0, 4, 61.234)),
                   capsys)
    assert parsed["metric"] == "kg_construction_wall_clock"
    assert parsed["queries"]["kg_pipeline"] == 123.456
    assert set(parsed["cpu_s"]) == set(ROWS)
    # the north metric names BOTH rates
    assert parsed["throughput"]["triples_per_sec"] > 0
    assert parsed["throughput"]["docs_per_sec"] > 0
    s = parsed["scaling"]
    assert (s["n_cores"], s["m_cores"]) == (1, 4)
    assert s["efficiency"] == round(200.0 / 61.234 / 4, 3)


def test_headline_error_path_never_raises(capsys):
    # a failing battery row is recorded and the next row still runs
    result = _fake_result()
    result["queries"], result["cpu_s"] = {}, {}

    def boom():
        raise AssertionError("components 7 != 9")

    bench.run_battery([("cc_distributed", boom),
                       ("pack_shards", lambda: {"pack_shards_max_ix": 4})],
                      time.monotonic() + 60, _Tree(), result)
    parsed = _line(result, capsys)
    assert parsed["errors"]["cc_distributed"].startswith("AssertionError")
    assert list(parsed["queries"]) == ["pack_shards"]
    assert parsed["cpu_s"]["pack_shards"] == 1.0
    assert parsed["throughput"]["pack_shards_max_ix"] == 4


def test_headline_no_scaling_path(capsys):
    parsed = _line(_fake_result(), capsys)
    assert "scaling" not in parsed
    assert parsed["throughput"]["docs_per_sec"] > 0


def test_headline_partial_scaling_dict_is_crash_safe(capsys):
    # a scaling build that died still leaves its core counts and the
    # error next to an intact headline
    parsed = _line(_fake_result({"n_cores": 1, "m_cores": 4,
                                 "error": "TimeoutExpired: 1800 s"}), capsys)
    assert parsed["scaling"]["error"].startswith("TimeoutExpired")
    assert parsed["value"] == 61.234
    # efficiency is the speedup over the ideal M / N
    assert bench.scaling_block(2, 100.0, 8, 25.0)["efficiency"] == 1.0
    assert bench.scaling_block(2, 100.0, 8, 50.0) == {
        "n_cores": 2, "n_sec": 100.0, "m_cores": 8, "m_sec": 50.0,
        "speedup": 2.0, "efficiency": 0.5}


def test_battery_rows_past_the_budget_are_skipped():
    result = {"queries": {}, "cpu_s": {}, "throughput": {}}
    ran = []
    rows = [("first", lambda: ran.append("first") or time.sleep(0.3)),
            ("second", lambda: ran.append("second")),
            ("third", lambda: ran.append("third"))]
    bench.run_battery(rows, time.monotonic() + 0.1, _Tree(), result)
    assert ran == ["first"]
    assert result["skipped"] == ["second", "third"]
    assert list(result["queries"]) == ["first"]


def test_phase_sizes_follow_cores_and_heap():
    small = bench.sizes(4, 3840)
    assert small["scaling_cores"] == [1, 4]
    assert small["units"] == 4                    # core-bound
    big = bench.sizes(32, 8192)
    assert big["scaling_cores"] == [8, 32]
    assert big["units"] == 16                     # heap-bound
    for sz in (small, big):
        u = sz["units"]
        assert sz["cc_chain_rows"] == 256_000 * u
        assert sz["cc_chain_rows"] % bench.CHAIN_LEN == 0
        assert sz["closure_trees"] == 280 * u
        assert sz["salted_mention_rows"] == 62_500 * u
        assert sz["zipf_hub_rows"] == [125_000 * u, 31_250 * u]
    # the salted row measures the real cutover at every host size
    from kgraphmemory_spark.operators.linking import BROADCAST_MAX_ALIAS_ROWS
    assert small["salted_alias_rows"] == big["salted_alias_rows"] \
        > BROADCAST_MAX_ALIAS_ROWS
