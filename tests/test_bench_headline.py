"""Guard the driver-facing bench output contract.

Round 3's BENCH_r03.json recorded ``"parsed": null`` because bench.py's
single stdout line outgrew the driver's tail-capture window — the whole
round's per-query evidence vanished.  The fix (round 4) is a compact
FINAL stdout line built by ``bench._final_headline``; these tests pin
that contract so it can't silently regress:

* valid JSON, rep-free, small (well under a conservative 4 KB window);
* carries metric/value/per-query times and both throughput figures the
  north metric names (triples/sec AND docs/sec);
* never raises, whatever shape the scaling section left behind
  (success dict, error dict, or absent under ``--no-scaling``).

No SparkSession is needed — the functions under test are pure.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _fake_result(scaling=None):
    queries = {f"q{i}": 1.234 for i in range(14)}
    queries.update({
        "kg_pipeline": 4.19, "cc_distributed_10m": 82.4,
        "sparql_closure_10m": 19.3, "dedup_classes_full": 4.59,
    })
    extra = {
        "docs_per_sec": 1193.3,
        "triples_per_sec": 63496.0,
        "pipeline_cold_sec": 10.3,
        "pipeline_raw_triples": 266059,
        "queries_sum_sec": 123.4,
        "cc_rounds": 7,
        "cc_components": 128004,
        "cc_components_expected": 128004,
        "path_closure_rounds": 3,
    }
    result = {
        "metric": "kg_construction_wall_clock",
        "value": 321.0,
        "unit": "sec",
        "queries": queries,
        "sf": "0.1",
        "cpus": 32,
        "throughput": extra,
    }
    if scaling is not None:
        result["scaling"] = scaling
    return result, extra


def _ok_scaling():
    rep4 = [{"sec": 352.4, "ext_busy_cores_before": 0.0,
             "mean_busy_cores": 4.3, "cores": 4}] * 3
    rep16 = [{"sec": 80.9, "ext_busy_cores_before": 0.0,
              "mean_busy_cores": 16.1, "cores": 16}] * 3
    return {
        "pages": 12_000_000,
        "local4_sec": 352.4, "local16_sec": 80.85,
        "local4_reps": rep4, "local16_reps": rep16,
        "raw_triples": 894_000_000,
        "triples_per_sec_16c": 11_058_750.2,
        "docs_per_sec_16c": 148_423.0,
        "speedup_n_to_4n": 4.359, "efficiency": 1.09,
        "idle_gates": [{"gate_wait_s": 1.0, "busy_cores_at_start": 0.0}],
        "cpu_probe": {"mp4_rate": 26.6, "mp16_rate": 100.6,
                      "hardware_efficiency": 0.806},
        "efficiency_vs_hardware": 1.352,
        "note": "x" * 900,
    }


def test_headline_success_path_small_and_parseable():
    result, extra = _fake_result(scaling=_ok_scaling())
    line = json.dumps(bench._final_headline(result, extra))
    assert len(line) < 4096, f"headline too big for tail capture: {len(line)}"
    parsed = json.loads(line)
    assert parsed["metric"] == "kg_construction_wall_clock"
    assert parsed["queries"]["kg_pipeline"] == 4.19
    # the north metric names BOTH rates
    assert parsed["throughput"]["triples_per_sec"] > 0
    assert parsed["throughput"]["docs_per_sec"] > 0
    s = parsed["scaling"]
    assert s["triples_per_sec_16c"] > 0
    assert s["docs_per_sec_16c"] > 0
    assert s["efficiency"] == 1.09
    # rep-free: the per-rep arrays and the 900-char note must NOT leak in
    assert "local4_reps" not in s and "note" not in s
    assert s["n_reps"] == [3, 3]


def test_headline_error_path_never_raises():
    result, extra = _fake_result(
        scaling={"error": "OutOfMemoryError: boom", "pages": 12_000_000,
                 "note": "scaling section failed"})
    parsed = json.loads(json.dumps(bench._final_headline(result, extra)))
    assert parsed["scaling"]["error"].startswith("OutOfMemoryError")
    assert parsed["queries"]  # query evidence survives a dead scaling run


def test_headline_no_scaling_path():
    result, extra = _fake_result(scaling=None)
    parsed = json.loads(json.dumps(bench._final_headline(result, extra)))
    assert "scaling" not in parsed
    assert parsed["throughput"]["docs_per_sec"] > 0


def test_headline_partial_scaling_dict_is_crash_safe():
    # a future refactor that drops a key from the scaling dict must not
    # take the final line down with it (r3 lesson: the last line is the
    # only line that matters)
    result, extra = _fake_result(scaling={"pages": 100})
    parsed = json.loads(json.dumps(bench._final_headline(result, extra)))
    assert parsed["scaling"]["pages"] == 100
    assert parsed["scaling"]["n_reps"] == [0, 0]
    # present-but-None values are as crash-prone as absent keys
    # (len(None), None.get): the final line must survive them too
    result, extra = _fake_result(scaling={
        "pages": 100, "local4_reps": None, "local16_reps": None,
        "cpu_probe": None, "efficiency": None})
    parsed = json.loads(json.dumps(bench._final_headline(result, extra)))
    assert parsed["scaling"]["n_reps"] == [0, 0]
    assert parsed["scaling"]["hardware_efficiency_probe"] is None


def test_headline_carries_battery_noise_evidence():
    # the round-5 battery burst-resistance contract: when a query's
    # picked rep was still externally polluted, the final line must say
    # so next to the numbers (battery_noise), and the idle-gate result
    # must ride along — but the per-rep battery detail must NOT leak in
    result, extra = _fake_result(scaling=None)
    extra["battery_gate"] = {"gate_wait_s": 12.3, "busy_cores_at_start": 1.0}
    extra["battery_noise"] = {"cc_distributed_10m": 9.4}
    extra["battery"] = {"cc_distributed_10m": {"reps": [{"sec": 1}] * 3}}
    parsed = json.loads(json.dumps(bench._final_headline(result, extra)))
    assert parsed["throughput"]["battery_noise"] == {
        "cc_distributed_10m": 9.4}
    assert parsed["throughput"]["battery_gate"]["gate_wait_s"] == 12.3
    assert "battery" not in parsed["throughput"]


def test_battery_records_which_rep_was_picked():
    # BENCH_DETAIL must say WHICH rep a row's time came from (rep 0 is
    # the cold one), not only its external busy; the pick policy is the
    # fastest clean rep (ext busy <= 2.5) for the battery, falling back
    # to the fastest of all, and the fastest of all for kg_pipeline
    reps = [{"sec": 9.0, "mean_ext_busy": 0.1},
            {"sec": 4.0, "mean_ext_busy": 3.5},
            {"sec": 6.0, "mean_ext_busy": 0.2}]
    assert bench._picked(reps, clean_only=True) == {
        "reps": reps, "picked_rep": 2, "picked_ext_busy": 0.2}
    assert bench._picked(reps, clean_only=False)["picked_rep"] == 1
    noisy = [{"sec": 5.0, "mean_ext_busy": 4.0},
             {"sec": 3.0, "mean_ext_busy": 3.0}]
    assert bench._picked(noisy, clean_only=True)["picked_rep"] == 1
    # ties keep the earlier (cold) rep, as min over the reps always did
    tie = [{"sec": 2.0, "mean_ext_busy": 0.0}] * 2
    assert bench._picked(tie, clean_only=True)["picked_rep"] == 0
