"""The benchmark's own checks; no Spark needed:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, gen, ingest, pipeline, pool, run  # noqa: E402
from perfbench.dashboard import _leaf_glob  # noqa: E402

BENCH = common.benchmark()
SPEC = common.spec()
LAYERS = common.layer_spec()


def _mix(seed, n=200):
    m = gen.RequestMix(gen.Fleet(gen.STORE_SEED, *gen.DASHBOARD_FLEET), seed)
    return json.dumps([m.next() for _ in range(n)]).encode()


def _flushes(seed, n=4):
    feed = gen.IngestFeed(gen.Fleet(seed, *gen.INGEST_FLEET), seed, ingest.T0, ingest.MINUTES)
    return [feed.next().payload() for _ in range(n)]


def test_one_seed_gives_identical_inputs_and_two_seeds_differ():
    assert _mix(1) == _mix(1)
    assert _flushes(1) == _flushes(1)
    assert _mix(1) != _mix(2)
    assert _flushes(1) != _flushes(2)


def test_defect_fractions_are_fixed_per_seed():
    fleet = gen.Fleet(3, *gen.INGEST_FLEET)
    feed = gen.IngestFeed(fleet, 3, ingest.T0, ingest.MINUTES)
    first, second = feed.next(), feed.next()
    assert first.too_late == 0 and not first.new_names
    assert len(first.lines) == first.lines_ok
    n_points = (len(fleet.names) + 1) * ingest.MINUTES
    assert second.new_names and second.new_names[0] not in fleet.index
    assert second.too_late == int(n_points * gen.TOO_LATE_FRAC)
    assert len(second.lines) - second.lines_ok == int(n_points * gen.MALFORMED_FRAC)


def test_value_formula_matches_its_sql_twin():
    fleet = gen.Fleet(5, 1, 2, 1)
    for i, ts in ((0, 0), (3, 60), (7, gen.NOW), (11, gen.NOW + 3599)):
        sql = gen.value_sql(5, str(i), str(ts))
        # pmod and div on non-negative operands are Python's % and //
        py = sql.replace("CAST(pmod(", "((").replace(", 1000) AS DOUBLE)", ") % 1000)")
        py = py.replace(f"div({ts}, {gen.STEP})", f"({ts} // {gen.STEP})")
        assert float(eval(py)) == fleet.value(i, ts)


def test_glob_regex_agrees_with_the_package():
    from biggraphite_spark.globs import glob_match

    fleet = gen.Fleet(gen.STORE_SEED, *gen.DASHBOARD_FLEET)
    mix = gen.RequestMix(fleet, 9)
    names = fleet.names[::7] + ["srv.dc0", "srv.dc1.host003"]
    for _ in range(60):
        req = mix.next()
        pattern = req["query"] if req["kind"] == "find" else _leaf_glob(req["target"])
        rx = gen.glob_regex(pattern)
        for n in names:
            assert bool(rx.match(n)) == glob_match(pattern, n), (pattern, n)


def test_percentile_needs_ten_samples_beyond():
    assert common.percentile(list(range(19)), 0.5) is None
    assert common.percentile(list(range(20)), 0.5) == 9
    assert common.percentile(list(range(99)), 0.9) is None
    assert common.percentile(list(range(100)), 0.9) == 89
    assert common.percentile([], 0.5) is None


def test_every_metric_has_a_unit_and_every_layer_its_workload_and_targets():
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert m["unit"], m["name"]
    for v in SPEC["report"].values():
        assert v["unit"]
    # every per-layer metric says where it is measured and what it should move
    assert {m["name"] for m in BENCH["per_layer"]} == set(LAYERS)
    workloads = {w["name"] for w in BENCH["workloads"]}
    for name, v in LAYERS.items():
        assert v["workload"] in workloads | {"all"}, name
        assert all(x in SPEC["end_to_end"] or x in SPEC["report"] for x in v["moves"]), name
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def _dashboard_res(trace):
    samples = []
    for k in range(40):
        kind = "find" if k % 4 == 1 else "render"
        req = {"kind": "find", "query": "srv.*", "shape": k % 8} if kind == "find" else {
            "kind": "render", "target": "srv.dc0.host000.cpu.m0", "window": 3600, "mdp": 300,
            "shape": k % 8}
        samples.append({"kind": kind, "latency": 0.1 + k / 100, "bytes": 100, "items": 3,
                        "op": f"op-{k}" if trace and k % 2 else None, "req": req})
    stats = {"find_cache": {"hits": 1, "misses": 1}, "catalog_swaps": 0}
    final = {**stats, "layers": {s["op"]: {"web.request": [1, 0.2, 0.1, 1.0, 1.2]}
                                 for s in samples if s["op"]},
             "groups": {s["op"]: {"jobs": 2, "intervals": [(1.05, 1.1)]}
                        for s in samples if s["op"]}}
    return {"setup": 12.0, "samples": samples, "wall": 20.0, "rss_mb": 900.0,
            "stats": (stats, stats), "final": final}


def _ingest_res(trace):
    feed = gen.IngestFeed(gen.Fleet(1, *gen.INGEST_FLEET), 1, ingest.T0, ingest.MINUTES)
    landed, batches = [], []
    for k in range(6):
        f = feed.next()
        prog = [{"batchId": k, "numInputRows": len(f.lines),
                 "durationMs": {"triggerExecution": 900, "addBatch": 800},
                 "stateOperators": [{"numRowsDroppedByWatermark": f.too_late,
                                     "numRowsTotal": 10, "memoryUsedBytes": 100}]}]
        landed.append((f, {"progress": prog}))
        if k >= 2:
            batches.append({"latency": 1.0 + k / 10, "progress": prog,
                            "traced": trace and k % 2 == 1, "bytes": 1000})
    accepted = sum(f.lines_ok - f.too_late for f, _ in landed)
    return {"setup": 20.0, "batches": batches, "wall": 20.0, "rss_mb": 800.0,
            "landed": landed, "sample": [],
            "found": {"accepted": accepted, "stage0": [], "stage60": []},
            "final": {"created": sum(len(f.new_names) for f, _ in landed), "store_bytes": 10,
                      "layers": {}, "groups": {}, "counters": {}}}


def _pipeline_res(trace):
    queries = pipeline.queries()
    runs = [{"query": q, "op": f"op-{k}-{q}" if trace and k % 2 else None,
             "wall": 1.0 + k / 10, "error": None}
            for k in range(4) for q in queries]
    traced = [r["op"] for r in runs if r["op"]]
    final = {"layers": {op: {"query.run": [1, 1.1, 0.1, 1.0, 2.1]} for op in traced},
             "groups": {op: {"jobs": 3, "exec_run_ms": 900.0, "exec_cpu_ms": 600.0,
                             "intervals": [(1.2, 2.0)]} for op in traced}}
    return {"setup": 15.0, "runs": runs, "wall": 12.0, "rss_mb": 1500.0,
            "found": {q: {"rows": v["rows"], "digest": v["digest"]} for q, v in queries.items()},
            "final": final}


def test_printed_metric_names_match_benchmark_json():
    e2e = {m["name"] for m in BENCH["end_to_end"]}
    layers = {m["name"] for m in BENCH["per_layer"]}
    for workload, summarize, make in (("dashboard", run.dashboard_result, _dashboard_res),
                                      ("ingest", run.ingest_result, _ingest_res),
                                      ("pipeline", run.pipeline_result, _pipeline_res)):
        _report, metrics, attempted, errors = summarize(make(False), False)
        assert set(metrics) == e2e and attempted > 0 and not errors
        assert all(v and v > 0 for v in metrics.values())
        _report, metrics, _attempted, _errors = summarize(make(True), True)
        # a traced run measures exactly the layers of its workload; the
        # rest print as 0
        assert set(metrics) == {k for k, v in LAYERS.items()
                                if v["workload"] in (workload, "all")} <= layers


def test_a_failed_request_counts_as_infinite_latency():
    res = _dashboard_res(False)
    res["samples"][0]["latency"] = math.inf
    report, metrics, _attempted, errors = run.dashboard_result(res, False)
    assert errors and report["error_frac"] == 1 / 40
    assert metrics["latency_ms"] < math.inf


def test_a_wrong_pipeline_result_is_named():
    res = _pipeline_res(False)
    res["found"]["doc_bpe_vocab"]["digest"] = "0" * 16
    res["runs"][0]["error"] = "timeout>120s"
    report, metrics, attempted, errors = run.pipeline_result(res, False)
    assert len(errors) == 2 and any("doc_bpe_vocab" in e for e in errors)
    assert report["error_frac"] == 2 / attempted and metrics["latency_ms"] > 0


def test_pooling_runs_fills_in_the_tail_percentiles():
    report, *_ = run.dashboard_result(_dashboard_res(False), False)
    rep = {"workload": "dashboard", "report": report}
    one, four = pool.pooled([rep]), pool.pooled([rep] * 4)
    assert one["render_p90_ms"] == {"value": None, "n": 30}
    assert four["render_p90_ms"]["n"] == 120 and four["render_p90_ms"]["value"] > 0
