"""bgspark benchmark: ``dashboard`` (graphite-web serving), ``ingest`` (the
carbon write path) and ``pipeline`` (batch analytics), driven through the
package's public functions and HTTP routes.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 6 --trace 0

Prints a report line (every metric of the workload by name, unit and
sample count, the failures by name, the host's load) and, last, one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics`` - the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  A per-layer metric of a layer the workload
does not use reads 0.  Everything the run writes goes under
``.bench_build/perfbench`` and is removed at the end, except the store
(the dashboard's catalog and stages, the ingest stream's starting catalog),
which is cached there across runs.  ``pipeline`` reads the package's
read-only testdata at /root/testdata/sf0.001 and fails without it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402


def pct(values: list[float], q: float) -> dict:
    """A percentile with its sample count; ``value`` is None when the run
    has fewer than ten samples beyond it."""
    return {"value": common.percentile(values, q), "n": len(values)}


def mean(values: list[float]) -> float | None:
    """Mean over the answered operations (failures are counted apart)."""
    ok = [v for v in values if v != math.inf]
    return sum(ok) / len(ok) if ok else None


def overhead(traced: list[float], plain: list[float]) -> float:
    if not traced or not plain:
        return 0.0
    return mean(traced) / mean(plain) - 1


def _sum(groups: dict, ops: list[str], key: str) -> float:
    return sum(groups.get(op, {}).get(key, 0) for op in ops)


def spark_layers(groups: dict, spans: dict, ops: list[str], root: str) -> dict:
    """Spark status-store totals per operation; the driver gap is the
    ``root`` span's wall time not covered by the operation's jobs."""
    n = max(1, len(ops))
    gap = 0.0
    for op in ops:
        span = spans.get(op, {}).get(root)
        if span:
            _calls, total, _self, t0, t1 = span
            gap += total - common.covered(groups.get(op, {}).get("intervals", []), t0, t1)
    out = {key: _sum(groups, ops, key) / n
           for key in ("jobs", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms", "shuffle_bytes",
                       "spill_bytes")}
    out["gap_ms"] = 1000 * gap / n
    return out


def span_ms(spans: dict, ops: list[str], names: tuple, n: int) -> float:
    return 1000 * sum(spans.get(op, {}).get(s, [0, 0.0])[1] for op in ops for s in names) / max(1, n)


# -- dashboard ----------------------------------------------------------------------

def _by_shape(samples: list[dict]) -> dict[int, float]:
    shapes: dict[int, list[float]] = {}
    for s in samples:
        if s["latency"] != math.inf:
            shapes.setdefault(s["req"]["shape"], []).append(s["latency"] * 1000)
    return {k: statistics.median(v) for k, v in shapes.items()}


def shape_mean(samples: list[dict]) -> float | None:
    """Mean over the request shapes of each shape's median latency: every
    shape weighs the same, whichever ran more often before the clock
    stopped."""
    return mean(list(_by_shape(samples).values()))


def shape_overhead(samples: list[dict]) -> float:
    """Traced over untraced latency, on the shapes both sets hold."""
    traced = _by_shape([s for s in samples if s["op"]])
    plain = _by_shape([s for s in samples if not s["op"]])
    both = sorted(set(traced) & set(plain))
    return overhead([traced[k] for k in both], [plain[k] for k in both])


def dashboard_result(res: dict, trace: bool) -> tuple[dict, dict, int, list[str]]:
    samples = res["samples"]
    renders = [s for s in samples if s["kind"] == "render"]
    finds = [s for s in samples if s["kind"] == "find"]
    failed = [s for s in samples if s["latency"] == math.inf]
    errors = [f"{s['kind']} {s['req'].get('target', s['req'].get('query'))}" for s in failed]
    report = {
        "render_p50_ms": pct([s["latency"] * 1000 for s in renders], 0.5),
        "render_p90_ms": pct([s["latency"] * 1000 for s in renders], 0.9),
        "find_p50_ms": pct([s["latency"] * 1000 for s in finds], 0.5),
        "find_p90_ms": pct([s["latency"] * 1000 for s in finds], 0.9),
        "dashboard_rps": len(samples) / res["wall"],
        "error_frac": len(failed) / max(1, len(samples)),
        "setup_s": res["setup"],
        "peak_rss_mb": res["rss_mb"],
        "op_ms": [[s["kind"], s["req"]["shape"], s["op"] is not None,
                   round(1000 * s["latency"], 1) if s["latency"] != math.inf else None]
                  for s in samples],
    }
    metrics = {
        "latency_ms": shape_mean([s for s in samples if s["op"] is None]),
        "setup_s": res["setup"],
    }
    if trace:
        final = res["final"] or {}
        spans, groups = final.get("layers", {}), final.get("groups", {})
        t_ok = [s for s in samples if s["op"] and s["latency"] != math.inf]
        ops = [s["op"] for s in t_ok]
        t_find = [s["op"] for s in t_ok if s["kind"] == "find"]
        t_rend = [s["op"] for s in t_ok if s["kind"] == "render"]
        before, after = res["stats"]
        hits = after["find_cache"]["hits"] - before["find_cache"]["hits"]
        misses = after["find_cache"]["misses"] - before["find_cache"]["misses"]
        n_items = sum(s["items"] for s in t_ok if s["kind"] == "render")
        spark = spark_layers(groups, spans, ops, "web.request")
        metrics = {
            "globs.compile_ms": span_ms(spans, ops, ("globs.compile",), len(ops)),
            "find.ms": span_ms(spans, t_find, ("web.find",), len(t_find)),
            "find.rows_scanned_per_result": _sum(groups, t_find, "input_records") / max(
                1, sum(s["items"] for s in t_ok if s["kind"] == "find")),
            "web.find_cache_hit_ratio": hits / max(1, hits + misses),
            "engine.catalog_swaps": final.get("catalog_swaps", 0) / max(1, len(ops)),
            "targets.parse_ms": span_ms(spans, t_rend, ("targets.parse",), len(t_rend)),
            "engine.read_build_ms": span_ms(spans, t_rend, ("engine.read",), len(t_rend)),
            "fetch.rows_read_per_point": _sum(groups, t_rend, "input_records") / max(1, n_items),
            "fetch.bytes_read_per_request": _sum(groups, t_rend, "input_bytes") / max(1, len(t_rend)),
            "web.serialize_ms": span_ms(spans, ops, ("web.serialize",), len(ops)),
            "web.response_bytes": sum(s["bytes"] for s in t_ok) / max(1, len(t_ok)),
            **{f"spark.{k}_per_request": spark[k] for k in (
                "jobs", "tasks", "exec_run_ms", "exec_cpu_ms", "gc_ms", "shuffle_bytes")},
            "web.driver_gap_ms": spark["gap_ms"],
            "process.peak_rss_mb": res["rss_mb"],
            "trace.overhead_frac": shape_overhead(samples),
        }
        report["self_ms_per_op"] = self_ms(spans, ops)
    return report, metrics, len(samples), errors


def self_ms(spans: dict, ops: list[str]) -> dict:
    """Self time per layer, averaged over the traced operations."""
    out: dict[str, float] = {}
    for op in ops:
        for name, (_c, _t, self_s, *_rest) in spans.get(op, {}).items():
            out[name] = out.get(name, 0.0) + 1000 * self_s / len(ops)
    return out


# -- ingest -----------------------------------------------------------------------------

def ingest_result(res: dict, trace: bool) -> tuple[dict, dict, int, list[str]]:
    from perfbench import ingest

    batches = res["batches"]
    errors = ingest.errors(res)
    accepted = sum(f.lines_ok - f.too_late for f, _ in res["landed"])
    measured = res["landed"][-len(batches):]
    points = sum(f.lines_ok - f.too_late for f, _ in measured)
    fresh = [b["latency"] for b in batches]
    plain = [b["latency"] * 1000 for b in batches if not b["traced"]]
    store_bytes = (res["final"] or {}).get("store_bytes", 0)
    report = {
        "ingest_points_per_s": points / res["wall"],
        "freshness_p50_s": pct(fresh, 0.5),
        "freshness_p90_s": pct(fresh, 0.9),
        "store_bytes_per_point": store_bytes / max(1, accepted),
        "error_frac": min(1.0, len(errors) / max(1, len(batches))),
        "setup_s": res["setup"],
        "peak_rss_mb": res["rss_mb"],
        "op_ms": [[b["traced"], round(1000 * b["latency"], 1)] for b in batches],
    }
    metrics = {
        "latency_ms": statistics.median(plain) if plain else None,
        "setup_s": res["setup"],
    }
    if trace:
        final = res["final"] or {}
        spans, groups = final.get("layers", {}), final.get("groups", {})
        counters = final.get("counters", {})
        traced = [b for b in batches if b["traced"]]
        ops = [f"op-{p['batchId']}" for b in traced for p in b["progress"]
               if f"op-{p['batchId']}" in spans]
        n = max(1, len(traced))
        progress = [p for b in traced for p in b["progress"]]

        def dur(key):
            return sum(p["durationMs"].get(key, 0) for p in progress) / n

        def state(key):
            vals = [op[key] for p in progress for op in p.get("stateOperators", [])]
            return sum(vals) / max(1, len(vals))

        def count(key):
            return sum(counters.get(op, {}).get(key, 0) for op in ops) / n

        in_rows = sum(p["numInputRows"] for _, r in res["landed"] for p in r["progress"])
        dropped = sum(ingest.dropped(r["progress"]) for _, r in res["landed"])
        in_bytes = sum(b["bytes"] for b in traced)
        written = sum(counters.get(op, {}).get(k, 0) for op in ops
                      for k in ("storage.append_bytes", "storage.refresh_bytes"))
        spark = spark_layers(groups, spans, ops, "streaming.sink")
        metrics = {
            "carbon.accept_ratio": (accepted + dropped) / max(1, in_rows),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.state_rows": state("numRowsTotal"),
            "streaming.state_mem_bytes": state("memoryUsedBytes"),
            "streaming.rows_dropped_by_watermark": dropped,
            "catalog.create_ms": span_ms(spans, ops, ("carbon.new_metrics", "catalog.create"), n),
            "catalog.created": count("catalog.created"),
            "storage.append_ms": span_ms(spans, ops, ("storage.append",), n),
            "storage.append_bytes": count("storage.append_bytes"),
            "storage.append_files": count("storage.append_files"),
            "storage.refresh_ms": span_ms(spans, ops, ("storage.dirty_days", "storage.refresh"), n),
            "storage.refresh_days": count("storage.refresh_days"),
            "storage.refresh_bytes": count("storage.refresh_bytes"),
            "storage.write_amp": written / max(1, in_bytes),
            "spark.jobs_per_batch": spark["jobs"],
            "spark.exec_cpu_ms_per_batch": spark["exec_cpu_ms"],
            "process.peak_rss_mb": res["rss_mb"],
            "trace.overhead_frac": overhead([b["latency"] * 1000 for b in traced], plain),
        }
        report["self_ms_per_op"] = self_ms(spans, ops)
    return report, metrics, len(batches), errors


# -- pipeline -----------------------------------------------------------------------

def pipeline_result(res: dict, trace: bool) -> tuple[dict, dict, int, list[str]]:
    from perfbench import pipeline

    runs = res["runs"]
    names = list(pipeline.queries())
    errors = pipeline.errors(res)

    def medians(traced: bool) -> dict[str, float]:
        out = {}
        for q in names:
            walls = [r["wall"] for r in runs
                     if r["query"] == q and bool(r["op"]) == traced and not r["error"]]
            if walls:
                out[q] = statistics.median(walls)
        return out

    plain = medians(False)
    complete = len(plain) == len(names)
    report = {
        "pipeline_total_s": sum(plain.values()) if complete else None,
        "pipeline_geomean_s": statistics.geometric_mean(plain.values()) if complete else None,
        "runs_per_query": {q: sum(r["query"] == q for r in runs) for q in names},
        "error_frac": len(errors) / (len(runs) + len(names)),
        "setup_s": res["setup"],
        "peak_rss_mb": res["rss_mb"],
        "op_ms": [[r["query"], r["op"] is not None, round(1000 * r["wall"], 1)] for r in runs],
    }
    metrics = {
        "latency_ms": 1000 * report["pipeline_total_s"] if complete else None,
        "setup_s": res["setup"],
    }
    if trace:
        final = res["final"] or {}
        spans, groups = final.get("layers", {}), final.get("groups", {})
        ops = [r["op"] for r in runs if r["op"] and not r["error"]]
        passes = max(1, len(ops) / len(names))
        metrics = {}
        for q in names:
            q_ops = [r["op"] for r in runs if r["query"] == q and r["op"] and not r["error"]]
            spark = spark_layers(groups, spans, q_ops, "query.run")
            metrics.update({
                f"pipeline.{q}.wall_s": span_ms(spans, q_ops, ("query.run",), len(q_ops)) / 1000,
                f"pipeline.{q}.jobs": spark["jobs"],
                f"pipeline.{q}.driver_gap_s": spark["gap_ms"] / 1000,
                f"pipeline.{q}.exec_cpu_s": spark["exec_cpu_ms"] / 1000,
                f"pipeline.{q}.python_worker_s": (spark["exec_run_ms"] - spark["exec_cpu_ms"]) / 1000,
            })
        metrics.update({
            "pipeline.shuffle_bytes": _sum(groups, ops, "shuffle_bytes") / passes,
            "pipeline.spill_bytes": _sum(groups, ops, "spill_bytes") / passes,
            "pipeline.gc_s": _sum(groups, ops, "gc_ms") / 1000 / passes,
            "process.peak_rss_mb": res["rss_mb"],
            "trace.overhead_frac": overhead(list(medians(True).values()), list(plain.values())),
        })
        report["self_ms_per_op"] = self_ms(spans, ops)
    return report, metrics, len(runs) + len(names), errors


def main(argv: list[str] | None = None) -> int:
    bench = common.benchmark()
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # the program under test is the checkout's own package, built from source
    if not os.path.isfile(os.path.join(common.ROOT, "biggraphite_spark", "__init__.py")):
        print(f"no biggraphite_spark package under {common.ROOT}", file=sys.stderr)
        return 2
    import pyspark  # noqa: F401

    from perfbench import dashboard, ingest, pipeline

    mod, summarize = {"dashboard": (dashboard, dashboard_result),
                      "ingest": (ingest, ingest_result),
                      "pipeline": (pipeline, pipeline_result)}[args.workload]
    cpu_start = common.cpu_times()
    run_dir = os.path.join(common.SCRATCH, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        res = mod.run(args.seed, args.seconds, bool(args.trace), run_dir)
    except Exception:
        common.show_logs(run_dir)
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report, metrics, attempted, errors = summarize(res, bool(args.trace))
    if not args.trace and None in metrics.values():
        print(f"no operation answered in {args.seconds:g} s", file=sys.stderr)
        return 3
    out = {m["name"]: {"value": float(metrics.get(m["name"]) or 0.0), "unit": m["unit"]}
           for m in bench["per_layer" if args.trace else "end_to_end"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "report": report, "phases": res["phases"], "failures": errors, "host": common.host_state(cpu_start)}))
    failed = min(len(errors), attempted)
    print(json.dumps({"correct": not errors, "attempted": max(1, attempted),
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
