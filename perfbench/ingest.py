"""``ingest``: one writer in a closed loop lands a file of carbon lines, then
waits until the program's stream has committed it in every stage."""

from __future__ import annotations

import json
import os
import random
import time

from perfbench import common, gen

#: 1 minute of every metric a file, one flush interval.  A batch costs about
#: the same at 5 minutes: its Spark jobs' fixed cost dominates
MINUTES = 1
#: untimed flushes after set-up: the first batches run slower while the
#: JVM compiles the sink's plans
WARMUP_FLUSHES = 2
#: stream start: a day before the dashboard store's clock
T0 = gen.NOW - 86400


def land(stream: common.Program, run_dir: str, n: int, flush: gen.Flush,
         trace: bool) -> tuple[float, dict]:
    """Land flush ``n`` in the stream's input directory atomically and wait
    for its commit: (seconds, reply)."""
    tmp = os.path.join(run_dir, f"flush-{n}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(flush.payload())
    # the stream may pick the file up at once, so tracing is set first
    stream.command(f"trace {int(trace)}")
    t0 = time.perf_counter()
    os.rename(tmp, os.path.join(run_dir, "in", f"flush-{n:05d}.txt"))
    reply = stream.command("sync")
    return time.perf_counter() - t0, reply


def run(seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    env = common.spark_env(run_dir)
    store = common.ensure_store(env, run_dir)
    fleet = gen.Fleet(seed, *gen.INGEST_FLEET)
    stream = common.Program(["ingest", store, run_dir, str(int(trace))], env, run_dir)
    try:
        feed = gen.IngestFeed(fleet, seed, T0, MINUTES)
        # ready = the first file committed; it has no defects and sets the
        # watermark
        first = feed.next()
        landed = [(first, land(stream, run_dir, 0, first, False)[1])]
        setup = time.perf_counter() - stream.t0
        for _ in range(WARMUP_FLUSHES):
            flush = feed.next()
            landed.append((flush, land(stream, run_dir, len(landed), flush, False)[1]))
        batches = []
        t0 = time.perf_counter()
        warmup = t0 - stream.t0 - setup
        while time.perf_counter() - t0 < seconds:
            flush = feed.next()
            traced = trace and len(batches) % 2 == 1
            latency, reply = land(stream, run_dir, len(landed), flush, traced)
            landed.append((flush, reply))
            batches.append({"latency": latency, "progress": reply["progress"],
                            "traced": traced, "bytes": len(flush.payload())})
        wall = time.perf_counter() - t0
        t_check = time.perf_counter()
        keys = sorted({k for f, _ in landed for k in f.expected})
        sample = random.Random(seed).sample(keys, 40)
        found = stream.command("check " + json.dumps(sample))
        rss = stream.rss_mb()
    finally:
        t_stop = time.perf_counter()
        final = stream.stop()
    phases = {"setup_s": setup, "warmup_s": warmup, "measure_s": wall,
              "check_s": t_stop - t_check, "stop_s": time.perf_counter() - t_stop}
    return {"setup": setup, "batches": batches, "wall": wall, "rss_mb": rss,
            "landed": landed, "sample": sample, "found": found, "final": final,
            "phases": phases}


def dropped(progress: list[dict]) -> int:
    return sum(op.get("numRowsDroppedByWatermark", 0)
               for p in progress for op in p.get("stateOperators", []))


def errors(res: dict) -> list[str]:
    """Accepted points, created metrics and watermark drops against the
    generator's counts, plus spot-checked stage0 and 60 s values."""
    out = []
    landed = res["landed"]
    want_acc = sum(f.lines_ok - f.too_late for f, _ in landed)
    if res["found"]["accepted"] != want_acc:
        out.append(f"accepted {res['found']['accepted']} != {want_acc}")
    want_drop = sum(f.too_late for f, _ in landed)
    got_drop = sum(dropped(r["progress"]) for _, r in landed)
    if got_drop != want_drop:
        out.append(f"dropped by watermark {got_drop} != {want_drop}")
    want_new = sum(len(f.new_names) for f, _ in landed)
    if (res["final"] or {}).get("created") != want_new:
        out.append(f"created {(res['final'] or {}).get('created')} != {want_new}")
    expected = {k: v for f, _ in landed for k, v in f.expected.items()}
    for stage in ("stage0", "stage60"):
        if len(res["found"][stage]) != len(res["sample"]):
            out.append(f"{stage}: {len(res['found'][stage])} of {len(res['sample'])} points found")
        for name, ts, value in res["found"][stage]:
            if value != expected[(name, ts)]:
                out.append(f"{stage} {name}@{ts}: {value} != {expected[(name, ts)]}")
    return out
