"""``dashboard``: a closed loop of HTTP clients against a graphite-web
server in its own process, over a cached seeded store."""

from __future__ import annotations

import json
import math
import os
import re
import time
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from perfbench import common, gen

CLIENTS = 2
#: untimed requests after set-up: one of each shape, so no timed request
#: pays for its plan's first code generation and JIT compilation; sent by
#: one client per core, as they are not measured
WARMUP_REQUESTS = len(gen.RequestMix.SHAPES)
WARMUP_CLIENTS = len(os.sched_getaffinity(0))
TIMEOUT_S = 60.0


def start_server(store: str, env: dict, trace: bool, run_dir: str) -> common.Program:
    server = common.Program(["serve", store, str(int(trace))], env, run_dir)
    server.base = f"http://127.0.0.1:{json.loads(server.ready).split()[1]}"
    return server


def url_of(base: str, req: dict) -> str:
    if req["kind"] == "find":
        return f"{base}/metrics/find?" + urllib.parse.urlencode({"query": req["query"]})
    q = {"target": req["target"], "from": gen.NOW - req["window"], "until": gen.NOW,
         "maxDataPoints": req["mdp"]}
    return f"{base}/render?" + urllib.parse.urlencode(q)


def fetch(base: str, req: dict, op: str | None = None) -> tuple[float, bytes | None]:
    headers = {"X-Bench-Op": op} if op else {}
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(urllib.request.Request(url_of(base, req), headers=headers),
                                    timeout=TIMEOUT_S) as r:
            body = r.read()
    except OSError:
        body = None
    return time.perf_counter() - t0, body


# -- correctness ------------------------------------------------------------------

def _leaf_glob(target: str) -> str:
    """The glob argument of ``f(g(glob, ...), ...)``, or the target itself."""
    inner = target[target.rindex("(") + 1:] if "(" in target else target
    depth = 0
    for j, c in enumerate(inner):
        depth += (c == "{") - (c == "}")
        if depth == 0 and c in ",)":
            return inner[:j]
    return inner


def expected_find(fleet: gen.Fleet, query: str) -> set[tuple[str, int]]:
    rx = gen.glob_regex(query)
    out = {(n, 1) for n in fleet.names if rx.match(n)}
    for n in fleet.names:
        parts = n.split(".")
        for k in range(1, len(parts)):
            prefix = ".".join(parts[:k])
            if rx.match(prefix):
                out.add((prefix, 0))
    return out


def check(fleet: gen.Fleet, req: dict, data: list) -> bool:
    """Find: the exact node set.  Render: series names or count, grid
    length, and sampled buckets against the closed-form values."""
    if req["kind"] == "find":
        return {(d["id"], d["leaf"]) for d in data} == expected_find(fleet, req["query"])
    target = req["target"]
    rx = gen.glob_regex(_leaf_glob(target))
    matched = [n for n in fleet.names if rx.match(n)]
    fns = re.findall(r"(\w+)\(", target)
    fn = fns[0] if fns else None
    if fn == "sumSeries":
        if len(data) != 1:
            return False
    elif len(data) != len(matched):
        return False
    if fn is None and sorted(d["target"] for d in data) != sorted(matched):
        return False
    step = 1 if req["window"] <= 86400 else 60
    start = gen.NOW - min(req["window"], 604800)
    n = (gen.NOW - start) // step
    factor = max(1, -(-n // req["mdp"]))
    width = step * factor
    groups = -(-n // factor)
    for s in data[:3]:
        dps = s["datapoints"]
        if len(dps) != groups:
            return False
        if {"movingAverage", "nonNegativeDerivative"} & set(fns):
            continue
        if fn == "sumSeries":
            idx = [fleet.index[x] for x in matched]
        else:
            # aliasByNode(glob, 2, 4) names a series "hostHHH.mK"
            idx = [fleet.index[x] for x in matched
                   if s["target"] in (x, ".".join(x.split(".")[2::2]))]
            if len(idx) != 1:
                return False
        for g in (0, groups // 3, groups - 1):
            value, ts = dps[g]
            lo, hi = max(ts, start), min(ts + width, gen.NOW)
            slots = range(-(-lo // gen.STEP) * gen.STEP, hi, gen.STEP)
            vals = [sum(fleet.value(i, t) for i in idx) for t in slots]
            want = sum(vals) / len(vals) if vals else None
            if ts != start + g * width or (want is None) != (value is None):
                return False
            if want is not None and abs(value - want) > 1e-6 * max(1.0, abs(want)):
                return False
    return True


# -- the run ------------------------------------------------------------------------

def load(base: str, fleet: gen.Fleet, mix: gen.RequestMix, trace: bool,
         seconds: float = 0.0, count: int = 0, clients: int = CLIENTS) -> list[dict]:
    """Rounds of ``clients`` concurrent requests, each round sent once the
    previous one is answered, as a dashboard page fetches its panels, until
    ``seconds`` have passed and at least ``count`` requests were sent; one
    dict per request.  Requests pair up the same way in every run, so how
    they overlap does not vary from run to run.  A failed or wrong answer
    has latency inf.  In a traced run every other request carries an op id,
    shifted by one each cycle of the mix's shapes, so traced and untraced
    requests interleave and, over two cycles, every shape runs both ways."""
    samples: list[dict] = []

    def one(req: dict, op: str | None) -> dict:
        lat, body = fetch(base, req, op)
        try:
            data = json.loads(body) if body is not None else None
            ok = data is not None and check(fleet, req, data)
            items = len(data) if req["kind"] == "find" else sum(
                len(s["datapoints"]) for s in data)
        except (ValueError, TypeError, KeyError, IndexError):
            # a malformed answer is a wrong one
            ok, items = False, 0
        return {"kind": req["kind"], "latency": lat if ok else math.inf,
                "bytes": len(body or b""), "items": items, "op": op, "req": req}

    deadline = time.perf_counter() + seconds
    with ThreadPoolExecutor(clients) as pool:
        while len(samples) < count or time.perf_counter() < deadline:
            reqs = [mix.next() for _ in range(clients)]
            n, k0 = len(gen.RequestMix.SHAPES), len(samples)
            ops = [f"op-{k}" if trace and (k + k // n) % 2 == 1 else None
                   for k in range(k0, k0 + clients)]
            samples += pool.map(one, reqs, ops)
    return samples


def run(seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    env = common.spark_env(run_dir)
    store = common.ensure_store(env, run_dir)
    fleet = gen.Fleet(gen.STORE_SEED, *gen.DASHBOARD_FLEET)
    server = start_server(store, env, trace, run_dir)
    try:
        # ready = the first answered request; one find and one render so
        # both paths have run once
        for req in ({"kind": "find", "query": "srv.*"},
                    {"kind": "render", "target": "srv.dc0.host000.cpu.m0", "window": 3600,
                     "mdp": 300}):
            if fetch(server.base, req)[1] is None:
                raise RuntimeError("server gave no first answer")
        setup = time.perf_counter() - server.t0
        mix = gen.RequestMix(fleet, seed)
        load(server.base, fleet, mix, False, count=WARMUP_REQUESTS, clients=WARMUP_CLIENTS)
        before = server.command("stats")
        t0 = time.perf_counter()
        warmup = t0 - server.t0 - setup
        # every shape at least once, so the latency covers the whole mix;
        # twice when traced, so every shape also runs traced
        samples = load(server.base, fleet, mix, trace, seconds=seconds,
                       count=len(gen.RequestMix.SHAPES) * (1 + trace))
        wall = time.perf_counter() - t0
        after = server.command("stats")
        rss = server.rss_mb()
    finally:
        t_stop = time.perf_counter()
        final = server.stop()
    phases = {"setup_s": setup, "warmup_s": warmup, "measure_s": wall,
              "stop_s": time.perf_counter() - t_stop}
    return {"setup": setup, "samples": samples, "wall": wall, "rss_mb": rss,
            "stats": (before, after), "final": final, "phases": phases}
