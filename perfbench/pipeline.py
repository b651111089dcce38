"""``pipeline``: batch analytics, one registered query at a time, each
forced with bench.py's noop sink, over the fixed seed-42 testdata.

The queries (``spec.json``'s ``pipeline.queries``) are the ones whose work
lies in layers neither other workload reaches: ``operators/dedup`` and
``operators/graph`` (doc_triangles), ``text`` (doc_bm25), ``bpe``
(doc_bpe_vocab) and ``similarity`` (emb_cosine_topk).  Each is checked once
per run, before the clock starts, against its row count and digest from the
package's DuckDB oracle, recorded in ``spec.json``.  To recompute them:

    python3 perfbench/pipeline.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

#: the testdata the package's own smoke test reads; the run's seed does not
#: apply to it
SF_DIR = "/root/testdata/sf0.001"


def queries() -> dict[str, dict]:
    return common.spec()["pipeline"]["queries"]


def run(seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    if not os.path.isdir(SF_DIR):
        raise RuntimeError(f"no testdata at {SF_DIR}")
    env = common.spark_env(run_dir)
    names = list(queries())
    prog = common.Program(["pipeline", SF_DIR, str(int(trace))], env, run_dir)
    try:
        # ready = the session is up and bench.py's warm-up has run
        setup = time.perf_counter() - prog.t0
        # the checks are also the warm-up: every query's first run pays for
        # its plans' code generation
        found = {q: prog.command(f"check {q}") for q in names}
        t0 = time.perf_counter()
        warmup = t0 - prog.t0 - setup
        runs: list[dict] = []
        # whole passes, as many as fit in ``seconds`` and at least one: a
        # later pass runs warmer, so a partial or overrunning one would make
        # the figure depend on where the clock stopped.  A traced run traces
        # every other query, shifted by one each pass, and makes two passes
        # so every query runs both ways.
        n, passes, t_pass = len(names), 0, 0.0
        while passes < 1 + trace or time.perf_counter() - t0 + t_pass <= seconds:
            t_start = time.perf_counter()
            passes += 1
            for q in names:
                k = len(runs)
                op = f"op-{k}" if trace and (k + k // n) % 2 == 1 else None
                reply = prog.command(f"run {q}" + (f" {op}" if op else ""))
                runs.append({"query": q, "op": op, **reply})
            t_pass = time.perf_counter() - t_start
        wall = time.perf_counter() - t0
        rss = prog.rss_mb()
    finally:
        t_stop = time.perf_counter()
        final = prog.stop()
    phases = {"setup_s": setup, "warmup_s": warmup, "measure_s": wall,
              "stop_s": time.perf_counter() - t_stop}
    return {"setup": setup, "runs": runs, "found": found, "wall": wall, "rss_mb": rss,
            "final": final, "phases": phases}


def errors(res: dict) -> list[str]:
    """Each query's rows and digest against its oracle; each failed run."""
    out = []
    for q, want in queries().items():
        got = res["found"][q]
        if (got["rows"], got["digest"]) != (want["rows"], want["digest"]):
            out.append(f"{q}: rows {got['rows']} digest {got['digest']} != "
                       f"oracle {want['rows']} {want['digest']}")
    out += [f"{r['query']}: {r['error']}" for r in res["runs"] if r["error"]]
    return out


def oracle_fingerprints() -> dict[str, dict]:
    """Row count and digest of each query's ``oracle_sql()`` twin on DuckDB
    over ``SF_DIR``, as scripts/oracle_check.py computes them."""
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF_DIR
    sys.path.insert(0, os.path.join(common.ROOT, "scripts"))
    import duckdb
    from oracle_check import TABLES, frame_fingerprint

    import __spark_entry__

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    out = {}
    for q in queries():
        rows, _cols, digest, _rows = frame_fingerprint(con.execute(oracles[q]).df())
        out[q] = {"rows": rows, "digest": digest}
    return out


if __name__ == "__main__":
    print(json.dumps(oracle_fingerprints(), indent=2))
