"""Report percentiles pooled over several runs.

One run is too short to carry ten samples beyond a p50 or p90 of render,
find or freshness latency, so its report prints them as null.  Pooling
the untraced operations of several runs' report lines fills them in:

    python3 perfbench/run.py --workload dashboard --seed 1 ... > d1.out
    python3 perfbench/pool.py d1.out d2.out ...

Prints one JSON line: each percentile with its sample count (``value`` is
null while the pool is still too small).
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402


def pooled(reports: list[dict]) -> dict:
    """``reports``: the report lines (``run.py``'s second-to-last line)."""
    lat: dict[str, list[float]] = {"render": [], "find": [], "freshness": []}
    for rep in reports:
        for op in rep["report"]["op_ms"]:
            if rep["workload"] == "dashboard":
                kind, _shape, traced, ms = op
            elif rep["workload"] == "ingest":
                (traced, ms), kind = op, "freshness"
            else:
                continue
            if not traced:
                lat[kind].append(math.inf if ms is None else ms)
    out = {}
    for kind, unit, scale in (("render", "ms", 1), ("find", "ms", 1), ("freshness", "s", 1000)):
        for q in (0.5, 0.9):
            v = common.percentile(lat[kind], q)
            out[f"{kind}_p{round(100 * q)}_{unit}"] = {
                "value": None if v is None else v / scale, "n": len(lat[kind])}
    return out


def main(paths: list[str]) -> int:
    reports = []
    for path in paths:
        with open(path) as fh:
            reports.append(json.loads(fh.read().strip().splitlines()[-2]))
    print(json.dumps(pooled(reports)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
