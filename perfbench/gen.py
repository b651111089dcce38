"""Seeded input generator shared by the ``dashboard`` and ``ingest`` workloads.

Every value is a closed-form function of (seed, metric index, ts), so the
correctness checks recompute expected answers without reading the program's
output back.  Values are small integers stored as doubles: sums over any
window are exact, so a check compares with a tight tolerance.

Names follow the fleet layout ``srv.dcD.hostHHH.<group>.mK``.
"""

from __future__ import annotations

import random
import re

#: bump when the layout or the value formula changes: the dashboard store
#: cache is keyed on it
GEN_VERSION = 1

#: fixed "wall clock" of the dashboard store, a UTC midnight
NOW = 1_700_006_400
RETENTION = "86400*1s:10080*60s"
STEP = 60
GROUPS = ("cpu", "mem", "disk", "net")

#: fleet shapes (dcs, hosts, metrics per group): the dashboard store holds
#: 2 x 30 x 4 x 5 = 1200 metrics and the ingest stream 2 x 10 x 4 x 5 = 400
DASHBOARD_FLEET = (2, 30, 5)
INGEST_FLEET = (2, 10, 5)
#: the dashboard store does not depend on the run's seed, so one build
#: serves every run of a checkout; the run's seed drives the request stream
STORE_SEED = 7

#: ingest line defects, as fixed fractions of a flush's points
MALFORMED_FRAC = 0.01
REORDER_FRAC = 0.02
TOO_LATE_FRAC = 0.01
DUP_FRAC = 0.01
#: watermark of streaming.ingest.generic_partials (model.OUT_OF_ORDER_S)
WATERMARK_S = 900


class Fleet:
    """A fleet of ``dcs * hosts * len(GROUPS) * per_group`` metrics."""

    def __init__(self, seed: int, dcs: int, hosts: int, per_group: int):
        self.seed = seed
        self.dcs, self.hosts, self.per_group = dcs, hosts, per_group
        self.names = [
            f"srv.dc{d}.host{h:03d}.{g}.m{k}"
            for d in range(dcs)
            for h in range(hosts)
            for g in GROUPS
            for k in range(per_group)
        ]
        self.index = {n: i for i, n in enumerate(self.names)}

    def value(self, i: int, ts: int) -> float:
        """Closed-form value of metric ``i`` at ``ts``; never negative."""
        return float((i * 37 + (ts // STEP) * 11 + self.seed * 101) % 1000)


def value_sql(seed: int, i: str, ts: str) -> str:
    """:meth:`Fleet.value` as a Spark SQL expression over columns ``i``, ``ts``."""
    return f"CAST(pmod({i} * 37 + div({ts}, {STEP}) * 11 + {seed * 101}, 1000) AS DOUBLE)"


# -- dashboard request mix ----------------------------------------------------

def glob_regex(pattern: str) -> re.Pattern:
    """Independent glob -> regex for the find check: ``*`` and ``?`` stay in
    one component, ``{a,b}`` alternates, ``[..]`` is a class."""
    out, i = [], 0
    while i < len(pattern):
        c = pattern[i]
        if c == "*":
            out.append(r"[^.]*")
        elif c == "?":
            out.append(r"[^.]")
        elif c == "{":
            j = pattern.index("}", i)
            out.append("(?:" + "|".join(re.escape(a) for a in pattern[i + 1:j].split(",")) + ")")
            i = j
        elif c == "[":
            j = pattern.index("]", i)
            out.append(pattern[i:j + 1])
            i = j
        else:
            out.append(re.escape(c))
        i += 1
    return re.compile("".join(out) + r"\Z")


class RequestMix:
    """The dashboard traffic, as a fixed schedule of 8 request shapes.

    Request ``k`` has shape ``SHAPES[k % 8]``: 25% finds (tree browse and
    ``?``), 25% stage0 panel renders over 1-6 h, 37.5% function renders
    over 2-7 d on the 60 s stage and 12.5% wide globs.  A shape fixes what
    a request costs (glob width, window, maxDataPoints); the seed picks the
    names.  80% of requests repeat one of their shape's panels, drawn
    Zipf-style, and 20% are one-off, so the find cache sees both hits and
    misses.  Every seed thus sends the same work with different names, which
    keeps run-to-run spread down to the program's own.  Few shapes keep the
    warm-up short and give each shape several timed samples in a run."""

    #: (kind, glob template, window s, maxDataPoints); {dc} {h} {a} {b} {d}
    #: {g} {k} are filled from the seed
    SHAPES = (
        ("panel", "srv.{dc}.{h}.{g}.{k}", 3600, 300),
        ("find", "srv.{dc}.*", 0, 0),
        ("func", "sumSeries(srv.{dc}.host0{d}?.{g}.{k})", 3 * 86400, 300),
        ("panel", "srv.{dc}.{{{a},{b}}}.{g}.m{{0,1}}", 6 * 3600, 800),
        ("find", "srv.{dc}.host0{d}?.{g}", 0, 0),
        ("func", "aliasByNode(nonNegativeDerivative(srv.{dc}.{h}.{g}.m{{0,1}}),2,4)", 7 * 86400, 600),
        ("wide", "srv.{dc}.host*.{g}.*", 3600, 300),
        ("func", "movingAverage(srv.{dc}.{h}.{g}.*,5)", 2 * 86400, 600),
    )
    REPEAT_FRAC = 0.8
    #: 8 x 6 = 48 repeating panels
    PANELS_PER_SHAPE = 6

    def __init__(self, fleet: Fleet, seed: int):
        self.fleet = fleet
        self.rng = random.Random(seed)
        self.k = 0
        self.panels = [[self._fresh(shape) for _ in range(self.PANELS_PER_SHAPE)]
                       for shape in self.SHAPES]
        self.zipf = [1.0 / (r + 1) for r in range(self.PANELS_PER_SHAPE)]

    def _fresh(self, shape: tuple) -> dict:
        r, f = self.rng, self.fleet
        kind, template, window, mdp = shape
        a, b = r.sample(range(f.hosts), 2)
        glob = template.format(
            dc=f"dc{r.randrange(f.dcs)}", h=f"host{a:03d}", a=f"host{a:03d}",
            b=f"host{b:03d}", d=r.randrange(f.hosts // 10), g=r.choice(GROUPS),
            k=f"m{r.randrange(f.per_group)}")
        shape_id = self.SHAPES.index(shape)
        if kind == "find":
            return {"kind": "find", "query": glob, "shape": shape_id}
        return {"kind": "render", "target": glob, "window": window, "mdp": mdp,
                "shape": shape_id}

    def next(self) -> dict:
        i = self.k % len(self.SHAPES)
        self.k += 1
        if self.rng.random() < self.REPEAT_FRAC:
            return self.rng.choices(self.panels[i], weights=self.zipf)[0]
        return self._fresh(self.SHAPES[i])


# -- ingest flushes -------------------------------------------------------------

class Flush:
    """One landed file of carbon plaintext lines, with the generator's counts
    for the checks: ``lines_ok`` (well-formed lines), ``too_late`` (beyond
    the watermark, so the stream must drop them), ``new_names`` (metrics the
    catalog lacks) and ``expected`` ((name, ts) -> value, the points the
    store must hold after this flush)."""

    def __init__(self, lines, lines_ok, too_late, new_names, expected):
        self.lines, self.lines_ok, self.too_late = lines, lines_ok, too_late
        self.new_names, self.expected = new_names, expected

    def payload(self) -> bytes:
        return ("\n".join(self.lines) + "\n").encode()


class IngestFeed:
    """A fleet flushing every metric for ``minutes`` minutes per file.

    Fixed per seed: about 1% malformed lines, 1% of points beyond the
    watermark, 1% duplicate slots (same name, ts and value), 2% of points
    held back to the next file (out of order, inside the watermark), and one
    new host per file (create-on-miss).  The first flush has no defects: it
    sets the stream's watermark."""

    def __init__(self, fleet: Fleet, seed: int, t0: int, minutes: int):
        self.fleet, self.minutes = fleet, minutes
        self.rng = random.Random(seed)
        self.t_end = t0
        self.held: list[tuple[str, int, float]] = []
        self.n = 0
        self.extra: dict[str, int] = {}

    def _value(self, name: str, ts: int) -> float:
        i = self.fleet.index.get(name)
        if i is None:
            i = len(self.fleet.names) + self.extra[name]
        return self.fleet.value(i, ts)

    def next(self) -> Flush:
        r, first = self.rng, self.n == 0
        self.t_end += self.minutes * STEP
        new = [] if first else [
            f"srv.dc0.host{self.fleet.hosts + len(self.extra):03d}.cpu.m0"]
        for n in new:
            self.extra[n] = len(self.extra)
        names = self.fleet.names + list(self.extra)
        pts = [(n, ts, self._value(n, ts))
               for ts in range(self.t_end - self.minutes * STEP, self.t_end, STEP)
               for n in names]
        r.shuffle(pts)
        frac = (lambda f: 0) if first else (lambda f: int(len(pts) * f))
        n_hold, n_late = frac(REORDER_FRAC), frac(TOO_LATE_FRAC)
        n_dup, n_bad = frac(DUP_FRAC), frac(MALFORMED_FRAC)
        held, pts = pts[:n_hold], pts[n_hold:]
        pts += self.held
        self.held = held
        late_ts = self.t_end - self.minutes * STEP - 2 * WATERMARK_S
        # one late point per name: the stream counts dropped rows after its
        # partial aggregation, which folds equal (name, ts) rows together
        late_names = list(dict.fromkeys(n for n, _, _ in pts))[:n_late]
        late = [(n, late_ts, self._value(n, late_ts)) for n in late_names]
        good = pts + late + pts[len(pts) - n_dup:]
        lines = [f"{n} {v:g} {ts}" for n, ts, v in good]
        lines += [r.choice([f"srv.bad{j} notanumber {self.t_end}", f"srv.bad{j} 1",
                            f"srv.bad{j} 1 -5x"]) for j in range(n_bad)]
        r.shuffle(lines)
        self.n += 1
        return Flush(lines, len(good), len(late), new,
                     {(n, ts): v for n, ts, v in pts})
