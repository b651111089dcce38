"""Shared pieces of the benchmark: paths, the cached store, Spark sizing,
percentiles, process memory, spans and the Spark status-store diff per job
group."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

from perfbench import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: everything the benchmark writes lives under here (git-ignored)
SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench")

#: samples a percentile needs beyond it before it may be reported
MIN_BEYOND = 10


def benchmark() -> dict:
    """``BENCHMARK.json``: the workloads and every metric's name, unit,
    direction and bound."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def spec() -> dict:
    """``spec.json``: what BENCHMARK.json does not carry - each workload's
    shape and client count, what each metric means, the workload a
    per-layer metric belongs to and the end-to-end metrics it should move,
    the report-line metrics, and the pipeline's queries with their oracle
    row counts and digests."""
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


def layer_spec() -> dict[str, dict]:
    """``spec.json``'s per-layer entries, ``{q}`` expanded over the
    pipeline's queries."""
    sp = spec()
    out = {}
    for name, entry in sp["per_layer"].items():
        for q in sp["pipeline"]["queries"] if "{q}" in name else (None,):
            out[name.format(q=q)] = entry
    return out


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-quantile, or None when fewer than ``MIN_BEYOND``
    samples lie above it: a percentile is only as good as its tail."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def store_key() -> str:
    """Generator version, fleets and a hash of the package and program
    sources: a change to storage or downsampling rebuilds the store."""
    h = hashlib.sha256(
        f"{gen.GEN_VERSION}:{gen.STORE_SEED}:{gen.DASHBOARD_FLEET}:{gen.INGEST_FLEET}".encode())
    files = sorted(glob.glob(os.path.join(ROOT, "biggraphite_spark", "**", "*.py"), recursive=True))
    files.append(os.path.join(HERE, "program.py"))
    for path in files:
        with open(path, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_store(env: dict, run_dir: str) -> str:
    """The cached store's path, building it (outside any timing) on a miss:
    the dashboard's catalog and stages, and the ingest stream's starting
    catalog."""
    path = os.path.join(SCRATCH, f"store-{store_key()}")
    if os.path.isdir(path):
        return path
    for old in glob.glob(os.path.join(SCRATCH, "store-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = path + ".tmp"
    with log_file(run_dir) as err:
        subprocess.run([sys.executable, os.path.join(HERE, "program.py"), "build", tmp],
                       env=env, check=True, stdout=subprocess.DEVNULL, stderr=err, timeout=840)
    os.rename(tmp, path)
    return path


def spark_env(run_dir: str) -> dict:
    """Environment for a process that starts Spark: sized for this host and
    confined to ``run_dir``.  The driver heap stays well below physical RAM
    (session.py's default assumes a much larger box)."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH", "")) if p),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            "--conf spark.sql.ui.retainedExecutions=100000 pyspark-shell"),
    })
    return env


def log_file(run_dir: str):
    """A fresh stderr log for one program process; run.py shows the logs
    of a failed run."""
    n = len([f for f in os.listdir(run_dir) if f.endswith(".log")])
    return open(os.path.join(run_dir, f"program-{n}.log"), "w")


def show_logs(run_dir: str, lines: int = 40) -> None:
    for root, _dirs, files in os.walk(run_dir):
        for f in sorted(files):
            if f.endswith(".log"):
                with open(os.path.join(root, f)) as fh:
                    tail = fh.readlines()[-lines:]
                print(f"--- {f}\n" + "".join(tail), file=sys.stderr)


class Program:
    """One process of ``program.py``: started, driven over its stdin and
    stdout one JSON line at a time, and stopped."""

    def __init__(self, args: list[str], env: dict, run_dir: str):
        self.t0 = time.perf_counter()
        with log_file(run_dir) as err:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "program.py"), *args],
                env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err, text=True)
        self.ready = self.proc.stdout.readline()
        if not self.ready.startswith('"READY'):
            self.stop()
            raise RuntimeError(f"{args[0]} did not start: {self.ready!r}")

    def command(self, cmd: str):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def rss_mb(self) -> float:
        return tree_rss_peak_mb(self.proc.pid)

    def stop(self) -> dict | None:
        """``quit``, answered with the program's final counters (None if it
        had died), then wait until the process and everything it started,
        its JVM included, has ended: a JVM still shutting down would slow
        the next run."""
        out = None
        procs = descendants(self.proc.pid)[1:]
        if self.proc.poll() is None:
            try:
                out = self.command("quit")
            except (OSError, ValueError):
                pass
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        deadline = time.monotonic() + 30
        for p in procs:
            while os.path.exists(f"/proc/{p}") and _state(p) != "Z":
                if time.monotonic() > deadline:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                time.sleep(0.05)
        return out


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def start_spark(app: str):
    """A session built by the package's own builder, after ``spark_env``."""
    from biggraphite_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_peak_mb(pid: int) -> float:
    """Sum of peak RSS (VmHWM) over ``pid`` and its descendants: the
    program's Python process, its JVM and its Python workers."""
    total_kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_times() -> list[int]:
    """The host's aggregate CPU jiffies (user, nice, system, idle, iowait,
    irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_state(start: list[int]) -> dict:
    """Load on the host, recorded with every output: loadavg, and the share
    of CPU time the hypervisor stole since ``start`` (another tenant's
    load, which slows every wall-clock figure of the run)."""
    now = cpu_times()
    delta = [b - a for a, b in zip(start, now)]
    return {"loadavg": list(os.getloadavg()), "cpus": len(os.sched_getaffinity(0)),
            "steal_frac": delta[7] / max(1, sum(delta))}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    """In-memory spans: (name, start, end, parent, op id).  Only calls made
    while the current thread has an op id are recorded, so one process can
    serve traced and untraced operations side by side."""

    def __init__(self):
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def op(self) -> str | None:
        return getattr(self._local, "op", None)

    def set_op(self, op: str | None) -> None:
        self._local.op = op

    def wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            op = tracer.op()
            if op is None:
                return fn(*args, **kwargs)
            stack = tracer._local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            stack.append(name)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append((name, t0, t1, parent, op))

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` and every module-level alias of the same
        function inside the package (``from x import f`` copies)."""
        orig = getattr(owner, attr)
        traced = self.wrap(orig, name)
        setattr(owner, attr, traced)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("biggraphite_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)

    def by_op(self) -> dict[str, dict[str, list[float]]]:
        """Per op id and span name: [calls, total s, self s, first start,
        last end] (epoch seconds, comparable with Spark's job times).  Self
        time is the duration minus the child spans, which open and close on
        the same thread inside their parent."""
        out: dict[str, dict[str, list[float]]] = {}
        for name, t0, t1, parent, op in self.spans:
            names = out.setdefault(op, {})
            d = names.setdefault(name, [0, 0.0, 0.0, t0, t1])
            d[0] += 1
            d[1] += t1 - t0
            d[2] += t1 - t0
            d[3], d[4] = min(d[3], t0), max(d[4], t1)
            if parent is not None:
                names.setdefault(parent, [0, 0.0, 0.0, t0, t1])[2] -= t1 - t0
        return out


def _opt(o):
    return o.get() if o.isDefined() else None


def job_groups(spark, prefix: str) -> dict[str, dict]:
    """Diff of Spark's status store per job group starting with ``prefix``:
    jobs, tasks, executor run/CPU/GC time, shuffle, spill, input, and the
    [submission, completion] interval of every job (for the driver gap)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jvm = spark.sparkContext._jvm

    def seq(x) -> list:
        return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(x))

    by_stage: dict[int, list] = {}
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    for s in seq(store.stageList(None, False, False, no_quantiles, None)):
        by_stage.setdefault(s.stageId(), []).append(s)
    out: dict[str, dict] = {}
    for j in seq(store.jobsList(None)):
        group = _opt(j.jobGroup())
        if group is None or not group.startswith(prefix):
            continue
        g = out.setdefault(group, {
            "jobs": 0, "tasks": 0, "exec_run_ms": 0.0, "exec_cpu_ms": 0.0, "gc_ms": 0.0,
            "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
            "input_records": 0, "intervals": []})
        g["jobs"] += 1
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        if sub is not None and done is not None:
            g["intervals"].append((sub.getTime() / 1000.0, done.getTime() / 1000.0))
        for sid in seq(j.stageIds()):
            for s in by_stage.get(sid, []):
                g["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                g["exec_run_ms"] += s.executorRunTime()
                g["exec_cpu_ms"] += s.executorCpuTime() / 1e6
                g["gc_ms"] += s.jvmGcTime()
                g["shuffle_bytes"] += s.shuffleWriteBytes()
                g["spill_bytes"] += s.diskBytesSpilled()
                g["input_bytes"] += s.inputBytes()
                g["input_records"] += s.inputRecords()
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
