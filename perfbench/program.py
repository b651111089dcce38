"""The program under test, assembled from the package's public functions.

Run as its own process by the load side (``dashboard.py``, ``ingest.py``):

    python3 perfbench/program.py build  STORE_DIR
    python3 perfbench/program.py serve  STORE_DIR TRACE
    python3 perfbench/program.py ingest STORE_DIR RUN_DIR TRACE
    python3 perfbench/program.py pipeline SF_DIR TRACE

``serve`` prints ``READY <port>`` once the graphite-web server listens,
``ingest`` prints ``READY`` once its stream has started and ``pipeline``
once its session is warm; each then takes commands on stdin, one per line,
and answers each with one JSON line: ``stats`` (serve); ``trace 0|1``
(trace the next batch), ``sync`` (wait until every landed file is
committed) and ``check <json keys>`` (ingest); ``check <query>`` and ``run
<query> [op]`` (pipeline); ``quit`` (all, answered with the final counters
and, traced, the spans and the Spark status-store diff).  With TRACE=1 the
public calls are wrapped in spans, and a traced operation (a request sent
with an ``X-Bench-Op`` header, a batch after ``trace 1``, a query run with
an op id) runs under its own Spark job group.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, gen  # noqa: E402


def build_catalog(spark, names: list[str]):
    from biggraphite_spark.catalog import create_metrics
    from biggraphite_spark.functions.names import with_name_structure
    from biggraphite_spark.model import MetricMetadata

    empty = with_name_structure(spark.createDataFrame([], "name string"), "name", 5)
    fresh = spark.createDataFrame([(n,) for n in names], "name string")
    return create_metrics(empty, fresh, MetricMetadata(), gen.NOW)


def build_store(spark, path: str) -> None:
    """Catalog, stage0 (last day) and the 60 s stage (7 days) rolled up from
    raw 60 s points by the package's downsampler, written by PointStore;
    and the ingest stream's starting catalog."""
    from pyspark.sql import functions as F

    from biggraphite_spark.model import Retention
    from biggraphite_spark.operators.downsample import downsample_all
    from biggraphite_spark.storage import PointStore

    fleet = gen.Fleet(gen.STORE_SEED, *gen.DASHBOARD_FLEET)
    build_catalog(spark, gen.Fleet(0, *gen.INGEST_FLEET).names).write.parquet(
        os.path.join(path, "ingest-catalog"))
    retention = Retention.from_string(gen.RETENTION)
    stage0, stage1 = retention.stages
    n, steps = len(fleet.names), stage1.duration // gen.STEP
    catalog = build_catalog(spark, fleet.names)
    catalog.write.mode("overwrite").parquet(os.path.join(path, "catalog"))
    catalog = spark.read.parquet(os.path.join(path, "catalog"))
    ids = spark.createDataFrame(list(enumerate(fleet.names)), "i long, name string")
    raw = (
        spark.range(n * steps)
        .select((F.col("id") % n).alias("i"),
                (F.lit(gen.NOW - stage1.duration) + F.expr(f"div(id, {n})") * gen.STEP).alias("ts"))
        .join(F.broadcast(ids), "i")
        .select("name", "ts", F.expr(gen.value_sql(fleet.seed, "i", "ts")).alias("value"))
    )
    store = PointStore(path)
    store.write(raw.filter(F.col("ts") >= gen.NOW - stage0.duration), stage0)
    rolled = downsample_all(raw, catalog, list(retention.stages))
    store.write(rolled[stage1.as_string()], stage1)


def _reply(obj) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


# -- dashboard ------------------------------------------------------------------

def serve(spark, path: str, trace: bool) -> None:
    import threading

    from pyspark.sql.classic.dataframe import DataFrame

    from biggraphite_spark import engine as engine_mod
    from biggraphite_spark import globs, web
    from biggraphite_spark.engine import Engine
    from biggraphite_spark.functions import targets
    from biggraphite_spark.model import Retention
    from biggraphite_spark.operators import fetch, gapfill
    from biggraphite_spark.storage import PointStore

    retention = Retention.from_string(gen.RETENTION)
    stage0, stage1 = retention.stages
    store = PointStore(path)
    engine = Engine(
        spark.read.parquet(os.path.join(path, "catalog")),
        store.read(spark, stage0),
        retention,
        gen.NOW,
        {stage1.as_string(): store.read(spark, stage1)},
    )
    app = web.GraphiteWeb(engine)
    tracer = common.Tracer()
    swaps = [0]
    if trace:
        tracer.patch(globs, "compile_glob", "globs.compile")
        tracer.patch(web.GraphiteWeb, "find_nodes", "web.find")
        tracer.patch(web.GraphiteWeb, "render", "web.render")
        tracer.patch(engine_mod.Engine, "read", "engine.read")
        tracer.patch(engine_mod.Engine, "read_names", "engine.read")
        tracer.patch(targets, "parse_target", "targets.parse")
        tracer.patch(targets, "evaluate_target", "targets.evaluate")
        tracer.patch(fetch, "fetch_points", "fetch.points")
        tracer.patch(gapfill, "dense_series", "gapfill.dense")
        # the lazy plans above run here: render's and find's collects
        tracer.patch(DataFrame, "collect", "spark.collect")
        tracer.patch(web._GraphiteHandler, "_send", "web.serialize")
        handle = tracer.wrap(web._GraphiteHandler.do_GET, "web.request")
        sc = spark.sparkContext

        def do_get(self):
            op = self.headers.get("X-Bench-Op")
            if op is None:
                return web._GraphiteHandler.do_GET.__wrapped__(self)
            tracer.set_op(op)
            sc.setJobGroup(op, op)
            before = id(app.engine.catalog)
            try:
                return handle(self)
            finally:
                swaps[0] += id(app.engine.catalog) != before
                sc.setLocalProperty("spark.jobGroup.id", None)
                tracer.set_op(None)

        do_get.__wrapped__ = web._GraphiteHandler.do_GET
        web._GraphiteHandler.do_GET = do_get
    srv = web.make_graphite_server(app, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    _reply(f"READY {srv.server_address[1]}")
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "stats":
            _reply({"find_cache": dict(app.find_cache_stats), "catalog_swaps": swaps[0]})
        elif cmd == "quit":
            break
    srv.shutdown()
    srv.server_close()
    out = {"find_cache": dict(app.find_cache_stats), "catalog_swaps": swaps[0]}
    if trace:
        out["layers"] = tracer.by_op()
        out["groups"] = common.job_groups(spark, "op-")
    _reply(out)


# -- ingest -----------------------------------------------------------------------

def ingest(spark, store_dir: str, run_dir: str, trace: bool) -> None:
    from pyspark.sql import functions as F

    from biggraphite_spark.catalog import create_metrics
    from biggraphite_spark.model import MetricMetadata, Retention
    from biggraphite_spark.sources import carbon
    from biggraphite_spark.storage import PointStore, dirty_rollup_days
    from biggraphite_spark.streaming import ingest as streaming

    retention = Retention.from_string(gen.RETENTION)
    stage0, stage1 = retention.stages
    store = PointStore(os.path.join(run_dir, "store"))
    store.sync(retention)
    catalog = spark.read.parquet(os.path.join(store_dir, "ingest-catalog"))
    state = {"catalog": catalog.localCheckpoint(), "created": 0, "trace_next": False}
    tracer = common.Tracer()
    #: per traced batch: byte, file and day counts measured at the writers
    counters: dict[str, dict[str, float]] = {}

    def bump(key: str, v: float) -> None:
        c = counters.setdefault(tracer.op(), {})
        c[key] = c.get(key, 0) + v

    def span(fn, name):
        return tracer.wrap(fn, name) if trace else fn

    def parquet_files(path):
        return sum(f.endswith(".parquet") for _r, _d, fs in os.walk(path) for f in fs)

    def append(batch, epoch):
        path = store.stage_path(stage0)
        traced = tracer.op() is not None
        if traced:
            before = (common.dir_bytes(path), parquet_files(path))
        span(store.write, "storage.append")(batch.withColumn("epoch", F.lit(epoch)), stage0, mode="append")
        if traced:
            bump("storage.append_bytes", common.dir_bytes(path) - before[0])
            bump("storage.append_files", parquet_files(path) - before[1])

    def create(batch, _epoch):
        catalog = state["catalog"]
        new = [r["name"] for r in span(carbon.new_metrics, "carbon.new_metrics")(batch, catalog).collect()]
        if new:
            fresh = spark.createDataFrame([(n,) for n in new], "name string")
            state["catalog"] = span(
                lambda: create_metrics(catalog, fresh, MetricMetadata(), gen.NOW).localCheckpoint(),
                "catalog.create")()
        state["created"] += len(new)
        if tracer.op() is not None:
            bump("catalog.created", len(new))

    def refresh(batch, _epoch):
        days = span(dirty_rollup_days, "storage.dirty_days")(batch, stage1)
        span(store.refresh_rollup, "storage.refresh")(spark, stage0, stage1, days)
        if tracer.op() is not None:
            bump("storage.refresh_days", len(days))
            bump("storage.refresh_bytes", sum(
                common.dir_bytes(os.path.join(store.stage_path(stage1), f"pday={d}")) for d in days))

    sink = span(streaming.fan_out_sink(append, create, refresh), "streaming.sink")
    sc = spark.sparkContext

    def traced_sink(batch, epoch):
        if not state["trace_next"]:
            return sink(batch, epoch)
        op = f"op-{epoch}"
        tracer.set_op(op)
        sc.setJobGroup(op, op)
        try:
            sink(batch, epoch)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            tracer.set_op(None)

    in_dir = os.path.join(run_dir, "in")
    os.makedirs(in_dir, exist_ok=True)
    lines = spark.readStream.text(in_dir)
    points = carbon.parse_lines(lines).select(
        "name", F.col("ts").cast("timestamp").alias("ts"), "value")
    query = (
        streaming.generic_partials(points, stage0)
        .writeStream.outputMode("update")
        .foreachBatch(traced_sink if trace else sink)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .start()
    )
    _reply("READY")
    seen = -1
    for line in sys.stdin:
        cmd = line.split()
        if cmd and cmd[0] == "trace":
            state["trace_next"] = cmd[1:] == ["1"]
            _reply("ok")
        elif cmd == ["sync"]:
            query.processAllAvailable()
            progress = [json.loads(p.json) for p in query.recentProgress if p.batchId > seen]
            seen = max([seen] + [p["batchId"] for p in progress])
            _reply({"progress": progress})
        elif cmd and cmd[0] == "check":
            _reply(ingest_check(spark, store, stage0, stage1, json.loads(line.split(" ", 1)[1])))
        elif cmd == ["quit"]:
            break
    query.stop()
    out = {"created": state["created"], "store_bytes": common.dir_bytes(store.base_path)}
    if trace:
        out["layers"] = tracer.by_op()
        out["groups"] = common.job_groups(spark, "op-")
        out["counters"] = counters
    _reply(out)


def ingest_check(spark, store, stage0, stage1, keys: list) -> dict:
    """Points accepted into stage0 and the stored value of each sampled
    (name, ts) in stage0 and in its 60 s bucket."""
    from pyspark.sql import functions as F

    from biggraphite_spark.streaming.ingest import latest_partials

    want = spark.createDataFrame([(n, int(t)) for n, t in keys], "name string, ts long")
    s0 = latest_partials(store, spark, stage0)
    accepted = s0.agg(F.sum("count")).first()[0]
    mean = (F.col("sum") / F.col("count")).alias("value")
    v0 = s0.join(want, ["name", "ts"]).select("name", "ts", mean).collect()
    bucket = want.select("name", "ts", (F.col("ts") - F.col("ts") % gen.STEP).alias("b"))
    s1 = store.read(spark, stage1).withColumnRenamed("ts", "b")
    v1 = s1.join(bucket, ["name", "b"]).select("name", "ts", mean).collect()
    return {"accepted": accepted,
            "stage0": [[r["name"], r["ts"], r["value"]] for r in v0],
            "stage60": [[r["name"], r["ts"], r["value"]] for r in v1]}


# -- pipeline ---------------------------------------------------------------------

#: a query still running after this long is cancelled and counted failed
QUERY_TIMEOUT_S = 120


def pipeline(spark, sf_dir: str, trace: bool) -> None:
    """The registered queries of ``__spark_entry__``: ``check <q>`` collects
    one and answers its row count and digest (scripts/oracle_check.py's
    fingerprint); ``run <q> [op]`` forces it with bench.py's noop sink under
    bench.py's watchdog and answers its wall time, traced when ``op`` is
    given."""
    sys.path.insert(0, os.path.join(common.ROOT, "scripts"))
    import __spark_entry__
    import bench
    from oracle_check import frame_fingerprint

    queries = __spark_entry__.queries()
    bench._warm_up(spark)
    tracer = common.Tracer()
    build = tracer.wrap(lambda q: queries[q](spark, sf_dir), "query.build")

    def force(q):
        build(q).write.format("noop").mode("overwrite").save()

    force = tracer.wrap(force, "query.run")
    sc = spark.sparkContext
    _reply("READY")
    for line in sys.stdin:
        cmd = line.split()
        if cmd and cmd[0] == "check":
            rows, _cols, digest, _rows = frame_fingerprint(queries[cmd[1]](spark, sf_dir).toPandas())
            spark.catalog.clearCache()
            _reply({"rows": rows, "digest": digest})
        elif cmd and cmd[0] == "run":
            q, op = cmd[1], (cmd[2] if len(cmd) > 2 else None)
            if op:
                tracer.set_op(op)
                sc.setJobGroup(op, op)
            try:
                wall, breach, exc = bench.run_guarded(
                    spark, lambda: force(q), timeout_s=QUERY_TIMEOUT_S)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                tracer.set_op(None)
            # as bench.py: queries cache intermediates for their own fan-out
            spark.catalog.clearCache()
            error = breach or (f"{type(exc).__name__}: {exc}"[:300] if exc else None)
            _reply({"wall": wall, "error": error})
        elif cmd == ["quit"]:
            break
    out = {}
    if trace:
        out["layers"] = tracer.by_op()
        out["groups"] = common.job_groups(spark, "op-")
    _reply(out)


def main(argv: list[str]) -> int:
    mode, path = argv[0], argv[1]
    os.chdir(common.SCRATCH)
    spark = common.start_spark(f"perfbench-{mode}")
    try:
        if mode == "build":
            build_store(spark, path)
        elif mode == "serve":
            serve(spark, path, argv[2] == "1")
        elif mode == "ingest":
            ingest(spark, path, argv[2], argv[3] == "1")
        elif mode == "pipeline":
            pipeline(spark, path, argv[2] == "1")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
