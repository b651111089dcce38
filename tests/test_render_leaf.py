"""The name-keyed render read path against the composition it replaced.

The oracle is the catalog-join read the engine served before: a
range-sorted ``find_metrics``, ``fetch_points`` (broadcast semi-join plus,
on stage0, the aggregator join), ``dense_series`` (grid join), the
renderer's ``maxDataPoints`` consolidation over that dense grid and a
Spark ``orderBy``.  It survives only here, as the oracle.

The fixture (``render_engine`` in conftest) covers all 5 aggregators, a
metric with no points, stage0 (10 s, raw) and the 60 s stage; the cases
cover the partial last consolidation bucket, consolidateBy,
setXFilesFactor, read_names, the implicit consolidation cap and the glob
cap.
"""

import json
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from tests.conftest import RENDER_AGGS, RENDER_NOW as NOW

H = 3600


def _oracle_leaf(engine, a_start, a_end, stage, metrics):
    from biggraphite_spark.operators.fetch import fetch_points
    from biggraphite_spark.operators.gapfill import dense_series

    fetched = fetch_points(engine.stage_df(stage), metrics, a_start, a_end,
                           target=stage, source_is_raw=stage.stage0)
    return dense_series(fetched, metrics, a_start, a_end, stage.precision)


def oracle_render(engine, target, start, end, max_points=None, default_cap=10000):
    """The pre-name-keyed GraphiteWeb.render for one target: (series, info)."""
    from biggraphite_spark.functions import targets as T
    from biggraphite_spark.functions.series import agg_expr
    from biggraphite_spark.operators.find import find_metrics

    a_start, a_end, stage = engine.retention.align_time_window(start, end, engine.now)
    leaf = lambda g: _oracle_leaf(engine, a_start, a_end, stage, find_metrics(engine.catalog, g))  # noqa: E731
    meta = {}
    if "(" in target:
        df = T.evaluate_target(
            T.parse_target(target), fetch=leaf, step=stage.precision, start=a_start,
            end=a_end, spark=engine.catalog.sparkSession, meta=meta)
    else:
        df = leaf(target)
    info = {}
    n_buckets = max(1, (a_end - a_start) // stage.precision)
    mp = max_points
    if mp is None and n_buckets > default_cap:
        mp = default_cap
        info = {"consolidations": [{"target": target, "buckets": n_buckets, "max_points": mp,
                                    "func": meta.get("consolidate", "average")}]}
    if mp and n_buckets > mp:
        new_step = stage.precision * -(-n_buckets // mp)
        bucket = F.lit(a_start) + F.floor((F.col("ts") - a_start) / new_step) * F.lit(new_step)
        agg = agg_expr(meta.get("consolidate", "average"), order="ts")
        if meta.get("xff"):
            agg = F.when(F.count("value") / F.count(F.lit(1)) >= F.lit(float(meta["xff"])), agg)
        df = df.groupBy("name", bucket.alias("ts")).agg(agg.alias("value"))
    series = {}
    for r in df.orderBy("name", "ts").collect():
        series.setdefault(r["name"], []).append([r["value"], int(r["ts"])])
    return [{"target": n, "datapoints": series[n]} for n in sorted(series)], info


def _close(got, want):
    assert [s["target"] for s in got] == [s["target"] for s in want]
    for g, w in zip(got, want):
        assert [p[1] for p in g["datapoints"]] == [p[1] for p in w["datapoints"]], g["target"]
        for (gv, _), (wv, ts) in zip(g["datapoints"], w["datapoints"]):
            assert (gv is None) == (wv is None), (g["target"], ts)
            if gv is not None:
                assert gv == pytest.approx(wv, rel=1e-12), (g["target"], ts)


@pytest.fixture(scope="module")
def app(render_engine):
    from biggraphite_spark.web import GraphiteWeb

    return GraphiteWeb(render_engine)


@pytest.mark.parametrize("target,window,mdp", [
    # mixed aggregators (all 5) plus the point-less fx.avg.idle, stage0
    ("fx.*.*", H, None),
    # 360 buckets by 52: the last consolidated bucket holds 48
    ("fx.*.*", H, 7),
    # the 60 s stage; 1200 buckets by 18, the last one holds 12
    ("fx.*.*", 20 * H, None),
    ("fx.*.*", 20 * H, 70),
    # one aggregator per glob: the aggregator is a literal
    *[(f"fx.{k}.*", 5 * H, 100) for k in RENDER_AGGS],
    ("fx.avg.idle", 20 * H, 70),
])
def test_plain_glob_matches_oracle(app, render_engine, target, window, mdp):
    got = app.render([target], NOW - window, NOW, max_points=mdp)
    want, _ = oracle_render(render_engine, target, NOW - window, NOW, mdp)
    assert got and all(s["datapoints"] for s in got)
    _close(got, want)


@pytest.mark.parametrize("target,window,mdp", [
    ("sumSeries(fx.*.*)", 20 * H, None),
    ("sumSeries(fx.*.*)", H, 7),
    ("movingAverage(fx.{avg,last}.*,4)", 20 * H, 70),
    ("consolidateBy(fx.*.*,'max')", 20 * H, 70),
    ("consolidateBy(fx.last.*,'last')", H, 7),
    ("consolidateBy(fx.min.*,'first')", H, 7),
    ("setXFilesFactor(fx.*.*,0.5)", H, 7),
    ("setXFilesFactor(fx.*.*,0.9)", 20 * H, 70),
    ("nonNegativeDerivative(fx.*.b)", 5 * H, 100),
])
def test_function_target_matches_oracle(app, render_engine, target, window, mdp):
    got = app.render([target], NOW - window, NOW, max_points=mdp)
    want, _ = oracle_render(render_engine, target, NOW - window, NOW, mdp)
    assert got
    _close(got, want)


def test_read_names_matches_oracle(render_engine):
    names = ["fx.last.a", "fx.sum.b", "fx.avg.idle", "fx.nosuch.metric"]
    for window in (H, 20 * H):
        rr = render_engine.read_names(names, NOW - window, NOW)
        a_start, a_end, stage = render_engine.retention.align_time_window(
            NOW - window, NOW, NOW)
        assert (rr.start, rr.end, rr.step) == (a_start, a_end, stage.precision)
        want = _oracle_leaf(render_engine, a_start, a_end, stage,
                            render_engine.catalog.filter(F.col("name").isin(names)))
        got = sorted(map(tuple, rr.series.collect()))
        exp = sorted(map(tuple, want.collect()))
        assert [r[:2] for r in got] == [r[:2] for r in exp]
        assert len(got) == 3 * (a_end - a_start) // stage.precision
        for g, w in zip(got, exp):
            assert (g[2] is None) == (w[2] is None) and (
                g[2] is None or g[2] == pytest.approx(w[2], rel=1e-12))


def test_implicit_cap_matches_oracle(app, render_engine, monkeypatch):
    # no maxDataPoints: the default cap consolidates and reports it, as
    # before (the HTTP layer turns info into X-BG-Consolidated)
    import biggraphite_spark.web as web_mod

    monkeypatch.setattr(web_mod, "DEFAULT_RENDER_MAX_POINTS", 40)
    for target in ("fx.*.*", "consolidateBy(fx.max.*,'sum')"):
        info = {}
        got = app.render([target], NOW - 5 * H, NOW, info=info)
        want, want_info = oracle_render(render_engine, target, NOW - 5 * H, NOW,
                                        default_cap=40)
        _close(got, want)
        assert info == want_info and info["consolidations"][0]["max_points"] == 40


def test_render_glob_over_cap_is_400(spark):
    """/render enforces MAX_METRICS_PER_PATTERN the way /metrics/find does:
    a glob past it answers 400 naming the glob."""
    from biggraphite_spark.catalog import create_metrics
    from biggraphite_spark.engine import Engine
    from biggraphite_spark.functions.names import with_name_structure
    from biggraphite_spark.model import MAX_METRICS_PER_PATTERN, MetricMetadata, Retention
    from biggraphite_spark.web import GraphiteWeb, make_graphite_server

    empty = with_name_structure(spark.createDataFrame([], "name string"), "name", 3)
    names = spark.range(MAX_METRICS_PER_PATTERN + 1).selectExpr("concat('big.m', id) AS name")
    catalog = create_metrics(empty, names, MetricMetadata(), NOW).localCheckpoint()
    retention = Retention.from_string("60*60s")
    points = spark.createDataFrame([], "name string, ts long, value double")
    engine = Engine(catalog, points, retention, NOW, {})
    srv = make_graphite_server(GraphiteWeb(engine), port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        for target in ("big.*", "sumSeries(big.*)"):
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(f"{base}/render?" + urllib.parse.urlencode(
                    {"target": target, "from": "-1h", "until": "now"}))
            assert ei.value.code == 400
            assert "'big.*'" in json.loads(ei.value.read())["message"]
        # under the cap the same server answers
        with urllib.request.urlopen(f"{base}/render?target=big.m1&from=-1h&until=now") as r:
            assert [s["target"] for s in json.loads(r.read())] == ["big.m1"]
    finally:
        srv.shutdown()
        srv.server_close()
