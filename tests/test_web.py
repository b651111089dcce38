"""REST metadata API round-trip (biggraphite_spark/web.py).

Reference surface: cli/web/namespaces/biggraphite.py:57-85 (metric
GET/POST) + the bgutil-over-HTTP glob list.  Drives a live stdlib server
over HTTP exactly as a client would: GET -> POST update -> GET reflects it,
plus the 404/400 error contract.
"""

import json
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def server(spark):
    from biggraphite_spark.sources.events import NOW, load_catalog
    from biggraphite_spark.web import BgUtilHttp, CatalogWeb, make_server

    app = CatalogWeb(load_catalog(spark, SF).cache(), NOW, bgutil=BgUtilHttp(SF))
    srv = make_server(app, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url):
    with urllib.request.urlopen(url) as r:
        return r.status, json.loads(r.read())


def _post(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status


def _post_json(url, payload):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def test_bgutil_over_http(server):
    """bgutil-over-HTTP (reference cli/web/namespaces/bgutil.py): sync run
    returns captured output; unknown command 404; bad arguments 400; async
    submit 201 + task lifecycle visible at /bgutil/tasks."""
    import time

    status, body = _post_json(
        f"{server}/bgutil/run/list", {"arguments": ["bg.click.u*"]}
    )
    assert status == 200
    names = body["result"].splitlines()
    assert names and all(n.startswith("bg.click.u") for n in names)

    with pytest.raises(urllib.error.HTTPError) as e:
        _post_json(f"{server}/bgutil/run/nosuchcmd", {"arguments": []})
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_json(f"{server}/bgutil/run/read", {"arguments": ["--bogus-flag"]})
    assert e.value.code == 400
    # server verbs are not servable over HTTP
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_json(f"{server}/bgutil/run/shell", {"arguments": []})
    assert e.value.code == 404

    status, body = _post_json(f"{server}/bgutil/async/stats", {"arguments": []})
    assert status == 201 and body["label"] == "stats"
    deadline = time.time() + 90
    t = None
    while time.time() < deadline:
        _, tasks = _get(f"{server}/bgutil/tasks")
        t = next(x for x in tasks if x["label"] == "stats")
        if t["status"] in ("done", "failed"):
            break
        time.sleep(0.5)
    assert t and t["status"] == "done", t
    assert "namespace" in t["result"]
    assert t["submitted_on"] and t["started_on"] and t["completed_on"]


def test_glob_list(server):
    status, body = _get(f"{server}/biggraphite/glob?pattern=bg.click.u*")
    assert status == 200
    names = body["metrics"]
    assert names == sorted(names) and names
    assert all(n.startswith("bg.click.u") for n in names)


def test_metric_get_post_roundtrip(server):
    _, body = _get(f"{server}/biggraphite/glob?pattern=bg.click.u*")
    name = body["metrics"][0]

    status, metric = _get(f"{server}/biggraphite/metric/{name}")
    assert status == 200
    assert metric["name"] == name
    assert set(metric["metadata"]) == {"aggregator", "retention", "carbon_xfilesfactor"}

    new_meta = {
        "aggregator": "maximum",
        "retention": "86400*1s:10080*60s",
        "carbon_xfilesfactor": 0.25,
    }
    assert _post(f"{server}/biggraphite/metric/{name}", new_meta) == 204

    _, after = _get(f"{server}/biggraphite/metric/{name}")
    assert after["metadata"]["aggregator"] == "maximum"
    assert after["metadata"]["retention"] == "86400*1s:10080*60s"
    assert after["metadata"]["carbon_xfilesfactor"] == 0.25
    assert after["updated_on"] >= metric["updated_on"]


def test_error_contract(server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{server}/biggraphite/metric/no.such.metric")
    assert e.value.code == 404

    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server}/biggraphite/metric/no.such.metric", {"aggregator": "maximum"})
    assert e.value.code == 404

    # invalid payload on an existing metric -> 400, catalog untouched
    _, body = _get(f"{server}/biggraphite/glob?pattern=bg.view.u*")
    name = body["metrics"][0]
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server}/biggraphite/metric/{name}", {"aggregator": "p99"})
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(f"{server}/biggraphite/metric/{name}", {"retention": "banana"})
    assert e.value.code == 400

    # malformed glob -> 400, not a 500
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{server}/biggraphite/glob?pattern=bg.%7Ba,b")
    assert e.value.code == 400


# ---------------------------------------------------------------------------
# graphite-web read API (GraphiteWeb)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def graphite_server(spark):
    from biggraphite_spark.cli import build_engine
    from biggraphite_spark.web import GraphiteWeb, make_graphite_server

    srv = make_graphite_server(GraphiteWeb(build_engine(spark, SF)), port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_metrics_find_returns_branches_then_leaves(graphite_server):
    status, nodes = _get(f"{graphite_server}/metrics/find?query=bg.*")
    assert status == 200 and nodes
    # bg.* matches only branch nodes (bg.click, bg.error, ...) at this depth
    assert all(n["leaf"] == 0 and n["expandable"] == 1 for n in nodes)
    assert all(n["id"].startswith("bg.") and "." not in n["text"] for n in nodes)


def test_metrics_find_leaf_nodes(graphite_server):
    status, nodes = _get(f"{graphite_server}/metrics/find?query=bg.click.u*")
    assert status == 200 and nodes
    assert all(n["leaf"] == 1 and n["allowChildren"] == 0 for n in nodes)


def test_render_json_shape_and_relative_times(graphite_server):
    status, series = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
    )
    assert status == 200 and len(series) == 1
    s = series[0]
    assert s["target"] == "bg.click.u0"
    assert s["datapoints"], "dense grid must not be empty"
    ts = [p[1] for p in s["datapoints"]]
    assert ts == sorted(ts)
    step = ts[1] - ts[0]
    assert all(b - a == step for a, b in zip(ts, ts[1:])), "grid must be dense"


def test_render_multiple_targets_and_glob(graphite_server):
    status, series = _get(
        f"{graphite_server}/render?target=bg.click.u0&target=bg.click.u1&from=-1d"
    )
    assert status == 200
    assert [s["target"] for s in series] == ["bg.click.u0", "bg.click.u1"]


def test_render_missing_target_is_400(graphite_server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{graphite_server}/render")
    assert ei.value.code == 400


def test_render_bad_relative_time_is_400(graphite_server):
    # -2y is now a VALID graphite offset (attime grammar); use a unit the
    # grammar genuinely lacks
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{graphite_server}/render?target=bg.click.u0&from=-2parsecs")
    assert ei.value.code == 400


def test_render_max_data_points_consolidates(graphite_server):
    full_status, full = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
    )
    n_full = len(full[0]["datapoints"])
    assert n_full > 10
    status, series = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
        "&maxDataPoints=10"
    )
    assert status == 200 and len(series) == 1
    pts = series[0]["datapoints"]
    assert 0 < len(pts) <= 10
    # consolidated grid: constant widened step, starts at the window start
    ts = [p[1] for p in pts]
    step = ts[1] - ts[0]
    assert all(b - a == step for a, b in zip(ts, ts[1:]))
    assert ts[0] == full[0]["datapoints"][0][1]
    # null-skipping average: first consolidated value == mean of the first
    # group's non-null full-resolution values
    factor = -(-n_full // 10)
    group = [v for v, _ in full[0]["datapoints"][:factor] if v is not None]
    if group:
        assert pts[0][0] == pytest.approx(sum(group) / len(group))
    # maxDataPoints larger than the series is a no-op
    _, same = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
        f"&maxDataPoints={n_full + 5}"
    )
    assert same[0]["datapoints"] == full[0]["datapoints"]


def test_render_function_branch_clamps_future_until(graphite_server):
    """until beyond now: the function-expression branch must size its
    maxDataPoints consolidation from align_time_window's CLAMPED window
    (end <= now), i.e. the same grid the plain-target branch renders —
    bare round_up(end) would overcount n_buckets and over-coarsen."""
    far = 2**33  # far beyond the engine's now
    _, plain = _get(
        f"{graphite_server}/render?target=bg.click.u0"
        f"&from=-2d&until={far}&maxDataPoints=10"
    )
    _, fn = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("scale(bg.click.u0, 1.0)")
        + f"&from=-2d&until={far}&maxDataPoints=10"
    )
    assert [p[1] for p in fn[0]["datapoints"]] == [
        p[1] for p in plain[0]["datapoints"]
    ]


def test_render_function_expression_targets(graphite_server):
    # nested: movingAverage over a sumSeries of a brace glob
    status, series = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("movingAverage(sumSeries(bg.{click,view}.u0), 4)")
        + "&from=-2d&until=now"
    )
    assert status == 200 and len(series) == 1
    # movingAverage preserves the series name the inner combiner assigned
    assert series[0]["target"] == "sumSeries(bg.{click,view}.u0)"
    pts = series[0]["datapoints"]
    assert pts and all(len(p) == 2 for p in pts)

    # scalar transform chain over a single metric keeps the metric name
    status, series = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("scale(keepLastValue(bg.click.u0), 0.5)")
        + "&from=-2d"
    )
    assert status == 200 and series[0]["target"] == "bg.click.u0"

    # summarize with timespan + how
    status, series = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("summarize(bg.click.u0, '2d', 'max')")
        + "&from=-2d"
    )
    assert status == 200 and series[0]["datapoints"]

    # unknown function -> graphite's 400 contract
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(
            f"{graphite_server}/render?target="
            + urllib.parse.quote("colorize(bg.click.u0)")
        )
    assert ei.value.code == 400


# ---------------------------------------------------------------------------
# tag API (GraphiteWeb /tags — reference plugins/tags.py:33-148 spec)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def tag_server(spark):
    from biggraphite_spark.cli import build_engine
    from biggraphite_spark.web import GraphiteWeb, make_graphite_server

    corpus = [
        "disk.used;datacenter=dc1;rack=a1",
        "disk.used;datacenter=dc1;rack=a2;ssd=true",
        "disk.used;datacenter=dc2;rack=b1",
        "cpu.idle;datacenter=dc2",
        "cpu.idle",
    ]
    tagged = spark.createDataFrame([(s,) for s in corpus], ["series"])
    app = GraphiteWeb(build_engine(spark, SF), tagged=tagged)
    srv = make_graphite_server(app, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def test_tags_find_series(tag_server):
    q = urllib.parse.urlencode(
        [("expr", "datacenter=dc1"), ("expr", "ssd=")], doseq=True
    )
    status, series = _get(f"{tag_server}/tags/findSeries?{q}")
    assert status == 200
    assert series == ["disk.used;datacenter=dc1;rack=a1"]

    # expr[]= form is accepted too (graphite client convention)
    q = urllib.parse.urlencode([("expr[]", "rack=~a")], doseq=True)
    status, series = _get(f"{tag_server}/tags/findSeries?{q}")
    assert status == 200 and len(series) == 2


def test_tags_find_series_validation_400(tag_server):
    # every spec matches empty -> the documented rejection (tags.py:50)
    q = urllib.parse.urlencode([("expr", "ssd=")])
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{tag_server}/tags/findSeries?{q}")
    assert ei.value.code == 400


def test_tags_list_and_detail(tag_server):
    status, tags = _get(f"{tag_server}/tags")
    assert status == 200
    assert {t["tag"] for t in tags} == {"name", "datacenter", "rack", "ssd"}

    status, tags = _get(f"{tag_server}/tags?filter=%5Era")  # ^ra
    assert status == 200 and [t["tag"] for t in tags] == ["rack"]

    status, detail = _get(f"{tag_server}/tags/rack")
    assert status == 200 and detail["tag"] == "rack"
    assert [(v["value"], v["count"]) for v in detail["values"]] == [
        ("a1", 1), ("a2", 1), ("b1", 1),
    ]

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{tag_server}/tags/nosuchtag")
    assert ei.value.code == 404


def test_tags_limit_param(tag_server):
    # /tags?limit=N caps the sorted tag list (reference list_tags limit arg)
    status, tags = _get(f"{tag_server}/tags?limit=2")
    assert status == 200
    assert [t["tag"] for t in tags] == ["datacenter", "name"]

    # /tags/<tag>?limit=N caps the sorted value list (reference get_tag)
    status, detail = _get(f"{tag_server}/tags/rack?limit=2")
    assert status == 200
    assert [v["value"] for v in detail["values"]] == ["a1", "a2"]


def test_render_default_consolidation_cap(graphite_server, monkeypatch):
    # when the client sends no maxDataPoints, the driver collect is still
    # bounded: windows wider than DEFAULT_RENDER_MAX_POINTS buckets
    # consolidate exactly as if maxDataPoints=<cap> had been passed
    import biggraphite_spark.web as web_mod

    monkeypatch.setattr(web_mod, "DEFAULT_RENDER_MAX_POINTS", 10)
    status, capped = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
    )
    assert status == 200 and len(capped) == 1
    assert 0 < len(capped[0]["datapoints"]) <= 10
    _, explicit = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
        "&maxDataPoints=10"
    )
    assert capped[0]["datapoints"] == explicit[0]["datapoints"]


def test_metrics_expand(graphite_server):
    status, out = _get(f"{graphite_server}/metrics/expand?query=bg.*")
    assert status == 200
    res = out["results"]
    assert res == sorted(res) and res
    assert all(p.startswith("bg.") for p in res)
    # leaves expand too
    status, out = _get(f"{graphite_server}/metrics/expand?query=bg.click.u0")
    assert status == 200 and out["results"] == ["bg.click.u0"]


def test_render_raw_and_csv_formats(graphite_server):
    _, js = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-1d&until=now"
    )
    with urllib.request.urlopen(
        f"{graphite_server}/render?target=bg.click.u0&from=-1d&until=now"
        "&format=raw"
    ) as r:
        raw = r.read().decode()
    name, header = raw.split("|")[0].rsplit(",", 3)[0], raw.split("|")[0]
    assert name == "bg.click.u0"
    _, start_s, end_s, step_s = header.rsplit(",", 3)
    pts = js[0]["datapoints"]
    assert int(start_s) == pts[0][1]
    assert int(step_s) == pts[1][1] - pts[0][1]
    vals = raw.strip().split("|")[1].split(",")
    assert len(vals) == len(pts)

    with urllib.request.urlopen(
        f"{graphite_server}/render?target=bg.click.u0&from=-1d&until=now"
        "&format=csv"
    ) as r:
        csv = r.read().decode()
    rows = [l for l in csv.strip().split("\n") if l]
    assert len(rows) == len(pts)
    assert rows[0].startswith("bg.click.u0,")


def test_tag_write_endpoints(spark, tmp_path):
    from biggraphite_spark.cli import build_engine
    from biggraphite_spark.operators.tags import TagStore
    from biggraphite_spark.web import GraphiteWeb, make_graphite_server

    store = TagStore(spark, str(tmp_path / "tagdb"))
    app = GraphiteWeb(build_engine(spark, SF), tag_store=store)
    srv = make_graphite_server(app, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        status, out = _post_form(f"{base}/tags/tagSeries", {"path": "m;b=2;a=1"})
        assert status == 200 and out == "m;a=1;b=2"
        status, out = _post_form(
            f"{base}/tags/tagMultiSeries", [("path", "n;x=9"), ("path", "o;y=1")]
        )
        assert status == 200 and out == ["n;x=9", "o;y=1"]
        # the read surface sees the writes (tagged view invalidated)
        status, series = _get(
            f"{base}/tags/findSeries?" + urllib.parse.urlencode([("expr", "a=1")])
        )
        assert status == 200 and series == ["m;a=1;b=2"]
        status, out = _post_form(f"{base}/tags/delSeries", {"path": "n;x=9"})
        assert status == 200 and out is True
        status, series = _get(
            f"{base}/tags/findSeries?" + urllib.parse.urlencode([("expr", "x=9")])
        )
        assert status == 200 and series == []
        # no path -> 400
        with pytest.raises(urllib.error.HTTPError) as ei:
            _post_form(f"{base}/tags/tagSeries", {})
        assert ei.value.code == 400
    finally:
        srv.shutdown()


def test_tag_write_without_store_is_400(tag_server):
    with pytest.raises(urllib.error.HTTPError) as ei:
        _post_form(f"{tag_server}/tags/tagSeries", {"path": "m;a=1"})
    assert ei.value.code == 400


def _post_form(url, data):
    body = urllib.parse.urlencode(data, doseq=True).encode()
    req = urllib.request.Request(
        url, data=body,
        headers={"Content-Type": "application/x-www-form-urlencoded"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read().decode())


def test_render_post_form(graphite_server):
    # graphite clients POST render requests with a form body; contract
    # matches the GET
    _, get_series = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-1d&until=now"
    )
    status, post_series = _post_form(
        f"{graphite_server}/render",
        [("target", "bg.click.u0"), ("from", "-1d"), ("until", "now")],
    )
    assert status == 200
    assert post_series == get_series


def test_metrics_index_json(graphite_server):
    status, idx = _get(f"{graphite_server}/metrics/index.json")
    assert status == 200
    assert idx == sorted(idx) and "bg.click.u0" in idx


def test_render_pickle_format(graphite_server):
    import pickle

    _, js = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=-1d&until=now"
    )
    with urllib.request.urlopen(
        f"{graphite_server}/render?target=bg.click.u0&from=-1d&until=now"
        "&format=pickle"
    ) as r:
        assert r.headers["Content-Type"] == "application/pickle"
        series = pickle.loads(r.read())
    assert len(series) == 1
    s = series[0]
    pts = js[0]["datapoints"]
    assert s["name"] == "bg.click.u0"
    assert s["start"] == pts[0][1]
    assert s["step"] == pts[1][1] - pts[0][1]
    assert s["end"] == pts[-1][1] + s["step"]
    assert s["values"] == [v for v, _ in pts]


def test_metrics_find_pickle_format(graphite_server):
    import pickle

    with urllib.request.urlopen(
        f"{graphite_server}/metrics/find?query=bg.click.u*&format=pickle"
    ) as r:
        assert r.headers["Content-Type"] == "application/pickle"
        nodes = pickle.loads(r.read())
    assert nodes and all(set(n) == {"metric_path", "isLeaf"} for n in nodes)
    assert all(n["isLeaf"] for n in nodes)
    assert any(n["metric_path"] == "bg.click.u0" for n in nodes)


# ---------------------------------------------------------------------------
# round-6 render-language expansion through the HTTP surface
# ---------------------------------------------------------------------------


def test_render_series_by_tag_target(graphite_server):
    """seriesByTag as a render leaf: the TagDB resolves matchers (implicit
    name tag over the engine catalog) and the engine reads those exact
    names — the graphite tagged-render path end-to-end."""
    status, series = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("seriesByTag('name=~bg\\.click\\.u[01]$')")
        + "&from=-1d"
    )
    assert status == 200
    assert sorted(s["target"] for s in series) == ["bg.click.u0", "bg.click.u1"]
    assert all(s["datapoints"] for s in series)

    # composable as a leaf under combining verbs
    status, series = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote(
            "sumSeries(seriesByTag('name=~bg\\.click\\.u[01]$'))")
        + "&from=-1d"
    )
    assert status == 200 and len(series) == 1


def test_render_zero_series_targets(graphite_server):
    status, series = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("constantLine(5)") + "&from=-1d"
    )
    assert status == 200 and len(series) == 1
    assert series[0]["target"] == "5"
    assert {v for v, _ in series[0]["datapoints"]} == {5.0}

    status, series = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("threshold(9, 'alert')") + "&from=-1d"
    )
    assert status == 200 and series[0]["target"] == "alert"


def test_render_consolidate_by_is_honored(graphite_server):
    """consolidateBy('max') must change the maxDataPoints consolidation
    aggregate, not just the name (graphite render/datalib semantics)."""
    base = (
        f"{graphite_server}/render?from=-8w&until=now&maxDataPoints=5&target="
    )
    _, avg = _get(base + urllib.parse.quote("bg.click.u0"))
    _, mx = _get(
        base + urllib.parse.quote("consolidateBy(bg.click.u0, 'max')")
    )
    assert mx[0]["target"].startswith('consolidateBy(')
    a = {t: v for v, t in avg[0]["datapoints"] if v is not None}
    m = {t: v for v, t in mx[0]["datapoints"] if v is not None}
    assert m and all(m[t] >= a[t] for t in m if t in a)
    # and strictly greater somewhere, else consolidation had no effect
    assert any(m[t] > a[t] for t in m if t in a)


def test_render_generic_aggregate_target(graphite_server):
    status, series = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("aggregate(bg.click.u*, 'max')") + "&from=-1d"
    )
    assert status == 200 and len(series) == 1
    status, by_tag = _get(
        f"{graphite_server}/render?target="
        + urllib.parse.quote("groupByTags(bg.click.u0, 'sum', 'name')")
        + "&from=-1d"
    )
    assert status == 200 and by_tag[0]["target"] == "bg.click.u0"


def test_tags_autocomplete(tag_server):
    status, tags = _get(f"{tag_server}/tags/autoComplete/tags")
    assert status == 200
    assert tags == ["datacenter", "name", "rack", "ssd"]

    # tagPrefix filter
    status, tags = _get(f"{tag_server}/tags/autoComplete/tags?tagPrefix=ra")
    assert tags == ["rack"]

    # expr restricts to matching series and EXCLUDES the searched tag
    q = urllib.parse.urlencode([("expr", "datacenter=dc1")])
    status, tags = _get(f"{tag_server}/tags/autoComplete/tags?{q}")
    assert tags == ["name", "rack", "ssd"]

    status, vals = _get(
        f"{tag_server}/tags/autoComplete/values?tag=rack"
    )
    assert vals == ["a1", "a2", "b1"]
    q = urllib.parse.urlencode([("tag", "rack"), ("expr", "datacenter=dc1"),
                                ("valuePrefix", "a")])
    status, vals = _get(f"{tag_server}/tags/autoComplete/values?{q}")
    assert vals == ["a1", "a2"]
    # limit param
    q = urllib.parse.urlencode([("tag", "rack"), ("limit", "2")])
    status, vals = _get(f"{tag_server}/tags/autoComplete/values?{q}")
    assert vals == ["a1", "a2"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{tag_server}/tags/autoComplete/values")
    assert e.value.code == 400


def test_functions_index_and_version(graphite_server):
    status, fns = _get(f"{graphite_server}/functions")
    assert status == 200 and len(fns) > 140
    for key in ("sumSeries", "aggregate", "seriesByTag", "aliasQuery",
                "compressPeriodicGaps", "groupByTags"):
        assert key in fns and fns[key]["name"] == key

    with urllib.request.urlopen(f"{graphite_server}/version") as r:
        assert r.status == 200 and r.read().decode().startswith("1.1")


def test_render_dygraph_and_rickshaw_formats(graphite_server):
    base = (f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
            "&maxDataPoints=10")
    _, js = _get(base)
    _, dg = _get(base + "&format=dygraph")
    assert dg["labels"] == ["Time", "bg.click.u0"]
    assert len(dg["data"]) == len(js[0]["datapoints"])
    assert dg["data"][0][0] == js[0]["datapoints"][0][1] * 1000
    assert [row[1] for row in dg["data"]] == [v for v, _ in js[0]["datapoints"]]

    _, rs = _get(base + "&format=rickshaw")
    assert rs[0]["target"] == "bg.click.u0"
    assert rs[0]["datapoints"][0]["x"] == js[0]["datapoints"][0][1]
    assert rs[0]["datapoints"][0]["y"] == js[0]["datapoints"][0][0]


def test_at_style_time_language(graphite_server):
    """graphite attime grammar: now-2d, yesterday, midnight+offset,
    HH:MM_YYYYMMDD and YYYYMMDD absolutes (all UTC)."""
    # now-2d == -2d
    _, a = _get(f"{graphite_server}/render?target=bg.click.u0&from=-2d")
    _, b = _get(f"{graphite_server}/render?target=bg.click.u0&from=now-2d")
    assert a[0]["datapoints"] == b[0]["datapoints"]

    # yesterday == midnight-1d
    _, y = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=yesterday&until=midnight"
    )
    _, m = _get(
        f"{graphite_server}/render?target=bg.click.u0&from=midnight-1d&until=midnight"
    )
    assert y[0]["datapoints"] == m[0]["datapoints"]

    # absolute forms parse (window start = that UTC timestamp)
    _, series = _get(
        f"{graphite_server}/render?target=bg.click.u0"
        "&from=00:00_20240125&until=12:00_20240127"
    )
    assert series[0]["datapoints"]
    _, series2 = _get(
        f"{graphite_server}/render?target=bg.click.u0"
        "&from=20240125&until=20240127"
    )
    assert series2[0]["datapoints"]

    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{graphite_server}/render?target=bg.click.u0&from=2fortnights")
    assert e.value.code == 400


def test_events_annotation_api(spark, tmp_path):
    """graphite /events API: POST an annotation, query it back with range
    + tag filters under both set semantics (events/views.py contract)."""
    from biggraphite_spark.cli import build_engine
    from biggraphite_spark.operators.annotations import EventsStore
    from biggraphite_spark.web import GraphiteWeb, make_graphite_server

    store = EventsStore(spark, str(tmp_path / "events"))
    app = GraphiteWeb(build_engine(spark, SF), events_store=store)
    srv = make_graphite_server(app, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        now = app.engine.now
        _, ev1 = _post_json(f"{base}/events/", {
            "what": "deploy api", "tags": ["deploy", "api"],
            "when": now - 3600, "data": "v1.2",
        })
        assert ev1["id"] == 1 and ev1["tags"] == ["deploy", "api"]
        # space-separated tag string form, defaulted 'when'
        _, ev2 = _post_json(f"{base}/events/", {
            "what": "incident", "tags": "incident api",
        })
        assert ev2["id"] == 2 and ev2["when"] == now

        status, got = _get(f"{base}/events/get_data")
        assert status == 200 and [e["id"] for e in got] == [1, 2]

        # intersection (default): both tags required
        status, got = _get(f"{base}/events/get_data?tags=deploy+api")
        assert [e["what"] for e in got] == ["deploy api"]
        # union: either tag
        status, got = _get(f"{base}/events/get_data?tags=deploy+incident&set=union")
        assert [e["id"] for e in got] == [1, 2]
        # range filter with at-style times
        status, got = _get(f"{base}/events/get_data?from=-30min")
        assert [e["id"] for e in got] == [2]

        with pytest.raises(urllib.error.HTTPError) as e:
            _post_json(f"{base}/events/", {"tags": ["x"]})
        assert e.value.code == 400

        # the events() render verb overlays the annotations
        status, series = _get(
            f"{base}/render?target="
            + urllib.parse.quote("events('deploy')") + "&from=-2d"
        )
        assert status == 200 and len(series) == 1
        assert series[0]["target"] == 'events("deploy")'
        assert sum(v for v, _ in series[0]["datapoints"] if v) == 1.0
    finally:
        srv.shutdown()


def test_events_api_without_store_is_404(graphite_server):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(f"{graphite_server}/events/get_data")
    assert e.value.code == 404


def test_find_completer_format(graphite_server):
    status, got = _get(
        f"{graphite_server}/metrics/find?query=bg.*&format=completer"
    )
    assert status == 200 and got["metrics"]
    m = got["metrics"][0]
    assert set(m) == {"path", "name", "is_leaf"}
    # branch paths carry the trailing dot the composer expects
    assert all(
        x["path"].endswith(".") for x in got["metrics"] if x["is_leaf"] == "0"
    )


def test_render_no_null_points_and_jsonp(graphite_server):
    base = f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
    _, full = _get(base)
    assert any(v is None for v, _ in full[0]["datapoints"])
    _, pruned = _get(base + "&noNullPoints=true")
    assert pruned[0]["datapoints"]
    assert all(v is not None for v, _ in pruned[0]["datapoints"])

    with urllib.request.urlopen(base + "&jsonp=cb") as r:
        assert r.headers["Content-Type"] == "text/javascript"
        text = r.read().decode()
    assert text.startswith("cb(") and text.endswith(")")
    assert json.loads(text[3:-1])[0]["target"] == "bg.click.u0"


def test_render_pie_mode(graphite_server):
    base = f"{graphite_server}/render?target=bg.click.u0&from=-8w&until=now"
    _, js = _get(base)
    vals = [v for v, _ in js[0]["datapoints"] if v is not None]
    _, pie = _get(base + "&graphType=pie")
    assert pie == [{"target": "bg.click.u0",
                    "value": pytest.approx(sum(vals) / len(vals))}]
    _, piemax = _get(base + "&graphType=pie&pieMode=maximum")
    assert piemax[0]["value"] == max(vals)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base + "&graphType=pie&pieMode=mode")
    assert e.value.code == 400


def test_events_store_concurrent_adds_get_distinct_ids(spark, tmp_path):
    """Two threads posting annotations concurrently must serialize under
    the write lock: distinct monotonic ids, both rows stored."""
    import concurrent.futures

    from biggraphite_spark.operators.annotations import EventsStore

    store = EventsStore(spark, str(tmp_path / "ev_race"))
    with concurrent.futures.ThreadPoolExecutor(2) as ex:
        rows = list(ex.map(
            lambda i: store.add(f"e{i}", 1000 + i, ["t"]), range(2)
        ))
    assert sorted(r["id"] for r in rows) == [1, 2]
    stored = store.get_data().collect()
    assert sorted(r["id"] for r in stored) == [1, 2]
    assert {r["what"] for r in stored} == {"e0", "e1"}


def test_render_default_cap_surfaces_header(graphite_server, monkeypatch):
    # ADVICE r6: the implicit (no-maxDataPoints) consolidation must be
    # detectable by data-export clients — X-BG-Consolidated header
    import biggraphite_spark.web as web_mod

    monkeypatch.setattr(web_mod, "DEFAULT_RENDER_MAX_POINTS", 10)
    url = f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
    with urllib.request.urlopen(url) as r:
        assert r.status == 200
        hdr = r.headers["X-BG-Consolidated"]
    assert hdr and hdr.startswith("average ") and "->10" in hdr
    # explicit maxDataPoints is the client's own choice: no header
    with urllib.request.urlopen(url + "&maxDataPoints=10") as r:
        assert r.headers.get("X-BG-Consolidated") is None


def test_jsonp_callback_validated(graphite_server):
    base = f"{graphite_server}/render?target=bg.click.u0&from=-2d&until=now"
    # identifier paths pass
    with urllib.request.urlopen(base + "&jsonp=my.module$cb_1") as r:
        assert r.read().decode().startswith("my.module$cb_1(")
    # script content is rejected, not reflected (JSONP injection)
    bad = urllib.parse.quote("alert(1);//")
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base + f"&jsonp={bad}")
    assert ei.value.code == 400


def test_chained_at_style_offsets(graphite_server):
    """graphite attime chains signed offsets (now-2d+1d) and lets one sign
    cover several <n><unit> pairs (-1d2h == 26h back)."""
    base = f"{graphite_server}/render?target=bg.click.u0"
    _, a = _get(base + "&from=now-2d%2B1d&until=now")
    _, b = _get(base + "&from=-1d&until=now")
    assert a[0]["datapoints"] == b[0]["datapoints"]

    _, c = _get(base + "&from=-1d2h&until=now")
    _, d = _get(base + "&from=now-26h&until=now")
    assert c[0]["datapoints"] == d[0]["datapoints"]

    # offsets stack on named and absolute refs too
    _, e = _get(base + "&from=midnight-1d%2B1h&until=midnight")
    _, f = _get(base + "&from=yesterday%2B1h&until=midnight")
    assert e[0]["datapoints"] == f[0]["datapoints"]

    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(base + "&from=now-1d%2B2parsecs")
    assert ei.value.code == 400


def test_find_cache_hot_cold_and_invalidation(spark):
    """The find-result cache (reference: plugins/graphite.py:368-398): a
    repeated /metrics/find glob is served from memory inside the TTL,
    results are identical, a catalog swap invalidates, and ttl=0 disables
    the cache entirely."""
    import time as _time

    from biggraphite_spark.cli import build_engine
    from biggraphite_spark.web import GraphiteWeb

    app = GraphiteWeb(build_engine(spark, SF))
    cold_t0 = _time.monotonic()
    first = app.find_nodes("bg.*")
    cold = _time.monotonic() - cold_t0
    assert app.find_cache_stats == {"hits": 0, "misses": 1}
    hot_t0 = _time.monotonic()
    second = app.find_nodes("bg.*")
    hot = _time.monotonic() - hot_t0
    assert second == first
    assert app.find_cache_stats == {"hits": 1, "misses": 1}
    # a cache hit never touches Spark: orders of magnitude under the scan
    assert hot < cold / 10
    # expand caches under its own key, same pattern string notwithstanding
    app.expand("bg.*")
    assert app.find_cache_stats == {"hits": 1, "misses": 2}
    # catalog swap (syncdb/metadata write) invalidates by identity
    app.engine.catalog = app.engine.catalog.filter("name not like 'zz%'")
    third = app.find_nodes("bg.*")
    assert third == first
    assert app.find_cache_stats["misses"] == 3

    # ttl=0 disables: two identical calls, no cache traffic
    app2 = GraphiteWeb(build_engine(spark, SF), find_cache_ttl=0)
    app2.find_nodes("bg.*")
    app2.find_nodes("bg.*")
    assert app2.find_cache_stats == {"hits": 0, "misses": 0}


def test_find_cache_survives_read_on_touch(spark):
    """A sampled read_on touch swaps the catalog DataFrame but renames
    nothing, so cached find results stay valid: the next find is a hit."""
    from biggraphite_spark.cli import build_engine
    from biggraphite_spark.sources.events import NOW
    from biggraphite_spark.web import GraphiteWeb

    app = GraphiteWeb(build_engine(spark, SF))
    first = app.find_nodes("bg.*")
    before = app.engine.catalog
    app.engine.fetch("bg.click.u*", NOW - 86400, NOW)  # fetch 0 touches
    assert app.engine.catalog is not before
    assert app.find_nodes("bg.*") == first
    assert app.find_cache_stats == {"hits": 1, "misses": 1}
