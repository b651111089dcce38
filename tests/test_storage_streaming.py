"""Storage layout, streaming ingest, multimodal plumbing, carbon parsing."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from biggraphite_spark.model import Stage
from biggraphite_spark.storage import PointStore
from biggraphite_spark.sources.events import RETENTION


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="bgspark-test-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


STAGE1 = Stage.from_string("1000*3600s")


def test_pointstore_roundtrip_and_pruning(spark, tmpdir):
    rows = [("m1", day * 86400 + 30, float(day)) for day in range(10)]
    df = spark.createDataFrame(rows, "name string, ts long, value double")
    store = PointStore(tmpdir)
    store.write(df, STAGE1)

    # partition layout exists
    days = sorted(os.listdir(store.stage_path(STAGE1)))
    assert "pday=0" in days and "pday=9" in days

    # fetch prunes partitions: only 2 of 10 day-dirs are read
    fetched = store.fetch(spark, STAGE1, 3 * 86400, 5 * 86400)
    got = sorted((r["name"], r["ts"], r["value"]) for r in fetched.collect())
    assert [v for _, _, v in got] == [3.0, 4.0]
    files = fetched.select(F.input_file_name()).distinct().collect()
    touched = {f[0].split("pday=")[1].split("/")[0] for f in files}
    assert touched == {"3", "4"}


def test_pointstore_expiry(spark, tmpdir):
    rows = [("m1", day * 86400, 1.0) for day in range(10)]
    df = spark.createDataFrame(rows, "name string, ts long, value double")
    store = PointStore(tmpdir)
    st = Stage.from_string("3*86400s")  # keeps 3 days
    store.write(df, st)
    dropped = store.expire(st, now=10 * 86400, margin=0)
    assert sorted(dropped) == list(range(0, 7))  # days 7,8,9 retained
    remaining = {r["pday"] for r in store.read(spark, st).select("pday").distinct().collect()}
    assert remaining == {7, 8, 9}


def test_streaming_downsample_matches_batch(spark, tmpdir):
    """Drive the streaming rollup over the sf0.001 events with a file source
    and compare the generic partials against the batch downsampler."""
    from biggraphite_spark.sources.events import (
        event_ts_seconds,
        event_ts_timestamp,
        load_events,
        metric_name_col,
    )
    from biggraphite_spark.streaming.ingest import generic_partials

    sf_dir = "/root/testdata/sf0.001"
    ev = load_events(spark, sf_dir)
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    pts = stream.select(
        metric_name_col().alias("name"),
        event_ts_timestamp(stream).alias("ts"),
        "value",
    )
    partials = generic_partials(pts, STAGE1)
    q = (
        partials.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_partials")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["name"], r["ts"]): (r["sum"], r["count"], r["min"], r["max"], r["last"])
        for r in spark.sql("SELECT * FROM stream_partials").collect()
    }

    batch = (
        ev.select(
            metric_name_col().alias("name"),
            event_ts_seconds(ev).alias("ts"),
            "value",
        )
        .groupBy("name", ((F.col("ts") / 3600).cast("long") * 3600).alias("ts"))
        .agg(
            F.sum("value").alias("sum"),
            F.count("value").alias("count"),
            F.min("value").alias("min"),
            F.max("value").alias("max"),
            F.max_by("value", "ts").alias("last"),
        )
    )
    exp = {
        (r["name"], r["ts"]): (r["sum"], r["count"], r["min"], r["max"], r["last"])
        for r in batch.collect()
    }
    assert got.keys() == exp.keys()
    for k, (gs, gc, gmin, gmax, glast) in got.items():
        es, ec, emin, emax, elast = exp[k]
        assert gc == ec and gmin == emin and gmax == emax
        assert gs == pytest.approx(es)
        assert glast == pytest.approx(elast)


def test_compact_resolves_epoch_appends(spark, tmpdir):
    """T3 upsert finalization: compaction collapses the epoch-append history
    to one row per (name, ts) without changing what latest_partials reads,
    dedups crash-replay duplicates, and keeps the schema append-compatible
    for the streaming sink afterwards."""
    from biggraphite_spark.streaming.ingest import latest_partials

    store = PointStore(tmpdir)
    schema = "name string, ts long, value double, epoch long"
    # epoch 0: two days of buckets; epoch 1 re-emits one bucket per day
    # (late data) and is appended twice (a replayed batch after a crash)
    e0 = spark.createDataFrame(
        [("m1", 100, 1.0, 0), ("m1", 86500, 2.0, 0), ("m2", 100, 5.0, 0)], schema
    )
    e1 = spark.createDataFrame([("m1", 100, 9.0, 1), ("m1", 86500, 8.0, 1)], schema)
    store.write(e0, STAGE1, mode="append")
    store.write(e1, STAGE1, mode="append")
    store.write(e1, STAGE1, mode="append")  # replay

    before = {
        (r["name"], r["ts"]): r["value"]
        for r in latest_partials(store, spark, STAGE1).collect()
    }
    rewritten = store.compact(spark, STAGE1)
    assert rewritten == [0, 1]

    # physical layout collapsed: one row per key, epoch column retained
    raw = store.read(spark, STAGE1)
    assert raw.count() == 3
    assert "epoch" in raw.columns
    after = {
        (r["name"], r["ts"]): r["value"]
        for r in latest_partials(store, spark, STAGE1).collect()
    }
    assert after == before == {("m1", 100): 9.0, ("m1", 86500): 8.0, ("m2", 100): 5.0}

    # the streaming sink keeps appending after compaction; newer epochs win
    e2 = spark.createDataFrame([("m2", 100, 7.0, 2)], schema)
    store.write(e2, STAGE1, mode="append")
    final = {
        (r["name"], r["ts"]): r["value"]
        for r in latest_partials(store, spark, STAGE1).collect()
    }
    assert final[("m2", 100)] == 7.0 and final[("m1", 100)] == 9.0

    # selective compaction touches only the requested day
    assert store.compact(spark, STAGE1, days=[0]) == [0]
    # plain (non-epoch) stores are a no-op
    plain = PointStore(os.path.join(tmpdir, "plain"))
    plain.write(spark.createDataFrame([("m", 1, 1.0)], "name string, ts long, value double"), STAGE1)
    assert plain.compact(spark, STAGE1) == []


def test_fan_out_sink_writes_all_sinks(spark, tmpdir):
    from biggraphite_spark.streaming.ingest import fan_out_sink

    a = PointStore(os.path.join(tmpdir, "a"))
    b = PointStore(os.path.join(tmpdir, "b"))
    sink = fan_out_sink(
        lambda df, _e: a.write(df, STAGE1, mode="append"),
        lambda df, _e: b.write(df, STAGE1, mode="append"),
    )
    batch = spark.createDataFrame(
        [("m1", 100, 1.0), ("m2", 7200, 2.0)], "name string, ts long, value double"
    )
    sink(batch, 0)
    assert a.read(spark, STAGE1).count() == 2
    assert b.read(spark, STAGE1).count() == 2


def test_fan_out_sink_skips_empty_batches(spark, tmpdir):
    """An empty micro-batch reaches no writer; the no-data batch update
    mode runs after a watermark advance is skipped that way, and its state
    still commits, so the next data batch aggregates onto the first."""
    from biggraphite_spark.streaming.ingest import fan_out_sink, generic_partials

    seen = []
    sink = fan_out_sink(lambda df, e: seen.append(e), lambda df, e: seen.append(e))
    sink(spark.createDataFrame([], "name string, ts long, value double"), 0)
    assert seen == []

    src = os.path.join(tmpdir, "in")
    os.makedirs(src)
    rows = {}

    def collect(df, epoch):
        seen.append(epoch)
        rows.update({(r["name"], r["ts"]): (r["sum"], r["count"]) for r in df.collect()})

    def land(name, lines):
        # written beside the source and renamed in, so the stream never
        # lists a half-written file
        tmp = os.path.join(tmpdir, name)
        with open(tmp, "w") as fh:
            fh.write("".join(f"{ts},{v}\n" for ts, v in lines))
        os.rename(tmp, os.path.join(src, name))

    stream = spark.readStream.schema("ts long, value double").csv(src)
    points = stream.select(F.lit("m").alias("name"), F.col("ts").cast("timestamp").alias("ts"), "value")
    query = (
        generic_partials(points, STAGE1).writeStream.outputMode("update")
        .foreachBatch(fan_out_sink(collect))
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    try:
        land("a.csv", [(7200, 1.0), (7260, 2.0)])
        query.processAllAvailable()
        land("b.csv", [(7320, 3.0)])
        query.processAllAvailable()
        batches = {p.batchId for p in query.recentProgress}
    finally:
        query.stop()
    assert rows == {("m", 7200): (6.0, 3)}
    # the watermark advance after a.csv ran a no-data batch no writer saw
    assert len(seen) == 2 and len(batches) > len(seen)


def test_multimodal_feature_pipeline(spark):
    from biggraphite_spark.operators.multimodal import (
        decode_image,
        extract_features,
        synthesize_media,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = synthesize_media(docs)
    feats = extract_features(media)
    rows = feats.orderBy("media_id").limit(5).collect()
    assert len(rows) == 5
    first = rows[0]
    assert first["n_bytes"] > 0 and 0.0 < first["entropy_proxy"] < 1.0
    assert len(first["head_hash"]) == 32
    # determinism: same input -> same features
    again = extract_features(media).orderBy("media_id").limit(5).collect()
    assert [r["crc32"] for r in rows] == [r["crc32"] for r in again]
    # fake-jpeg payloads aren't decodable: decode yields error rows, not
    # failures (full decode coverage lives in test_multimodal_codecs.py)
    err = decode_image(media).limit(3).collect()
    assert all("unsupported format" in r["error"] for r in err)


def test_carbon_socket_stream_end_to_end(spark, tmpdir):
    """Live TCP ingest: a thread plays carbon clients writing plaintext
    lines to a socket; the socket-source stream parses and windows them
    into generic partials.  Malformed lines are dropped mid-stream, not
    fatal — the carbon contract."""
    import socket
    import threading

    from biggraphite_spark.sources.carbon import carbon_socket_stream
    from biggraphite_spark.streaming.ingest import generic_partials

    lines = [
        b"bg.sock.a 1.5 3600\n",
        b"garbage line\n",             # dropped, stream survives
        b"bg.sock.a 2.5 3700\n",
        b"bg..sock.b 4.0 3650\n",      # name sanitized to bg.sock.b
    ]
    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def feed():
        conn, _ = srv.accept()
        with conn:
            for ln in lines:
                conn.sendall(ln)

    t = threading.Thread(target=feed, daemon=True)
    t.start()

    pts = carbon_socket_stream(spark, "127.0.0.1", port)
    partials = generic_partials(pts, STAGE1)
    q = (
        partials.writeStream.outputMode("complete")
        .format("memory")
        .queryName("carbon_sock")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt-sock"))
        .start()
    )
    try:
        deadline = 30
        import time
        while deadline > 0:
            q.processAllAvailable()
            got = {
                (r["name"], r["ts"]): (r["sum"], r["count"])
                for r in spark.sql("SELECT * FROM carbon_sock").collect()
            }
            if len(got) == 2:
                break
            time.sleep(0.5)
            deadline -= 1
    finally:
        q.stop()
    srv.close()
    assert got[("bg.sock.a", 3600)] == (4.0, 2)
    assert got[("bg.sock.b", 3600)] == (4.0, 1)


def test_carbon_line_parsing(spark):
    from biggraphite_spark.sources.carbon import new_metrics, parse_lines

    lines = spark.createDataFrame(
        [
            ("a.b.c 42.5 1700000000",),
            ("  x..y   -1   1700000001  ",),  # sanitized name, negative value
            ("broken line",),
            ("n notanumber 1700000002",),
            ("noname",),
        ],
        "value string",
    )
    pts = parse_lines(lines).collect()
    got = {(r["name"], r["ts"], r["value"]) for r in pts}
    assert got == {("a.b.c", 1700000000, 42.5), ("x.y", 1700000001, -1.0)}

    catalog = spark.createDataFrame([("a.b.c",)], "name string")
    new = {r["name"] for r in new_metrics(parse_lines(lines), catalog).collect()}
    assert new == {"x.y"}


# -- incremental rollup refresh ---------------------------------------------

def test_refresh_rollup_matches_full_recompute(spark, tmp_path):
    """A late batch dirties 3 coarse days (one brand-new); refreshing ONLY
    those partitions must equal a from-scratch rollup of the whole fine
    stage — including a 2-day coarse precision whose buckets straddle day
    boundaries (the span-pruning path)."""
    from biggraphite_spark.model import Stage
    from biggraphite_spark.operators.downsample import rollup_partials
    from biggraphite_spark.storage import PointStore, dirty_rollup_days

    fine = Stage.from_string("1000*3600s")
    coarse = Stage.from_string("100*172800s")
    store = PointStore(str(tmp_path / "store"))

    def mk(rows):
        return spark.createDataFrame(
            rows, "name string, ts long, value double, count long, aggregator string"
        )

    initial = mk(
        [("m1", d * 86400 + h * 3600, float(d * 24 + h), 1, "total")
         for d in range(6) for h in range(24)]
        + [("m2", d * 86400 + h * 3600, 2.0, 1, "average")
           for d in range(6) for h in range(0, 24, 2)]
    )
    store.write(initial, fine)
    store.write(rollup_partials(store.read(spark, fine), coarse), coarse)

    # late arrivals: corrections inside days 2 and 5, plus a NEW day 7
    late = mk(
        [("m1", 2 * 86400 + 3 * 3600, 999.0, 1, "total"),
         ("m2", 5 * 86400 + 1 * 3600, 7.0, 1, "average"),
         ("m1", 7 * 86400 + 4 * 3600, 123.0, 1, "total")]
    )
    store.write(late, fine, mode="append")

    days = dirty_rollup_days(late, coarse)
    # 2-day buckets: ts day2 -> bucket day 2, day5 -> bucket day 4, day7 -> bucket day 6
    assert days == [2, 4, 6]
    refreshed = store.refresh_rollup(spark, fine, coarse, days)
    assert refreshed == [2, 4, 6]

    got = store.read(spark, coarse).drop("pday")
    want = rollup_partials(store.read(spark, fine), coarse)
    key = lambda r: (r["name"], r["ts"])  # noqa: E731
    got_rows = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[1]))
    want_rows = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[1]))
    assert got_rows == want_rows
    # untouched coarse days were NOT rewritten: only dirty days swapped
    assert len(got_rows) == len(want_rows) > 0


def test_refresh_rollup_empty_days_noop(spark, tmp_path):
    from biggraphite_spark.model import Stage
    from biggraphite_spark.storage import PointStore

    store = PointStore(str(tmp_path / "s2"))
    fine = Stage.from_string("1000*3600s")
    coarse = Stage.from_string("100*86400s")
    assert store.refresh_rollup(spark, fine, coarse, []) == []


def test_streaming_rollup_maintenance_keeps_coarse_fresh(spark, tmpdir):
    """Stream events through the stage0 epoch-append sink composed with the
    in-place coarse maintenance sink; the coarse store must equal a batch
    rollup of the LWW-resolved stage0 — with NO epoch column or read-time
    fold needed on the coarse side."""
    from biggraphite_spark.operators.downsample import rollup_generic_partials
    from biggraphite_spark.sources.events import (
        event_ts_timestamp,
        load_events,
        metric_name_col,
    )
    from biggraphite_spark.streaming.ingest import (
        fan_out_sink,
        generic_partials,
        latest_partials,
        rollup_maintenance_sink,
    )

    sf_dir = "/root/testdata/sf0.001"
    coarse = Stage.from_string("100*86400s")
    store = PointStore(os.path.join(tmpdir, "store"))

    ev = load_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    pts = stream.select(
        metric_name_col().alias("name"),
        event_ts_timestamp(stream).alias("ts"),
        "value",
    )
    partials = generic_partials(pts, STAGE1)

    def append0(batch_df, epoch_id):
        store.write(batch_df.withColumn("epoch", F.lit(epoch_id)), STAGE1, mode="append")

    q = (
        partials.writeStream.outputMode("update")
        .foreachBatch(
            fan_out_sink(append0, rollup_maintenance_sink(store, STAGE1, [coarse]))
        )
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = store.read(spark, coarse)
    assert "epoch" not in got.columns  # coarse side needs no LWW fold
    want = rollup_generic_partials(
        latest_partials(store, spark, STAGE1).drop("pday"), coarse
    )
    key = lambda t: (t[0], t[1])  # noqa: E731
    got_rows = sorted(map(tuple, got.drop("pday").collect()), key=key)
    want_rows = sorted(map(tuple, want.collect()), key=key)
    assert len(got_rows) == len(want_rows) > 0
    for g, w in zip(got_rows, want_rows):
        assert g[:2] == w[:2]            # (name, ts) align exactly
        for gv, wv in zip(g[2:], w[2:]): # partials: FP association differs
            assert gv == pytest.approx(wv, rel=1e-9, abs=1e-9), (g, w)
