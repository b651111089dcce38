"""Name-clustered stage files (storage.PointStore._write_days): every writer
leaves each day file sorted by (name, ts), so a name-keyed read skips the
other metrics' Parquet pages, and the rollup refresh shuffles once."""

import os
import random
import re

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from biggraphite_spark.model import Stage
from biggraphite_spark.storage import PointStore

STAGE = Stage.from_string("1000*3600s")
SCHEMA = "name string, ts long, value double"


def _day_files(path: str) -> list[str]:
    return sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _assert_clustered(path: str) -> None:
    files = _day_files(path)
    assert files
    for f in files:
        t = pq.read_table(f, columns=["name", "ts"])
        keys = list(zip(t.column("name").to_pylist(), t.column("ts").to_pylist()))
        assert keys == sorted(keys), f


def _shuffled(spark, rows, schema=SCHEMA, seed=0):
    rows = list(rows)
    random.Random(seed).shuffle(rows)
    return spark.createDataFrame(rows, schema).repartition(3)


def test_every_writer_leaves_day_files_sorted(spark, tmp_path):
    from biggraphite_spark.operators.downsample import rollup_partials
    from biggraphite_spark.storage import dirty_rollup_days

    store = PointStore(str(tmp_path / "plain"))
    rows = [(f"m{i}", d * 86400 + h * 3600, float(h)) for i in range(20)
            for d in range(3) for h in range(24)]
    store.write(_shuffled(spark, rows), STAGE)  # overwrite
    store.write(_shuffled(spark, [(f"m{i}", 86400 + 60, 1.0) for i in range(20)], seed=1),
                STAGE, mode="append")
    _assert_clustered(store.stage_path(STAGE))

    # compact over epoch-stamped appends
    epochs = PointStore(str(tmp_path / "epochs"))
    schema = SCHEMA + ", epoch long"
    for e in range(3):
        epochs.write(_shuffled(spark, [r + (e,) for r in rows], schema, seed=e), STAGE,
                     mode="append")
    assert epochs.compact(spark, STAGE) == [0, 1, 2]
    _assert_clustered(epochs.stage_path(STAGE))

    # refresh_rollup's day swap
    fine, coarse = STAGE, Stage.from_string("100*86400s")
    agg = PointStore(str(tmp_path / "agg"))
    typed = "name string, ts long, value double, count long, aggregator string"
    agg.write(_shuffled(spark, [r + (1, "total") for r in rows], typed), fine)
    agg.write(rollup_partials(agg.read(spark, fine), coarse), coarse)
    late = spark.createDataFrame([("m3", 2 * 86400 + 7, 5.0, 1, "total")], typed)
    agg.write(late, fine, mode="append")
    assert agg.refresh_rollup(spark, fine, coarse, dirty_rollup_days(late, coarse)) == [2]
    _assert_clustered(agg.stage_path(fine))
    _assert_clustered(agg.stage_path(coarse))


def test_name_read_skips_other_metrics_pages(spark, tmp_path):
    # one day file of 50 names x 1,440 points spans several Parquet pages;
    # one name's hour reads only the pages holding that name
    store = PointStore(str(tmp_path / "pages"))
    st = Stage.from_string("1440*60s")
    rows = [(f"m{i:02d}", t * 60, float(t)) for i in range(50) for t in range(1440)]
    store.write(_shuffled(spark, rows).coalesce(1), st)
    assert len(_day_files(store.stage_path(st))) == 1

    read = (
        store.read(spark, st)
        .filter(F.col("name") == "m07")
        .filter(PointStore.time_filter(3600, 7200))
    )
    assert sorted(r["ts"] for r in read.collect()) == list(range(3600, 7200, 60))
    scan = read._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    scanned = scan.metrics().apply("numOutputRows").value()
    assert 60 <= scanned < len(rows) // 2, scanned


def test_refresh_rollup_is_one_exchange(spark, tmp_path, monkeypatch):
    # the last-write-wins fold and the rollup both key on name: one
    # repartition serves both, so the refresh's write has one Exchange
    store = PointStore(str(tmp_path / "s"))
    coarse = Stage.from_string("100*86400s")
    schema = "name string, ts long, sum double, count long, min double, max double, last double, epoch long"
    store.write(spark.createDataFrame(
        [(f"m{i}", 3600 * h, 1.0, 1, 1.0, 1.0, 1.0, e)
         for i in range(5) for h in range(30) for e in range(2)], schema), STAGE, mode="append")

    plans = []
    write_days = PointStore._write_days

    def capture(df, path, mode):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        write_days(df, path, mode)

    monkeypatch.setattr(PointStore, "_write_days", staticmethod(capture))
    assert store.refresh_rollup(spark, STAGE, coarse, [0, 1]) == [0, 1]
    assert len(plans) == 1
    assert len(re.findall(r"\bExchange\b", plans[0])) == 1, plans[0]
    monkeypatch.undo()
    got = {(r["name"], r["ts"]): r["count"] for r in store.read(spark, coarse).collect()}
    assert got == {**{(f"m{i}", 0): 24 for i in range(5)},
                   **{(f"m{i}", 86400): 6 for i in range(5)}}
