import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "4")
    from biggraphite_spark.session import get_spark

    return get_spark("biggraphite-spark-tests")


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


#: the render-leaf fixture: a day at 60 s and 2 h of raw points at 10 s
RENDER_NOW = 1_700_006_400
RENDER_RETENTION = "720*10s:1440*60s"
#: glob component -> aggregator; ``fx.avg.idle`` is catalogued but has no
#: points at all
RENDER_AGGS = {"avg": "average", "sum": "total", "min": "minimum",
               "max": "maximum", "last": "last"}


@pytest.fixture(scope="session")
def render_engine(spark, tmp_path_factory):
    """A store-backed engine over ``fx.<agg>.{a,b}`` (one pair per
    aggregator) and ``fx.avg.idle``: irregular raw points, several per 10 s
    slot in places, a hole every few minutes and a few null values, written
    by PointStore (so the stages carry ``pday``) and rolled up by the
    package's downsampler."""
    from pyspark.sql import functions as F

    from biggraphite_spark.catalog import create_metrics
    from biggraphite_spark.engine import Engine
    from biggraphite_spark.functions.names import with_name_structure
    from biggraphite_spark.model import Aggregator, MetricMetadata, Retention
    from biggraphite_spark.operators.downsample import downsample_all
    from biggraphite_spark.storage import PointStore

    retention = Retention.from_string(RENDER_RETENTION)
    stage0, stage1 = retention.stages
    catalog = with_name_structure(spark.createDataFrame([], "name string"), "name", 4)
    for key, agg in RENDER_AGGS.items():
        names = [f"fx.{key}.a", f"fx.{key}.b"] + (["fx.avg.idle"] if key == "avg" else [])
        catalog = create_metrics(
            catalog, spark.createDataFrame([(n,) for n in names], "name string"),
            MetricMetadata(Aggregator(agg)), RENDER_NOW)
    catalog = catalog.localCheckpoint()
    ids = spark.createDataFrame(
        [(i, f"fx.{k}.{s}") for i, (k, s) in enumerate(
            (k, s) for k in RENDER_AGGS for s in "ab")],
        "i long, name string")
    span = stage1.duration
    # one point every 7 s, jittered per metric; ~1 in 40 slots missing and
    # ~1 in 29 values null
    raw = (
        spark.range(span // 7)
        .crossJoin(F.broadcast(ids))
        .select(
            "name",
            (F.lit(RENDER_NOW - span) + F.col("id") * 7 + F.col("i") % 5).alias("ts"),
            F.when((F.col("id") + F.col("i")) % 29 == 0, F.lit(None))
            .otherwise(((F.col("id") * 13 + F.col("i") * 31) % 97).cast("double"))
            .alias("value"),
        )
        .filter(((F.col("ts") / 60).cast("long") + F.col("i")) % 40 != 3)
    )
    store = PointStore(str(tmp_path_factory.mktemp("render-store")))
    store.write(raw.filter(F.col("ts") >= RENDER_NOW - stage0.duration), stage0)
    store.write(downsample_all(raw, catalog, [stage0, stage1])[stage1.as_string()], stage1)
    return Engine(catalog, store.read(spark, stage0), retention, RENDER_NOW,
                  {stage1.as_string(): store.read(spark, stage1)})
