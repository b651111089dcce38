"""Catalog mutation API (catalog.py): the Accessor metadata write surface."""

import pytest
from pyspark.sql import functions as F

from biggraphite_spark.catalog import (
    create_metrics,
    delete_metrics,
    has_metric,
    touch_metrics,
    update_metrics_metadata,
)
from biggraphite_spark.model import Aggregator, MetricMetadata, Retention


@pytest.fixture(scope="module")
def catalog(spark, sf_dir):
    from biggraphite_spark.sources.events import load_catalog

    return load_catalog(spark, sf_dir).cache()


META = MetricMetadata(Aggregator("total"), Retention.from_string("100*60s"), 0.1)


def test_create_on_miss_is_idempotent(spark, catalog):
    names = spark.createDataFrame(
        [("new.metric.one",), ("bg..padded..name",), ("",)], "name string"
    )
    before = catalog.count()
    created = create_metrics(catalog, names, META, now=1000)
    assert created.count() == before + 2  # empty name dropped, '..' sanitized
    row = created.filter(F.col("name") == "new.metric.one").first()
    assert row["aggregator"] == "total"
    assert row["retention"] == "100*60s"
    assert row["p0"] == "new" and row["p1"] == "metric" and row["p2"] == "one"
    assert row["depth"] == 2 and row["parent"] == "new.metric"
    assert row["created_on"] == 1000 and len(row["id"]) == 64
    # creating again adds nothing (anti-join), existing rows untouched
    again = create_metrics(created, names, META, now=2000)
    assert again.count() == before + 2
    assert again.filter(F.col("name") == "new.metric.one").first()["created_on"] == 1000


def test_existing_names_not_overwritten(spark, catalog):
    existing = catalog.select("name").limit(1)
    created = create_metrics(catalog, existing, META, now=1234)
    old = catalog.join(existing, "name").first()
    new = created.join(existing, "name").first()
    assert new["aggregator"] == old["aggregator"]
    assert created.count() == catalog.count()


def test_repeated_creates_keep_catalog_width(spark, catalog):
    # an ingest stream creates a few metrics per batch and checkpoints the
    # catalog: it must not gain a partition per create
    grown = catalog.localCheckpoint()
    width = grown.rdd.getNumPartitions()
    for i in range(5):
        names = spark.createDataFrame([(f"new.batch{i}.m{j}",) for j in range(3)], "name string")
        grown = create_metrics(grown, names, META, now=1000 + i).localCheckpoint()
        assert grown.rdd.getNumPartitions() == width
    assert grown.count() == catalog.count() + 15
    # creating over an uncheckpointed create (its plan still shuffles)
    # stays lazy: no job runs until the catalog is used
    sc = spark.sparkContext
    sc.setJobGroup("lazy-create", "lazy-create")
    try:
        chained = create_metrics(create_metrics(grown, names, META, now=1), names, META, now=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("lazy-create") == []
    assert chained.count() == grown.count()


def test_update_metadata_by_glob(catalog):
    updated = update_metrics_metadata(
        catalog, "bg.error.*", now=99999, aggregator="maximum", xfilesfactor=0.9
    )
    hit = updated.filter(F.col("name").startswith("bg.error.")).first()
    assert hit["aggregator"] == "maximum"
    assert hit["xfilesfactor"] == 0.9
    assert hit["updated_on"] == 99999
    miss = updated.filter(~F.col("name").startswith("bg.error.")).first()
    assert miss["aggregator"] != "maximum" or miss["updated_on"] != 99999


def test_touch_updates_only_named(spark, catalog):
    one = catalog.select("name").orderBy("name").limit(1)
    touched = touch_metrics(catalog, one, now=55555)
    name = one.first()["name"]
    assert touched.filter(F.col("name") == name).first()["updated_on"] == 55555
    others = touched.filter(F.col("name") != name).agg(F.max("updated_on")).first()[0]
    assert others != 55555


def test_delete_glob_and_recursive(spark):
    rows = [("a.b",), ("a.b.c",), ("a.b.c.d",), ("a.x",)]
    cat = spark.createDataFrame(rows, "name string")
    left = {r["name"] for r in delete_metrics(cat, "a.b").collect()}
    assert left == {"a.b.c", "a.b.c.d", "a.x"}
    left = {r["name"] for r in delete_metrics(cat, "a.b", recursive=True).collect()}
    assert left == {"a.x"}


def test_has_metric_parent_conjunction(spark, catalog):
    name = catalog.select("name").orderBy("name").first()["name"]
    assert has_metric(catalog, name)
    assert not has_metric(catalog, "no.such.metric")
