"""Catalog mutations: the Accessor metadata write API as DataFrame ops.

The reference exposes create/update/delete/touch/has on metric metadata
(accessor.py:108-200 contract; Cassandra impl: create with parent-directory
derivation drivers/cassandra.py:1706-1806, touch 1921-1955, delete
2005-2055, has_metric 1957-1989).  Here the catalog is a DataFrame and each
mutation is a pure transformation returning the next catalog state — an
ACID table turns each into one MERGE/DELETE, and the batch-functional form
keeps the semantics testable without a lakehouse dependency.

Scale notes: every op joins or filters on ``name`` over the catalog only
(rows ~ metric count, never point count).  ``create_metrics`` is the
carbon create-on-miss shape (SURVEY §3.2): a left-anti join of candidate
names against the existing catalog — at ingest scale the candidate side is
the small one and broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.names import metric_id_col, sanitize_name_col, with_name_structure
from .globs import compile_glob
from .model import COMPONENTS_MAX_LEN, MetricMetadata
from .operators.maintenance import directories_from_names


def _n_components(catalog: DataFrame) -> int:
    return sum(1 for f in catalog.schema.fieldNames() if f.startswith("p") and f[1:].isdigit())


def create_metrics(
    catalog: DataFrame,
    names: DataFrame,
    metadata: MetricMetadata,
    now: int,
) -> DataFrame:
    """Create-on-miss: add every name in ``names`` (column ``name``) that the
    catalog lacks, with derived structure columns and the given metadata.

    Mirrors accessor.create_metric + the carbon creation queue semantics
    (plugins/carbon.py:321-369): already-present names are left untouched
    (anti-join), new ones get created_on = updated_on = now.  Parent
    directories need no separate writes — the directories view is derived
    from names (operators/maintenance.directories_from_names), so creating
    the metric implicitly creates its whole ancestry, which is what the
    reference's per-component directory inserts materialize by hand
    (drivers/cassandra.py:1763-1806).
    """
    n = _n_components(catalog)
    fresh = (
        names.select(sanitize_name_col(F.col("name")).alias("name"))
        .filter(F.col("name") != "")
        .distinct()
        .join(catalog.select("name"), "name", "left_anti")
    )
    fresh = with_name_structure(fresh, n_components=n)
    fresh = fresh.select(
        "name",
        metric_id_col(F.col("name")).alias("id"),
        F.lit(metadata.aggregator.name).alias("aggregator"),
        F.lit(metadata.retention.as_string()).alias("retention"),
        F.lit(float(metadata.carbon_xfilesfactor)).alias("xfilesfactor"),
        F.lit(now).alias("created_on"),
        F.lit(now).alias("updated_on"),
        *[F.col(f"p{i}") for i in range(n)],
        "depth",
        "parent",
    )
    out = catalog.unionByName(fresh, allowMissingColumns=True)
    # a union's partitions are the sum of its sides': coalesce back to the
    # catalog's own width, so a catalog grown by many small creates (each
    # checkpointed, as an ingest stream's is) keeps it.  Counting the
    # partitions of an adaptive plan (one that still shuffles, or reads an
    # unbuilt cache) would run it here, so such a catalog is left as it is.
    if catalog._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan":
        return out
    width = catalog.rdd.getNumPartitions()
    return out.coalesce(width) if width else out


def update_metrics_metadata(
    catalog: DataFrame,
    pattern: str,
    now: int,
    aggregator: str | None = None,
    retention: str | None = None,
    xfilesfactor: float | None = None,
) -> DataFrame:
    """update_metric for every name matching a glob (accessor.py:146-155;
    bgutil write's metadata override path): conditionally rewrite the
    metadata columns, bump updated_on."""
    hit = F.col("name").rlike("^(?:" + compile_glob(pattern).regex + ")$")
    out = catalog
    for col, val in (
        ("aggregator", aggregator),
        ("retention", retention),
        ("xfilesfactor", xfilesfactor),
    ):
        if val is not None:
            out = out.withColumn(col, F.when(hit, F.lit(val)).otherwise(F.col(col)))
    return out.withColumn(
        "updated_on", F.when(hit, F.lit(now)).otherwise(F.col("updated_on"))
    )


def touch_metrics(catalog: DataFrame, names: DataFrame, now: int) -> DataFrame:
    """touch_metric (drivers/cassandra.py:1937-1955): refresh updated_on for
    the given names so clean's expiry cutoff spares them."""
    return _touch_column(catalog, names, now, "updated_on")


def touch_read_on(catalog: DataFrame, names: list[str], now: int) -> DataFrame:
    """Refresh ``read_on`` for the given names — the fetch-path sibling of
    :func:`touch_metrics` (reference ``_update_metric_read_on``,
    drivers/cassandra.py:1921-1935: ``UPDATE metrics_metadata SET
    read_on=now()``).  ``read_on`` is observability metadata — surfaced by
    the metadata REST API and indexed for ops queries; the reference's
    clean-expired cutoff reads ``updated_on`` only
    (drivers/cassandra.py:3219-3224), and so does ours.  Catalogs built
    without the column gain it here (NULL for untouched rows, matching the
    reference's never-read metrics).  ``names`` is the fetch's resolved
    name list, applied as an IN-set projection: no join, so checkpointing
    the touched catalog starts no Spark job."""
    if "read_on" not in catalog.columns:
        catalog = catalog.withColumn("read_on", F.lit(None).cast("long"))
    return catalog.withColumn(
        "read_on", F.when(F.col("name").isin(names), F.lit(now)).otherwise(F.col("read_on"))
    )


def _touch_column(
    catalog: DataFrame, names: DataFrame, now: int, col: str
) -> DataFrame:
    hit = names.select(F.col("name"), F.lit(True).alias("_touched"))
    return (
        catalog.join(F.broadcast(hit), "name", "left")
        .withColumn(
            col,
            F.when(F.col("_touched"), F.lit(now)).otherwise(F.col(col)),
        )
        .drop("_touched")
    )


def delete_metrics(catalog: DataFrame, pattern: str, recursive: bool = False) -> DataFrame:
    """delete_metric / bgutil delete --recursive (cli/command_delete.py):
    drop matching names; with ``recursive``, also every metric under a
    matching subtree."""
    rx = "^(?:" + compile_glob(pattern).regex + ")$"
    hit = F.col("name").rlike(rx)
    if recursive:
        prefix_rx = "^(?:" + compile_glob(pattern).regex + ")\\..+$"
        hit = hit | F.col("name").rlike(prefix_rx)
    return catalog.filter(~hit)


def has_metric(catalog: DataFrame, name: str) -> bool:
    """Existence check with the reference's parent-directory conjunction
    (drivers/cassandra.py:1957-1989, SURVEY §2.4 J5): the metric row must
    exist AND its parent must be a live directory (trivially true here since
    directories are derived from names — kept as the two-sided check so a
    catalog with dangling rows still answers like the reference)."""
    clean = name and "." in name
    row = catalog.filter(F.col("name") == name).select("name", "parent").first()
    if row is None:
        return False
    if not clean:
        return True
    dirs = directories_from_names(catalog)
    return (
        dirs.filter(F.col("directory") == row["parent"]).limit(1).count() > 0
    )
