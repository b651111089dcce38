"""Glob find over the metric catalog: the reference's metadata read path.

Two-phase plan, exactly like the reference (SURVEY §2.2 P2-P8):

1. *may-match prefilter*: per-component predicates on the catalog's
   ``p0..pN`` / ``depth`` columns (the Spark-native stand-in for
   SASI/Lucene/ES index queries, drivers/cassandra_sasi.py:67-272) — these
   are plain equality/isin/startswith Columns, so Catalyst pushes them into
   the Parquet scan;
2. *authoritative residual*: anchored-regex ``rlike`` on the full name
   (glob_utils.py:165-211,367-370 — always applied after server queries,
   drivers/cassandra.py:2076,2087).

The fully-defined shortcut (no wildcards -> point lookup,
drivers/cassandra.py:2100-2113) and the 5000-result cap
(max_metrics_per_pattern, drivers/cassandra.py:295,2149-2176) are preserved.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..globs import GlobPlan, compile_glob
from ..model import MAX_METRICS_PER_PATTERN, TooManyMetrics


def _available_p_cols(catalog: DataFrame) -> set[str]:
    return {c for c in catalog.columns if c.startswith("p") and c[1:].isdigit()}


def glob_predicate(plan: GlobPlan, catalog: DataFrame) -> Column:
    """Build the full (prefilter AND residual) predicate for a compiled glob."""
    cols = set(catalog.columns)
    pcols = _available_p_cols(catalog)
    pred = F.lit(True)

    if plan.fully_literal is not None:
        # point lookup; the regex residual below is then a no-op but harmless
        return F.col("name") == F.lit(plan.fully_literal)

    if "depth" in cols:
        if plan.depth_exact is not None:
            pred = pred & (F.col("depth") == plan.depth_exact)
        elif plan.depth_min is not None and plan.depth_min > 0:
            pred = pred & (F.col("depth") >= plan.depth_min)

    for cp in plan.components:
        pcol = f"p{cp.index}"
        if pcol not in pcols:
            continue
        if cp.kind == "literal":
            pred = pred & (F.col(pcol) == cp.values[0])
        elif cp.kind == "enum":
            pred = pred & F.col(pcol).isin(*cp.values)
        elif cp.kind == "prefix":
            pred = pred & F.col(pcol).startswith(cp.values[0])

    # authoritative residual (Java regex accepts the same dialect we emit)
    pred = pred & F.col("name").rlike("^(?:" + plan.regex + ")$")
    return pred


def find_metrics(catalog: DataFrame, pattern: str) -> DataFrame:
    """Sorted metric rows matching a glob (accessor contract: sorted list,
    accessor.py:249-261).  Empty pattern matches nothing."""
    if pattern == "":
        return catalog.limit(0)
    plan = compile_glob(pattern)
    return catalog.filter(glob_predicate(plan, catalog)).orderBy("name")


def glob_metrics(
    catalog: DataFrame, pattern: str, max_metrics: int = MAX_METRICS_PER_PATTERN
) -> list[tuple[str, str]]:
    """Driver-side sorted ``(name, aggregator)`` list — the resolved glob
    every serving read is keyed on — with the reference's N+1 cap check
    (drivers/cassandra.py:2149-2176)."""
    rows = find_metrics(catalog, pattern).select("name", "aggregator").limit(max_metrics + 1).collect()
    if len(rows) > max_metrics:
        raise TooManyMetrics(f"glob {pattern!r} matched more than {max_metrics} metrics")
    return [(r["name"], r["aggregator"]) for r in rows]


def glob_metric_names(
    catalog: DataFrame, pattern: str, max_metrics: int = MAX_METRICS_PER_PATTERN
) -> list[str]:
    """The names of :func:`glob_metrics`."""
    return [n for n, _ in glob_metrics(catalog, pattern, max_metrics)]


def find_directories(catalog: DataFrame, pattern: str) -> DataFrame:
    """Sorted directory (branch-node) listing under a glob: the
    :func:`directory_candidates` relation ordered by ``directory``."""
    return directory_candidates(catalog, pattern).orderBy("directory")


def directory_candidates(catalog: DataFrame, pattern: str) -> DataFrame:
    """Directory (branch-node) listing under a glob, unordered.

    The reference materializes a directories table (CASSANDRA_DESIGN.md:
    108-112); ES derives them from name prefixes (elasticsearch.py:587-629),
    and ``glob_directory_names`` accepts any glob — including ``**`` —
    through the same machinery (glob_utils.py:297-335, exercised at
    tests/drivers/base_test_metadata.py:163-181).  We derive: each matched
    *proper prefix* of a metric name is a directory.

    Fixed-depth globs take one prefix per metric (the pattern's component
    count); globstar globs explode every proper-prefix length ≥ the
    pattern's fixed-component floor — a ≤max-depth blow-up (metric names
    are ≤ MAX_GLOB_COMPONENTS deep) followed by one distinct, so the
    candidate relation stays a small multiple of the catalog before the
    authoritative regex filter prunes it.

    Serving callers collect it and sort the few directories on the driver,
    which spares the range sort's sampling job.
    """
    if pattern == "":
        return catalog.limit(0).select(F.col("name").alias("directory"))
    plan = compile_glob(pattern)
    parts = F.split(F.col("name"), r"\.")
    rx = "^(?:" + plan.regex + ")$"
    if plan.depth_exact is not None:
        n = plan.depth_exact + 1
        # prefix of the first n components, only for metrics deeper than n-1
        prefix = F.array_join(F.slice(parts, 1, n), ".")
        cand = (
            catalog.filter(F.col("depth") >= n)  # strictly deeper than the prefix
            .select(prefix.alias("directory"))
            .distinct()
        )
        return cand.filter(F.col("directory").rlike(rx))
    # globstar: a matching directory has at least depth_min+1 components
    # (the fixed components must all be present); depth >= n_min also keeps
    # the sequence() ascending — proper prefixes only
    n_min = max(1, (plan.depth_min or 0) + 1)
    lens = F.sequence(F.lit(n_min), F.size(parts) - 1)
    prefixes = F.transform(lens, lambda n: F.array_join(F.slice(parts, F.lit(1), n), "."))
    cand = (
        catalog.filter(F.col("depth") >= n_min)
        .select(F.explode(prefixes).alias("directory"))
        .distinct()
    )
    return cand.filter(F.col("directory").rlike(rx))
