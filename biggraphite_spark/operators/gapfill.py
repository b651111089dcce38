"""Dense time-grid materialization (gap filling).

The reference's Reader scatters fetched points into a dense array of size
``(end-start)/step`` with ``None`` holes (plugins/graphite.py:182-219) —
graphite render output requires every bucket to be present.

Three forms, one per read shape:

- :func:`fill_grid` — plain ``/render`` globs.  The sparse buckets (at most
  ``maxDataPoints`` per series after consolidation) are collected and the
  holes filled on the driver, in the resolved name order.  The Reader does
  exactly this, and it costs no Spark work at all.
- :func:`grid` — render-function leaves, which must see the holes as null
  rows.  The grid is generated from the resolved names (a ``range`` over
  the window exploded by a literal name array, no catalog scan) and unioned
  into the fetch below its one ``name`` exchange, so the regroup itself
  emits every bucket: no join.
- :func:`dense_series` — batch callers holding a matched-metric DataFrame
  (SURVEY §2.5 W5: ``sequence`` + ``explode`` + left join on (name, ts)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def grid(spark: SparkSession, names: list[str], start: int, end: int, step: int) -> DataFrame:
    """(name, ts) for every bucket of ``[start, end)`` of every name."""
    return spark.range(start, end, step).select(
        F.explode(F.array(*[F.lit(n) for n in names])).alias("name"),
        F.col("id").alias("ts"),
    )


def fill_grid(rows, names: list[str], start: int, step: int, n: int) -> dict[str, list]:
    """``{name: [[value|None, ts], ...]}``: ``n`` buckets from ``start`` per
    name, valued from the sparse ``(name, ts, value)`` rows."""
    out = {name: [[None, start + k * step] for k in range(n)] for name in names}
    for name, ts, value in rows:
        out[name][(int(ts) - start) // step][0] = value
    return out


def dense_series(
    fetched: DataFrame, metrics: DataFrame, start: int, end: int, step: int
) -> DataFrame:
    """Left-join fetched buckets onto the dense grid; holes stay null.

    Output: name, ts, value — exactly ``(end - start) / step`` rows per
    matched metric, sorted consumption left to the caller.
    """
    grid = (
        metrics.select("name")
        .withColumn("ts", F.explode(F.sequence(F.lit(start), F.lit(end - step), F.lit(step))))
    )
    return grid.join(fetched, ["name", "ts"], "left").select("name", "ts", "value")
