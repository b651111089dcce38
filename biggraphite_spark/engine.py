"""Engine facade: the reference's Accessor/Reader surface, Spark-first.

Mirrors the read lifecycle of SURVEY §3.1/§3.3 (graphite render + ``bgutil
read``): glob -> catalog find -> align_time_window (plan-time stage
selection, the one genuine "optimizer rule" we own, SURVEY §4.1) -> stage
fetch + read-time regroup -> dense grid.  The glob is resolved once on the
driver to a capped, sorted ``(name, aggregator)`` list and every read is
keyed on that list (:func:`operators.fetch.fetch_named`).

The engine holds the catalog plus one DataFrame per retention stage.  Stage
DataFrames may come straight from the in-memory downsampler
(:func:`operators.downsample.downsample_all`) or from a partitioned points
store (:mod:`storage`).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .model import Retention, Stage
from .operators.downsample import downsample_all
from .operators.fetch import fetch_named
from .operators.find import find_metrics, glob_metric_names, glob_metrics


@dataclass
class ReadResult:
    """((start, end, step), dense series) — Reader.fetch shape
    (plugins/graphite.py:182-219)."""

    start: int
    end: int
    step: int
    series: DataFrame  # name, ts, value — dense grid unless read sparse


class Engine:
    def __init__(
        self,
        catalog: DataFrame,
        points0: DataFrame,
        retention: Retention,
        now: int,
        stage_tables: Optional[dict[str, DataFrame]] = None,
    ):
        #: moves on every outside catalog assignment (a metadata write, a
        #: syncdb swap) and keys every cached find result; the engine's own
        #: read_on touches change no name and leave it alone
        self.catalog_generation = 0
        self.catalog = catalog
        self.points0 = points0
        self.retention = retention
        self.now = now
        if stage_tables is None:
            stage_tables = downsample_all(points0, catalog, list(retention.stages))
        self.stage_tables = stage_tables
        #: read_on sampling (reference drivers/cassandra.py:303,1921-1935,
        #: DEFAULT_READ_ON_SAMPLING_RATE = 0.1): every int(1/rate)-th fetch
        #: refreshes read_on for the metrics it touched — the reference's
        #: deterministic modulo counter, vectorized per fetch CALL (the
        #: set-oriented equivalent of its per-metric loop).  0 disables.
        self.read_on_sampling_rate = 0.1
        self._read_on_counter = 0

    @property
    def catalog(self) -> DataFrame:
        return self._catalog

    @catalog.setter
    def catalog(self, catalog: DataFrame) -> None:
        self._catalog = catalog
        self.catalog_generation += 1

    # -- metadata path -----------------------------------------------------
    def find(self, pattern: str) -> DataFrame:
        return find_metrics(self.catalog, pattern)

    def glob_names(self, pattern: str) -> list[str]:
        return glob_metric_names(self.catalog, pattern)

    def resolve(self, pattern: str) -> list[tuple[str, str]]:
        """The glob resolved once on the driver: its matched metrics as a
        sorted ``(name, aggregator)`` list, capped at
        ``MAX_METRICS_PER_PATTERN`` (``TooManyMetrics`` past it)."""
        return glob_metrics(self.catalog, pattern)

    # -- data path ---------------------------------------------------------
    def stage_df(self, stage: Stage) -> DataFrame:
        if stage.stage0:
            return self.points0
        return self.stage_tables[stage.as_string()]

    def fetch(self, pattern: str, start: int, end: int, stage: Optional[Stage] = None,
              aggregated: bool = True) -> tuple[DataFrame, int, int, Stage]:
        """Aligned fetch for every metric matching ``pattern``.

        Returns (buckets DataFrame, aligned_start, aligned_end, stage); the
        DataFrame has one row per non-empty bucket (sparse — see
        :meth:`read` for the dense render shape).
        """
        return self._fetch(self.resolve(pattern), start, end, stage, aggregated)

    def _fetch(self, metrics: list[tuple[str, str]], start: int, end: int,
               stage: Optional[Stage] = None, aggregated: bool = True,
               dense: bool = False) -> tuple[DataFrame, int, int, Stage]:
        self._maybe_touch_read_on([n for n, _ in metrics])
        if stage is None:
            start, end, stage = self.retention.align_time_window(start, end, self.now)
        else:
            start, end = stage.round_down(start), stage.round_up(end)
        df = fetch_named(
            self.stage_df(stage),
            metrics,
            start,
            end,
            target=stage,
            aggregated=aggregated,
            source_is_raw=stage.stage0,
            dense=dense,
        )
        return df, start, end, stage

    def _maybe_touch_read_on(self, names: list[str]) -> None:
        """The reference's sampled read_on refresh (``skip = counter % rate
        > 0; counter += 1`` — drivers/cassandra.py:1921-1935), applied to
        the whole matched-metric set of one fetch.  The touched catalog is
        lazily checkpointed so a long-lived server's lineage stays flat
        across many touches.  No name changes, so the catalog generation
        (and every cached find result) stays."""
        if not self.read_on_sampling_rate:
            return
        rate = int(1 / self.read_on_sampling_rate)
        skip = self._read_on_counter % rate > 0
        self._read_on_counter += 1
        if skip:
            return
        from .catalog import touch_read_on

        self._catalog = touch_read_on(self._catalog, names, self.now).localCheckpoint(eager=False)

    def read(self, pattern: str, start: int, end: int) -> ReadResult:
        """Render-style read: aligned window, dense per-metric series."""
        return self.read_names(self.resolve(pattern), start, end)

    def read_names(self, names: list, start: int, end: int,
                   dense: bool = True) -> ReadResult:
        """Render-style read for an already-resolved name list: the
        ``(name, aggregator)`` pairs of :meth:`resolve`, or bare names (the
        ``seriesByTag`` leaf and the refetch verbs, whose exact
        carbon-encoded names a glob could not express), looked up in the
        catalog first.  One name-keyed fetch (:func:`fetch_named`): dense
        by default, every bucket of every resolved name; ``dense=False``
        keeps the sparse buckets for a caller that fills holes itself."""
        metrics = list(names)
        if metrics and isinstance(metrics[0], str):
            rows = self.catalog.filter(F.col("name").isin(metrics)).select("name", "aggregator").collect()
            metrics = sorted((r["name"], r["aggregator"]) for r in rows)
        series, start, end, stage = self._fetch(metrics, start, end, dense=dense)
        return ReadResult(start=start, end=end, step=stage.precision, series=series)
