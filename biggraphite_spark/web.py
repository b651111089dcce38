"""Minimal REST surface over the catalog: the reference's web API read path.

Mirrors ``cli/web/namespaces/biggraphite.py:57-85`` — GET one metric's
metadata, POST an update — plus a glob-list endpoint (the simplest read of
the bgutil-over-HTTP worker, ``cli/web/namespaces/bgutil.py:116-213``) and
the reference's route shapes:

    GET  /biggraphite/metric/<name>      -> 200 metric JSON | 404
    POST /biggraphite/metric/<name>      -> 204 | 404 unknown | 400 invalid
    GET  /biggraphite/glob?pattern=<g>   -> 200 {"metrics": [...]}

Stdlib ``http.server`` only — the container guarantees no web framework,
and a metadata read path needs none.  State is a single
:class:`CatalogWeb`: GETs run Spark lookups against the current catalog
DataFrame; POST swaps in the next catalog state (the batch-functional
mutation model of :mod:`biggraphite_spark.catalog`), so the server is the
one writer and Spark's thread-safe query path serves concurrent readers.
"""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .model import InvalidArgumentError, MetricMetadata, TooManyMetrics
from .operators.find import glob_metric_names


class CatalogWeb:
    """The app behind the handler: catalog lookups + functional updates."""

    def __init__(
        self, catalog: DataFrame, now: int, bgutil: "BgUtilHttp | None" = None
    ):
        self.catalog = catalog
        self.now = now
        self.bgutil = bgutil
        self._write_lock = threading.Lock()

    # -- reads -------------------------------------------------------------
    def get_metric(self, name: str) -> dict | None:
        row = self.catalog.filter(F.col("name") == name).first()
        if row is None:
            return None
        fields = set(row.asDict())
        return {
            "id": row["id"],
            "name": row["name"],
            "metadata": {
                "aggregator": row["aggregator"],
                "retention": row["retention"],
                "carbon_xfilesfactor": float(row["xfilesfactor"]),
            },
            "created_on": row["created_on"],
            "updated_on": row["updated_on"],
            "read_on": row["read_on"] if "read_on" in fields else None,
        }

    def glob(self, pattern: str) -> list[str]:
        return glob_metric_names(self.catalog, pattern)

    # -- writes ------------------------------------------------------------
    def update_metric(self, name: str, payload: dict) -> bool:
        """POST semantics: full-metadata update of one existing metric.

        Returns False for an unknown metric (the 404 path); raises
        InvalidArgumentError for a malformed payload (the 400 path).
        Validation goes through the typed MetricMetadata codec, exactly the
        values the reference would accept.
        """
        meta = MetricMetadata.from_string_dict(payload)
        with self._write_lock:
            if self.catalog.filter(F.col("name") == name).first() is None:
                return False
            hit = F.col("name") == name
            out = (
                self.catalog
                .withColumn("aggregator", F.when(hit, meta.aggregator.name)
                            .otherwise(F.col("aggregator")))
                .withColumn("retention", F.when(hit, meta.retention.as_string())
                            .otherwise(F.col("retention")))
                .withColumn("xfilesfactor",
                            F.when(hit, float(meta.carbon_xfilesfactor))
                            .otherwise(F.col("xfilesfactor")))
                .withColumn("updated_on", F.when(hit, F.lit(self.now))
                            .otherwise(F.col("updated_on")))
            )
            self.catalog = out
        return True


#: bgutil sub-commands servable over HTTP — the batch verbs only; the
#: interactive/server verbs (shell, web, graphite-web) cannot run inside a
#: request
BGUTIL_HTTP_COMMANDS = frozenset({
    "list", "read", "du", "stats", "clean", "repair", "write", "delete",
    "copy", "syncdb", "expire", "refresh", "info", "test",
})


class UnknownBgUtilCommand(Exception):
    pass


class BgUtilHttp:
    """bgutil-over-HTTP (``cli/web/namespaces/bgutil.py:116-213``): POST a
    sub-command with an argument list, run it against this server's data
    directory, return the captured output.  ``/bgutil/async/<cmd>`` submits
    a background thread instead; ``/bgutil/tasks`` lists every submitted
    task with lifecycle timestamps — the reference's task_runner surface
    with threads in place of its worker process."""

    #: ``run()`` captures output via ``contextlib.redirect_stdout``, which
    #: swaps the process-global ``sys.stdout``; concurrent executions (the
    #: server is threaded and async tasks run in daemon threads) would steal
    #: each other's output or restore the wrong stdout.  One process-wide
    #: lock serializes the swap–run–restore critical section — bgutil
    #: commands share a single SparkSession, so serializing them costs
    #: nothing real.
    _RUN_LOCK = threading.Lock()

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.tasks: list[dict] = []
        self._lock = threading.Lock()

    def run(self, command: str, arguments: list[str]) -> str:
        import contextlib
        import io

        from . import cli

        if command not in BGUTIL_HTTP_COMMANDS:
            raise UnknownBgUtilCommand(f"unknown command {command!r}")
        buf = io.StringIO()
        try:
            with self._RUN_LOCK, contextlib.redirect_stdout(buf):
                rc = cli.main(["--sf-dir", self.sf_dir, command, *arguments])
        except SystemExit as ex:  # argparse rejects the argument list
            raise InvalidArgumentError(f"bad arguments for {command}: {ex}")
        if rc != 0:
            raise InvalidArgumentError(
                f"{command} exited {rc}: {buf.getvalue()[:200]}"
            )
        return buf.getvalue()

    def submit(self, command: str, arguments: list[str]) -> dict:
        import datetime

        def now() -> str:
            return datetime.datetime.now(datetime.timezone.utc).isoformat()

        if command not in BGUTIL_HTTP_COMMANDS:
            raise UnknownBgUtilCommand(f"unknown command {command!r}")
        task = {
            "label": f"{command} {' '.join(arguments)}".strip(),
            "submitted_on": now(),
            "started_on": None,
            "completed_on": None,
            "status": "submitted",
            "result": None,
        }
        with self._lock:
            self.tasks.append(task)

        def work():
            task["started_on"], task["status"] = now(), "running"
            try:
                task["result"] = self.run(command, arguments)
                task["status"] = "done"
            except Exception as ex:  # noqa: BLE001 — recorded, not raised
                task["result"], task["status"] = str(ex), "failed"
            task["completed_on"] = now()

        threading.Thread(target=work, daemon=True).start()
        return task


class _Handler(BaseHTTPRequestHandler):
    app: CatalogWeb  # set by make_server

    # -- plumbing ----------------------------------------------------------
    def _send(self, code: int, payload=None) -> None:
        body = b"" if payload is None else json.dumps(payload).encode()
        self.send_response(code)
        for k, v in getattr(self, "_extra_headers", ()):
            self.send_header(k, v)
        if body:
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        if body:
            self.wfile.write(body)

    def log_message(self, fmt, *args):  # quiet by default; tests capture rc
        pass

    # -- routes ------------------------------------------------------------
    def do_GET(self):
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        try:
            if len(parts) == 3 and parts[0] == "biggraphite" and parts[1] == "metric":
                m = self.app.get_metric(unquote(parts[2]))
                if m is None:
                    return self._send(404, {"message": "metric not found"})
                return self._send(200, m)
            if len(parts) == 2 and parts[0] == "biggraphite" and parts[1] == "glob":
                q = parse_qs(url.query)
                pattern = q.get("pattern", [""])[0]
                return self._send(200, {"metrics": self.app.glob(pattern)})
            if parts[:2] == ["bgutil", "tasks"] and self.app.bgutil is not None:
                with self.app.bgutil._lock:
                    return self._send(200, list(self.app.bgutil.tasks))
        except (InvalidArgumentError, TooManyMetrics) as ex:
            return self._send(400, {"message": str(ex)})
        return self._send(404, {"message": "unknown route"})

    def do_POST(self):
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        if (
            len(parts) == 3
            and parts[0] == "bgutil"
            and parts[1] in ("run", "async")
            and self.app.bgutil is not None
        ):
            try:
                n = int(self.headers.get("Content-Length", "0"))
                payload = json.loads(self.rfile.read(n) or b"{}")
                arguments = [str(a) for a in payload.get("arguments", [])]
                if parts[1] == "run":
                    out = self.app.bgutil.run(unquote(parts[2]), arguments)
                    return self._send(200, {"result": out})
                task = self.app.bgutil.submit(unquote(parts[2]), arguments)
                return self._send(
                    201,
                    {"message": "Running in background.", "label": task["label"]},
                )
            except UnknownBgUtilCommand as ex:
                return self._send(404, {"message": str(ex)})
            except (InvalidArgumentError, ValueError) as ex:
                return self._send(400, {"message": str(ex)})
        if not (len(parts) == 3 and parts[0] == "biggraphite" and parts[1] == "metric"):
            return self._send(404, {"message": "unknown route"})
        try:
            n = int(self.headers.get("Content-Length", "0"))
            payload = json.loads(self.rfile.read(n) or b"{}")
            if self.app.update_metric(unquote(parts[2]), payload):
                return self._send(204)
            return self._send(404, {"message": "unknown metric"})
        except (InvalidArgumentError, KeyError, ValueError) as ex:
            return self._send(400, {"message": str(ex)})


def make_server(app: CatalogWeb, port: int = 0) -> ThreadingHTTPServer:
    """Bind a server (port 0 = ephemeral, for tests); caller runs
    serve_forever() — the CLI does so inline, tests in a daemon thread."""
    handler = type("BoundHandler", (_Handler,), {"app": app})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


# ---------------------------------------------------------------------------
# graphite-web read API
# ---------------------------------------------------------------------------

#: per-series bucket cap applied when the client sends no maxDataPoints:
#: bounds the render collect without visibly consolidating any drawable
#: window (10k points is past any screen/image width graphite renders at)
DEFAULT_RENDER_MAX_POINTS = 10000


class GraphiteWeb:
    """The graphite-web HTTP read surface served straight off the engine.

    The reference's ``bgutil graphite_web`` boots a full graphite-web (django)
    configured with the biggraphite storage plugin
    (``cli/command_graphite_web.py``); the Spark-first equivalent serves the
    two endpoints that plugin ultimately feeds — the metric tree browser and
    the renderer — directly from :class:`biggraphite_spark.engine.Engine`:

        GET /metrics/find?query=<glob>                      -> treejson nodes
        GET /render?target=<glob>&from=<t>&until=<t>        -> render json

    ``from``/``until`` accept unix epochs or the relative ``-NN[smhd]``
    graphite shorthand.  Multiple ``target`` params render in one response.

    The tag API (graphite-web's TagDB surface, stubbed in the reference —
    plugins/tags.py:33-148) is served off a tag-parsed catalog::

        GET /tags/findSeries?expr=tag=value&expr=...   -> matching series
        GET /tags?filter=<re>                          -> tag list
        GET /tags/<tag>?filter=<re>                    -> tag detail + values

    ``tagged`` (a DataFrame with one ``series`` string column in carbon
    ``path;k=v`` form) may be injected; by default the engine catalog's
    names are used, which — being untagged — still answer ``name=`` queries
    per the implicit-name-tag convention.
    """

    #: default TTL for the find-result cache — the reference caches find
    #: results in the Django cache keyed on a hashed query with a configured
    #: timeout (plugins/graphite.py:368-398, "cache_timeout"); 60s is its
    #: documented default neighborhood
    FIND_CACHE_TTL_S = 60.0

    def __init__(self, engine, tagged=None, tag_store=None,
                 events_store=None, find_cache_ttl: float = FIND_CACHE_TTL_S):
        self.engine = engine
        self._tagged_src = tagged
        self._tagged_df = None
        self._tagged_lock = threading.Lock()
        #: find-result cache: a dashboard fleet refreshing the same globs
        #: re-issues identical /metrics/find calls every few seconds; keyed
        #: on (endpoint, hashed query, catalog generation) so a catalog
        #: swap invalidates naturally (a read_on touch, which renames
        #: nothing, does not), TTL'd so long-lived servers converge on
        #: fresh metadata.  /render's resolved leaves share it.
        #: find_cache_ttl=0 disables.
        self.find_cache_ttl = find_cache_ttl
        self._find_cache: dict = {}
        self._find_cache_lock = threading.Lock()
        self.find_cache_stats = {"hits": 0, "misses": 0}
        #: optional writable TagDB (operators.tags.TagStore); enables the
        #: POST half of the tag API (/tags/tagSeries, /tags/delSeries)
        self.tag_store = tag_store
        #: optional annotation store (operators.annotations.EventsStore);
        #: enables the graphite /events API
        self.events_store = events_store

    # -- /metrics/find ------------------------------------------------------
    def _find_cached(self, kind: str, query: str, compute):
        """TTL'd find-result cache (reference: plugins/graphite.py:368-398
        caches FindQuery results under a hashed-pattern Django cache key).
        A racing cold pair may both compute — same as the reference's
        cache-aside semantics; last write wins, values are equal."""
        import hashlib

        if self.find_cache_ttl <= 0:
            return compute()
        key = (
            kind,
            hashlib.md5(query.encode("utf-8")).hexdigest(),
            self.engine.catalog_generation,
        )
        now = time.monotonic()
        with self._find_cache_lock:
            ent = self._find_cache.get(key)
            if ent is not None and ent[0] > now:
                self.find_cache_stats["hits"] += 1
                return ent[1]
        val = compute()
        with self._find_cache_lock:
            self.find_cache_stats["misses"] += 1
            if len(self._find_cache) > 1024:
                # opportunistic sweep: expired entries and entries keyed on
                # replaced catalog generations age out here
                self._find_cache = {
                    k: v for k, v in self._find_cache.items() if v[0] > now
                }
            self._find_cache[key] = (now + self.find_cache_ttl, val)
        return val

    def resolve(self, glob: str) -> list[tuple[str, str]]:
        """A render leaf's glob resolved to its capped, sorted
        ``(name, aggregator)`` list, memoized with the find results."""
        return self._find_cached("leaf", glob, lambda: self.engine.resolve(glob))

    def find_nodes(self, query: str) -> list[dict]:
        """treejson: branch nodes (directories) + leaf nodes (metrics),
        branches first, each side sorted — graphite's browser contract."""
        return self._find_cached("find", query, lambda: self._find_nodes(query))

    def _find_nodes(self, query: str) -> list[dict]:
        branches = self._directories(query)
        leaves = self.engine.glob_names(query)
        out = []
        for path in branches:
            out.append(self._node(path, leaf=False))
        for path in leaves:
            out.append(self._node(path, leaf=True))
        return out

    @staticmethod
    def _node(path: str, leaf: bool) -> dict:
        return {
            "text": path.rsplit(".", 1)[-1],
            "id": path,
            "leaf": int(leaf),
            "expandable": int(not leaf),
            "allowChildren": int(not leaf),
        }

    def expand(self, query: str) -> dict:
        """graphite-web ``/metrics/expand``: every path (branch or leaf)
        the glob matches, sorted — ``{"results": [...]}``."""
        return self._find_cached("expand", query, lambda: self._expand(query))

    def _expand(self, query: str) -> dict:
        branches = self._directories(query)
        return {"results": sorted(set(branches) | set(self.engine.glob_names(query)))}

    def _directories(self, query: str) -> list[str]:
        """The glob's directories, sorted on the driver: a find lists few,
        and a Spark range sort would cost a sampling job and a shuffle."""
        from .operators.find import directory_candidates

        return sorted(
            r["directory"]
            for r in directory_candidates(self.engine.catalog, query).collect()
        )

    # -- /tags write half (requires a TagStore) -----------------------------
    def _store(self):
        if self.tag_store is None:
            raise InvalidArgumentError("no writable TagDB configured")
        return self.tag_store

    def tag_series(self, path: str) -> str:
        out = self._store().tag_series(path)
        self._invalidate_tagged()
        return out

    def tag_multi_series(self, paths: list[str]) -> list[str]:
        out = self._store().tag_multi_series(paths)
        self._invalidate_tagged()
        return out

    def del_series(self, paths: list[str]) -> bool:
        out = self._store().del_series(paths)
        self._invalidate_tagged()
        return out

    # -- /tags ---------------------------------------------------------------
    def _tagged(self):
        from .operators.tags import with_tags

        # ThreadingHTTPServer: two concurrent first requests must not race
        # the lazy build (same care BgUtilHttp._RUN_LOCK takes)
        with self._tagged_lock:
            if self._tagged_df is None:
                src = self._tagged_src
                if src is None and self.tag_store is not None:
                    return_df = self.tag_store.series()
                    self._tagged_df = return_df
                    return return_df
                if src is None:
                    src = self.engine.catalog.select(
                        F.col("name").alias("series")
                    )
                self._tagged_df = with_tags(src)
            return self._tagged_df

    def _invalidate_tagged(self) -> None:
        with self._tagged_lock:
            self._tagged_df = None

    def find_series_by_tag(self, exprs: list[str]) -> list[str]:
        from .operators.tags import find_series

        return [r["series"] for r in find_series(self._tagged(), exprs).collect()]

    def list_tags(self, tag_filter: str | None = None,
                  limit: int | None = None) -> list[dict]:
        from .operators.tags import list_tags

        return [
            {"tag": r["tag"], "count": r["series_count"]}
            for r in list_tags(self._tagged(), tag_filter, limit=limit).collect()
        ]

    def get_tag(self, tag: str, value_filter: str | None = None,
                limit: int | None = None) -> dict | None:
        from .operators.tags import tag_values

        vals = tag_values(
            self._tagged(), tag=tag, value_filter=value_filter, limit=limit
        ).collect()
        if not vals:
            return None
        return {
            "tag": tag,
            "values": [
                {"value": r["value"], "count": r["series_count"]} for r in vals
            ],
        }

    def auto_complete_tags(self, exprs: list[str],
                           tag_prefix: str | None = None,
                           limit: int = 100) -> list[str]:
        from .operators.tags import auto_complete_tags

        return [
            r["tag"]
            for r in auto_complete_tags(
                self._tagged(), exprs or None, tag_prefix, limit
            ).collect()
        ]

    def auto_complete_values(self, tag: str, exprs: list[str],
                             value_prefix: str | None = None,
                             limit: int = 100) -> list[str]:
        from .operators.tags import auto_complete_values

        return [
            r["value"]
            for r in auto_complete_values(
                self._tagged(), tag, exprs or None, value_prefix, limit
            ).collect()
        ]

    def functions_index(self) -> dict:
        """graphite-web ``/functions``: the render-function index query
        builders introspect.  Entries carry the graphite response keys;
        param metadata is not modeled, so ``params`` is empty and the
        signature is the generic seriesList form."""
        from .functions.targets import supported_functions

        return {
            name: {
                "name": name,
                "function": f"{name}(seriesList)",
                "description": "",
                "module": "biggraphite_spark.functions.targets",
                "group": "Series",
                "params": [],
            }
            for name in supported_functions()
        }

    # -- /render ------------------------------------------------------------
    def parse_time(self, value: str, default: int) -> int:
        """graphite-web at-style time language (render/attime.py, the
        public grammar every graphite client speaks), UTC: ``now``,
        relative offsets (``-2d``, ``now-2d``), ``today``/``midnight``/
        ``yesterday``/``tomorrow``, absolute ``YYYYMMDD`` /
        ``HH:MM_YYYYMMDD`` / epoch seconds."""
        import datetime as _dt

        if not value:
            return default
        v = value.strip().lower().replace(" ", "")
        units = {"s": 1, "min": 60, "h": 3600, "d": 86400, "w": 604800,
                 "mon": 30 * 86400, "y": 365 * 86400}

        # <ref>([+-]offset)* — ref defaults to now.  graphite's attime
        # grammar chains signed offsets (now-7d+2h) and lets one sign cover
        # several <n><unit> pairs (-1d2h == -(1d+2h)); parse_timeOffset
        # loops, so we strip trailing signed groups right-to-left
        group_re = re.compile(r"([+-])((?:\d+(?:mon|min|s|h|d|w|y))+)$")
        pair_re = re.compile(r"(\d+)(mon|min|s|h|d|w|y)")

        def group_offset(sign: str, body: str) -> int:
            pairs = pair_re.findall(body)
            if "".join(n + u for n, u in pairs) != body:
                raise InvalidArgumentError(f"bad relative time {value!r}")
            mul = -1 if sign == "-" else 1
            return sum(mul * int(n) * units[u] for n, u in pairs)

        ref, delta = v, 0
        while True:
            m = group_re.search(ref)
            if not m or m.start() == 0 and ref[0] not in "+-":
                break
            ref, delta = ref[: m.start()], delta + group_offset(
                m.group(1), m.group(2))
            if not ref:  # pure relative form like "-1d2h": ref is now
                ref = "now"
                break
        if ref is v and v.startswith("-"):
            # "-5min" with no unit-parseable tail already handled above;
            # keep the legacy error for a bare dash form that didn't parse
            raise InvalidArgumentError(f"bad relative time {value!r}")
        now = self.engine.now
        midnight = now - (now % 86400)
        named = {
            "now": now,
            "today": midnight,
            "midnight": midnight,
            "yesterday": midnight - 86400,
            "tomorrow": midnight + 86400,
        }
        if ref in named:
            return named[ref] + delta
        # HH:MM_YYYYMMDD (graphite's absolute form) or bare YYYYMMDD
        m = re.match(r"^(\d{1,2}):(\d{2})_(\d{8})$", ref)
        if m:
            d = _dt.datetime.strptime(m.group(3), "%Y%m%d").replace(
                hour=int(m.group(1)), minute=int(m.group(2)),
                tzinfo=_dt.timezone.utc,
            )
            return int(d.timestamp()) + delta
        if re.match(r"^(19|20)\d{6}$", ref):
            d = _dt.datetime.strptime(ref, "%Y%m%d").replace(
                tzinfo=_dt.timezone.utc
            )
            return int(d.timestamp()) + delta
        try:
            return int(ref) + delta
        except ValueError:
            raise InvalidArgumentError(f"bad time {value!r}")

    def render(
        self,
        targets: list[str],
        start: int,
        end: int,
        max_points: int | None = None,
        info: dict | None = None,
    ) -> list[dict]:
        """graphite ``format=json``: one series object per matched metric,
        ``datapoints`` = [[value|null, ts], ...] over the dense aligned grid.

        ``max_points`` is graphite-web's ``maxDataPoints``: when the window
        holds more buckets than the renderer can draw, consecutive buckets
        are consolidated by groups of ``ceil(n / max_points)`` with
        null-skipping average (render/datalib consolidate semantics) — the
        consolidation is a Spark aggregation keyed by (name, widened
        bucket), which reuses the leaf read's ``name`` exchange; the
        collect only ever returns <= max_points rows per series.

        Each target glob is resolved once (memoized with the find results)
        to a sorted ``(name, aggregator)`` list capped at the 5000-metric
        glob limit — a glob past it answers 400 — and read by name
        (:meth:`Engine.read_names`).  A plain glob is read sparse and its
        holes are filled on the driver (:func:`..operators.gapfill.fill_grid`),
        so its plan is one scan, one exchange and no join.  A function
        target reads its leaves dense (graphite functions see the holes as
        nulls) and is evaluated as one Spark plan.  Rows are sorted on the
        driver, never by a Spark sort.
        """
        from .operators.gapfill import fill_grid

        out = []
        for target in targets:
            frame, fill = self.target_frame(target, start, end, max_points, info)
            rows = frame.collect()
            if fill is not None:
                series = fill_grid(rows, *fill)
            else:
                series: dict[str, list] = {}
                for name, ts, value in sorted(rows, key=lambda r: (r[0], r[1])):
                    series.setdefault(name, []).append([value, int(ts)])
            for name in sorted(series):
                out.append({"target": name, "datapoints": series[name]})
        return out

    def target_frame(
        self,
        target: str,
        start: int,
        end: int,
        max_points: int | None = None,
        info: dict | None = None,
    ) -> tuple[DataFrame, tuple | None]:
        """One render target's lazy plan, (name, ts, value) rows at most
        ``max_points`` per series, and, for a plain glob, the
        ``fill_grid(rows, names, start, step, n)`` arguments that complete
        its sparse rows (None for a function target, whose rows are
        dense)."""
        meta: dict = {}
        names = None
        if "(" in target:
            # function-expression target (graphite's render grammar):
            # parse, fetch each glob leaf through the aligned read path,
            # evaluate the function tree as ONE Spark plan
            from .functions import targets as T

            node = T.parse_target(target)
            # align_time_window also clamps (end <= now, start >= the
            # stage horizon) — read_names applies the same clamps to the
            # fetched leaves, so recomputing with bare round_down/round_up
            # here would overcount n_buckets and misalign the
            # maxDataPoints consolidation grid
            a_start, a_end, stage = self.engine.retention.align_time_window(
                start, end, self.engine.now
            )
            step = stage.precision
            series_df = T.evaluate_target(
                node,
                fetch=lambda g: self.engine.read_names(
                    self.resolve(g), start, end).series,
                step=step,
                start=a_start,
                end=a_end,
                spark=self.engine.catalog.sparkSession,
                tag_fetch=lambda specs: self.engine.read_names(
                    self.find_series_by_tag(specs), start, end
                ).series,
                fetch_names=lambda names: self.engine.read_names(
                    names, start, end
                ).series,
                meta=meta,
                events_fetch=(
                    None if self.events_store is None
                    else lambda tags: self.events_store.get_data(
                        a_start, a_end, tags or None
                    ).select("when")
                ),
            )
        else:
            metrics = self.resolve(target)
            names = [n for n, _ in metrics]
            rr = self.engine.read_names(metrics, start, end, dense=False)
            series_df, a_start, a_end, step = rr.series, rr.start, rr.end, rr.step
        n_buckets = max(1, (a_end - a_start) // step)
        mp = max_points
        if mp is None and n_buckets > DEFAULT_RENDER_MAX_POINTS:
            # no maxDataPoints from the client: still bound the driver
            # collect — a year-wide window over a 5000-series glob would
            # otherwise serialize n_series x n_buckets rows through the
            # driver.  graphite-web draws at image width anyway; 10k
            # buckets per series is beyond any drawable resolution.
            # graphite-web's format=json returns full resolution, so the
            # implicit consolidation is SURFACED to the caller via
            # ``info`` (the HTTP layer turns it into an
            # X-BG-Consolidated response header) — data-export clients
            # can detect that values were averaged.
            mp = DEFAULT_RENDER_MAX_POINTS
            if info is not None:
                info.setdefault("consolidations", []).append({
                    "target": target,
                    "buckets": n_buckets,
                    "max_points": mp,
                    "func": meta.get("consolidate", "average"),
                })
        n = (a_end - a_start) // step
        if mp and mp > 0 and n_buckets > mp:
            factor = -(-n_buckets // mp)  # ceil
            new_step = step * factor
            bucket = (
                F.lit(a_start)
                + F.floor((F.col("ts") - a_start) / new_step)
                * F.lit(new_step)
            )
            # consolidateBy/setXFilesFactor hints ride the meta channel
            # (graphite applies them at consolidation, not at fetch); they
            # only come from function targets, whose rows are dense, so
            # count(1) is the bucket's capacity
            from .functions.series import agg_expr

            agg = agg_expr(meta.get("consolidate", "average"), order="ts")
            xff = meta.get("xff")
            if xff:
                frac = F.count("value") / F.count(F.lit(1))
                agg = F.when(frac >= F.lit(float(xff)), agg)
            series_df = (
                series_df.groupBy("name", bucket.alias("ts"))
                .agg(agg.alias("value"))
            )
            step, n = new_step, -(-n_buckets // factor)
        fill = None if names is None else (names, a_start, step, n)
        return series_df.select("name", "ts", "value"), fill


def render_raw(series: list[dict]) -> str:
    """graphite-web ``format=raw``: ``name,start,end,step|v1,v2,...`` per
    series (the webapp's rawData renderer; null -> ``None``)."""
    lines = []
    for s in series:
        pts = s["datapoints"]
        if not pts:
            continue
        start = pts[0][1]
        step = (pts[1][1] - pts[0][1]) if len(pts) > 1 else 1
        end = pts[-1][1] + step
        vals = ",".join("None" if v is None else repr(v) for v, _ in pts)
        lines.append(f"{s['target']},{start},{end},{step}|{vals}")
    return "\n".join(lines) + ("\n" if lines else "")


def render_dygraph(series: list[dict]) -> dict:
    """graphite-web ``format=dygraph`` (render/views.py dygraph branch):
    ``{"labels": ["Time", name...], "data": [[ts_ms, v...], ...]}`` — one
    row per timestamp across all series, nulls preserved."""
    labels = ["Time"] + [s["target"] for s in series]
    by_ts: dict[int, list] = {}
    for i, s in enumerate(series):
        for v, t in s["datapoints"]:
            by_ts.setdefault(t, [None] * len(series))[i] = v
    data = [[t * 1000] + vals for t, vals in sorted(by_ts.items())]
    return {"labels": labels, "data": data}


def render_rickshaw(series: list[dict]) -> list[dict]:
    """graphite-web ``format=rickshaw``: datapoints as ``{x, y}`` objects
    instead of ``[value, ts]`` pairs."""
    return [
        {
            "target": s["target"],
            "datapoints": [{"x": t, "y": v} for v, t in s["datapoints"]],
        }
        for s in series
    ]


def render_pickle(series: list[dict]) -> bytes:
    """graphite-web ``format=pickle`` — the CLUSTER_SERVERS federation wire
    format: a pickled list of ``{name, start, end, step, values}`` dicts
    (render/views.py pickle branch), protocol 2 for cross-version readers.
    This is what lets a remote graphite-web treat this engine as a cluster
    backend."""
    import pickle

    out = []
    for s in series:
        pts = s["datapoints"]
        if not pts:
            continue
        start = pts[0][1]
        step = (pts[1][1] - pts[0][1]) if len(pts) > 1 else 1
        out.append(
            {
                "name": s["target"],
                "start": start,
                "end": pts[-1][1] + step,
                "step": step,
                "values": [v for v, _ in pts],
            }
        )
    return pickle.dumps(out, protocol=2)


def render_csv(series: list[dict]) -> str:
    """graphite-web ``format=csv``: one ``name,timestamp,value`` row per
    datapoint (UTC timestamps, empty value for null)."""
    import datetime as _dt

    lines = []
    for s in series:
        for v, ts in s["datapoints"]:
            stamp = _dt.datetime.fromtimestamp(
                ts, _dt.timezone.utc
            ).strftime("%Y-%m-%d %H:%M:%S")
            val = "" if v is None else repr(v)
            lines.append(f"{s['target']},{stamp},{val}")
    return "\n".join(lines) + ("\n" if lines else "")


class _GraphiteHandler(BaseHTTPRequestHandler):
    app: GraphiteWeb  # set by make_graphite_server

    _send = _Handler._send
    log_message = _Handler.log_message

    def _send_text(self, code: int, text: str, ctype: str) -> None:
        body = text.encode()
        self.send_response(code)
        for k, v in getattr(self, "_extra_headers", ()):
            self.send_header(k, v)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        url = urlparse(self.path)
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length).decode() if length else ""
        if url.path in ("/events", "/events/"):
            return self._post_event(body)
        form = parse_qs(body)
        try:
            if url.path == "/render":
                # graphite clients (incl. graphite-web's own composer) POST
                # render requests with a form body; same contract as GET
                return self._render(form)
            if url.path == "/tags/tagSeries":
                path = form.get("path", [""])[0]
                if not path:
                    return self._send(400, {"message": "path required"})
                return self._send(200, self.app.tag_series(path))
            if url.path == "/tags/tagMultiSeries":
                paths = form.get("path", []) + form.get("path[]", [])
                if not paths:
                    return self._send(400, {"message": "path required"})
                return self._send(200, self.app.tag_multi_series(paths))
            if url.path == "/tags/delSeries":
                paths = form.get("path", []) + form.get("path[]", [])
                if not paths:
                    return self._send(400, {"message": "path required"})
                return self._send(200, self.app.del_series(paths))
        except (InvalidArgumentError, TooManyMetrics, ValueError) as ex:
            return self._send(400, {"message": str(ex)})
        return self._send(404, {"message": "unknown route"})

    def _post_event(self, body: str) -> None:
        """graphite ``POST /events/``: a JSON annotation {what, tags,
        when?, data?} (events/views.py post_event)."""
        if self.app.events_store is None:
            return self._send(404, {"message": "no events store configured"})
        try:
            payload = json.loads(body or "{}")
        except ValueError:
            return self._send(400, {"message": "invalid JSON body"})
        what = payload.get("what")
        if not what:
            return self._send(400, {"message": "'what' is required"})
        tags = payload.get("tags") or []
        if isinstance(tags, str):
            # graphite accepts space-separated tag strings
            tags = tags.split()
        row = self.app.events_store.add(
            what=what,
            when=int(payload.get("when") or self.app.engine.now),
            tags=[str(t) for t in tags],
            data=str(payload.get("data") or ""),
        )
        return self._send(200, row)

    def do_GET(self):
        url = urlparse(self.path)
        q = parse_qs(url.query)
        try:
            if url.path == "/events/get_data":
                if self.app.events_store is None:
                    return self._send(
                        404, {"message": "no events store configured"})
                start = self.app.parse_time(q.get("from", [""])[0], None)
                end = self.app.parse_time(q.get("until", [""])[0], None)
                tags = q.get("tags", [""])[0].split()
                rows = self.app.events_store.get_data(
                    start, end, tags or None,
                    set_op=q.get("set", ["intersection"])[0],
                ).collect()
                return self._send(200, [
                    {"id": r["id"], "what": r["what"], "when": r["when"],
                     "tags": list(r["tags"]), "data": r["data"]}
                    for r in rows
                ])
            if url.path == "/metrics/find":
                query = q.get("query", [""])[0]
                nodes = self.app.find_nodes(query)
                if q.get("format", ["treejson"])[0] == "pickle":
                    # remote-finder federation format: pickled list of
                    # {metric_path, isLeaf} (graphite-web views.py find
                    # pickle branch), the companion of render's pickle
                    import pickle

                    body = pickle.dumps(
                        [
                            {"metric_path": n["id"], "isLeaf": bool(n["leaf"])}
                            for n in nodes
                        ],
                        protocol=2,
                    )
                    self.send_response(200)
                    self.send_header("Content-Type", "application/pickle")
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return None
                if q.get("format", ["treejson"])[0] == "completer":
                    # graphite-web's composer autocompleter format
                    return self._send(200, {"metrics": [
                        {
                            "path": n["id"] + ("" if n["leaf"] else "."),
                            "name": n["text"],
                            "is_leaf": str(n["leaf"]),
                        }
                        for n in nodes
                    ]})
                return self._send(200, nodes)
            if url.path == "/metrics/expand":
                query = q.get("query", [""])[0]
                return self._send(200, self.app.expand(query))
            if url.path == "/tags/findSeries":
                exprs = q.get("expr", []) + q.get("expr[]", [])
                return self._send(200, self.app.find_series_by_tag(exprs))
            if url.path == "/tags":
                lim_raw = q.get("limit", [""])[0]
                return self._send(
                    200,
                    self.app.list_tags(
                        q.get("filter", [None])[0],
                        limit=int(lim_raw) if lim_raw else None,
                    ),
                )
            if url.path == "/tags/autoComplete/tags":
                exprs = q.get("expr", []) + q.get("expr[]", [])
                lim_raw = q.get("limit", [""])[0]
                return self._send(200, self.app.auto_complete_tags(
                    exprs,
                    q.get("tagPrefix", [None])[0],
                    limit=int(lim_raw) if lim_raw else 100,
                ))
            if url.path == "/tags/autoComplete/values":
                tag = q.get("tag", [""])[0]
                if not tag:
                    return self._send(400, {"message": "tag required"})
                exprs = q.get("expr", []) + q.get("expr[]", [])
                lim_raw = q.get("limit", [""])[0]
                return self._send(200, self.app.auto_complete_values(
                    tag, exprs,
                    q.get("valuePrefix", [None])[0],
                    limit=int(lim_raw) if lim_raw else 100,
                ))
            if url.path == "/functions":
                return self._send(200, self.app.functions_index())
            if url.path == "/version":
                return self._send_text(200, "1.1.8", "text/plain")
            if url.path.startswith("/tags/"):
                tag = unquote(url.path[len("/tags/"):])
                lim_raw = q.get("limit", [""])[0]
                res = self.app.get_tag(
                    tag,
                    q.get("filter", [None])[0],
                    limit=int(lim_raw) if lim_raw else None,
                )
                if res is None:
                    return self._send(404, {"message": "tag not found"})
                return self._send(200, res)
            if url.path == "/metrics/index.json":
                return self._send(200, self.app.expand("**")["results"])
            if url.path == "/render":
                return self._render(q)
        except (InvalidArgumentError, TooManyMetrics, ValueError) as ex:
            return self._send(400, {"message": str(ex)})
        return self._send(404, {"message": "unknown route"})

    def _render(self, q: dict) -> None:
        """Shared /render handling for GET query strings and POST forms."""
        targets = q.get("target", [])
        if not targets:
            return self._send(400, {"message": "target required"})
        now = self.app.engine.now
        start = self.app.parse_time(q.get("from", [""])[0], now - 86400)
        end = self.app.parse_time(q.get("until", [""])[0], now)
        fmt = q.get("format", ["json"])[0]
        if fmt not in ("json", "raw", "csv", "pickle", "dygraph", "rickshaw"):
            return self._send(400, {"message": f"format {fmt!r} unsupported"})
        mdp_raw = q.get("maxDataPoints", [""])[0]
        mdp = int(mdp_raw) if mdp_raw else None
        info: dict = {}
        series = self.app.render(targets, start, end, max_points=mdp,
                                 info=info)
        if info.get("consolidations"):
            # surface the implicit (no-maxDataPoints) consolidation so data
            # consumers can tell the values were averaged (ADVICE r6)
            self._extra_headers = [(
                "X-BG-Consolidated",
                "; ".join(
                    f"{c['func']} {c['buckets']}->{c['max_points']}"
                    for c in info["consolidations"]
                ),
            )]
        if q.get("graphType", [""])[0] == "pie":
            # graphite pie mode: collapse each series to one value with
            # pieMode average|maximum|minimum (render/views.py renderView)
            mode = q.get("pieMode", ["average"])[0]
            fns = {
                "average": lambda vs: sum(vs) / len(vs),
                "maximum": max,
                "minimum": min,
            }
            if mode not in fns:
                return self._send(
                    400, {"message": f"unknown pieMode {mode!r}"})
            out = []
            for s in series:
                vals = [v for v, _ in s["datapoints"] if v is not None]
                if vals:
                    out.append({"target": s["target"],
                                "value": fns[mode](vals)})
            return self._send(200, out)
        if fmt == "raw":
            return self._send_text(200, render_raw(series), "text/plain")
        if fmt == "csv":
            return self._send_text(200, render_csv(series), "text/csv")
        if fmt == "dygraph":
            return self._send(200, render_dygraph(series))
        if fmt == "rickshaw":
            return self._send(200, render_rickshaw(series))
        if fmt == "pickle":
            body = render_pickle(series)
            self.send_response(200)
            self.send_header("Content-Type", "application/pickle")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return None
        if q.get("noNullPoints", [""])[0].lower() in ("true", "1"):
            # graphite json option: drop null datapoints per series
            series = [
                {
                    "target": s["target"],
                    "datapoints": [p for p in s["datapoints"]
                                   if p[0] is not None],
                }
                for s in series
            ]
        callback = q.get("jsonp", [""])[0]
        if callback:
            # graphite jsonp: callback(<json>) as text/javascript.  The
            # callback must be a plain JS identifier path — reflecting an
            # arbitrary string would let any caller echo script content
            # from this origin (JSONP injection)
            if not re.fullmatch(r"[A-Za-z0-9_$.]+", callback):
                return self._send(400, {"message": "invalid jsonp callback"})
            return self._send_text(
                200, f"{callback}({json.dumps(series)})", "text/javascript"
            )
        return self._send(200, series)


def make_graphite_server(app: GraphiteWeb, port: int = 0) -> ThreadingHTTPServer:
    handler = type("BoundGraphiteHandler", (_GraphiteHandler,), {"app": app})
    return ThreadingHTTPServer(("127.0.0.1", port), handler)
