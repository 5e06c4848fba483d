"""Query-serving layer over the report sink (SURVEY.md §3 EP2/EP3).

The reference serves its warehouse with two FastAPI endpoints
(/root/reference/main.py:15-44 ``GET /dates`` and :46-84
``POST /dates/summary``): list the report key ranges, and fetch one
report row by (begin_date, end_date). This module is the engine-native
analog over the versioned parquet sink (sources/upsert.py), built on
the stdlib HTTP server so the serving path adds no dependency.

Query mapping:
- ``GET /dates``          → the key columns of every report row.
- ``POST /dates/summary`` → the one report row for a
  (begin_date, end_date) key.

Both endpoints are answered from an in-memory snapshot of the CURRENT
sink version (``VersionedPlanCache``). A committed version is an
immutable ``v_*`` directory, so it is read with one Spark job the first
time a request sees it; every later request at that version is a list
walk (``/dates``) or a dict lookup (summary) and fires no Spark job.
Every request still re-reads the ``_CURRENT`` pointer (one tiny file
read), so a MERGE committing between requests is visible to the very
next one, and a reply is always built from exactly one version.

``list_date_ranges`` and ``range_summary`` are the same two endpoints
as Spark plans — a column-pruned key projection, and a keyed point read
whose predicates reach the parquet scan as PushedFilters — for callers
that want a DataFrame rather than an HTTP reply.

Scale notes: the report sink holds one row per key range, so a
version's rows are small by construction, and ``/dates`` has to bring
every key to the driver on every request anyway. The snapshot holds
one version's rows on the driver — as many rows as a ``/dates`` reply
has entries — and drops them when the pointer moves. A sink too
large for the driver would be served by the Spark-side forms against a
partitioned table instead.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from spendinganalysisetl_spark.sources.upsert import (
    KEY,
    _resolve_data_dir,
    read_reports,
)


class VersionedPlanCache:
    """The rows of the live sink version, held in memory.

    ``snapshot()`` re-resolves the ``_CURRENT`` pointer on every call
    (so a MERGE committing between requests is visible immediately —
    the pointer-fresh contract) but reads the sink only when the
    pointer names a NEW version directory. ``plan_count`` counts those
    reads; tests pin "N requests at one version read it once"."""

    def __init__(self, spark: SparkSession, sink: str):
        self._spark = spark
        self._sink = sink
        self._lock = threading.Lock()
        self._live_dir: str | None = None
        self._rows: list[Row] = []
        self._by_key: dict[tuple, Row] = {}
        self.plan_count = 0

    def snapshot(self) -> tuple[list[Row], dict[tuple, Row]]:
        """``(rows, by_key)`` of the live version: every row in scan
        order, and the first row of each (begin_date, end_date) key."""
        # Resolve the pointer INSIDE the lock: two concurrent requests
        # straddling a MERGE commit could otherwise race — the thread
        # holding the older pointer enters the lock last and overwrites
        # the newer snapshot, serving the stale version (and inflating
        # plan_count) until a later request flips it back.
        with self._lock:
            live = _resolve_data_dir(self._sink)
            if live != self._live_dir:
                rows = self._spark.read.parquet(live).collect()
                by_key: dict[tuple, Row] = {}
                for r in rows:
                    by_key.setdefault((r["begin_date"], r["end_date"]), r)
                self._rows, self._by_key = rows, by_key
                self._live_dir = live
                self.plan_count += 1
            return self._rows, self._by_key


def list_date_ranges(spark: SparkSession, sink: str) -> DataFrame:
    """EP2 (``GET /dates``, reference main.py:15-44): every report key
    range in the sink — a key-columns-only projection (column pruning
    reaches the scan; see test_plan_audit for the projection family)."""
    return read_reports(spark, sink).select(*KEY)


def range_summary(
    spark: SparkSession, sink: str, begin_date: str, end_date: str
) -> DataFrame:
    """EP3 (``POST /dates/summary``, reference main.py:46-84): the one
    report row for a key range — both equality predicates push down to
    the parquet scan."""
    return read_reports(spark, sink).filter(
        (F.col("begin_date") == begin_date) & (F.col("end_date") == end_date)
    )


def _row_to_json(row) -> dict:
    d = row.asDict(recursive=True)
    begin, end = d.pop("begin_date"), d.pop("end_date")
    fi_summary = d.pop("fi_summary", None)
    # Mirror the reference's response shape (main.py:64-71): key fields
    # top-level, everything else under 'details'.
    out = {"begin_date": begin, "end_date": end, "details": d}
    if fi_summary is not None:
        out["fi_summary"] = fi_summary
    return out


class ReportServer:
    """Tiny threaded HTTP front-end for the two report endpoints.

    Start with ``serve_reports``; ``base_url`` gives the bound address
    (port 0 → ephemeral). Handlers answer from the snapshot of the live
    sink version (``VersionedPlanCache``); only the first request at a
    new version runs a Spark job."""

    def __init__(self, spark: SparkSession, sink: str, port: int = 0):
        self.plan_cache = VersionedPlanCache(spark, sink)
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence per-request stderr noise
                pass

            def _reply(self, code: int, obj) -> None:
                body = json.dumps(obj, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path.rstrip("/") != "/dates":
                    self._reply(404, {"msg": "unknown endpoint"})
                    return
                try:
                    rows, _ = outer.plan_cache.snapshot()
                    self._reply(
                        200, {"dates": [{k: r[k] for k in KEY} for r in rows]}
                    )
                except Exception:
                    # reference behavior: errors collapse to a message
                    # (main.py:38-41)
                    self._reply(200, {"msg": "Error with date ranges"})

            def do_POST(self):
                if self.path.rstrip("/") != "/dates/summary":
                    self._reply(404, {"msg": "unknown endpoint"})
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    req = json.loads(self.rfile.read(n) or b"{}")
                    # TypeError covers valid-JSON non-objects ('null',
                    # '[1]', '"x"') where subscripting isn't indexable,
                    # and non-string keys: a list would be unhashable in
                    # the lookup, a number or null could never match.
                    key = (req["begin_date"], req["end_date"])
                    if not all(isinstance(k, str) for k in key):
                        raise TypeError("date keys must be strings")
                except (ValueError, KeyError, TypeError):
                    self._reply(400, {"msg": "begin_date and end_date required"})
                    return
                try:
                    _, by_key = outer.plan_cache.snapshot()
                    row = by_key.get(key)
                    if row is not None:
                        self._reply(200, _row_to_json(row))
                    else:
                        # reference miss message (main.py:73-76)
                        self._reply(
                            200,
                            {"msg": "No financial details found with these date range..."},
                        )
                except Exception as e:
                    self._reply(200, {"err": str(e)})

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._httpd.server_port}"

    def start(self) -> "ReportServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def serve_reports(
    spark: SparkSession, sink: str, port: int = 0
) -> ReportServer:
    """Start the report-serving HTTP front-end; returns the running
    server (call ``.stop()`` when done)."""
    return ReportServer(spark, sink, port).start()
