"""Query-serving layer (SURVEY.md §3 EP2/EP3 — reference main.py):
real localhost HTTP against the report sink — list ranges, fetch one
summary (hit + miss), one sink read per committed version and none per
request, whole-version replies while MERGEs commit, and the plan
properties of the Spark-side forms (keyed point read pushes both
predicates to the scan)."""

from __future__ import annotations

import json
import sys
import threading
import urllib.error
import urllib.request

import pytest

from spendinganalysisetl_spark.serving import (
    _row_to_json,
    list_date_ranges,
    range_summary,
    serve_reports,
)
from spendinganalysisetl_spark.sources.upsert import (
    merge_reports,
    read_reports,
    write_reports,
)

SCHEMA = (
    "begin_date string, end_date string, total_transactions long, "
    "total_spent double, fi_summary string"
)


@pytest.fixture()
def sink(spark, tmp_path):
    path = str(tmp_path / "file_details")
    write_reports(
        spark.createDataFrame(
            [
                ("2024-01-01", "2024-01-31", 10, 100.0, "Jan summary"),
                ("2024-02-01", "2024-02-29", 20, 200.0, "Feb summary"),
            ],
            SCHEMA,
        ),
        path,
        mode="overwrite",
    )
    return path


def _get(url):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def _post(url, obj):
    req = urllib.request.Request(
        url,
        data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def _post_status(url, obj):
    try:
        return 200, _post(url, obj)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


JAN = {"begin_date": "2024-01-01", "end_date": "2024-01-31"}
MISS = {"msg": "No financial details found with these date range..."}


def _max_job_id(spark) -> int:
    # Job events reach the status tracker through the asynchronous
    # listener bus; drain it so every job that already ran is counted.
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(), default=-1)


def test_endpoints_over_real_http(spark, sink):
    srv = serve_reports(spark, sink)
    try:
        dates = _get(srv.base_url + "/dates")
        assert sorted(d["begin_date"] for d in dates["dates"]) == [
            "2024-01-01",
            "2024-02-01",
        ]

        hit = _post(
            srv.base_url + "/dates/summary",
            {"begin_date": "2024-01-01", "end_date": "2024-01-31"},
        )
        assert hit["begin_date"] == "2024-01-01"
        assert hit["fi_summary"] == "Jan summary"
        assert hit["details"]["total_transactions"] == 10
        assert hit["details"]["total_spent"] == 100.0

        miss = _post(
            srv.base_url + "/dates/summary",
            {"begin_date": "1999-01-01", "end_date": "1999-01-31"},
        )
        assert miss == MISS, "miss shape mirrors the reference (main.py:73-76)"

        # Keys that are not JSON strings never reach the lookup.
        for bad in (
            {"begin_date": 20240101, "end_date": "2024-01-31"},
            {"begin_date": "2024-01-01", "end_date": ["2024-01-31"]},
            {"begin_date": None, "end_date": None},
        ):
            assert _post_status(srv.base_url + "/dates/summary", bad) == (
                400,
                {"msg": "begin_date and end_date required"},
            ), bad
    finally:
        srv.stop()


def test_summary_predicates_push_to_scan(spark, sink):
    """The serving query must be a keyed point read: both equality
    predicates appear as PushedFilters on the parquet scan, so a
    partitioned sink prunes instead of scanning."""
    df = range_summary(spark, sink, "2024-01-01", "2024-01-31")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "begin_date" in pushed[0] and "end_date" in pushed[0]


def test_dates_projection_prunes_columns(spark, sink):
    df = list_date_ranges(spark, sink)
    plan = df._jdf.queryExecution().executedPlan().toString()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas
    assert "begin_date" in schemas[0] and "end_date" in schemas[0]
    assert "fi_summary" not in schemas[0], "projection must prune payload columns"


def test_plan_cache_compiles_once_per_version(spark, sink):
    """N requests at one sink version read the sink ONCE; a MERGE that
    moves the _CURRENT pointer triggers exactly one re-read, and the
    very next request serves the new version (pointer-fresh)."""
    srv = serve_reports(spark, sink)
    try:
        for _ in range(4):
            _get(srv.base_url + "/dates")
            _post(
                srv.base_url + "/dates/summary",
                {"begin_date": "2024-01-01", "end_date": "2024-01-31"},
            )
        assert srv.plan_cache.plan_count == 1, "one version → one read"

        merge_reports(
            spark,
            sink,
            spark.createDataFrame(
                [("2024-01-01", "2024-01-31", 25, 250.0, "Jan grew")], SCHEMA
            ),
        )
        hit = _post(
            srv.base_url + "/dates/summary",
            {"begin_date": "2024-01-01", "end_date": "2024-01-31"},
        )
        assert hit["details"]["total_transactions"] == 25, (
            "request after the MERGE serves the NEW version"
        )
        assert srv.plan_cache.plan_count == 2, "pointer moved → one re-read"
        _get(srv.base_url + "/dates")
        assert srv.plan_cache.plan_count == 2, "same version again → cached"
    finally:
        srv.stop()


def test_requests_at_one_version_fire_no_spark_job(spark, sink):
    """After the first request at a version, hits, misses and /dates
    are answered from memory: the status tracker sees no new job. A
    MERGE then costs exactly one sink read, and the next request sees
    the row it inserted."""
    srv = serve_reports(spark, sink)
    try:
        _get(srv.base_url + "/dates")
        before = _max_job_id(spark)
        for _ in range(5):
            assert len(_get(srv.base_url + "/dates")["dates"]) == 2
            assert _post(srv.base_url + "/dates/summary", JAN)["fi_summary"] == "Jan summary"
            miss = {"begin_date": "1999-01-01", "end_date": "1999-01-31"}
            assert _post(srv.base_url + "/dates/summary", miss) == MISS
        assert _max_job_id(spark) == before, "requests at one version ran a Spark job"
        assert srv.plan_cache.plan_count == 1

        merge_reports(
            spark,
            sink,
            spark.createDataFrame(
                [("2024-03-01", "2024-03-31", 30, 300.0, "Mar summary")], SCHEMA
            ),
        )
        merged = _max_job_id(spark)
        mar = _post(
            srv.base_url + "/dates/summary",
            {"begin_date": "2024-03-01", "end_date": "2024-03-31"},
        )
        assert mar["fi_summary"] == "Mar summary", "next request sees the new row"
        assert srv.plan_cache.plan_count == 2, "new version → exactly one read"
        assert _max_job_id(spark) > merged, "the tracker sees the server's sink read"
    finally:
        srv.stop()


def test_requests_during_commits_see_whole_versions(spark, sink):
    """Client threads hit both endpoints while MERGEs commit. Every reply
    is built from one complete committed version, never a mix, and the
    sink is read once per version served."""

    def as_json(obj):
        return json.loads(json.dumps(obj, default=str))

    def fingerprint(rows):
        keys = sorted([r["begin_date"], r["end_date"]] for r in rows)
        jan = next(r for r in rows if r["begin_date"] == JAN["begin_date"])
        return keys, as_json(_row_to_json(jan))

    versions = [fingerprint(read_reports(spark, sink).collect())]
    replies, errors = [], []
    stop = threading.Event()
    srv = serve_reports(spark, sink)

    def client():
        while not stop.is_set():
            try:
                dates = _get(srv.base_url + "/dates")["dates"]
                replies.append(("dates", sorted([d["begin_date"], d["end_date"]] for d in dates)))
                replies.append(("jan", _post(srv.base_url + "/dates/summary", JAN)))
            except Exception as e:  # surfaced by the assertion below
                errors.append(repr(e))

    # Several clients and frequent thread switches, so a request can
    # land between any two steps of a snapshot swap.
    threads = [threading.Thread(target=client) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for i in range(3):
            # Each version grows Jan's count and adds one new range, so
            # both endpoints tell every version apart.
            merge_reports(
                spark,
                sink,
                spark.createDataFrame(
                    [
                        ("2024-01-01", "2024-01-31", 30 + i, 300.0, f"Jan v{i + 1}"),
                        (f"2024-0{i + 3}-01", f"2024-0{i + 3}-28", 1, 1.0, "new"),
                    ],
                    SCHEMA,
                ),
            )
            versions.append(fingerprint(read_reports(spark, sink).collect()))
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
        srv.stop()

    assert not any(t.is_alive() for t in threads), "a client hung"
    assert not errors, errors[:3]
    served = set()
    for kind, got in replies:
        slot = 0 if kind == "dates" else 1
        match = [v for v, fp in enumerate(versions) if fp[slot] == got]
        assert match, f"{kind} reply matches no committed version: {got}"
        served.update(match)
    assert len(served) >= 2, "the clients never saw a commit"
    assert srv.plan_cache.plan_count == len(served), "one sink read per version served"
