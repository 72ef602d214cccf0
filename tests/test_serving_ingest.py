"""Serving payloads and bronze ingestion utilities."""

from __future__ import annotations

import json

from velib_lakehouse_spark import registry
from velib_lakehouse_spark.serving import (
    critical_alerts_payload,
    pipeline_health_payload,
)
from velib_lakehouse_spark.sources.ingest import (
    STATUS_FIELDS,
    partition_for_key,
    select_fields,
    to_keyed_messages,
)
from tests.conftest import SF_DIR
from tests.oracle_harness import run_oracle


def test_critical_alerts_payload_shape(spark):
    p = critical_alerts_payload(spark, SF_DIR)
    # the severity bands partition a subset of all latest station states
    assert p["total_stations"] >= p["critical_count"] + p["warning_count"]
    assert all(len(s["sparkline"]) <= 5 for s in p["stations"])
    # sorted ascending by current bikes (reference api.py:64)
    bikes = [s["current_bikes"] for s in p["stations"]]
    assert bikes == sorted(bikes)
    json.dumps(p)  # JSON-serializable end to end


def test_critical_alerts_payload_matches_oracles(spark):
    """The one-row payload equals the ``velib_sparkline`` and
    ``velib_alert_bands`` DuckDB oracles, stations in
    ``(current_bikes, station_code)`` order."""
    p = critical_alerts_payload(spark, SF_DIR)
    _, spark_rows = run_oracle(registry.ORACLE["velib_sparkline"], SF_DIR)
    _, bands = run_oracle(registry.ORACLE["velib_alert_bands"], SF_DIR)
    want = sorted((current, code, csv) for code, csv, current in spark_rows)
    assert want, "the sparkline oracle is empty: the comparison proves nothing"
    got = [
        (
            s["current_bikes"],
            s["station_code"],
            ",".join(str(round(x * 100)) for x in s["sparkline"]),
        )
        for s in p["stations"]
    ]
    assert got == want
    assert (p["critical_count"], p["warning_count"], p["total_stations"]) == bands[0]


def test_critical_alerts_payload_on_empty_events(spark, tmp_path):
    from velib_lakehouse_spark.catalog import load_table

    empty = str(tmp_path)
    load_table(spark, SF_DIR, "events").limit(0).write.parquet(
        f"{empty}/events.parquet"
    )
    assert critical_alerts_payload(spark, empty) == {
        "stations": [],
        "critical_count": 0,
        "warning_count": 0,
        "total_stations": 0,
    }


def test_critical_alerts_payload_job_budget(spark):
    """One ``/alerts/critical`` call is one window pass plus a global
    aggregate (4 Spark jobs, schema read included); the budget of 5
    fails if a second events pass or a separate bands scan comes back."""
    sc = spark.sparkContext
    group = "critical-alerts-job-budget"
    sc.setJobGroup(group, "one /alerts/critical call")
    try:
        critical_alerts_payload(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, f"{len(jobs)} Spark jobs for one call"


def test_pipeline_health_payload(spark):
    p = pipeline_health_payload(spark, SF_DIR)
    assert p["active_stations"] <= p["total_expected"]
    assert p["zombie_stations"] == p["total_expected"] - p["active_stations"]
    assert p["status"] in ("healthy", "degraded")
    json.dumps(p)


def test_ingest_field_selection_and_keyed_messages():
    raw = [
        {
            "stationcode": "101",
            "name": "Gare",
            "numdocksavailable": 5,
            "numbikesavailable": 3,
            "mechanical": 2,
            "ebike": 1,
            "duedate": "2024-01-01T12:00:00+00:00",
            "extra_field": "dropped",
        },
        {"stationcode": "102", "name": "Mairie"},
    ]
    sel = select_fields(raw)
    assert list(sel[0].keys()) == STATUS_FIELDS
    assert "extra_field" not in sel[0]
    assert sel[1]["numbikesavailable"] is None  # missing -> explicit null

    msgs = to_keyed_messages(sel)
    assert msgs[0][0] == b"101"
    decoded = json.loads(msgs[0][1])
    assert decoded["name"] == "Gare"

    # partition affinity: same key always lands in the same partition
    p1 = partition_for_key(b"101", 8)
    assert all(partition_for_key(b"101", 8) == p1 for _ in range(5))
    assert 0 <= p1 < 8


def test_http_facade_serves_reference_routes(spark):
    """The stdlib HTTP façade must emit byte-identical JSON to the
    payload functions on both reference routes, and 404 elsewhere."""
    import json
    import urllib.error
    import urllib.request

    from velib_lakehouse_spark.serving import serve

    server = serve(spark, SF_DIR)
    try:
        port = server.server_address[1]
        for route, fn in (
            ("/alerts/critical", critical_alerts_payload),
            ("/health/pipeline", pipeline_health_payload),
        ):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{port}{route}", timeout=60
            ) as resp:
                assert resp.status == 200
                assert resp.headers["Content-Type"] == "application/json"
                got = json.load(resp)
            assert got == json.loads(json.dumps(fn(spark, SF_DIR)))
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope", timeout=60)
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()
