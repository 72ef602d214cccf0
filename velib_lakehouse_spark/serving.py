"""Serving layer: the reference's API endpoints as Spark-backed functions.

The reference serves two analytical endpoints from a per-request DuckDB
over the lake (reference src/api.py:37-84 ``/alerts/critical``,
src/api.py:87-142 ``/health/pipeline``).  Here the same payloads are
produced by the Spark engine itself — each endpoint is a function
returning the JSON-able dict the FastAPI handler would emit, and
``build_app`` wires them onto FastAPI when it is installed (it is not in
this build, so the wiring is import-gated; the payload functions are
fully tested without it).

``/alerts/critical`` is one engine query returning one row
(``operators.velib.critical_alerts``): a single window over ``events``
builds the shared per-station frame (``station_recent`` — current value
and ordered 5-reading sparkline), and one global aggregate over it
yields the sorted target stations and the count-if severity bands the
reference computes in Python (src/api.py:73-74).  The registered
``velib_sparkline`` and ``velib_alert_bands`` queries filter and
aggregate that same frame.  The handlers only serialize.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from velib_lakehouse_spark.operators.velib import critical_alerts, health


def critical_alerts_payload(spark: SparkSession, sf_dir: str) -> dict:
    """``/alerts/critical``: per-station sparklines + severity bands, with
    stations ordered by ``(current_bikes, station_code)``."""
    row = critical_alerts(spark, sf_dir).collect()[0]
    return {
        "stations": [
            {
                "station_code": s.station_code,
                "current_bikes": s.current_bikes,
                "sparkline": list(s.sparkline_data),
            }
            for s in row.stations
        ],
        "critical_count": row.critical_count,
        "warning_count": row.warning_count,
        "total_stations": row.total_stations,
    }


def pipeline_health_payload(spark: SparkSession, sf_dir: str) -> dict:
    """``/health/pipeline``: expected-vs-observed reconciliation audit."""
    row = health(spark, sf_dir).collect()[0]
    return {
        "total_expected": row.total_expected,
        "active_stations": row.active_stations,
        "zombie_stations": row.zombie_stations,
        "latest_sync_ms": row.latest_sync_ms,
        "total_value": row.total_value,
        "status": "degraded" if row.zombie_stations > 0 else "healthy",
    }


ROUTES = {
    "/alerts/critical": critical_alerts_payload,
    "/health/pipeline": pipeline_health_payload,
}


def serve(spark: SparkSession, sf_dir: str, host: str = "127.0.0.1", port: int = 0):
    """Serve the two reference endpoints over HTTP with the stdlib only.

    FastAPI is not installable in this build (no network, no pip — see
    DELTA_ATTEMPT.md for the sandbox egress probes), so the drop-in
    proof uses ``http.server``: same paths as reference src/api.py,
    same JSON payloads the FastAPI wiring would emit.  Returns a
    started ``ThreadingHTTPServer`` (daemon thread); callers own
    ``shutdown()``.  ``port=0`` binds an ephemeral port, exposed as
    ``server.server_address[1]``.

    The Spark driver stays the single query engine — handlers run the
    same collect-at-the-edge payload functions the tests pin, which is
    also the reference's shape (a per-request engine query feeding a
    serializer, src/api.py:37-142).
    """
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - http.server contract
            fn = ROUTES.get(self.path)
            if fn is None:
                self.send_error(404, "unknown route")
                return
            try:
                body = json.dumps(fn(spark, sf_dir)).encode()
            except Exception as exc:  # pragma: no cover - engine failure
                self.send_error(500, str(exc)[:200])
                return
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):  # quiet test output
            pass

    server = ThreadingHTTPServer((host, port), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server


def build_app(spark: SparkSession, sf_dir: str):
    """Mount the endpoints on FastAPI when available (reference
    src/api.py routes, same paths)."""
    try:
        from fastapi import FastAPI
    except ImportError as exc:  # pragma: no cover - not in this build
        raise ImportError(
            "fastapi is not installed; use the *_payload functions directly"
        ) from exc

    app = FastAPI(title="velib-lakehouse-spark")

    @app.get("/alerts/critical")
    def alerts_route():  # pragma: no cover - needs fastapi
        return critical_alerts_payload(spark, sf_dir)

    @app.get("/health/pipeline")
    def health_route():  # pragma: no cover - needs fastapi
        return pipeline_health_payload(spark, sf_dir)

    return app
