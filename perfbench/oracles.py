"""DuckDB reference results the benchmark checks the engine's outputs against.

Every check returns a list of problems (empty means the output matched) and
treats an empty result as a problem: an empty-versus-empty match proves
nothing.
"""

from __future__ import annotations

import os

import duckdb

from tests.oracle_harness import _norm, _sortable
from velib_lakehouse_spark.operators.velib import ALERT_MAX, CRITICAL_MAX


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``{name}.parquet`` file or directory."""
    con = duckdb.connect()
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, entry)
        pattern = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(
            f"CREATE VIEW {entry[:-8]} AS SELECT * FROM read_parquet('{pattern}')"
        )
    return con


def rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def compare_rows(
    got_cols: list[str], got: list[tuple], want_cols: list[str], want: list[tuple]
) -> list[str]:
    """The oracle harness's order-insensitive exact comparison, failing on an empty result."""
    if not got or not want:
        return [f"empty result: engine={len(got)} rows, reference={len(want)} rows"]
    if sorted(got_cols) != sorted(want_cols):
        return [f"columns: engine={sorted(got_cols)} reference={sorted(want_cols)}"]
    idx = [want_cols.index(c) for c in got_cols]
    a = sorted((tuple(_norm(v) for v in r) for r in got), key=_sortable)
    b = sorted((tuple(_norm(r[i]) for i in idx) for r in want), key=_sortable)
    if len(a) != len(b):
        return [f"row count: engine={len(a)} reference={len(b)}"]
    bad = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    return [f"{len(bad)} rows differ, first: engine={a[bad[0]]!r} reference={b[bad[0]]!r}"] if bad else []


# build_alerts (pipeline.py) over the retained silver partitions: history's
# lag and trailing-hour average, the 4-hour cutoff from the newest reading,
# the latest reading per station, then the alert rules.
GOLD_SQL = f"""
WITH silver AS (
  SELECT * FROM read_parquet('{{silver}}/date=*/*.parquet', hive_partitioning = true)
),
h AS (
  SELECT station_code, bikes_available,
         bikes_available - lag(bikes_available) OVER (
           PARTITION BY station_code ORDER BY last_reported, event_id) AS net_flow,
         ROUND(CAST(SUM(CAST(bikes_available AS DECIMAL(18,4))) OVER wr AS DOUBLE)
               / COUNT(bikes_available) OVER wr, 6) AS moving_avg_1h,
         last_reported
  FROM silver
  WINDOW wr AS (PARTITION BY station_code
                ORDER BY CAST(floor(epoch(last_reported)) AS BIGINT)
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
),
recent AS (
  SELECT * FROM h
  WHERE last_reported >= (SELECT max(last_reported) FROM h) - INTERVAL 4 HOUR
),
latest AS (
  SELECT * FROM recent
  QUALIFY row_number() OVER (
    PARTITION BY station_code ORDER BY last_reported DESC, bikes_available DESC) = 1
)
SELECT station_code, bikes_available, net_flow, moving_avg_1h, last_reported,
       CASE WHEN bikes_available < {CRITICAL_MAX} THEN 'CRITICAL_EMPTY'
            ELSE 'WARNING_LOW' END AS alert_level
FROM latest
WHERE bikes_available < {ALERT_MAX} AND net_flow <= 0
"""


def check_gold(gold_df, silver_dir: str) -> list[str]:
    got = [tuple(r) for r in gold_df.collect()]
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        want_cols, want = rows(con, GOLD_SQL.format(silver=silver_dir))
    finally:
        con.close()
    return compare_rows(gold_df.columns, got, want_cols, want)


def normalize_critical(payload: dict) -> dict:
    """``/alerts/critical`` with stations in a total order (ties on current_bikes may come in any order)."""
    out = dict(payload)
    out["stations"] = sorted(
        payload["stations"], key=lambda s: (s["current_bikes"], s["station_code"])
    )
    return out


def reference_payloads(data_dir: str) -> dict[str, dict]:
    """The two API payloads computed from the registry's DuckDB oracles.

    ``/alerts/critical`` comes from ``velib_sparkline`` and
    ``velib_alert_bands``; ``/health/pipeline`` from ``velib_health``.
    """
    from velib_lakehouse_spark import registry

    con = connect(data_dir)
    try:
        _, spark_rows = rows(con, registry.ORACLE["velib_sparkline"])
        _, bands = rows(con, registry.ORACLE["velib_alert_bands"])
        hcols, health = rows(con, registry.ORACLE["velib_health"])
    finally:
        con.close()
    stations = [
        {
            "station_code": code,
            "current_bikes": current,
            "sparkline": [int(x) / 100 for x in csv.split(",")],
        }
        for code, csv, current in spark_rows
    ]
    critical = normalize_critical(
        {
            "stations": stations,
            "critical_count": bands[0][0],
            "warning_count": bands[0][1],
            "total_stations": bands[0][2],
        }
    )
    h = dict(zip(hcols, health[0]))
    return {
        "/alerts/critical": critical,
        "/health/pipeline": {
            "total_expected": h["total_expected"],
            "active_stations": h["active_stations"],
            "zombie_stations": h["zombie_stations"],
            "latest_sync_ms": h["latest_sync_ms"],
            "total_value": h["total_value"],
            "status": "degraded" if h["zombie_stations"] > 0 else "healthy",
        },
    }


def check_payload(route: str, got: dict, reference: dict[str, dict]) -> list[str]:
    want = reference[route]
    if route == "/alerts/critical":
        if not want["stations"]:
            return ["reference /alerts/critical has no stations"]
        got = normalize_critical(got)
    if got != want:
        keys = sorted(k for k in want if got.get(k) != want[k])
        return [f"{route} differs from the reference in {keys or 'keys'}"]
    return []
