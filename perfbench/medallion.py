"""``medallion_cycles``: the reference's own dataflow, one closed-loop client.

Each cycle lands one event-time day of the sf0.1 station feed as a new part
file under the bronze ``events.parquet/`` directory, then runs
``pipeline.run_medallion`` (streaming silver, history, gold snapshot,
retention) and computes both API payloads on the bronze directory, the way
the reference's scheduler chains its assets.  The loop is closed because
that scheduler never overlaps two runs.

Two untimed set-up cycles fill the retention window (the first lands all
but the last of its RETAIN_DAYS days, the second that day); the second also
takes most of the session's warm-up, so the timed cycles run at a nearly
steady speed.  From then on every timed cycle lands one day and retires one
partition, and silver stays the same size.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import datagen, oracles
from perfbench.common import Outcome, median, start_spark, stop_spark, tail, tree_bytes, jvm_pid
from perfbench.trace import Tracer, rss_peak_mb, spark_layers

RETAIN_DAYS = 7
N_EVENTS = 100_000
N_STATIONS = 1_500
N_CUSTOMERS = 15_000
TRIGGER_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
ROUTES = ("/alerts/critical", "/health/pipeline")


class ProgressLog:
    """Streaming progress events, recorded by a listener the benchmark registers."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.events = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                at = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                log.append((at, dict(p.durationMs), p.numInputRows))

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def run(ctx) -> Outcome:
    from velib_lakehouse_spark import pipeline, serving
    from velib_lakehouse_spark.sources.snapshots import read_snapshot

    rng = np.random.default_rng(ctx.seed)
    feed = datagen.events(rng, N_EVENTS, N_STATIONS)
    first_day = int(rng.integers(0, datagen.EVENT_DAYS))
    bronze = os.path.join(ctx.scratch.work, "bronze")
    events_dir = os.path.join(bronze, "events.parquet")
    staging = os.path.join(ctx.scratch.work, "staging")
    lake = os.path.join(ctx.scratch.work, "lake")
    silver_dir = os.path.join(lake, "silver", "velib_stats")
    os.makedirs(events_dir)
    os.makedirs(staging)
    pq.write_table(datagen.customer(rng, N_CUSTOMERS), os.path.join(bronze, "customer.parquet"))

    spark = start_spark(ctx.scratch, ctx.trace, "perfbench-medallion")
    tracer = Tracer(ctx.trace, spark.sparkContext)
    tracer.wrap(pipeline, "run_silver_stream", "streaming.silver.run_silver_stream")
    tracer.wrap(pipeline, "write_snapshot", "sources.snapshots.write_snapshot")
    tracer.wrap(pipeline, "read_snapshot", "sources.snapshots.read_snapshot")
    tracer.wrap(pipeline, "retention_delete", "sources.lake.retention_delete")
    routes = dict(serving.ROUTES)
    for route in ROUTES:
        tracer.wrap(routes, route, f"serving.{serving.ROUTES[route].__name__}")
    progress = ProgressLog() if ctx.trace else None
    if progress:
        spark.streams.addListener(progress.listener)

    landed = 0
    cycle_meta: list[dict] = []
    payloads: dict[str, dict] = {}

    def cycle(index: int, n_days: int, out: Outcome | None) -> float:
        nonlocal landed, payloads
        rows = 0
        for day in range(landed, landed + n_days):
            part = datagen.day_slice(feed, first_day + day)
            rows += part.num_rows
            tmp = os.path.join(staging, f"part-{day:05d}.parquet")
            pq.write_table(part, tmp)
            os.replace(tmp, os.path.join(events_dir, f"part-{day:05d}.parquet"))
        landed += n_days
        newest = datagen.EVENT_START + dt.timedelta(days=first_day + landed - 1)
        keep_from = (newest - dt.timedelta(days=RETAIN_DAYS - 1)).date().isoformat()
        t = time.perf_counter()
        with tracer.span("medallion.cycle", op=f"cycle-{index}"):
            with tracer.span("pipeline.run_medallion"):
                meta = pipeline.run_medallion(spark, bronze, lake, retention_min_date=keep_from)
            payloads = {r: routes[r](spark, bronze) for r in ROUTES}
        took = time.perf_counter() - t
        meta["op"] = f"cycle-{index}"
        cycle_meta.append(meta)
        problems = []
        if meta["silver_rows"] != rows:
            problems.append(f"cycle {index}: silver_rows {meta['silver_rows']} != landed {rows}")
        if meta["gold_version"] != index:
            problems.append(f"cycle {index}: gold_version {meta['gold_version']} != {index}")
        if out is not None:
            if out.record(problems):
                out.units += rows
        elif problems:
            raise RuntimeError("; ".join(problems))
        return took

    cycle(0, RETAIN_DAYS - 1, None)
    cycle(1, 1, None)

    out = Outcome(time.perf_counter() - ctx.t0)
    index = 2
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        out.samples.append(cycle(index, 1, out))
        index += 1
    out.units_base_s = sum(out.samples)

    gold_table = cycle_meta[-1]["gold_table"]
    out.record(oracles.check_gold(read_snapshot(spark, gold_table), silver_dir))
    reference = oracles.reference_payloads(bronze)
    for route in ROUTES:
        out.record(oracles.check_payload(route, payloads[route], reference))

    p50 = median(out.samples)
    tl, pct = tail(out.samples)
    n = len(out.samples)
    out.named = {
        "cycle_p50_s": (p50, f"s N={n} p50"),
        "cycle_tail_s": (tl, f"s N={n} p{pct}"),
        "ingest_events_per_s": (out.units / out.units_base_s, f"events/s N={n}"),
    }
    if ctx.trace:
        rss = rss_peak_mb(jvm_pid(spark))
        time.sleep(0.5)  # streaming listener events arrive asynchronously
    stop_spark(spark)
    if ctx.trace:
        timed = {f"cycle-{i}" for i in range(2, index)}
        spans = ctx.finish_trace(tracer)
        out.layers = layers(spans, progress.events, timed, cycle_meta, silver_dir, gold_table)
        out.layers.update(spark_layers(spans, "medallion.cycle", timed, ctx.cores))
        out.layers["session.rss_peak_mb"] = rss
    return out


def layers(spans, progress, timed, cycle_meta, silver_dir, gold_table) -> dict:
    spans = [s for s in spans if s["op"] in timed]

    def med(name: str, key: str = "dur_s") -> float:
        return median([s[key] for s in spans if s["name"] == name])

    per_cycle = [
        [e for e in progress if s["start"] - 1 <= e[0] <= s["end"]]
        for s in spans
        if s["name"] == "streaming.silver.run_silver_stream"
    ]
    out = {
        "streaming.silver.run_s": med("streaming.silver.run_silver_stream"),
        "streaming.silver.batches": median([len(e) for e in per_cycle]),
        "streaming.silver.rows": median([sum(x[2] for x in e) for e in per_cycle]),
        "pipeline.gold_commit_s": med("sources.snapshots.write_snapshot"),
        "pipeline.self_s": med("pipeline.run_medallion", "self_s"),
        "sources.lake.retention_s": med("sources.lake.retention_delete"),
        "sources.lake.partitions_retired": median(
            [m["partitions_retired"] for m in cycle_meta if m["op"] in timed]
        ),
        # One version per cycle; its size, unlike the table's, does not grow with the cycle count.
        "sources.snapshots.gold_version_bytes": float(
            tree_bytes(os.path.join(gold_table, f"v={cycle_meta[-1]['gold_version']}"))
        ),
        "serving.critical_payload_s": med("serving.critical_alerts_payload"),
        "serving.health_payload_s": med("serving.pipeline_health_payload"),
    }
    for phase in TRIGGER_PHASES:
        out[f"streaming.silver.trigger_ms.{phase}"] = median(
            [sum(x[1].get(phase, 0) for x in e) for e in per_cycle]
        )
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(silver_dir)
        if "_spark_metadata" not in d
        for f in fs
        if f.endswith(".parquet")
    ]
    out["sources.lake.silver_files"] = float(len(files))
    out["sources.lake.silver_bytes"] = float(sum(os.path.getsize(f) for f in files))
    return out
