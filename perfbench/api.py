"""``api_open_loop``: the two reference endpoints under independent users.

``serving.serve`` runs in its own process on the sf0.1 inputs.  The load
generator here sends GETs on a seeded Poisson schedule at RATE_PER_S, three
``/alerts/critical`` to one ``/health/pipeline``, with at most one
connection per core in flight.  The load is open-loop because API users are
independent: a slow server does not slow the schedule, so its queue grows.
Each request is timed from the moment it was due, and the generator's own
lateness is recorded.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

from perfbench import datagen, oracles
from perfbench.common import Outcome, median, tail

# Offered load: about half the capacity measured on this workload with four
# connections in a closed loop (2.49 req/s on a 4-core shared host; 3.37 req/s
# when the host was quieter), and the latency a request may take, from its
# due time, to count as goodput.
SF = 0.1
RATE_PER_S = 1.2
LIMIT_S = 4.0
CRITICAL_SHARE = 0.75
WARMUP_REQUESTS = 16
ARRIVAL_SEED = 0
ROUTES = ("/alerts/critical", "/health/pipeline")
SERVER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "api_server.py")


def get(port: int, route: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", route)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def check(status: int, body: bytes, route: str, reference: dict) -> list[str]:
    if status != 200:
        return [f"{route}: HTTP {status}"]
    return oracles.check_payload(route, json.loads(body), reference)


def open_loop(port: int, schedule: list[tuple[float, str]], connections: int) -> list[dict]:
    """Send each (due, route) at its due time on at most ``connections`` connections."""
    results: list[dict] = [{} for _ in schedule]
    next_i = iter(range(len(schedule)))
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                i = next(next_i, None)
            if i is None:
                return
            due, route = schedule[i]
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            r = results[i]
            r.update(due=due, route=route, sent=time.time())
            try:
                r["status"], r["body"] = get(port, route)
            except OSError as exc:
                r["status"], r["body"] = 0, str(exc).encode()
            r["recv"] = time.time()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def run(ctx) -> Outcome:
    data = ctx.scratch.inputs
    spans_file = os.path.join(ctx.scratch.work, "server-spans.json")
    server = subprocess.Popen(
        [sys.executable, SERVER, "--data", data, "--scratch", ctx.scratch.root,
         "--trace", str(int(ctx.trace)), "--spans", spans_file],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        # The server reads its inputs per request, so they are written while it starts.
        datagen.write_tables(data, ctx.seed, SF, ["customer", "events"])
        reference = oracles.reference_payloads(data)
        line = server.stdout.readline()
        if not line:
            raise RuntimeError("API server exited before binding its port")
        port = json.loads(line)["port"]
        # Set-up: early calls pay planning and JIT warm-up, so WARMUP_REQUESTS in
        # the 3:1 route mix are sent back to back on every connection first.
        now = time.time()
        warm = open_loop(port, [(now, ROUTES[int(i % 4 == 3)]) for i in range(WARMUP_REQUESTS)], ctx.cores)
        problems = [p for r in warm for p in check(r["status"], r["body"], r["route"], reference)]

        # Poisson arrivals conditioned on their count: the expected number of
        # requests is sent every run, at uniformly scattered times.  The trace
        # is drawn from a fixed seed: on a run of a few seconds the burstiness
        # of one draw moves the latency median more than the server does, so
        # the run's seed varies the data the server reads, not the arrivals.
        rng = np.random.default_rng(ARRIVAL_SEED)
        offsets = np.sort(rng.uniform(0.0, ctx.seconds, max(1, round(RATE_PER_S * ctx.seconds))))
        kinds = rng.random(len(offsets)) < CRITICAL_SHARE
        out = Outcome(time.perf_counter() - ctx.t0)
        out.record(problems)
        start = time.time() + 0.05
        schedule = [(start + o, ROUTES[0] if k else ROUTES[1]) for o, k in zip(offsets, kinds)]
        results = open_loop(port, schedule, ctx.cores)
    finally:
        server.stdin.close()
        try:
            server.wait(timeout=120)
        except subprocess.TimeoutExpired:
            print("API server did not stop in time; killing it", file=sys.stderr)
            server.kill()
            server.wait()
    if server.returncode != 0:
        raise RuntimeError(f"API server exited with code {server.returncode}")

    for r in results:
        latency = r["recv"] - r["due"]
        out.samples.append(latency)
        if out.record(check(r["status"], r["body"], r["route"], reference)) and latency <= LIMIT_S:
            out.units += 1
    out.units_base_s = max(r["recv"] for r in results) - start  # schedule start to last response

    n = len(out.samples)
    tl, pct = tail(out.samples)
    out.named = {
        "api_p50_s": (median(out.samples), f"s N={n} p50"),
        "api_tail_s": (tl, f"s N={n} p{pct}"),
        "api_goodput_rps": (out.units / out.units_base_s, f"req/s N={n} limit={LIMIT_S}s offered={RATE_PER_S}/s"),
    }
    if ctx.trace:
        with open(spans_file) as f:
            served = json.load(f)
        out.layers = layers(results, served["spans"], ctx.cores)
        out.layers["session.rss_peak_mb"] = served["rss_peak_mb"]
        ctx.spans = served["spans"]
    return out


def layers(results: list[dict], spans: list[dict], cores: int) -> dict[str, float]:
    """Per-request queue and transfer time, matching each handler span to a request.

    Handler spans carry no request id, so each is matched, in start order, to
    the earliest unmatched request on the same route whose send-to-receive
    interval contains it.
    """
    from perfbench.trace import SPARK_COUNTS

    first_due = min(r["due"] for r in results)
    handlers = sorted(
        (s for s in spans if s["parent"] is None and s["start"] >= first_due),
        key=lambda s: s["start"],
    )
    free = sorted(results, key=lambda r: r["sent"])
    matched = []
    for h in handlers:
        route = "/alerts/critical" if h["name"].endswith("critical_alerts_payload") else "/health/pipeline"
        for r in free:
            if r["route"] == route and r["sent"] <= h["start"] and h["end"] <= r["recv"]:
                free.remove(r)
                matched.append((r, h))
                break
    edges = sorted([(h["start"], 1) for h in handlers] + [(h["end"], -1) for h in handlers])
    in_flight = peak = 0
    for _, step in edges:
        in_flight += step
        peak = max(peak, in_flight)
    out = {
        "serving.critical_payload_s": median(
            [h["dur_s"] for h in handlers if h["name"].endswith("critical_alerts_payload")]
        ),
        "serving.health_payload_s": median(
            [h["dur_s"] for h in handlers if h["name"].endswith("pipeline_health_payload")]
        ),
        "serving.queue_s": median([h["start"] - r["due"] for r, h in matched]),
        "serving.http_s": median([r["recv"] - h["end"] for r, h in matched]),
        "serving.in_flight_max": float(peak),
        "loadgen.late_s": max(r["sent"] - r["due"] for r in results),
    }
    timed = [h for _, h in matched]
    for k in SPARK_COUNTS:
        out[f"spark.{k}"] = median([h["spark_total"][k] for h in timed])
    out["spark.cpu_ratio"] = median(
        [h["spark_total"]["task_cpu_s"] / (h["dur_s"] * cores) for h in timed]
    )
    return out
