"""Benchmark of the velib lakehouse engine: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see each module's docstring, and BENCHMARK.json, for why each was chosen):

  medallion_cycles  bronze -> streaming silver -> history -> gold -> serving
                    payloads -> retention, one landed day per cycle (medallion.py)
  api_open_loop     both API routes under a Poisson open loop (api.py)
  query_mix         the operator library's hot spots, one query at a time (mix.py)

The run generates its inputs from ``--seed``, measures for ``--seconds``
seconds after set-up, checks every output against a DuckDB reference, and
prints as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, computed
from spans around calls into each module (written to ``.perfbench/out/``),
and the end-to-end figures of the traced run are printed above the last
line.  Every temp file the run or the engine makes goes to a scratch tree
under ``.perfbench/scratch/`` that is removed at the end; what the engine
left in it is reported as ``scratch.bytes_left``.  The exit code is 0 only
when every output was correct.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Import from the repo root, not this directory, whose ``tests`` would shadow the repo's.
sys.path[0] = ROOT

WORKLOADS = ("medallion_cycles", "api_open_loop", "query_mix")


def contract() -> dict:
    """BENCHMARK.json: the end-to-end and per-layer metric names the last line reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Context:
    def __init__(self, args, scratch, cores: int):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scratch = scratch
        self.cores = cores
        self.t0 = T0
        self.spans: list[dict] = []

    def finish_trace(self, tracer) -> list[dict]:
        tracer.attach_spark(self.scratch.eventlog)
        self.spans = tracer.finish()
        return self.spans


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def span_summary(spans: list[dict]) -> dict[str, dict]:
    """Per span name: count, median duration and median self time."""
    from perfbench.common import median

    names: dict[str, list[dict]] = {}
    for s in spans:
        names.setdefault(s["name"], []).append(s)
    return {
        n: {
            "n": len(ss),
            "dur_s_p50": median([s["dur_s"] for s in ss]),
            "self_s_p50": median([s["self_s"] for s in ss]),
        }
        for n, ss in names.items()
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "velib_lakehouse_spark")):
        print(f"velib_lakehouse_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()

    from perfbench import api, medallion, mix
    from perfbench.common import Scratch, cpus, log, median, stamp, tail, write_json

    workload = {"medallion_cycles": medallion, "api_open_loop": api, "query_mix": mix}[args.workload]
    run_stamp = stamp(args.seed)
    scratch = Scratch()
    try:
        ctx = Context(args, scratch, cpus())
        log(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
        out = workload.run(ctx)
        bytes_left = scratch.bytes_left()
    finally:
        scratch.close()
    run_stamp["loadavg_1m_after"] = os.getloadavg()[0]
    log("stamp " + json.dumps(run_stamp))

    tl, pct = tail(out.samples)
    n = len(out.samples)
    e2e = {
        "setup_s": out.setup_s,
        "op_p50_s": median(out.samples),
        "goodput_per_s": out.units / out.units_base_s,
    }
    log(f"metric setup_s {out.setup_s:.4f} s N=1")
    for name, (value, note) in out.named.items():
        log(f"metric {name} {value:.6g} {note}")
    log(f"metric failed_share {out.failed / max(1, out.attempted):.4f} ratio N={out.attempted}")
    log(f"metric op_p50_s {e2e['op_p50_s']:.6g} s N={n} p50 (op_tail_s {tl:.6g} s p{pct})")
    log("samples " + " ".join(f"{x:.3f}" for x in out.samples))
    for p in out.problems:
        log(f"gate FAIL {p}")

    spec = contract()
    if args.trace:
        layers = dict(out.layers, **{"scratch.bytes_left": float(bytes_left)})
        for name in sorted(layers):
            log(f"layer {name} {layers[name]:.6g}")
        for name, s in span_summary(ctx.spans).items():
            log(f"span {name} n={s['n']} dur_p50={s['dur_s_p50']:.4f}s self_p50={s['self_s_p50']:.4f}s")
        path = write_json(
            f"trace-{args.workload}-seed{args.seed}.json",
            {"stamp": run_stamp, "end_to_end": e2e, "layers": layers, "spans": ctx.spans},
        )
        log(f"spans written to {os.path.relpath(path, ROOT)}")
        # A layer this workload does not run reports 0.
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}

    correct = out.failed == 0
    print(json.dumps({"correct": correct, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
