"""What tracing costs: end-to-end metrics of traced runs against untraced ones.

    python3 perfbench/overhead.py [--seeds 1 2 3] [--workloads medallion_cycles query_mix]

Runs each workload once per seed with ``--trace 0`` and once with
``--trace 1`` (same seed, same inputs) and prints, per workload and
end-to-end metric, the untraced median (the base), the traced median, and
their difference as a share of the base.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True,
    )
    last = json.loads(p.stdout.strip().splitlines()[-1])
    if not trace:
        return {k: v["value"] for k, v in last["metrics"].items()}
    path = os.path.join(ROOT, ".perfbench", "out", f"trace-{workload}-seed{seed}.json")
    with open(path) as f:
        return json.load(f)["end_to_end"]


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    for w in args.workloads:
        plain, traced = [], []
        for seed in args.seeds:
            plain.append(run(w, seed, spec["run_seconds"], 0))
            traced.append(run(w, seed, spec["run_seconds"], 1))
        for m in spec["end_to_end"]:
            base = statistics.median(r[m["name"]] for r in plain)
            with_trace = statistics.median(r[m["name"]] for r in traced)
            print(
                f"{w} {m['name']}: untraced median {base:.4f} {m['unit']}, traced median "
                f"{with_trace:.4f}, difference {with_trace - base:+.4f} "
                f"({(with_trace - base) / base:+.1%} of the untraced median, N={len(args.seeds)} each)",
                flush=True,
            )


if __name__ == "__main__":
    main()
