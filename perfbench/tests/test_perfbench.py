"""Tests of the benchmark itself: its gate, its statistics and a smoke run of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import subprocess
import sys
import types

import numpy as np
import pytest

from perfbench import api, datagen, medallion, mix, oracles
from perfbench.common import ROOT, Scratch, tail
from perfbench.run import WORKLOADS, Context
from perfbench.trace import Tracer, covered


@pytest.fixture(scope="module")
def tiny_inputs(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("inputs"))
    datagen.write_tables(d, 7, 0.001, ["customer", "events"])
    return d


def test_inputs_follow_the_seed(tmp_path):
    for name in ("a", "b"):
        datagen.write_tables(str(tmp_path / name), 3, 0.001, ["events", "documents"])
    for t in ("events", "documents"):
        a = (tmp_path / "a" / f"{t}.parquet").read_bytes()
        assert a == (tmp_path / "b" / f"{t}.parquet").read_bytes()


def test_day_slices_replay_in_laps():
    ev = datagen.events(np.random.default_rng(0), 3000, 20)
    first, replay = datagen.day_slice(ev, 2), datagen.day_slice(ev, 2 + datagen.EVENT_DAYS)
    assert first.num_rows == replay.num_rows > 0
    assert replay.column("event_id")[0].as_py() == first.column("event_id")[0].as_py() + 3000


def test_corrupted_payload_fails_the_gate(tiny_inputs):
    reference = oracles.reference_payloads(tiny_inputs)
    good = copy.deepcopy(reference["/alerts/critical"])
    good["stations"].reverse()  # order among equal current_bikes is free
    assert oracles.check_payload("/alerts/critical", good, reference) == []
    bad = copy.deepcopy(good)
    bad["stations"][0]["sparkline"][-1] += 0.01
    assert oracles.check_payload("/alerts/critical", bad, reference)
    health = dict(reference["/health/pipeline"], active_stations=0)
    assert oracles.check_payload("/health/pipeline", health, reference)


def test_empty_result_fails_the_gate():
    cols = ["k", "v"]
    assert oracles.compare_rows(cols, [(1, 2.0)], cols, [(1, 2.0)]) == []
    assert oracles.compare_rows(cols, [], cols, [(1, 2.0)])
    assert oracles.compare_rows(cols, [], cols, [])  # empty-vs-empty proves nothing
    assert oracles.compare_rows(cols, [(1, 2.5)], cols, [(1, 2.0)])


def test_tail_needs_ten_samples_beyond_it():
    assert tail([float(i) for i in range(19)])[1] == 50
    assert tail([float(i) for i in range(100)])[1] == 90
    assert tail([float(i) for i in range(30)])[1] == 66


def test_self_time_subtracts_overlapping_children():
    parent = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0}, {"start": 9.0, "end": 12.0}]
    assert covered(parent, kids) == pytest.approx(5.0)
    t = Tracer(enabled=True)
    with t.span("outer", op="op-0"):
        with t.span("inner"):
            pass
    spans = {s["name"]: s for s in t.finish()}
    assert spans["inner"]["parent"] == spans["outer"]["id"]
    assert spans["inner"]["op"] == "op-0"
    assert spans["outer"]["self_s"] <= spans["outer"]["dur_s"]


def test_benchmark_json_matches_the_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    names = [m["name"] for m in spec["per_layer"]]
    assert len(names) == len(set(names))
    from velib_lakehouse_spark import registry

    # Every per-query layer listed is a query the mix runs, and every query it runs is listed.
    query_layers = {n for n in names if n.rsplit(".", 1)[-1].removesuffix("_s") in registry.QUERIES}
    assert query_layers == {mix.layer_name(q) for q in mix.TIMED_QUERIES + mix.AUDIT_QUERIES}


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


def _smoke(module, **patch):
    """Run ``module`` in-process for one timed operation, traced, with smaller inputs."""
    saved = {k: getattr(module, k) for k in patch}
    for k, v in patch.items():
        setattr(module, k, v)
    scratch = Scratch()
    try:
        args = types.SimpleNamespace(seed=5, seconds=0.1, trace=1)
        return module.run(Context(args, scratch, cores=4))
    finally:
        scratch.close()
        for k, v in saved.items():
            setattr(module, k, v)


def test_smoke_medallion_cycles():
    out = _smoke(medallion, N_EVENTS=1_000, N_STATIONS=15, N_CUSTOMERS=150)
    assert out.failed == 0, out.problems
    assert out.attempted >= 1 and out.samples
    assert out.layers["streaming.silver.rows"] > 0
    assert out.layers["sources.lake.partitions_retired"] == 1
    assert out.layers["spark.jobs"] > 0


def test_smoke_query_mix():
    out = _smoke(mix, SF=0.001)
    assert out.failed == 0, out.problems
    # the set-up checks, one timed lap, then the traced run's audit checks
    assert out.attempted == 2 * len(mix.TIMED_QUERIES) + len(mix.AUDIT_QUERIES)
    assert all(out.layers[mix.layer_name(q)] > 0 for q in mix.TIMED_QUERIES + mix.AUDIT_QUERIES)
    assert out.layers["spark.jobs"] > 0


def test_smoke_api_open_loop():
    out = _smoke(api, SF=0.001, RATE_PER_S=20.0)
    assert out.failed == 0, out.problems
    assert out.attempted >= 1
    assert out.layers["serving.in_flight_max"] >= 1
    assert out.layers["serving.queue_s"] >= 0 and out.layers["serving.http_s"] >= 0
