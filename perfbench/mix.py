"""``query_mix``: the operator library's hot spots, one closed-loop client.

Each lap runs TIMED_QUERIES (reordered by the seed), every query
materialized through the ``noop`` sink with the cache cleared between
queries.  The list holds the near-duplicate hot spots (weighted-minhash
ICWS, and minhash LSH with its overhead-bound task count) and two relational
bellwethers that shuffle sizing moves.  The untimed set-up pass collects
each of them once and checks it against its registry oracle.

The traced run also runs AUDIT_QUERIES once each after the timed laps,
collected and checked against their oracles like the set-up pass: the beam
kNN graph build, the stream-stream outer join and its state stores, batched
BPE training, a cogrouped pandas UDF and an executed small-file compaction.
They cost about 40 s cold on 4 cores, more than every run of the benchmark
can afford, so they give per-layer figures (and the temp files they leave,
``scratch.bytes_left``) but are not part of the timed lap.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import datagen, oracles
from perfbench.common import Outcome, jvm_pid, median, start_spark, stop_spark, tail
from perfbench.trace import Tracer, rss_peak_mb, spark_layers

SF = 0.01
TABLES = ["orders", "lineitem", "documents", "events", "embeddings"]
TIMED_QUERIES = (
    "dedup_icws_capped",
    "dedup_minhash_lsh",
    "tpch_q1_pricing",
    "join_shuffle_revenue",
)
AUDIT_QUERIES = (
    "ann_graph_beam_audit",
    "streaming_join_left_outer",
    "bpe_train_merges_batched",
    "pandas_cogroup_paired_spend",
    "compaction_execute",
)


def layer_name(query: str) -> str:
    """``operators.<module>.<query>_s``, named after the module that defines the query."""
    from velib_lakehouse_spark import registry

    module = registry.QUERIES[query].__module__.removeprefix("velib_lakehouse_spark.")
    return f"{module}.{query}_s"


def references(duck: ThreadPoolExecutor, queries: list[str], data: str) -> dict:
    """Each query's oracle result, computed on ``duck``'s single DuckDB thread."""
    from velib_lakehouse_spark import registry

    def result(sql: str):
        con = oracles.connect(data)
        con.execute("SET threads = 1")  # leave the cores to the session running alongside
        try:
            return oracles.rows(con, sql)
        finally:
            con.close()

    return {q: duck.submit(result, registry.ORACLE[q]) for q in queries}


def checked_pass(spark, tracer, data: str, queries: list[str], reference: dict, op: str) -> list[list[str]]:
    """Collect each query once, in a span of its own, and compare it with its oracle result."""
    from velib_lakehouse_spark import registry

    problems = []
    for q in queries:
        with tracer.span(layer_name(q), op=op):
            df = registry.QUERIES[q](spark, data)
            got = [tuple(r) for r in df.collect()]
        want_cols, want = reference[q].result()
        problems.append([f"{q}: {p}" for p in oracles.compare_rows(df.columns, got, want_cols, want)])
        spark.catalog.clearCache()
    return problems


def run(ctx) -> Outcome:
    from velib_lakehouse_spark import registry

    data = ctx.scratch.inputs
    datagen.write_tables(data, ctx.seed, SF, TABLES)
    rng = np.random.default_rng(ctx.seed)
    order = [TIMED_QUERIES[i] for i in rng.permutation(len(TIMED_QUERIES))]
    audit_order = [AUDIT_QUERIES[i] for i in rng.permutation(len(AUDIT_QUERIES))]

    with ThreadPoolExecutor(1) as duck:  # oracles run while the session starts and warms up
        reference = references(duck, order, data)
        spark = start_spark(ctx.scratch, ctx.trace, "perfbench-query-mix")
        tracer = Tracer(ctx.trace, spark.sparkContext)
        problems = checked_pass(spark, tracer, data, order, reference, "gate")

    out = Outcome(time.perf_counter() - ctx.t0)
    for p in problems:
        out.record(p)
    laps = []
    t_end = time.perf_counter() + ctx.seconds
    while time.perf_counter() < t_end:
        t = time.perf_counter()
        with tracer.span("mix.lap", op=f"lap-{len(laps)}"):
            for q in order:
                try:
                    with tracer.span(layer_name(q)):
                        registry.QUERIES[q](spark, data).write.format("noop").mode("overwrite").save()
                except Exception as exc:  # one failing query must not end the run
                    out.record([f"{q}: {type(exc).__name__}: {exc}"[:300]])
                else:
                    out.units += out.record([])
                spark.catalog.clearCache()
        laps.append(time.perf_counter() - t)
    out.samples = laps
    out.units_base_s = sum(laps)

    tl, pct = tail(laps)
    out.named = {
        "mix_lap_s": (median(laps), f"s N={len(laps)} p50"),
        "mix_lap_tail_s": (tl, f"s N={len(laps)} p{pct}"),
    }
    if not ctx.trace:
        stop_spark(spark)
        return out

    with ThreadPoolExecutor(1) as duck:
        reference = references(duck, audit_order, data)
        for p in checked_pass(spark, tracer, data, audit_order, reference, "audit"):
            out.record(p)
    rss = rss_peak_mb(jvm_pid(spark))
    stop_spark(spark)
    spans = ctx.finish_trace(tracer)
    ops = {s["op"] for s in spans if s["name"] == "mix.lap"}
    # A timed query reports its median over the timed laps, an audit query its one run.
    out.layers = {
        layer_name(q): median(
            [s["dur_s"] for s in spans if s["name"] == layer_name(q) and s["op"] in ops | {"audit"}]
        )
        for q in TIMED_QUERIES + AUDIT_QUERIES
    }
    out.layers.update(spark_layers(spans, "mix.lap", ops, ctx.cores))
    out.layers["session.rss_peak_mb"] = rss
    return out
