"""Guards the driver-budget invariant (VERDICT r1 §next-round #6).

The driver's correctness harness oracle-checks only the FIRST
``registry.DRIVER_WINDOW`` registered queries; a careless reorder or a
new module appended early could silently evict an operator family from
the judged window.  These tests pin: the window is exactly ``PRIORITY``,
every operator family contributes at least one query to it, no
rows-only (oracle-less) query wastes a judged slot (the driver records
those as errors), a query whose code/oracle changed since its last
driver row must be back in the window (r3 VERDICT #2, via
tools/fingerprints.py), and every family retains a green driver row
within the last two committed CORRECTNESS artifacts or a pending slot
in the current window (r3 VERDICT #7, the coverage ratchet).
"""

from __future__ import annotations

import glob
import json
import os
import re

from velib_lakehouse_spark import registry

WINDOW = list(registry.QUERIES)[: registry.DRIVER_WINDOW]

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Operator-family representatives.  Round-5 rotation (VERDICT r4 #1):
# all 50 window slots go to never-driver-checked queries, so a family
# is covered when a name listed here EITHER sits in the window now OR
# holds a green row in the last two CORRECTNESS artifacts (the coverage
# ratchet) — both enforced by test_every_family_covered.  Families
# whose members are all already green (velib, decontamination,
# retrieval) ride the ratchet; each list includes this round's window
# members so rotation keeps the family pinned.
FAMILY_REPRESENTATIVES = {
    "velib": [
        "velib_sparkline",
        "velib_silver_parse",
        "velib_health",
        "velib_alerts",
        "velib_history_enrich",
        "velib_dedup_latest",
        "velib_enrich_join",
    ],
    "chunking": ["chunk_cdc", "chunk_documents", "dedup_chunks"],
    "relational": [
        "tpch_q2_min_cost_supplier",
        "tpch_q21_waiting_suppliers",
        "skew_salted_join",
        "pareto_frontier_orders",
        "tpch_q3_shipping",
        "tpch_q1_pricing",
        "grouping_sets_orders",
        "bucketed_join_priority_revenue",
        "unpivot_metrics",
        "full_outer_activity_reconcile",
        "join_skew_audit",
        "fk_integrity_audit",
    ],
    "windows": [
        "global_enumerate_rows",
        "rolling_active_users",
        "rfm_segmentation",
        "velib_sparkline",
        "pairs_topk_capped",
        "domain_cap_sample",
        # r8: the r1-era window showcases rotated back into the driver
        # window this round — they are this family's freshest evidence
        "window_first_last",
        "window_range_trailing_count",
        "window_running_totals",
    ],
    "dedup": [
        "dup_span_removal",
        "sorted_neighborhood_pairs",
        "ppjoin_prefix_candidates",
        "dedup_minhash_lsh",
        "dedup_embedding_cosine",
        "semdedup",
        "minhash_estimate_audit",
        "dedup_clusters_recursive",
        "pairs_topk_capped",
        "editdist_verified_pairs",
        "dup_span_report",
    ],
    "decontamination": ["decontaminate_embedding", "decontaminate_ngram"],
    "similarity": [
        "pq_adc_topk",
        "srp_hamming_topk_audit",
        "feature_quantile_bins",
        "contrastive_triplets",
        "ann_ivf_topk",
        "ann_banded_lsh_topk",
        "embedding_centroids",
        "embedding_outliers",
    ],
    "retrieval": ["hybrid_rank_fusion", "inverted_index"],
    "text": [
        "rake_keyphrases",
        "winnow_fingerprints",
        "pmi_collocations",
        "udtf_sentence_split",
        "corpus_quality_report",
        "tfidf_top_terms",
        "bm25_rank",
        "quality_classifier_score",
        "zipf_slope_audit",
        "bpe_merge_step",
    ],
    "sketches": [
        "hll_distinct_audit",
        "bloom_membership_audit",
        "hll_merge_rollup",
        "histogram_quantile_audit",
        "cms_frequency_audit",
        "approx_percentile_parity_audit",
        "quantile_sketch_merge_rollup",
    ],
    "curation": [
        "curation_dag_lineage",
        "priority_sample_subset_sum",
        "e2e_curation_report",
        "corpus_profile",
        "weighted_sample_topk",
        "domain_cap_sample",
        "corpus_mix_apply",
        "stratified_split",
        "split_leakage_audit",
    ],
    "training": [
        "curriculum_phases",
        "export_tokenized_sequences",
        "pack_sequences",
        "dsir_importance_weights",
    ],
    "multimodal_arrow": [
        "multimodal_image_ahash_neardup",
        "multimodal_audio_window_stats",
        "pandas_cogroup_paired_spend",
        "arrow_batch_stats",
        "udtf_sentence_split",
        "multimodal_frame_sample",
    ],
    "events": [
        "peak_concurrency_daily",
        "cusum_changepoint_audit",
        "basket_affinity_pairs",
        "event_path_mining",
        "event_rate_anomaly",
        "cdc_merge_upsert",
        "event_funnel",
        "retention_cohorts",
        # r8: the r6/r7-era events-table operators — the family's
        # freshest members (attribution and daily-outlier rollups all
        # consume the events stream)
        "multitouch_attribution",
        "zscore_outlier_days",
        "mad_robust_outlier_days",
    ],
    "graph": [
        "kcore_peeling",
        "label_propagation_communities",
        "triangle_count",
        "clustering_coefficient",
        "pagerank_user_graph",
    ],
    "rollups": [
        "ivm_incremental_rollup",
        "rollup_cube_orders",
        "cdc_merge_upsert",
        # r8: the r6/r7-era members of the family (hypertable + IVM
        # JOIN-view delta are the same incremental-rollup lineage)
        "ivm_join_view_delta",
        "hypertable_rollup",
        "seasonal_naive_backtest",
    ],
    "streaming": [
        "streaming_join_left_outer",
        "streaming_python_datasource_feed",
        "streaming_stateful_enumerate",
        "streaming_session_windows",
        "streaming_join_click_purchase",
        "streaming_windowed_counts",
        "streaming_dedup",
        # r8: the r6/r7-era members — the family's freshest evidence
        "streaming_silver_availablenow",
        "streaming_sliding_counts",
        "streaming_backfill_merge",
        "streaming_gold_foreachbatch",
        "kafka_shaped_roundtrip",
        "streaming_dedup_within_watermark",
        "streaming_static_enrich",
    ],
    "lake": [
        "lake_file_skipping",
        "streaming_backfill_merge",
        "backfill_dedup_reconcile",
        "snapshot_diff_cdc",
        "compaction_binpack_plan",
        "table_checksum_audit",
        "lake_schema_evolution",
        "lake_retention_sweep",
        "observed_write_metrics",
        "csv_roundtrip_scan",
        "python_datasource_bronze",
        "lake_zorder_layout",
    ],
}


def _tracked_artifact_names() -> set[str] | None:
    """CORRECTNESS artifacts committed to git, or None if git is
    unavailable.  The rotation guards assert against COMMITTED state
    only (r5 VERDICT #3): the driver deposits CORRECTNESS_r{N}.json in
    the working tree at the END of round N — before the builder can
    possibly have rotated the window it judges — so an untracked
    artifact must not redden HEAD.  It becomes binding the moment the
    round-boundary commit tracks it, which is when the next window is
    actually being chosen."""
    import subprocess

    try:
        res = subprocess.run(
            ["git", "-C", REPO, "ls-files", "CORRECTNESS_r*.json"],
            capture_output=True,
            text=True,
            timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if res.returncode != 0:
        return None
    return {line.strip() for line in res.stdout.splitlines() if line.strip()}


def _latest_correctness(n: int = 2, tracked_only: bool = False) -> list[dict]:
    paths = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    if tracked_only:
        tracked = _tracked_artifact_names()
        if tracked is not None:
            paths = [p for p in paths if os.path.basename(p) in tracked]
    out = []
    for p in paths[-n:]:
        try:
            with open(p) as f:
                out.append(json.load(f))
        except (OSError, json.JSONDecodeError):
            pass
    return out


def _green(entry) -> bool:
    return bool(
        isinstance(entry, dict)
        and entry.get("rows_match")
        and entry.get("schema_match")
        and entry.get("hash_match")
    )


def test_window_is_exactly_priority():
    assert len(registry.PRIORITY) == registry.DRIVER_WINDOW
    assert WINDOW == list(registry.PRIORITY)


def test_priority_and_secondary_are_disjoint():
    both = set(registry.PRIORITY) & set(registry.SECONDARY)
    assert not both, f"listed in both PRIORITY and SECONDARY: {sorted(both)}"
    assert len(set(registry.SECONDARY)) == len(registry.SECONDARY)


def test_every_family_covered():
    """A family is covered when a representative sits in the current
    window OR holds a green row in the last two CORRECTNESS artifacts.
    (Round-5 relaxation of the old strict in-window rule: VERDICT r4 #1
    spends all 50 slots on never-driver-checked queries, so fully-green
    families ride the ratchet instead of holding slots.)"""
    arts = _latest_correctness(2, tracked_only=True)
    green = {n for art in arts for n, e in art.items() if _green(e)}
    for family, names in FAMILY_REPRESENTATIVES.items():
        present = [n for n in names if n in WINDOW or n in green]
        assert present, f"family {family} has no window slot and no recent green row"


def test_window_rotates_oldest_first():
    """Oldest-first rotation (VERDICT r4 #7): while never-driver-checked
    queries wait outside the window, no slot may be spent on an
    unchanged query that already holds a green row — stale-green rows
    retire first, so a family can never coast for rounds on one old
    check while new code goes unjudged.

    Boundary tolerance (VERDICT r5 #3): only git-TRACKED artifacts
    count.  The driver drops CORRECTNESS_r{N}.json into the working
    tree when round N ends — with the round-N window green and the next
    rotation necessarily not yet chosen — so an untracked artifact
    reddening HEAD would fire every successful round by construction.
    The forcing function is preserved: the artifact binds as soon as
    the round-boundary commit tracks it, i.e. exactly when a builder
    could commit a window that wastes slots."""
    from tools.fingerprints import fingerprint, load

    arts = _latest_correctness(99, tracked_only=True)
    green_ever = {n for art in arts for n, e in art.items() if _green(e)}
    waiting = [n for n in registry.QUERIES if n not in green_ever and n not in WINDOW]
    if not waiting:
        return  # backlog clear — green queries may re-enter freely
    recorded = load()
    wasted = [
        n
        for n in WINDOW
        if n in green_ever and recorded.get(n) == fingerprint(n)
    ]
    assert not wasted, (
        f"{len(waiting)} never-checked queries wait while unchanged "
        f"already-green queries hold window slots: {wasted}"
    )


def test_all_family_representatives_registered():
    for names in FAMILY_REPRESENTATIVES.values():
        for n in names:
            assert n in registry.QUERIES, f"{n} not registered"


def test_no_oracle_less_query_in_window():
    missing = [n for n in WINDOW if registry.ORACLE.get(n) is None]
    assert not missing, f"oracle-less queries waste judged slots: {missing}"


def test_changed_queries_are_in_window():
    """Standing rotation rule (r3 VERDICT #2): a query whose code or
    oracle changed since its recorded fingerprint (taken when it last
    sat in the driver window) must rotate back in; new queries with no
    fingerprint yet must enter the window for their first driver row.
    Refresh with `python -m tools.fingerprints` at end of round."""
    from tools.fingerprints import fingerprint, load

    recorded = load()
    assert recorded, "tools/query_fingerprints.json missing — regenerate"
    offenders = []
    for name in registry.QUERIES:
        if name in WINDOW:
            continue  # about to get a fresh driver row
        old = recorded.get(name)
        if old is None:
            offenders.append(f"{name}: never fingerprinted (new query out of window)")
        elif fingerprint(name) != old:
            offenders.append(f"{name}: changed since last driver row")
    assert not offenders, "changed => re-window violated:\n" + "\n".join(offenders)


def test_family_coverage_ratchet():
    """Coverage ratchet (r3 VERDICT #7): rotation must never orphan a
    family — each family needs a green row in the union of the last two
    committed CORRECTNESS artifacts, or a pending slot in the current
    window (checked this round)."""
    arts = _latest_correctness(2, tracked_only=True)
    assert arts, "no CORRECTNESS_r*.json artifacts committed"
    green = {n for art in arts for n, e in art.items() if _green(e)}
    for family, names in FAMILY_REPRESENTATIVES.items():
        ok = [n for n in names if n in green or n in WINDOW]
        assert ok, (
            f"family {family} has no green row in the last two CORRECTNESS"
            f" artifacts and no pending window slot: {names}"
        )


def test_window_outputs_are_driver_hashable(spark):
    """Round-1 regression: the driver canonicalizes results with pandas
    ``sort_values``, which raises ``TypeError: unhashable type`` on
    array/map cells.  Every judged-window query must therefore emit only
    scalar columns (arrays are serialized with to_json/concat_ws before
    they leave the query)."""
    from tests.conftest import SF_DIR

    bad: list[str] = []
    for name in WINDOW:
        df = registry.QUERIES[name](spark, SF_DIR)
        for col, dtype in df.dtypes:
            if dtype.startswith(("array", "map", "struct")):
                bad.append(f"{name}.{col}: {dtype}")
    assert not bad, "non-scalar columns in driver window: " + "; ".join(bad)


def test_every_registered_query_has_oracle_entry_key():
    # ORACLE may be None (rows-only) but the key must exist so the
    # omission is deliberate, not a typo.
    assert set(registry.ORACLE) == set(registry.QUERIES)


def test_untracked_correctness_artifact_is_ignored():
    """Pins the r5 VERDICT #3 boundary case: a CORRECTNESS artifact the
    driver deposited but no commit tracks yet must NOT count toward the
    rotation guards — otherwise every successful round auto-reddens
    HEAD the moment its own artifact lands."""
    tracked = _tracked_artifact_names()
    if tracked is None:  # no git in this environment: tolerance is moot
        return
    fake = os.path.join(REPO, "CORRECTNESS_r97.json")
    assert not os.path.exists(fake)
    # A sentinel name no real artifact can contain isolates the
    # tracked-only filter from rotation state.  (The original check —
    # "the current window is not fully green across tracked artifacts"
    # — broke by construction the moment the driver's round-boundary
    # commit tracked CORRECTNESS_r10.json, whose 50 green rows ARE the
    # still-unrotated current window; r11 inherited that red.)
    sentinel = "__untracked_artifact_sentinel__"
    payload = {
        sentinel: {"rows_match": True, "schema_match": True, "hash_match": True}
    }
    try:
        with open(fake, "w") as f:
            json.dump(payload, f)
        arts = _latest_correctness(99, tracked_only=True)
        green = {n for art in arts for n, e in art.items() if _green(e)}
        # the fake untracked artifact must be invisible to the guards ...
        assert sentinel not in green
        # ... but a plain (untracked-included) read does see it
        arts_all = _latest_correctness(99)
        green_all = {n for art in arts_all for n, e in art.items() if _green(e)}
        assert sentinel in green_all
    finally:
        os.remove(fake)
