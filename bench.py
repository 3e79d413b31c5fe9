#!/usr/bin/env python
"""Benchmark harness — the driver's per-round performance gate.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints the
full JSON result line::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

followed by a compact summary line (same scalar fields, slowest-10
queries only) as the LAST line of stdout — the full per-query map has
outgrown the driver's 2000-char tail capture, so the parseable headline
must sit at the very end; the full map is also written to
``BENCH_LAST.json`` beside this script.

Methodology: each query is materialized with a ``noop``-format write —
full computation of every output column, no driver-side row transfer, so
the number reflects engine throughput rather than py4j serialization.
A warmup action first absorbs one-time JVM/codegen/parquet-footer costs.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from zylyty_data_engineer_challenge_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# the exact query set BENCH_r01 measured (38 queries, 36.242 s at sf0.1) —
# used to report a cross-round comparable subtotal alongside the growing
# headline set
R01_BENCH_SET = frozenset(
    {
        "dedup_embedding_cosine", "dedup_exact", "dedup_fuzzy_names",
        "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash",
        "mm_features", "mm_frame_sample", "q_asof_join", "q_cube_sales",
        "q_gaps_islands", "q_grouping_sets", "q_ntile_deciles",
        "q_outer_joins", "q_pricing_summary", "q_range_join",
        "q_revenue_filter", "q_scalar_subquery", "q_semi_anti_join",
        "q_sessionize", "q_time_rollup", "q_top_customers",
        "q_topk_per_group", "q_udf_surface", "q_window_functions",
        "q_window_running_total", "sim_ann_lsh", "sim_topk_bruteforce",
        "t3_dedup_keep_first", "text_chunk", "text_fingerprint",
        "text_langid", "text_quality", "text_token_stats",
        "text_top_ngrams", "view1_client_transaction_counts",
        "view2_monthly_transaction_summary",
        "view3_high_transaction_accounts",
    }
)


def _sf_from_dir(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else 0.0


def host_factor(timings: dict[str, float]) -> float | None:
    """Host-calibration factor (r11 VERDICT item 1): the median ratio of
    this run's r01-subset queries to their BENCH_r01 lines. Those 38
    queries' code and inputs are frozen, so the median ratio measures the
    HOST, not the engine — a per-query line that looks 2-3x its r01
    value on a run whose host_factor is ~2 is host noise; the same line
    on a host_factor ~1 run is a real regression. Median (not mean): a
    genuine single-query regression must not move the calibration."""
    import statistics

    path = os.path.join(os.path.dirname(__file__) or ".", "BENCH_r01.json")
    try:
        with open(path) as f:
            r01 = json.load(f)["parsed"]["queries"]
    except (OSError, KeyError, TypeError, ValueError):
        return None
    ratios = [
        timings[q] / r01[q]
        for q in R01_BENCH_SET
        if q in timings and r01.get(q)
    ]
    return round(statistics.median(ratios), 3) if ratios else None


# The stream calibrator's PINNED reference (r14, ADVICE; made
# self-maintaining r15, VERDICT r14 item 4): ops whose code is frozen
# across rounds (all landed r11 or earlier, untouched since) measured
# against a committed CLEAN-lane artifact — the host_factor construction
# applied to the stream lane. The old form (median over ALL ops vs the
# NEWEST quiet artifact) could not tell a lane-wide harness regression
# from host noise: both moved every ratio and both got divided out.
# Baseline resolution (newest first): the most recent committed
# BENCH_QUIET_r*.json whose stream phase was CLEAN (stream_cal_warning
# null) and carries the cold attempt-1 map (r14+ format — cold-vs-cold
# comparability); pre-r14 artifacts qualify via their one-shot
# stream_queries map, which IS a cold map. A stalled artifact (warning
# in-band, like BENCH_QUIET_r14) is skipped instead of poisoning every
# later round's calibration — the r14 lesson.
STREAM_CAL_FALLBACK = "BENCH_QUIET_r13.json"


def _stream_cal_baseline() -> tuple[str | None, dict[str, float]]:
    """(artifact name, cold stream map) of the newest clean committed
    quiet artifact — see the resolution policy above."""
    import glob
    import re

    here = os.path.dirname(__file__) or "."
    arts = sorted(
        glob.glob(os.path.join(here, "BENCH_QUIET_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
        reverse=True,
    )
    for path in arts:
        try:
            with open(path) as f:
                art = json.load(f)
        except (OSError, ValueError):
            continue
        if art.get("stream_cal_warning"):
            continue  # stalled/suspect stream phase — never a baseline
        cold = art.get("stream_queries_cold") or (
            # pre-r14 artifacts recorded one shot per op == a cold map
            art.get("stream_queries") if "stream_queries_cold" not in art else None
        )
        if cold:
            return os.path.basename(path), cold
    return None, {}
STREAM_CAL_SET = frozenset(
    {
        "stream_event_summary", "stream_sliding_window", "stream_static_join",
        "stream_high_activity_users", "stream_session_window",
        "stream_sessionize", "stream_dedup_events", "stream_stream_join",
        "stream_watermark_canary", "stream_parquet_sink", "stream_cdc_apply",
        "stream_cms_topk", "stream_hll_registers",
    }
)


def stream_host_factor(
    stream_cold: dict[str, float],
) -> tuple[float | None, str | None]:
    """Lane-local host calibration for the streaming lane (r12 VERDICT
    item 5; construction hardened per r13 ADVICE): the median ratio of
    this run's COLD (first-replay) timings over the PINNED frozen-op
    subset vs their lines in the newest CLEAN committed quiet artifact
    (:func:`_stream_cal_baseline`). Cold-vs-cold because pre-r14
    artifacts recorded one replay per op while the r14+ lane line is
    best-of-2 — the calibrator must compare like with like. Frozen ops
    + a clean frozen baseline means the ratio measures the HOST;
    whether it also hides a lane-wide harness change is cross-checked
    against the headline host_factor downstream (``stream_cal_vs_host``
    + warning), since both measure the same host. Returns (factor,
    baseline artifact name) so the artifact documents what it was
    calibrated against."""
    import statistics

    baseline_name, base = _stream_cal_baseline()
    if not base:
        path = os.path.join(os.path.dirname(__file__) or ".", STREAM_CAL_FALLBACK)
        try:
            with open(path) as f:
                base = json.load(f).get("stream_queries") or {}
            baseline_name = STREAM_CAL_FALLBACK
        except (OSError, ValueError):
            return None, None
    ratios = [
        stream_cold[q] / base[q]
        for q in STREAM_CAL_SET
        if stream_cold.get(q) and base.get(q)
    ]
    return (round(statistics.median(ratios), 3) if ratios else None), baseline_name


def headline_queries() -> dict:
    """The benched subset of __spark_entry__.queries(): the reference views
    plus the heaviest relational + extended operators."""
    import __spark_entry__ as entry_mod

    all_q = entry_mod.queries()
    names = [
        "view1_client_transaction_counts",
        "view2_monthly_transaction_summary",
        "view3_high_transaction_accounts",
        "t3_dedup_keep_first",
        "q_pricing_summary",
        "q_revenue_filter",
        "q_top_customers",
        "q_window_running_total",
        "q_semi_anti_join",
        "q_outer_joins",
        "q_cube_sales",
        "q_asof_join",
        "q_sessionize",
        "q_range_join",
        "q_topk_per_group",
        "q_time_rollup",
        "q_udf_surface",
        "q_scalar_subquery",
        "q_window_functions",
        "q_grouping_sets",
        "q_ntile_deciles",
        "q_gaps_islands",
        "q_scd2_dim",
        "q_window_extras",
        "q_lateral_topn",
        "q_bucketed_join",
        "q_udtf_surface",
        "q_cdc_apply",
        "q_recursive_cte",
        "q_window_range_frame",
        "q_exact_median",
        "q_unpivot",
        "q_null_semantics",
        "pipeline_curate",
        "pipeline_curate_near",
        "pipeline_curate_clean",
        "pipeline_curate_all",
        "pipeline_curate_d4",
        "pagerank",
        "graph_communities",
        "q_zorder_layout",
        "q_zorder_probe",
        "q_reservoir_sample",
        "q_interval_overlap",
        "q_salted_join",
        "q_shipping_priority",
        "q_local_supplier_volume",
        # TPC-H shape completion (r9c)
        "q_min_cost_supplier",
        "q_order_priority_check",
        "q_nation_trade_volume",
        "q_market_share",
        "q_product_profit",
        "q_important_parts",
        "q_late_shipment_priority",
        "q_customer_order_distribution",
        "q_promo_revenue",
        "q_top_supplier",
        "q_supplier_part_counts",
        "q_small_quantity_revenue",
        "q_large_volume_customers",
        "q_disjunctive_filter",
        "q_part_promotion_suppliers",
        "q_waiting_suppliers",
        "q_idle_wealthy_customers",
        "q_incremental_agg",
        "q_sliding_window",
        "q_funnel",
        "q_retention_cohorts",
        "kmeans_lloyd",
        "kmeans_inertia",
        "graph_triangles",
        "graph_kcore",
        "q_table_profile",
        "q_orc_roundtrip",
        "q_jsonl_roundtrip",
        # event analytics + warehouse depth (r9c)
        "q_outlier_mad",
        "q_cusum_changepoint",
        "q_market_basket",
        "q_event_transitions",
        "q_time_travel",
        "q_snapshot_expire",
        "pipeline_curate_policy",
        "pipeline_curate_v2",
        "graph_neighbor_jaccard",
        "graph_bfs",
        "q_skew_profile",
        # r9 VERDICT item 6: the cheap batch tail, benched so EVERY
        # registered batch query has a bench line
        "t1_union_pages",
        "t4_numeric_coercion",
        "d2_completion_counts",
        "q_forward_fill",
        "q_table_profile_approx",
        "q_json_map_ops",
        "q_salted_agg",
        "q_rollup_sales",
        "q_approx_quantile",
        "q_histogram",
        "q_scalar_functions",
        "q_set_ops",
        "q_pivot_events",
    ]
    # extended ops register themselves under these prefixes as they land
    extended_prefixes = (
        "dedup_", "sim_", "text_", "mm_", "sketch_", "curate_", "bm25_",
        "cluster_", "dsir_", "contam_",
    )
    names += [n for n in all_q if n.startswith(extended_prefixes)]
    # EXCLUSION LIST (documented, not silent): the stream_* family is
    # excluded from the HEADLINE metric by construction — each executes
    # a bounded micro-batch replay with checkpoint/sink setup per call,
    # so a best-of-2 wall clock measures the replay harness, not a query
    # plan. Since r11 they are measured in their own lane instead
    # (bench_stream_queries: one cold replay per op in a fresh state
    # root, reported as the separate stream_queries/stream_total block).
    # Every non-stream registered query is benched in the headline
    # (asserted here so a future addition cannot silently drop out).
    missing = [
        n for n in all_q if n not in set(names) and not n.startswith("stream_")
    ]
    if missing:
        raise RuntimeError(f"unbenched non-stream queries: {missing}")
    return {n: all_q[n] for n in names if n in all_q}


def bench_stream_queries(spark) -> tuple[dict[str, float], dict[str, float]]:
    """The streaming latency lane (r10 VERDICT item 5; r13 item 5): wall
    seconds per stream query, BEST OF 2 REPLAYS — each attempt runs in
    its OWN fresh state root (all durable-artifact confs redirected), so
    every attempt actually processes its micro-batches; attempt 1
    absorbs the per-plan codegen/checkpoint cold start that inflated
    r13's one-shot lines 3-8x over isolated steady state
    (stream_phash_append 11.5 s one-shot vs 1.1 s settled — PERF.md),
    and the min measures the OPERATOR. Returns (best-of-2 map, cold
    attempt-1 map); the cold map feeds the pinned calibrator
    (cold-vs-cold against the r13 artifact) and is recorded for
    methodology continuity. Deliberately a SEPARATE metric from the
    headline (a replay harness measures setup + plan together); what
    this lane buys is round-over-round visibility: the harness is
    fixed, so a latency regression in the state-store path, the
    foreachBatch encode, or watermark handling moves these numbers."""
    import shutil
    import tempfile

    import __spark_entry__ as entry_mod
    from zylyty_data_engineer_challenge_spark.catalog import point_artifact_roots

    stream_q = {
        n: fn for n, fn in entry_mod.queries().items() if n.startswith("stream_")
    }
    root = tempfile.mkdtemp(prefix="zylyty_bench_stream_")
    best: dict[str, float] = {}
    cold: dict[str, float] = {}
    try:
        for name, fn in stream_q.items():
            for attempt in range(2):
                # every artifact root in a fresh dir, so each attempt
                # processes its micro-batches instead of reading old state
                sub = os.path.join(root, f"{name}_a{attempt}")
                point_artifact_roots(spark, sub)
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                took = round(time.perf_counter() - t0, 3)
                if attempt == 0:
                    cold[name] = took
                best[name] = min(best.get(name, float("inf")), took)
                shutil.rmtree(sub, ignore_errors=True)
            print(
                f"# {name}: {best[name]:.2f}s (stream lane, cold {cold[name]:.2f}s)",
                file=sys.stderr,
            )
    finally:
        point_artifact_roots(spark, None)
        shutil.rmtree(root, ignore_errors=True)
    return best, cold


def main() -> int:
    spark = get_spark("bench")
    queries = headline_queries()

    # Warmup: absorb JVM JIT / codegen / parquet footer reads once.
    from zylyty_data_engineer_challenge_spark.catalog import load_table

    load_table(spark, SF_DIR, "lineitem").count()
    load_table(spark, SF_DIR, "orders").count()

    # Best-of-2: the host shows intermittent multi-second stalls unrelated
    # to the engine; min-of-runs measures the plan, not the noise.
    timings: dict[str, float] = {}
    for name, fn in queries.items():
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.2f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # like-for-like comparison: the benched set grows every round, so the
    # headline total is NOT comparable across rounds; this field sums the
    # exact 38-query set BENCH_r01 measured (36.242 s total)
    r01_subset = round(
        sum(t for n, t in timings.items() if n in R01_BENCH_SET), 3
    )
    hf = host_factor(timings)

    # stream phase with stall auto-retry (r15, VERDICT r14 item 4): when
    # the calibrator cross-check fires — the signature of a host stall
    # window crossing the lane, as in the committed r14 artifact — re-run
    # the WHOLE stream phase (fresh state roots) up to twice instead of
    # committing a stalled lane; if the warning persists it stays
    # in-band, and stream_phase_attempts records the substitution.
    stream_attempts = 0
    for _ in range(3):
        stream_timings, stream_cold = bench_stream_queries(spark)
        stream_attempts += 1
        shf, shf_baseline = stream_host_factor(stream_cold)
        # cross-check (r13 ADVICE): both factors measure the same host,
        # so a material divergence means a lane-local NON-host change
        # (harness, session config) is being mistaken for host noise in
        # one lane — exactly what a lane-internal calibrator cannot see
        cal_vs_host = round(shf / hf, 3) if (shf and hf) else None
        # r15 measurement fix (documented in OPTIMIZATION_r15.md): the
        # warning is a STALL detector — it must fire only when the lane
        # runs SLOWER than the headline host factor predicts (the r14
        # incident's signature). The old two-sided check also fired when
        # the lane ran FASTER than the pinned baseline (e.g. the baseline
        # artifact was recorded on a 1.5x host, as BENCH_QUIET_r15's
        # pre-optimization predecessor was at hf 1.549), burning all
        # retry attempts on an improvement and marking an honest clean
        # artifact suspect — which also disqualified it as a future
        # calibration baseline. Fast-side divergence is still recorded
        # in-band (stream_cal_note) but is not a stall and does not
        # poison the artifact.
        cal_warning = (
            "stream calibrator diverges >1.5x above headline host_factor — "
            "suspect a lane stall or lane-wide harness/session slowdown"
            if cal_vs_host is not None and cal_vs_host > 1.5
            else None
        )
        cal_note = (
            "stream lane ran >1.5x FASTER than the calibration baseline "
            "predicts — baseline likely recorded on a slow host or the "
            "lane genuinely improved; not a stall"
            if cal_vs_host is not None and cal_vs_host < 1 / 1.5
            else None
        )
        if not cal_warning:
            # fast-side divergence is non-fatal but must be NOTICED, not
            # just recorded (r15 ADVICE): a lane running >1.5x faster than
            # the baseline predicts can also mean a short-circuited lane
            # (harness/session change), not only a slow baseline
            if cal_note:
                print(f"# STREAM CAL NOTE: {cal_note}", file=sys.stderr)
            break
        print(
            f"# stream phase attempt {stream_attempts} flagged by the "
            f"calibrator (cal_vs_host={cal_vs_host}) — retrying",
            file=sys.stderr,
        )
    stream_total = round(sum(stream_timings.values()), 3)
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "value_r01_subset": r01_subset,
        "n_r01_subset": sum(1 for n in timings if n in R01_BENCH_SET),
        # median ratio of the frozen r01-subset queries vs their r01
        # lines — the host-calibration number that separates host noise
        # from real per-query regressions (r11 VERDICT item 1)
        "host_factor": hf,
        "queries": timings,
        # the streaming latency lane (separate metric: best-of-2 replays,
        # each in a fresh state root — see bench_stream_queries)
        "stream_queries": stream_timings,
        "stream_total": stream_total,
        "n_stream_queries": len(stream_timings),
        # attempt-1 (cold) map: methodology-compatible with the pre-r14
        # one-shot lines, feeds the pinned calibrator
        "stream_queries_cold": stream_cold,
        # lane-local host calibration: PINNED frozen-op subset, cold
        # timings, vs the newest CLEAN committed quiet artifact (r15 —
        # stalled artifacts skipped; name recorded below) — bench_diff
        # applies it to the stream block the way host_factor settles
        # the headline
        "stream_host_factor": shf,
        "stream_cal_baseline": shf_baseline,
        "stream_cal_vs_host": cal_vs_host,
        "stream_cal_warning": cal_warning,
        # fast-side divergence (in-band, non-fatal — see the r15 note)
        "stream_cal_note": cal_note,
        # >1 means the calibrator cross-check fired and the phase was
        # re-run with fresh state roots (substitution is in-band)
        "stream_phase_attempts": stream_attempts,
        "sf": _sf_from_dir(SF_DIR),
        # cross-round caveat: r4/r5 hosts run this same best-of-2
        # harness ~1.4x slower than r3's on queries whose code and
        # inputs did not change (uniform inflation, idle system,
        # stable across repeated runs) — compare ratios within a
        # round, not absolute seconds across rounds
        "notes": "best-of-2 per query; wall time is host-dependent",
    }
    # the per-query map outgrew the driver's 2000-char stdout tail capture
    # (BENCH_r07 recorded parsed: null with the line's front cut off), so:
    # full fidelity goes to BENCH_LAST.json next to this script, and the
    # compact summary — slowest-10 queries only, everything else scalar —
    # is BOTH the FIRST and the LAST stdout line, so either end of a
    # truncated capture starts with a parseable summary (r8 VERDICT item
    # 8: BENCH_r08's tail opened mid-JSON on the full line)
    with open(os.path.join(os.path.dirname(__file__) or ".", "BENCH_LAST.json"), "w") as f:
        json.dump(full, f)
    # optional second artifact path (r11 VERDICT item 1): the builder's
    # closing quiet-host run passes BENCH_QUIET_r{N}.json here and commits
    # it, so per-query cross-round adjudication has a full-fidelity record
    # (the driver's BENCH_r{N}.json tail-truncates the per-query map)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            json.dump(full, f)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "value_r01_subset": r01_subset,
        "n_r01_subset": full["n_r01_subset"],
        "host_factor": hf,
        "n_queries": len(timings),
        "queries": slowest,
        "queries_truncated": True,
        "stream_total": stream_total,
        "n_stream_queries": len(stream_timings),
        "stream_host_factor": full["stream_host_factor"],
        "stream_cal_baseline": shf_baseline,
        "stream_cal_vs_host": cal_vs_host,
        "stream_cal_warning": cal_warning,
        "stream_cal_note": cal_note,
        "stream_phase_attempts": stream_attempts,
        "sf": full["sf"],
        "full_artifact": "BENCH_LAST.json",
    }
    print(json.dumps(compact))
    print(json.dumps(full))
    print(json.dumps(compact))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
