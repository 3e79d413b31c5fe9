"""Physical-plan regression tests — the scale story, pinned.

Correctness says what a query returns; these tests pin HOW: filters reach
the parquet scan, small sides broadcast, candidate joins are hash joins
(never nested loops), and narrow operators don't acquire surprise
shuffles. A regression here is invisible at test scale and fatal at 100 TB,
which is exactly why it's asserted in CI rather than eyeballed.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from zylyty_data_engineer_challenge_spark.catalog import artifact_dir
from zylyty_data_engineer_challenge_spark.operators import dedup, similarity
from zylyty_data_engineer_challenge_spark.queries import relational, views, warehouse

SF_DIR = "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def count_nodes(plan: str, node: str) -> int:
    return len(re.findall(rf"\b{node}\b", plan))


def test_revenue_filter_pushdown_and_pruning(spark):
    plan = formatted_plan(relational.q_revenue_filter(spark, SF_DIR))
    # all three scan-side predicates reach the parquet reader
    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert pushed, plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed.group(1), f"{col} not pushed: {pushed.group(1)}"
    # column pruning: the scan must not read l_orderkey/l_comment etc.
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert schema, plan
    read_cols = {c.split(":")[0] for c in schema.group(1).split(",") if c}
    assert read_cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_view2_broadcasts_dim_and_hash_joins_fact(spark):
    plan = physical_plan(views.monthly_transaction_summary_tpch(spark, SF_DIR))
    # every join is a hash equi-join (at test SF the optimizer may choose
    # to broadcast the orders side too — size-dependent and fine; what may
    # never appear is a nested-loop or cartesian node)
    assert count_nodes(plan, "BroadcastHashJoin") >= 1
    assert count_nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert count_nodes(plan, "CartesianProduct") == 0


def test_top_customers_prunes_orders_scan(spark):
    plan = formatted_plan(relational.q_top_customers(spark, SF_DIR))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    orders_reads = [s for s in schemas if "o_custkey" in s]
    assert orders_reads, plan
    for s in orders_reads:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols == {"o_custkey", "o_totalprice"}, cols


@pytest.mark.parametrize(
    "name,builder,max_bnlj",
    [
        # candidate generation must be hash equi-joins; the only sanctioned
        # nested-loop/cross nodes are constant-sized broadcast inputs:
        # sim_ann_lsh/_ivf cross the 16x64 hyperplane / 16-row centroid
        # table; ngram crosses the 1-row corpus count.
        # counts are upper bounds on the STATIC plan, where shared
        # subtrees print once per consumer (ReusedExchange dedupes them at
        # runtime): ngram's 1-row corpus-count cross appears under each of
        # the 4 shingle consumers.
        # simhash's sanctioned BNLJ: the 1-row corpus-count cross that
        # sizes the hot-bucket df-cap (same shape as ngram's) — printed
        # once per self-join side of the capped band table
        ("dedup_simhash", dedup.dedup_simhash, 2),
        ("dedup_minhash_lsh", dedup.dedup_minhash_lsh, 0),
        ("dedup_ngram_jaccard", dedup.dedup_ngram_jaccard, 4),
        # r12: sim_ann_lsh signatures moved to the Arrow/BLAS twin — the
        # hyperplane crossJoin left the plan entirely
        ("sim_ann_lsh", similarity.sim_ann_lsh, 0),
        ("sim_ann_ivf", similarity.sim_ann_ivf, 4),
    ],
)
def test_candidate_joins_are_hash_joins(spark, name, builder, max_bnlj):
    plan = physical_plan(builder(spark, SF_DIR))
    bnlj = count_nodes(plan, "BroadcastNestedLoopJoin")
    cart = count_nodes(plan, "CartesianProduct")
    assert cart == 0, f"{name}: cartesian product in plan"
    assert bnlj <= max_bnlj, f"{name}: {bnlj} nested-loop joins (max {max_bnlj})"
    # and at least one real hash join does the candidate matching
    assert (
        count_nodes(plan, "BroadcastHashJoin")
        + count_nodes(plan, "ShuffledHashJoin")
        + count_nodes(plan, "SortMergeJoin")
        > 0
    ), f"{name}: no hash join found"


def test_simhash_has_no_bit_explode(spark):
    # fingerprints come from 60 aggregate expressions, not a 60-way bit
    # explode: every Generate in the plan is the token split or the 4-way
    # band explode — never a sequence(0, 59)
    plan = physical_plan(dedup.dedup_simhash(spark, SF_DIR))
    assert "sequence(0" not in plan
    # two sanctioned Generates (tokens, bands), each printed once per
    # consumer of the capped band table in the static plan: the two
    # self-join sides plus the hot-bucket df subtree under each anti-join
    # (runtime dedupes them via ReusedExchange)
    assert count_nodes(plan, "Generate") <= 8, count_nodes(plan, "Generate")


def test_no_collect_in_query_modules():
    # driver-side collect() in an operator means it isn't distributed;
    # the only sanctioned collect is graph.py's per-round convergence
    # aggregate (a 1-row sum, documented)
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "zylyty_data_engineer_challenge_spark"
    offenders = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        for i, line in enumerate(src.splitlines(), 1):
            if ".collect()" in line and "graph.py" not in str(p):
                offenders.append(f"{p.name}:{i}")
    assert not offenders, offenders


def test_artifact_roots_resolve_only_in_catalog():
    # every durable-artifact directory comes from catalog.artifact_dir; a
    # tempdir default or a spark.zylyty.*Dir conf anywhere else is a
    # second copy of the root rule
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "zylyty_data_engineer_challenge_spark"
    rule = re.compile(r"tempfile\.gettempdir\(|spark\.zylyty\.[a-zA-Z]*Dir")
    offenders = [
        f"{p.relative_to(root)}:{i}"
        for p in root.rglob("*.py")
        if p != root / "catalog.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if rule.search(line)
    ]
    assert not offenders, offenders


def test_bucketed_join_has_no_join_side_exchange(spark):
    # the whole point of q_bucketed_join: both scans satisfy the join's
    # hash distribution, so no exchange on either join key may appear —
    # the only sanctioned exchange is the final tiny aggregation/sort
    df = warehouse.q_bucketed_join(spark, SF_DIR)
    fmt = formatted_plan(df)
    assert "Bucketed: true" in fmt, "bucketed scans not used"
    phys = physical_plan(df)
    assert "hashpartitioning(o_orderkey" not in phys
    assert "hashpartitioning(l_orderkey" not in phys
    assert count_nodes(phys, "SortMergeJoin") == 1


# Sanctioned BroadcastNestedLoopJoin counts for the WHOLE registered batch
# surface: only constant-sized broadcast inputs may nested-loop (hyperplane /
# centroid tables, 1-row corpus counts or merged-kth rows). Counts are static-
# plan upper bounds (shared subtrees print once per consumer). Everything not
# listed must have zero. Streaming queries execute on build and are excluded
# (their joins are covered by the oracle + their own modules' tests).
GLOBAL_BNLJ_ALLOWANCE = {
    "dedup_ngram_jaccard": 4,  # 1-row corpus count under 4 shingle consumers
    "dedup_containment": 4,  # same unfiltered kernel, same 4 corpus-count crosses
    "sim_topk_bruteforce": 1,  # 8-row query set broadcast
    "sim_ann_lsh": 0,  # r12: BLAS signature twin — no hyperplane cross left
    "dedup_embedding_lsh": 2,  # same 16x64 hyperplane table build
    "dedup_embedding_recall": 5,  # hyperplane build (x2 static prints) + 1-row count cross
    "sim_ann_ivf": 4,  # 16-row centroid table
    "sketch_kmv_union": 1,  # 1-row merged-kth crossJoin
    "sketch_bloom_join": 3,  # crossJoins of four 1-row summary aggregates
    "sim_ann_recall": 1,  # inherits bruteforce (1); ann_lsh constants gone (r12)
    "sim_ann_ivf_recall": 5,  # inherits bruteforce (1) + ann_ivf (4) constants
    "sim_ann_pq_recall": 1,  # inherits bruteforce (1); PQ itself has none
    "sketch_cms_topk": 2,  # 3-row hash-row table crossed twice (build+probe)
    "q_salted_join": 1,  # 8-row salt-shard table crossed into the dimension
    "dedup_lsh_recall": 5,  # ngram's 4 corpus-count crosses + 1-row lsh-count cross
    "dedup_lsh_recall_sampled": 5,  # same shape, anchor-filtered exact side
    "kmeans_lloyd": 1,  # K x 64-int centroid table broadcast (the design)
    "kmeans_inertia": 1,  # same centroid cross in the last (unckpted) round
    "text_tfidf": 1,  # 1-row corpus-count cross
    "sketch_theta_intersect": 3,  # crossJoins of three 1-row summary aggs
    "sim_ann_ivf_kmeans": 2,  # trained centroid table under assign + probe
    "sim_ann_ivf_kmeans_recall": 3,  # inherits bruteforce (1) + ivf_kmeans (2)
    "sketch_weighted_sample_est": 2,  # 1-row tau + 1-row exact-total crosses
    "sim_ann_ivfpq": 2,  # trained centroid table under assign + probe
    "sim_ann_ivfpq_recall": 3,  # inherits bruteforce (1) + ivfpq (2)
    "text_bm25": 1,  # 1-row (n_docs, total_tokens) stats cross
    "text_lm_score": 1,  # 1-row context-vocab-size (V) smoothing cross
    "text_lm_append": 1,  # same V cross over the merged stored model
    "text_lm_compact": 1,  # same V cross over the compacted model
    "text_lm_forget": 1,  # same V cross over the unlearned merged model
    # r15 optimization: the profile's six per-column COUNT(DISTINCT)
    # one-row results attach to the one-row base pass by scalar crosses —
    # the restructure that removed the Expand + 7-key global SORT of the
    # expanded table (OPTIMIZATION_r15.md §2); all sides are single rows
    "q_table_profile": 6,
    "sim_index_delete": 2,  # the stored-probe plan (centroids + DPP echo)
    "sim_hybrid_rrf": 2,  # inherits bruteforce (1) + bm25 stats (1)
    "dedup_embedding_recall_sampled": 1,  # 1-row lsh-count cross in the gate
    "dedup_semantic_recall_sampled": 1,  # same 1-row caught-count cross
    "dedup_edit_recall_sampled": 1,  # 1-row blocked-count cross in the gate
    # trained centroid broadcast under probe assignment; the DPP subquery
    # repeats the probes subtree in the plan text, so it counts twice
    "sim_index_probe": 2,
    # the 3-row est fan-out for the distributed rank-count yardstick (the
    # 1-row n_sample/n_total crosses hide behind the ests checkpoint)
    "sketch_quantile_sample": 1,
    "sketch_quantile_err": 1,  # inherits sketch_quantile_sample's fan-out
    "sim_index_append": 2,  # stored centroid table under probe + DPP echo
    "sim_index_compact": 2,  # same probe plan over the compacted table
    "sim_filtered_ann": 2,  # trained centroid table under assign + probe
    # 1-row corpus-count cross sizing the hot-bucket cap, once per
    # self-join side of the capped band table
    "dedup_simhash": 2,
    "sim_ann_rerank": 2,  # inherits sim_ann_ivfpq's trained-centroid crosses
    "sim_ann_rerank_recall": 3,  # rerank (2) + bruteforce ground truth (1)
    "sim_eval_mrr": 4,  # inherits ivfpq (2) + rerank (2) trained-centroid crosses
    # inherits the capped detector (2, twice: joined + count consumer)
    # plus the gate's own 1-row capped-count cross
    "dedup_simhash_recall_sampled": 5,
    # TPC-H scalar subqueries (r9c): each is ONE single-row aggregate
    # crossed back in — Q11's regional total, Q15's max revenue, Q22's
    # positive-balance average components
    "q_important_parts": 1,
    "q_top_supplier": 1,
    "q_idle_wealthy_customers": 1,
    # r10-late batch: constant-table crosses only —
    # text_repetition crosses the 2-row gram-width table into the doc grid
    "text_repetition": 1,
    # mixture plan: 1-row total-mass + 1-row deficit crosses; the deficit
    # aggregate's subtree re-prints the total cross, so it counts twice
    "curate_mixture_plan": 3,
    # ccnet buckets inherit text_lm_score's 1-row V smoothing cross
    "curate_ccnet_buckets": 1,
    # full BPE training: one 1-row merge-argmax cross per unrolled round,
    # with earlier rounds' crosses re-printed under later rounds' subtrees
    "text_bpe_train": 4,
    # r14: apply serves the vocabulary from the persisted bpe-vocab
    # store — the trainer's merge-argmax crosses left the plan entirely
    "text_bpe_apply": 0,
    # the NPROBE sweep: trained-centroid broadcast under assign + probe
    # (ivfpq's 2), the 4-row sweep-values cross, the bruteforce ground
    # truth's query-set broadcast (1), with centroid crosses re-printed
    # under the hits/ncand join subtrees
    "sim_ann_param_sweep": 7,
    # event-analytics (r9c): 1-row totals crossed into the day/pair table
    "q_cusum_changepoint": 1,
    "q_market_basket": 1,
    # JL projection (r9c): the constant 16x64 plane-matrix build is a
    # range(16) x range(64) cross — same class as the LSH hyperplane table
    "sim_random_projection": 1,
    # plane build under both distance sides + the E[w^2] one-row cross
    "sim_rp_distortion": 3,
    # time travel (r9c): the constant 3-row version table broadcast under
    # the non-equi (ts < cut) feed join and the base-side cross
    "q_time_travel": 2,
    # vocab Jaccard (r9c): the |sources|-row size table crossed into the
    # pair grid (sa < sb) — printed under the pair builder and both
    # signature-join consumers
    "sketch_vocab_jaccard": 3,
    # epoch shuffle (r9c): the constant N_EPOCHS-row table crossed into
    # the sequence manifest
    "curate_epoch_shuffle": 1,
    # lexical index (r11): the 1-row corpus-stats cross of _bm25_rank
    # (same class as text_bm25's), plus build's 1-row doclens summary
    "bm25_index_build": 1,
    "bm25_index_probe": 1,
    "bm25_index_append": 1,
    "bm25_index_compact": 1,
    "bm25_index_forget": 1,
    # hybrid probe (r11): the stats cross re-printed under the lexical
    # list + the ANN probe's LUT/centroid broadcast subtrees
    "sim_hybrid_probe": 3,
    # batched hybrid (r12): same constants — the batch shares ONE stats
    # cross and the ANN probe subtrees; batch size adds no BNLJ
    "sim_hybrid_probe_batch": 3,
    # DSIR (r12): the 1-row w_max cross under the Bernoulli keep rule
    "curate_dsir_sample": 1,
    # DSIR shift gate (r12): two distance rows x (1-row mass crosses for
    # P_T and Q_T) + the sample's w_max cross under the resampled
    # branch's kept-set subtree — all 1-row broadcast aggregates
    "curate_dsir_shift": 6,
    # MRL probe (r12): the 8-row truncated-query broadcast of the
    # prefix-scan stage (the bruteforce shape on a 4x-narrower vector)
    "sim_mrl_probe": 1,
    "sim_mrl_recall": 2,  # inherits bruteforce (1) + probe (1)
    # r13 — pipeline_curate_v2 nests the DSIR sampler, inheriting its
    # 1-row w_max cross (the curate_dsir_sample sanction above)
    "pipeline_curate_v2": 1,
    # pruned MRL probe (r13): the K x 64-int trained-centroid table
    # crossed under the query probe assignment + the 8-row
    # truncated-query broadcast (the sim_ann_ivf_kmeans shape)
    "sim_mrl_probe_pruned": 2,
    "sim_mrl_pruned_recall": 3,  # inherits bruteforce (1) + pruned probe (2)
    # r14 — scaled packing: the 1-row ceil(n_docs/PACK_SCALE_DOCS) bucket
    # count crossed into the corpus (the w_max discipline), re-printed
    # under the certificate aggregate's subtree
    "curate_pack_scaled": 2,
    # r14 — BPE-budget packing: the scaled-bucket 1-row count cross,
    # re-printed under the certificate aggregate's subtree (the trainer
    # crosses are gone — the vocab serves from the persisted store)
    "curate_pack_bpe": 2,
}


def test_global_plan_audit_no_unsanctioned_nested_loops(spark):
    import __spark_entry__ as entry_mod

    offenders = []
    for name, fn in entry_mod.queries().items():
        if name.startswith("stream_"):
            continue
        plan = physical_plan(fn(spark, SF_DIR))
        cart = count_nodes(plan, "CartesianProduct")
        bnlj = count_nodes(plan, "BroadcastNestedLoopJoin")
        if cart > 0:
            offenders.append(f"{name}: {cart} cartesian")
        if bnlj > GLOBAL_BNLJ_ALLOWANCE.get(name, 0):
            offenders.append(f"{name}: {bnlj} nested-loop (allowed {GLOBAL_BNLJ_ALLOWANCE.get(name, 0)})")
    assert not offenders, offenders


def test_quality_classifier_is_map_only(spark):
    """text_quality_classifier (r9c): the model is a pure expression —
    scoring must be map-only codegen work at scan speed. The only
    exchange allowed in the plan is the output sort's range partitioning;
    no hash-partition shuffle, no join, no Python worker."""
    from zylyty_data_engineer_challenge_spark.operators import text

    plan = physical_plan(text.text_quality_classifier(spark, SF_DIR))
    assert count_nodes(plan, "hashpartitioning") == 0, plan
    assert "Join" not in plan, plan
    assert count_nodes(plan, "BatchEvalPython") == 0, plan
    assert count_nodes(plan, "ArrowEvalPython") == 0, plan


def test_fuzzy_names_pattern_join_is_shuffled_not_broadcast(spark):
    """r5 regression pin: Catalyst costs the pattern self-join from the
    tiny pre-explode parquet size and would broadcast the exploded variant
    side — a single-threaded hashed-relation build that grows linearly
    with the customer table (scale-fatal). The shuffle_hash hint must keep
    winning: the pattern join distributes on pat with NO broadcast."""
    from zylyty_data_engineer_challenge_spark.queries import analytics

    plan = physical_plan(analytics.dedup_fuzzy_names(spark, SF_DIR))
    assert count_nodes(plan, "ShuffledHashJoin") >= 1, plan
    assert count_nodes(plan, "BroadcastHashJoin") == 0, plan


def test_minhash_signatures_hash_once_per_group(spark):
    """r5 regression pin, r16 form: each shingle row must compute exactly
    MINHASH_DIGESTS (= 1 since the r16 double-hashing family) md5
    digest(s), not one md5 per hash function — the digest is projected
    BEFORE the (ha, hb) derivation and the aggregate, so Catalyst cannot
    re-derive it inside every MIN (CollapseProject keeps the two selects
    apart because the digest alias is referenced twice)."""
    from zylyty_data_engineer_challenge_spark.catalog import load_table

    sig = dedup._minhash_signatures(
        dedup._shingles(load_table(spark, SF_DIR, "documents"))
    )
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == dedup.MINHASH_DIGESTS, plan


def test_pagerank_rank_broadcast_is_a_conf_switch(spark):
    """r6 VERDICT scale caveat: per-round F.broadcast(ranks) must be
    droppable without a code edit. With the conf off (and auto-broadcast
    disabled so Catalyst can't reinstate it), every rank join becomes a
    shuffle join; with the default, the hint wins."""
    from zylyty_data_engineer_challenge_spark.operators.graph import pagerank

    default_plan = physical_plan(pagerank(spark, SF_DIR))
    assert count_nodes(default_plan, "BroadcastHashJoin") >= 1

    spark.conf.set("spark.zylyty.pagerank.broadcastRanks", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = physical_plan(pagerank(spark, SF_DIR))
        assert count_nodes(plan, "BroadcastHashJoin") == 0, plan
        assert (
            count_nodes(plan, "SortMergeJoin") + count_nodes(plan, "ShuffledHashJoin")
            >= 1
        )
    finally:
        spark.conf.unset("spark.zylyty.pagerank.broadcastRanks")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_incremental_agg_partition_predicates_reach_scan(spark):
    """q_incremental_agg's whole premise is that base/delta partials come
    from partition-pruned scans — both cutoff predicates must land in
    PushedFilters, not post-scan Filters."""
    from zylyty_data_engineer_challenge_spark.queries import warehouse as wh

    plan = formatted_plan(wh.q_incremental_agg(spark, SF_DIR))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in p and "GreaterThanOrEqual" in p for p in pushed), plan
    assert any("l_shipdate" in p and "LessThan" in p for p in pushed), plan


def test_weighted_sample_is_distributed_topk(spark):
    """The priority sample must compile to TakeOrderedAndProject —
    per-partition partial top-k, k-row merge — never a global sort of the
    corpus followed by a limit."""
    from zylyty_data_engineer_challenge_spark.operators import sketches

    plan = physical_plan(sketches.sketch_weighted_sample(spark, SF_DIR))
    assert count_nodes(plan, "TakeOrderedAndProject") >= 1, plan


def test_edit_distance_is_dictionary_first(spark):
    """Pair volume must be vocabulary-sized: the p_name aggregate has to
    sit BELOW the self-join (dictionary-first), and the block join must be
    a hash equi-join."""
    plan = physical_plan(dedup.dedup_edit_distance(spark, SF_DIR))
    joins = count_nodes(plan, "BroadcastHashJoin") + count_nodes(
        plan, "ShuffledHashJoin"
    ) + count_nodes(plan, "SortMergeJoin")
    assert joins >= 1, plan
    # the join's inputs are aggregates (dictionary), not raw scans: the
    # plan string lists HashAggregate nodes before the join operator line
    first_join = min(
        i for i, ln in enumerate(plan.splitlines()) if "HashJoin" in ln or "SortMergeJoin" in ln
    )
    aggs_above = sum(
        1 for ln in plan.splitlines()[first_join:] if "HashAggregate" in ln
    )
    assert aggs_above >= 2, plan  # both join sides built from the dictionary agg


def test_index_probe_scan_is_dynamically_pruned(spark, artifact_roots):
    """The persisted-index probe must read ONLY the probed lists: the
    codes scan (partitioned by cid) carries a dynamic partition pruning
    expression fed by the tiny probes side — the inverted-file seek,
    expressed as partition pruning. Without it the probe degenerates to a
    full-index scan and the persistence buys nothing at scale."""
    plan = formatted_plan(similarity.sim_index_probe(spark, SF_DIR))
    pf = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "cid" in line
    ]
    assert pf, f"codes scan lost its cid partition filter:\n{plan}"
    assert any("dynamicpruning" in line for line in pf), (
        f"cid filter is not dynamic pruning:\n{pf}"
    )


def test_index_probe_matches_in_memory_ivfpq(spark, artifact_roots):
    """Persisted round-trip exactness: probing the on-disk index returns
    byte-identical rows to the in-memory IVFADC build (same oracle by
    construction; asserted directly here so a parquet type drift can't
    hide behind the shared oracle)."""
    got = similarity.sim_index_probe(spark, SF_DIR).collect()
    want = similarity.sim_ann_ivfpq(spark, SF_DIR).collect()
    assert got == want


def test_index_rerank_matches_in_memory_rerank(spark, artifact_roots):
    """The store-served two-stage path (what sim_eval_mrr scores) must be
    byte-identical to the in-memory rerank: every stored artifact is
    integer-exact, so the PQ shortlist — and the exact rerank over it —
    cannot drift. This is the pin that lets sim_eval_mrr keep
    sim_ann_rerank's oracle while reading the persisted index."""
    got = similarity.sim_index_rerank(spark, SF_DIR).collect()
    want = similarity.sim_ann_rerank(spark, SF_DIR).collect()
    assert got == want


@pytest.mark.parametrize(
    "fn", [similarity.sim_eval_mrr, similarity.sim_ann_param_sweep]
)
def test_eval_queries_serve_from_pruned_stored_codes(spark, fn, artifact_roots):
    """The eval canaries (MRR, NPROBE sweep) must read the PERSISTED
    cid-partitioned code table with dynamic partition pruning — never
    rebuild the index in-plan (r10 VERDICT item 2: an eval that re-encodes
    the corpus per run is a rebuild, not a canary)."""
    plan = formatted_plan(fn(spark, SF_DIR))
    pf = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "cid" in line
    ]
    assert pf, f"codes scan lost its cid partition filter:\n{plan}"
    assert any("dynamicpruning" in line for line in pf), (
        f"cid filter is not dynamic pruning:\n{pf}"
    )


def test_hybrid_probe_prunes_both_index_scans(spark, artifact_roots):
    """sim_hybrid_probe must inherit BOTH stores' seek properties in one
    plan: the ANN codes scan dynamically partition-pruned on cid AND the
    postings scan statically pruned on the probed tb buckets — a hybrid
    query that full-scans either index forfeits the persistence."""
    from zylyty_data_engineer_challenge_spark.operators import lexical

    plan = formatted_plan(lexical.sim_hybrid_probe(spark, SF_DIR))
    cid = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "cid" in line
    ]
    assert cid and any("dynamicpruning" in line for line in cid), plan
    # the postings side: tb is the partition column, so the probed bucket
    # literals appear as a static PartitionFilters IN-list
    assert any(
        "PartitionFilters" in line and re.search(r"tb#\d+ IN \(", line)
        for line in plan.splitlines()
    ), plan


def test_filtered_ann_serves_from_pruned_store_with_pushed_metadata(
    spark, artifact_roots
):
    """sim_filtered_ann store-serving pin (r12, VERDICT r11 item 4): the
    candidate set must come from the PERSISTED code table — the codes
    scan dynamically partition-pruned to the probed cid lists with the
    per-vector row selected by a pushed m=0 filter — and the metadata
    predicate must reach the documents scan as a pushed lang filter.
    A plan that re-encodes the corpus in-plan has no pruned codes scan;
    a post-filter plan has no documents scan below the ranking window."""
    plan = formatted_plan(similarity.sim_filtered_ann(spark, SF_DIR))
    cid = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "cid" in line
    ]
    assert cid, f"codes scan lost its cid partition filter:\n{plan}"
    assert any("dynamicpruning" in line for line in cid), cid
    # assignment row selected inside the parquet reader, not post-scan
    assert any(
        "PushedFilters" in line and re.search(r"EqualTo\(m,0\)", line)
        for line in plan.splitlines()
    ), plan
    # metadata predicate pushed to the documents scan (pre-filter shape)
    assert any(
        "PushedFilters" in line and "lang" in line and "en" in line
        for line in plan.splitlines()
    ), plan


def test_filtered_ann_matches_r11_in_plan_candidates(spark, artifact_roots):
    """Hash-unchanged contract of the store-served refactor: the stored
    (vec_id, cid) assignment was written with the same Lloyd centroids
    and nearest-list rule the old in-plan candidate generation used, so
    the served rows must be byte-identical to recomputing the trained-IVF
    candidate set in-plan (the r11 shape, reproduced here inline)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from zylyty_data_engineer_challenge_spark.operators.cluster import (
        lloyd_centroids,
    )
    from zylyty_data_engineer_challenge_spark.operators.similarity import (
        ANN_TOP_K,
        FILTER_LANG,
        N_QUERIES,
        _ivf_kmeans_candidates,
        _quantized,
        _rank_key,
    )

    got = similarity.sim_filtered_ann(spark, SF_DIR).collect()

    emb = _quantized(spark, SF_DIR)
    cents = lloyd_centroids(spark, SF_DIR)
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
    )
    allowed = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("lang") == FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    cand = (
        _ivf_kmeans_candidates(cents, corpus, queries)
        .join(allowed, "vec_id")
        .join(corpus.select("vec_id", "q", F.col("n").alias("n2")), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.expr(
                "aggregate(zip_with(qv, q, (x, y) -> x * y), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("dot"),
            "n2",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        _rank_key().desc(), F.col("vec_id").asc()
    )
    want = (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= ANN_TOP_K)
        .select("query_id", "rank", "vec_id", "dot", "n2")
        .orderBy("query_id", "rank")
        .collect()
    )
    assert got == want


def test_zorder_probe_skips_files_and_pushes_zrange(spark, artifact_roots):
    """The data-skipping contract of q_zorder_probe (r11): the clustered
    store's files own DISJOINT zval ranges (range-partition + sort), the
    probe's Morton interval intersects only a small minority of them
    (measured directly from the parquet footers — the same min/max stats
    the reader prunes with), and the zval bounds reach the parquet scan
    as PushedFilters. Together: the box query reads ~1 file of 16."""
    import glob
    import os

    import pyarrow.parquet as pq

    from zylyty_data_engineer_challenge_spark.queries import warehouse as wh

    df = wh.q_zorder_probe(spark, SF_DIR)
    plan = formatted_plan(df)
    base = artifact_dir(spark, "formatDir", [f"{SF_DIR}/orders.parquet"], "zorder")
    base = base.replace("file:", "") + "/orders_zorder"

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("zval" in p for p in pushed), plan

    files = sorted(glob.glob(os.path.join(base, "data", "*.parquet")))
    assert len(files) >= wh.ZORDER_FILES // 2  # range partitioning landed
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        zi = next(
            i
            for i in range(len(md.schema))
            if md.schema.column(i).name == "zval"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(zi).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    # disjoint file ranges (sorted layout) — allow equal boundary values
    for (lo1, hi1), (lo2, hi2) in zip(sorted(ranges), sorted(ranges)[1:]):
        assert hi1 <= lo2, (ranges,)
    z_lo = wh._morton_py(wh.ZPROBE_CUST[0], wh.ZPROBE_DAY[0])
    z_hi = wh._morton_py(wh.ZPROBE_CUST[1], wh.ZPROBE_DAY[1])
    touched = sum(1 for lo, hi in ranges if hi >= z_lo and lo <= z_hi)
    assert touched <= max(2, len(files) // 4), (touched, len(files))


def test_top_ngrams_is_single_shuffle_topk(spark):
    """text_top_ngrams' contract (r10 VERDICT item 7 follow-up): partial
    hash agg -> ONE exchange -> final agg -> TakeOrderedAndProject. The
    r10 bench moved 0.19->0.57 s on this query; the code is byte-equal to
    r01's and this pin proves the plan still is — so the move is host
    variance, and any future real shape regression (second shuffle, lost
    distributed top-k) fails here instead of hiding in the noise band."""
    from zylyty_data_engineer_challenge_spark.operators import text

    plan = physical_plan(text.text_top_ngrams(spark, SF_DIR))
    assert count_nodes(plan, "TakeOrderedAndProject") == 1, plan
    assert count_nodes(plan, "Exchange") == 1, plan
    assert count_nodes(plan, "HashAggregate") == 2, plan


def test_filtered_ann_pushes_metadata_predicate(spark):
    """sim_filtered_ann's lang predicate must reach the documents parquet
    scan (pre-filter at the source, not a post-scan Filter), and the
    candidate/metadata joins must be hash joins."""
    plan = formatted_plan(similarity.sim_filtered_ann(spark, SF_DIR))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("lang" in p for p in pushed), plan
    phys = physical_plan(similarity.sim_filtered_ann(spark, SF_DIR))
    assert count_nodes(phys, "CartesianProduct") == 0


def test_orc_roundtrip_pushes_filter_into_orc_scan(spark, artifact_roots):
    """The format migration must not cost the pushdown: the l_quantity
    predicate reaches the ORC reader's PushedFilters just as it would a
    parquet scan."""
    plan = formatted_plan(warehouse.q_orc_roundtrip(spark, SF_DIR))
    assert "Scan orc" in plan, f"no ORC scan in plan:\n{plan}"
    # the only scan in this plan is the ORC one, so any PushedFilters
    # carrying the predicate belongs to it
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_quantity" in p for p in pushed), plan


def test_outlier_mad_broadcast_stats_and_pruned_scan(spark):
    # the two per-type stat tables broadcast back onto the fact (never a
    # sort-merge on event_type), and the events scan reads only the two
    # columns the query touches
    from zylyty_data_engineer_challenge_spark.queries import timeseries

    df = timeseries.q_outlier_mad(spark, SF_DIR)
    phys = physical_plan(df)
    assert count_nodes(phys, "BroadcastHashJoin") >= 2, phys
    assert count_nodes(phys, "SortMergeJoin") == 0
    fmt = formatted_plan(df)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", fmt)
    assert schemas and all(
        set(s.split(",")) <= {"event_type:string", "value:double"}
        for s in schemas
    ), schemas


def test_market_basket_hash_join_and_broadcast_marginals(spark):
    # the distinct-projection self-join is a hash join on user_id; the
    # tiny marginal and total tables broadcast
    from zylyty_data_engineer_challenge_spark.queries import timeseries

    phys = physical_plan(timeseries.q_market_basket(spark, SF_DIR))
    assert (
        count_nodes(phys, "BroadcastHashJoin")
        + count_nodes(phys, "ShuffledHashJoin")
        + count_nodes(phys, "SortMergeJoin")
    ) >= 3, phys
    assert count_nodes(phys, "BroadcastHashJoin") >= 2, phys


def test_skew_profile_scans_prune_to_key_column(spark):
    # each watched table is scanned exactly once, reading only its key
    from zylyty_data_engineer_challenge_spark.queries import warehouse as wh

    fmt = formatted_plan(wh.q_skew_profile(spark, SF_DIR))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", fmt)
    assert len(schemas) == len(wh.SKEW_KEYS), schemas
    keys = {k for _, k in wh.SKEW_KEYS}
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert len(cols) == 1 and cols <= keys, schemas
