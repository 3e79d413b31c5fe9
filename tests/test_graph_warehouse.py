"""Unit tests for the graph (connected components) and warehouse (SCD2)
operators — semantics pinned on tiny hand-built frames, independent of the
oracle gate."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from zylyty_data_engineer_challenge_spark.operators.graph import connected_components
from zylyty_data_engineer_challenge_spark.queries.warehouse import q_scd2_dim

SF_DIR = "/root/testdata/sf0.001"


def _deep_chain(n=25, seed=7):
    # an n-node path with shuffled ids, random edge orientation and its
    # minimum id at one end: min-label propagation needs n rounds, more
    # than any fixed cap of 20 would allow
    rng = random.Random(seed)
    ids = rng.sample(range(1, 1000), n)
    low = ids.index(min(ids))
    ids[0], ids[low] = ids[low], ids[0]
    edges = [(a, b) if rng.random() < 0.5 else (b, a) for a, b in zip(ids, ids[1:])]
    return ids, edges, {i: ids[0] for i in ids}


@pytest.mark.parametrize(
    "nodes, edges, expected",
    [
        # transitivity labels 3 with 1; the isolated 10 keeps its own id
        pytest.param(
            [1, 2, 3, 10], [(1, 2), (2, 3)], {1: 1, 2: 1, 3: 1, 10: 10},
            id="chain_and_singleton",
        ),
        # two chains joined by one bridge edge collapse to one component
        pytest.param(
            [1, 2, 3, 4, 5, 6],
            [(1, 2), (2, 3), (4, 5), (5, 6), (3, 4)],
            {n: 1 for n in range(1, 7)},
            id="bridge",
        ),
        # the min flows against the edge orientation too
        pytest.param([5, 9], [(9, 5)], {5: 5, 9: 5}, id="direction"),
        # 99 is not a node: its edges join nothing and it gets no label
        pytest.param(
            [1, 2], [(1, 99), (99, 2)], {1: 1, 2: 2}, id="ghost_endpoint"
        ),
        pytest.param(
            [3, 5, 8], [(3, 3), (8, 5)], {3: 3, 5: 5, 8: 5}, id="self_loop"
        ),
        pytest.param(
            [1, 2, 3],
            [(2, 3), (2, 3), (3, 2), (1, 2)],
            {1: 1, 2: 1, 3: 1},
            id="duplicate_edge",
        ),
        pytest.param(*_deep_chain(), id="deep_chain"),
    ],
)
def test_cc_labels(spark, nodes, edges, expected):
    got = connected_components(
        spark.createDataFrame([(n,) for n in nodes], ["node"]),
        spark.createDataFrame(edges, "src long, dst long"),
    ).collect()
    assert {r["node"]: r["component"] for r in got} == expected


def test_scd2_versions_are_contiguous(spark):
    out = q_scd2_dim(spark, SF_DIR)
    # valid_to of version v equals valid_from of version v+1 per customer
    a = out.alias("a")
    b = out.alias("b")
    mismatched = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.version") + 1 == F.col("b.version")),
        )
        .filter(F.col("a.valid_to") != F.col("b.valid_from"))
        .count()
    )
    assert mismatched == 0
    # exactly one current row per customer, and it's the last version
    per_cust = out.groupBy("o_custkey").agg(
        F.sum("is_current").alias("n_current"),
        F.max("version").alias("max_v"),
        F.max(F.when(F.col("is_current") == 1, F.col("version"))).alias("cur_v"),
    )
    bad = per_cust.filter(
        (F.col("n_current") != 1) | (F.col("cur_v") != F.col("max_v"))
    ).count()
    assert bad == 0


def test_scd2_collapses_consecutive_repeats(spark):
    out = q_scd2_dim(spark, SF_DIR)
    # no two consecutive versions carry the same attribute value
    a = out.alias("a")
    b = out.alias("b")
    repeats = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.version") + 1 == F.col("b.version")),
        )
        .filter(F.col("a.attr") == F.col("b.attr"))
        .count()
    )
    assert repeats == 0


def test_hll_estimate_within_sketch_error(spark):
    from zylyty_data_engineer_challenge_spark.operators.sketches import (
        HLL_BUCKETS,
        hll_estimate,
        sketch_hll_registers,
    )

    regs = sketch_hll_registers(spark, SF_DIR).collect()
    exact = {
        r["l_returnflag"]: r["exact"]
        for r in spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("exact"))
        .collect()
    }
    by_group: dict[str, list] = {}
    for r in regs:
        by_group.setdefault(r["l_returnflag"], []).append(r)
    assert set(by_group) == set(exact)
    for flag, rows in by_group.items():
        est = hll_estimate(rows)
        # standard error of HLL is ~1.04/sqrt(m) ≈ 13% at m=64; allow 3σ
        assert abs(est - exact[flag]) / exact[flag] < 3 * 1.04 / HLL_BUCKETS**0.5


def test_table_profile_approx_tracks_exact_distincts(spark):
    """Read-time contract of q_table_profile_approx: the raw integer
    estimate is within HLL error for saturated (high-cardinality) columns,
    and linear counting over the register table recovers low-cardinality
    columns — the float correction deliberately left out of the
    cross-engine oracle."""
    import math

    from zylyty_data_engineer_challenge_spark.operators.sketches import HLL_BUCKETS
    from zylyty_data_engineer_challenge_spark.queries.warehouse import (
        q_table_profile,
        q_table_profile_approx,
    )

    exact = {r["col"]: r["n_distinct"] for r in q_table_profile(spark, SF_DIR).collect()}
    approx = {r["col"]: r for r in q_table_profile_approx(spark, SF_DIR).collect()}
    assert set(exact) == set(approx)
    m = HLL_BUCKETS
    for col, nd in exact.items():
        row = approx[col]
        empty = m - row["n_filled_buckets"]
        if row["nd_estimate"] <= 5 * m // 2 and empty > 0:
            # small-range regime: linear counting m*ln(m/V)
            est = m * math.log(m / empty)
        else:
            est = row["nd_estimate"]
        assert abs(est - nd) <= max(3 * 1.04 / m**0.5 * nd, 2), (
            f"{col}: est {est} vs exact {nd}"
        )


def test_cdc_apply_actions_partition_keyspace(spark):
    from zylyty_data_engineer_challenge_spark.queries.warehouse import q_cdc_apply

    out = q_cdc_apply(spark, SF_DIR).collect()
    # keys are unique (it's a keyed MERGE result)
    keys = [r["key"] for r in out]
    assert len(keys) == len(set(keys))
    by_action = {}
    for r in out:
        by_action.setdefault(r["action"], []).append(r)
    # kept rows never carry a change id; update/insert always do
    assert all(r["last_event_id"] is None for r in by_action.get("keep", []))
    assert all(r["last_event_id"] is not None for r in by_action.get("update", []))
    assert all(r["last_event_id"] is not None for r in by_action.get("insert", []))


def test_neighbor_jaccard_invariants(spark):
    # every emitted pair is non-adjacent, shares >= NJ_MIN_COMMON
    # neighbors, and n_union respects inclusion-exclusion bounds
    from zylyty_data_engineer_challenge_spark.operators import dedup, graph

    sf = "/root/testdata/sf0.001"
    rows = graph.graph_neighbor_jaccard(spark, sf).collect()
    assert rows, "name graph produced no open wedges"
    edges = {
        (r["n1"], r["n2"])
        for r in dedup.dedup_edit_distance(spark, sf).collect()
    }
    for r in rows:
        assert r["a"] < r["b"]
        assert (r["a"], r["b"]) not in edges
        assert r["n_common"] >= graph.NJ_MIN_COMMON
        # Jaccard <= 1: intersection can never exceed union
        assert r["n_common"] <= r["n_union"]
