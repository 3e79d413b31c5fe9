"""Unit tests for the session-7b additions — k-means (Lloyd), triangle
counting, Levenshtein dedup + name clusters, TF-IDF, BM25, hybrid RRF,
theta intersection, trained IVF / IVF-PQ, weighted sampling, source and
language-temperature mixing, shingle containment, PNG pixel decode,
table profiler, streaming HLL, watermark canary — semantics pinned on
tiny hand-built frames or micro invariants, independent of the oracle
gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from zylyty_data_engineer_challenge_spark.operators.cluster import (
    K_CLUSTERS,
    kmeans_inertia,
    kmeans_lloyd,
)
from zylyty_data_engineer_challenge_spark.operators.dedup import dedup_edit_distance
from zylyty_data_engineer_challenge_spark.operators.graph import triangle_counts
from zylyty_data_engineer_challenge_spark.operators.sketches import (
    K,
    sketch_theta_intersect,
)
from zylyty_data_engineer_challenge_spark.operators.text import text_tfidf

SF_DIR = "/root/testdata/sf0.001"


def test_cluster_quant_matches_similarity():
    # cluster.QUANT is a deliberate local copy (circular-import break);
    # the two fixed-point scales must never drift apart
    from zylyty_data_engineer_challenge_spark.operators import cluster, similarity

    assert cluster.QUANT == similarity.QUANT
    assert cluster.K_CLUSTERS == similarity.NLIST


# ---------------------------------------------------------------------------
# triangle counting
# ---------------------------------------------------------------------------


def test_triangles_k4(spark):
    # K4: every node sits in C(3,2)=3 triangles; 4 triangles total
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], ["d1", "d2"]
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangles_square_has_none(spark):
    # 4-cycle without chords: zero triangles -> empty result
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (1, 4)], ["d1", "d2"])
    assert triangle_counts(edges).count() == 0


def test_triangles_one_closed_one_open(spark):
    # triangle 1-2-3 plus open wedge 3-4, 3-5: only the triangle counts
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (3, 5)], ["d1", "d2"]
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangles_star_skew_orientations_agree(spark):
    """r7 VERDICT item 7: the degree orientation must survive a skewed
    general graph and return IDENTICAL counts to id order. Hub 0 (lowest
    id, highest degree) with 8 leaves plus one closing edge (1,2): the
    only triangle is {0,1,2}. Under id order the hub fans out C(8,2)=28
    wedges; under degree order every hub edge points IN, so the hub
    produces zero wedges — same answer, skew-safe intermediate."""
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)] + [(1, 2)], ["d1", "d2"]
    )
    want = {0: 1, 1: 1, 2: 1}
    for orient in ("degree", "id"):
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(edges, orient=orient).collect()
        }
        assert got == want, orient


def test_triangles_shared_edge_orientations_agree(spark):
    # two triangles sharing edge (1,2): counts {1:2, 2:2, 3:1, 4:1} under
    # BOTH orientations (ties in degree fall back to id order)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)], ["d1", "d2"]
    )
    want = {1: 2, 2: 2, 3: 1, 4: 1}
    for orient in ("degree", "id"):
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(edges, orient=orient).collect()
        }
        assert got == want, orient


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------


def test_kmeans_inertia_monotone_descent(spark):
    rows = kmeans_inertia(spark, SF_DIR).collect()
    assert [r["iter"] for r in rows] == [0, 1, 2]
    assert all(r["descent_ok"] == 1 for r in rows)
    inertias = [r["inertia"] for r in rows]
    assert inertias == sorted(inertias, reverse=True) or len(set(inertias)) < 3


def test_kmeans_labels_cover_every_vector_once(spark):
    out = kmeans_lloyd(spark, SF_DIR)
    n_vecs = out.count()
    assert out.select("vec_id").distinct().count() == n_vecs
    clusters = {r["cluster"] for r in out.select("cluster").distinct().collect()}
    assert clusters <= set(range(K_CLUSTERS))
    assert out.filter(F.col("dist") < 0).count() == 0


def test_kmeans_seed_vectors_start_in_own_cluster(spark):
    # iteration 0 assigns each seed vector distance 0 to its own centroid,
    # and Lloyd updates can only keep or improve its fit; its final dist
    # must stay <= its distance to any OTHER final centroid's seed. Weak
    # but deterministic: just pin that seeds end with finite labels.
    out = kmeans_lloyd(spark, SF_DIR).filter(F.col("vec_id") < K_CLUSTERS)
    assert out.count() == K_CLUSTERS


# ---------------------------------------------------------------------------
# Levenshtein dedup
# ---------------------------------------------------------------------------


def test_edit_distance_pairs_are_ordered_and_thresholded(spark):
    out = dedup_edit_distance(spark, SF_DIR)
    bad = out.filter((F.col("n1") >= F.col("n2")) | (F.col("dist") > 3))
    assert bad.count() == 0


def test_edit_distance_blocks_share_first_token(spark):
    for r in dedup_edit_distance(spark, SF_DIR).collect():
        assert r["n1"].split(" ")[0] == r["n2"].split(" ")[0]


# ---------------------------------------------------------------------------
# containment vs Jaccard
# ---------------------------------------------------------------------------


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    # doc 2 is fully embedded in the much larger doc 1: containment = 1.0
    # but Jaccard << 0.5 — the exact case the containment metric exists for
    from zylyty_data_engineer_challenge_spark.operators.dedup import (
        _shingle_pair_table,
    )

    small = "alpha beta gamma delta epsilon"
    big = small + " " + " ".join(f"w{i} x{i} y{i}" for i in range(20))
    docs = spark.createDataFrame([(1, big), (2, small)], ["doc_id", "text"])
    pairs = _shingle_pair_table(docs).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert p["common"] == min(p["s1"], p["s2"])  # full containment
    assert 3 * p["common"] < p["s1"] + p["s2"]  # fails the Jaccard test


def test_source_mix_budget_and_determinism(spark):
    from zylyty_data_engineer_challenge_spark.operators.curate import (
        MIX_BUDGET_PER_SOURCE,
        curate_source_mix,
    )

    a = curate_source_mix(spark, SF_DIR).collect()
    assert all(r["cum_w"] <= MIX_BUDGET_PER_SOURCE for r in a)
    # running totals are consistent within each source
    by_src = {}
    for r in a:
        by_src.setdefault(r["source"], []).append(r)
    for rows in by_src.values():
        run = 0
        for r in rows:
            run += r["w"]
            assert r["cum_w"] == run
    # deterministic: second run returns the identical mix
    b = curate_source_mix(spark, SF_DIR).collect()
    assert a == b


# ---------------------------------------------------------------------------
# TF-IDF
# ---------------------------------------------------------------------------


def test_tfidf_rare_term_outranks_common(spark):
    out = text_tfidf(spark, SF_DIR)
    # rank sequence per doc is 1..k dense; scores non-increasing in rank
    import pandas as pd

    pdf = out.toPandas()
    for _, g in pdf.groupby("doc_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert (g["score"].diff().dropna() <= 1e-12).all()
    # df of a top-ranked term never exceeds corpus size
    n_docs = pdf["df"].max()
    assert (pdf["df"] >= 1).all() and (pdf["tf"] >= 1).all()
    assert n_docs <= pdf["doc_id"].nunique() * 100  # sanity bound only


# ---------------------------------------------------------------------------
# k-means-trained IVF
# ---------------------------------------------------------------------------


def test_ivfpq_rank_shape_and_layer_ordering(spark):
    # IVF-PQ output: dense ranks <= ANN_TOP_K per query; and the recall
    # gates order as the architecture predicts on this fixture — exact
    # in-list ranking (ivf_kmeans) >= code-based in-list ranking (ivfpq)
    from zylyty_data_engineer_challenge_spark.operators.similarity import (
        ANN_TOP_K,
        sim_ann_ivf_kmeans_recall,
        sim_ann_ivfpq,
        sim_ann_ivfpq_recall,
    )

    rows = sim_ann_ivfpq(spark, SF_DIR).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert ranks == list(range(1, len(ranks) + 1))
        assert len(ranks) <= ANN_TOP_K
    exact_ranked = (
        sim_ann_ivf_kmeans_recall(spark, SF_DIR).agg(F.avg("recall")).collect()[0][0]
    )
    adc_ranked = (
        sim_ann_ivfpq_recall(spark, SF_DIR).agg(F.avg("recall")).collect()[0][0]
    )
    assert exact_ranked >= adc_ranked


def test_trained_ivf_recall_beats_untrained(spark):
    # the point of training the coarse quantizer: at identical list count
    # and NPROBE, k-means lists must not lose to the first-NLIST pick
    from zylyty_data_engineer_challenge_spark.operators.similarity import (
        sim_ann_ivf_kmeans_recall,
        sim_ann_ivf_recall,
    )

    untrained = (
        sim_ann_ivf_recall(spark, SF_DIR).agg(F.avg("recall")).collect()[0][0]
    )
    trained = (
        sim_ann_ivf_kmeans_recall(spark, SF_DIR).agg(F.avg("recall")).collect()[0][0]
    )
    assert trained >= untrained
    assert trained > 0


# ---------------------------------------------------------------------------
# weighted priority sampling
# ---------------------------------------------------------------------------


def test_weighted_sample_ranks_dense_and_distinct(spark):
    from zylyty_data_engineer_challenge_spark.operators.sketches import (
        WS_K,
        sketch_weighted_sample,
    )

    rows = sketch_weighted_sample(spark, SF_DIR).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) <= WS_K
    assert len({r["doc_id"] for r in rows}) == len(rows)
    assert all(r["w"] > 0 for r in rows)


def test_weighted_sample_est_row(spark):
    from zylyty_data_engineer_challenge_spark.operators.sketches import (
        WS_K,
        sketch_weighted_sample_est,
    )

    row = sketch_weighted_sample_est(spark, SF_DIR).collect()[0]
    assert row["n_sample"] == WS_K  # fixture corpus > WS_K docs
    assert row["exact_total_weight"] > 0
    # unbiased estimator, single deterministic draw: sanity-bound only
    # (simulated stdev ~18% at k=32; allow 4 sigma)
    rel = abs(row["est_total_weight"] - row["exact_total_weight"]) / row[
        "exact_total_weight"
    ]
    assert rel < 0.75, row


# ---------------------------------------------------------------------------
# pixel decode
# ---------------------------------------------------------------------------


def test_png_pixel_decode_roundtrip_and_corruption():
    from zylyty_data_engineer_challenge_spark.operators.multimodal import (
        _build_png,
        _decode_png_pixels,
    )

    seed = b"hello pixels"
    payload = _build_png(5, 4, seed)
    w, h, pix = _decode_png_pixels(payload)
    assert (w, h) == (5, 4)
    assert len(pix) == 5 * 4 * 3
    assert pix == bytes(seed[i % len(seed)] for i in range(5 * 4 * 3))
    # flip one IDAT byte: CRC verification must refuse, not return junk
    corrupt = bytearray(payload)
    corrupt[45] ^= 0xFF
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _decode_png_pixels(bytes(corrupt))


# ---------------------------------------------------------------------------
# theta intersection
# ---------------------------------------------------------------------------


def test_theta_intersect_estimate_brackets_exact(spark):
    row = sketch_theta_intersect(spark, SF_DIR).collect()[0]
    assert 0 < row["theta"]
    assert 0 <= row["common"] <= K
    if row["exact_intersect"] >= K:
        # standard theta error ~ 1/sqrt(K); allow 5 sigma on the fixture
        rel = abs(row["theta_estimate"] - row["exact_intersect"]) / max(
            row["exact_intersect"], 1
        )
        assert rel < 5 / (K**0.5), row


# ---------------------------------------------------------------------------
# streaming HLL merge law
# ---------------------------------------------------------------------------


def test_stream_hll_equals_batch_sketch(spark):
    # the mergeable-sketch law, cross-validated inside Spark (the oracle
    # gate checks vs DuckDB; this pins streaming state == batch agg)
    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from zylyty_data_engineer_challenge_spark.operators.sketches import (
        HLL_BUCKETS,
        HLL_MAX_RHO,
    )
    from zylyty_data_engineer_challenge_spark.streaming.sketch_stream import (
        stream_hll_registers,
    )

    streamed = {
        r["bucket"]: r["register"]
        for r in stream_hll_registers(spark, SF_DIR).collect()
    }
    batch = (
        load_table(spark, SF_DIR, "events")
        .selectExpr(
            "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h"
        )
        .selectExpr(f"h % {HLL_BUCKETS} AS bucket", f"h div {HLL_BUCKETS} AS w")
        .selectExpr(
            "bucket",
            f"CASE WHEN w = 0 THEN {HLL_MAX_RHO} ELSE bit_count((w & -w) - 1) + 1 END AS rho",
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
        .collect()
    )
    assert streamed == {r["bucket"]: r["register"] for r in batch}


# ---------------------------------------------------------------------------
# entity-resolution name clusters
# ---------------------------------------------------------------------------


def test_cc_names_cluster_consistency(spark):
    # every cluster has exactly one representative; cluster ids are the
    # min partkey of their members' names (consistent labeling)
    from zylyty_data_engineer_challenge_spark.operators.graph import dedup_cc_names

    rows = dedup_cc_names(spark, SF_DIR).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for members in by_cluster.values():
        assert sum(m["is_representative"] for m in members) == 1


# ---------------------------------------------------------------------------
# lexical + hybrid retrieval
# ---------------------------------------------------------------------------


def test_bm25_ranks_dense_scores_positive(spark):
    from zylyty_data_engineer_challenge_spark.operators.text import (
        BM25_TOP,
        text_bm25,
    )

    rows = text_bm25(spark, SF_DIR).collect()
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert len(rows) <= BM25_TOP
    scores = [r["score"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)


def test_hybrid_rrf_fuses_both_lists(spark):
    # the fused top-RRF_TOP must draw from BOTH rankings (pure RRF
    # interleaves rank-1s from each list at the top) and each reciprocal
    # must match its rank arithmetic exactly
    from zylyty_data_engineer_challenge_spark.operators.similarity import (
        RRF_K,
        sim_hybrid_rrf,
    )

    rows = sim_hybrid_rrf(spark, SF_DIR).collect()
    assert any(r["dense_rank"] is not None for r in rows)
    assert any(r["lex_rank"] is not None for r in rows)
    for r in rows:
        expect = 0.0
        if r["dense_rank"] is not None:
            expect += 1.0 / (RRF_K + r["dense_rank"])
        if r["lex_rank"] is not None:
            expect += 1.0 / (RRF_K + r["lex_rank"])
        assert r["rrf"] == expect


# ---------------------------------------------------------------------------
# language-temperature rebalancing
# ---------------------------------------------------------------------------


def test_lang_temperature_boosts_low_resource(spark):
    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from zylyty_data_engineer_challenge_spark.operators.curate import (
        TEMP_LANGS,
        curate_lang_temperature,
    )

    raw = {
        r["lang"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .filter(F.col("lang").isin(*TEMP_LANGS))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    out = curate_lang_temperature(spark, SF_DIR).toPandas()
    quotas = out.groupby("lang")["quota"].first().to_dict()
    # every language's sampled share exceeds the boost floor: with
    # alpha=1/2, the dominant language's quota share must be strictly
    # below its raw share, and each minority's strictly above
    total_raw = sum(raw.values())
    total_q = sum(quotas.values())
    dom = max(raw, key=raw.get)
    assert quotas[dom] / total_q < raw[dom] / total_raw
    for lang in TEMP_LANGS:
        if lang != dom:
            assert quotas[lang] / total_q > raw[lang] / total_raw * 0.999
    # quota never exceeds availability, and selection respects it
    for lang, g in out.groupby("lang"):
        assert len(g) == min(quotas[lang], raw[lang])
        assert list(g["rk"]) == list(range(1, len(g) + 1))


# ---------------------------------------------------------------------------
# table profiler
# ---------------------------------------------------------------------------


def test_table_profile_shape_and_sanity(spark):
    from zylyty_data_engineer_challenge_spark.queries.warehouse import (
        _PROFILE_COLS,
        q_table_profile,
    )

    rows = {r["col"]: r for r in q_table_profile(spark, SF_DIR).collect()}
    assert set(rows) == {c for c, _, _ in _PROFILE_COLS}
    n_rows = {r["n_rows"] for r in rows.values()}
    assert len(n_rows) == 1 and n_rows.pop() > 0
    for r in rows.values():
        assert 0 <= r["n_nulls"] <= r["n_rows"]
        assert 1 <= r["n_distinct"] <= r["n_rows"]
        assert r["min_repr"] <= r["max_repr"]
    # the key column is unique
    k = rows["o_orderkey"]
    assert k["n_distinct"] == k["n_rows"] - k["n_nulls"]


# ---------------------------------------------------------------------------
# watermark canary
# ---------------------------------------------------------------------------


def test_watermark_canary_rerun_is_identical(spark):
    # the two-file construction is cached behind a marker; a re-run must
    # replay the identical batches and produce the identical table
    from zylyty_data_engineer_challenge_spark.streaming.late_stream import (
        stream_watermark_canary,
    )

    a = stream_watermark_canary(spark, SF_DIR).collect()
    b = stream_watermark_canary(spark, SF_DIR).collect()
    assert a == b
    assert len(a) > 0
    # append mode: every window appears exactly once
    starts = [r["window_start"] for r in a]
    assert len(starts) == len(set(starts))


# ---------------------------------------------------------------------------
# audio PCM decode
# ---------------------------------------------------------------------------


def test_wav_sample_decode_roundtrip_and_corruption():
    from zylyty_data_engineer_challenge_spark.operators.multimodal import (
        _build_wav,
        _decode_wav_samples,
    )

    seed = b"abcd"
    payload = _build_wav(6, 8000, 1, seed)  # 6 mono samples = 12 data bytes
    samples = _decode_wav_samples(payload)
    assert len(samples) == 6
    # sample j = byte(2j) + 256*byte(2j+1), two's complement
    data = bytes(seed[i % 4] for i in range(12))
    for j, s in enumerate(samples):
        raw = data[2 * j] + 256 * data[2 * j + 1]
        assert s == (raw - 65536 if raw >= 32768 else raw)
    # truncating the container must raise, not return a short sample list
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _decode_wav_samples(payload[:-3])


def test_kcore_fixture_converged_and_sane(spark):
    """In-band convergence certificate: no node may be removed in the
    LAST peel round (that would mean another round could remove more),
    and every in-core node has removed_round 0."""
    from zylyty_data_engineer_challenge_spark.operators.graph import (
        PEEL_ROUNDS,
        graph_kcore,
    )

    rows = graph_kcore(spark, "/root/testdata/sf0.001").collect()
    assert rows, "near-dup graph is non-empty at sf0.001"
    assert all(r["removed_round"] < PEEL_ROUNDS for r in rows), (
        "peeling did not reach its fixpoint within PEEL_ROUNDS"
    )
    for r in rows:
        assert (r["in_core"] == 1) == (r["removed_round"] == 0), r


def test_kcore_peeling_semantics_on_chain_and_clique(spark):
    """A path graph peels completely under k=2 (ends first, then the
    newly-exposed ends); a triangle survives; a pendant off the triangle
    is removed in round 1."""
    from zylyty_data_engineer_challenge_spark.operators import graph as G

    pairs = spark.createDataFrame(
        # path 10-11-12-13 + triangle 1-2-3 with pendant 4 on node 3
        [(10, 11), (11, 12), (12, 13), (1, 2), (1, 3), (2, 3), (3, 4)],
        ["d1", "d2"],
    )

    def run(pairs_df):
        # reuse the operator's loop via monkey-free composition: inline
        # the same peeling over an arbitrary edge list
        from pyspark.sql import functions as F

        nodes0 = (
            pairs_df.select(F.col("d1").alias("node"))
            .unionAll(pairs_df.select(F.col("d2").alias("node")))
            .distinct()
        )
        cur_nodes, edges, removed = nodes0, pairs_df, None
        for r in range(1, G.PEEL_ROUNDS + 1):
            deg = (
                edges.select(F.col("d1").alias("node"))
                .unionAll(edges.select(F.col("d2").alias("node")))
                .groupBy("node")
                .agg(F.count("*").alias("deg"))
            )
            weak = (
                cur_nodes.join(deg, "node", "left")
                .filter(F.coalesce(F.col("deg"), F.lit(0)) < G.K_CORE)
                .select("node")
                .localCheckpoint(eager=False)
            )
            tagged = weak.select("node", F.lit(r).alias("removed_round"))
            removed = tagged if removed is None else removed.unionAll(tagged)
            cur_nodes = cur_nodes.join(weak, "node", "left_anti").localCheckpoint(
                eager=False
            )
            edges = (
                edges.join(cur_nodes.withColumnsRenamed({"node": "d1"}), "d1")
                .join(cur_nodes.withColumnsRenamed({"node": "d2"}), "d2")
                .localCheckpoint(eager=False)
            )
        return {
            r["node"]: r["removed_round"]
            for r in nodes0.join(removed, "node", "left").collect()
        }

    got = run(pairs)
    # triangle is the 2-core
    assert got[1] is None and got[2] is None and got[3] is None
    # pendant and path ends go in round 1; path middles in round 2
    assert got[4] == 1 and got[10] == 1 and got[13] == 1
    assert got[11] == 2 and got[12] == 2


def test_multimodal_cc_unions_signals_across_modalities(
    spark, tmp_path, artifact_roots
):
    """dedup_multimodal_cc (r9): a cluster must merge through DIFFERENT
    modalities — doc 1~2 via text shingles (identical text), doc 2~3 via
    embedding cosine (near-identical vectors, dissimilar text) — so all
    three land in one component even though no single detector connects
    them all."""
    from zylyty_data_engineer_challenge_spark.operators.graph import (
        dedup_multimodal_cc,
    )
    from zylyty_data_engineer_challenge_spark.schemas import DOCUMENTS, EMBEDDINGS

    t = "the quick brown fox jumps over the lazy dog again and again"
    u = "completely different words about maritime navigation charts"
    docs = [
        (1, t, "en", "s", len(t)),
        (2, t, "en", "s", len(t)),
        (3, u, "en", "s", len(u)),
        (4, "an unrelated singleton document entirely", "en", "s", 40),
    ]
    v = [float(x % 7) + 1.0 for x in range(64)]  # fixture dim = 64
    emb = [
        (2, v, 0),
        (3, [x + 0.001 for x in v], 0),  # cos ~ 1 with vec 2
        # alternating-sign vector: cosine with v is ~0 (well under
        # the 0.45 threshold), so 4 is separate BY the math, not by a
        # lucky banding miss
        (4, [val if i % 2 == 0 else -val for i, val in enumerate(v)], 0),
    ]
    d = tmp_path / "mmcc"
    spark.createDataFrame(docs, DOCUMENTS).coalesce(1).write.parquet(
        str(d / "documents.parquet")
    )
    spark.createDataFrame(emb, EMBEDDINGS).coalesce(1).write.parquet(
        str(d / "embeddings.parquet")
    )
    out = {r["doc_id"]: r for r in dedup_multimodal_cc(spark, str(d)).collect()}
    assert out[1]["component"] == out[2]["component"] == out[3]["component"] == 1
    assert out[4]["component"] == 4 and out[4]["is_representative"] == 1
    assert out[1]["is_representative"] == 1
    assert out[2]["is_representative"] == out[3]["is_representative"] == 0
