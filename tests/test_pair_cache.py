"""The persisted near-dup pair cache (VERDICT r8 item 2).

Pair detection (shingle -> minhash -> band -> verify) was recomputed by
every graph/curation consumer — dedup_cc, graph_triangles, graph_kcore,
pipeline_curate_near — at ~2 s of each query's ~3 s. The cache
materializes the pair list once per documents source identity; these
tests pin the three contract points:

* build-once: the second consumer reads the persisted parquet instead of
  re-running LSH (asserted on the PLAN, not timing);
* equivalence: cached pairs == direct `dedup_minhash_lsh` rows;
* staleness safety: a regenerated source changes identity and re-detects
  (never serves pairs computed from the old bytes).
"""

from __future__ import annotations

import shutil


from zylyty_data_engineer_challenge_spark.operators import dedup, graph


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_cached_pairs_equal_direct_lsh(spark, sf_dir, artifact_roots):
    direct = sorted(
        tuple(r) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    )
    cached = sorted(
        tuple(r)
        for r in dedup.minhash_pairs_cached(spark, sf_dir)
        .select("d1", "d2", "common", "s1", "s2")
        .collect()
    )
    assert cached == direct


def test_second_consumer_reads_persisted_pairs(spark, sf_dir, artifact_roots):
    """After any first consumer builds the cache, every later consumer's
    plan must START from a parquet scan of the cache — no shingling, no
    minhash, no band join anywhere in it."""
    base = dedup._pair_cache_dir(spark, sf_dir)
    graph.dedup_cc(spark, sf_dir).collect()  # first consumer: builds

    # the cached accessor itself is a bare parquet scan of the cache
    # (plan paths are truncated in toString — inputFiles gives the full
    # resolved locations)
    cached = dedup.minhash_pairs_cached(spark, sf_dir)
    src_plan = _physical_plan(cached)
    assert "FileScan parquet" in src_plan, "accessor must be a parquet scan"
    assert all(f"{base}/pairs" in f for f in cached.inputFiles())
    assert cached.inputFiles(), "pair cache must have data files"
    assert "md5" not in src_plan and "documents.parquet" not in src_plan

    # and a second consumer's full plan carries NO trace of the detection
    # pipeline (its edge input is the cache scan, lineage-truncated by the
    # loop checkpoint — what matters is that shingling/minhash/verify are
    # gone)
    for consumer in (graph.graph_triangles, graph.graph_kcore):
        plan = _physical_plan(consumer(spark, sf_dir))
        for marker in ("array_intersect", "md5", "documents.parquet"):
            assert marker not in plan, (
                f"{consumer.__name__} re-runs pair detection ({marker} in plan)"
            )


def test_regenerated_source_invalidates_cache(spark, sf_dir, tmp_path, artifact_roots):
    """Identity-keyed staleness: rewriting documents.parquet at the same
    path must change the cache directory (old pairs can never be served
    against new bytes) and trigger a fresh detection run."""
    import os

    sf_copy = tmp_path / "sf"
    sf_copy.mkdir()
    shutil.copyfile(
        f"{sf_dir}/documents.parquet", sf_copy / "documents.parquet"
    )
    dir1 = dedup._pair_cache_dir(spark, str(sf_copy))
    n1 = dedup.minhash_pairs_cached(spark, str(sf_copy)).count()
    assert os.path.exists(f"{dir1}/_PAIRS_READY")

    # regenerate: same path, different mtime+size
    with open(sf_copy / "documents.parquet", "ab") as f:
        f.write(b"\x00")
    st = os.stat(sf_copy / "documents.parquet")
    os.utime(sf_copy / "documents.parquet", (st.st_atime + 5, st.st_mtime + 5))

    dir2 = dedup._pair_cache_dir(spark, str(sf_copy))
    assert dir2 != dir1, "regenerated source must change cache identity"
    assert not os.path.exists(f"{dir2}/_PAIRS_READY"), (
        "new identity must start unbuilt"
    )
    # the old build is untouched and the new identity would re-detect
    assert os.path.exists(f"{dir1}/_PAIRS_READY")
    assert n1 >= 0


def test_embedding_pairs_cached_equal_direct(spark, sf_dir, artifact_roots):
    direct = sorted(
        tuple(r) for r in dedup.dedup_embedding_lsh(spark, sf_dir).collect()
    )
    cached = sorted(
        tuple(r)
        for r in dedup.embedding_pairs_cached(spark, sf_dir)
        .select("v1", "v2", "dot", "n1", "n2")
        .collect()
    )
    assert cached == direct


def test_phash_pairs_cached_equal_direct(spark, sf_dir, artifact_roots):
    from zylyty_data_engineer_challenge_spark.operators import multimodal

    direct = sorted(
        tuple(r) for r in multimodal.mm_phash_dedup(spark, sf_dir).collect()
    )
    cached = sorted(
        tuple(r)
        for r in multimodal.phash_pairs_cached(spark, sf_dir)
        .select("d1", "d2", "hamming")
        .collect()
    )
    assert cached == direct


def test_multimodal_cc_served_from_caches(spark, sf_dir, artifact_roots):
    """After one warming call of dedup_multimodal_cc, all three modality
    caches must exist, each cached accessor must be a bare parquet scan
    of its own cache directory (no Arrow-batched decode/verify stage, no
    md5, no raw source scan — the CC loop's checkpoint would mask these
    on the final plan, so the contract is pinned where it's visible: the
    edge inputs), and a second full call must reproduce the warming
    run's rows exactly."""
    import os

    from zylyty_data_engineer_challenge_spark.operators import graph, multimodal

    first = graph.dedup_multimodal_cc(spark, sf_dir)
    rows1 = sorted(tuple(r) for r in first.collect())  # warms all 3 caches

    for modality, src in (
        ("emb", "embeddings.parquet"),
        ("phash", "documents.parquet"),
        ("audio", "documents.parquet"),
    ):
        base = dedup._pair_cache_dir(spark, sf_dir, modality=modality, src=src)
        assert os.path.exists(f"{base}/_PAIRS_READY"), f"{modality} cache not built"

    for accessor in (
        dedup.embedding_pairs_cached,
        multimodal.phash_pairs_cached,
        multimodal.audio_pairs_cached,
    ):
        df = accessor(spark, sf_dir)
        plan = _physical_plan(df)
        assert "FileScan parquet" in plan
        for marker in ("MapInPandas", "md5", "embeddings.parquet", "documents.parquet"):
            assert marker not in plan, (
                f"{accessor.__name__} re-runs detection ({marker} in plan)"
            )

    rows2 = sorted(tuple(r) for r in graph.dedup_multimodal_cc(spark, sf_dir).collect())
    assert rows2 == rows1, "cache-served result must equal the warming run"


def test_lloyd_labels_cached_equal_direct(spark, sf_dir, artifact_roots):
    """The persisted trained-assignment table must equal a live Lloyd run
    exactly, and the accessor must be a bare parquet scan (no crossJoin
    with the centroid table, no aggregate — training happened once)."""
    from zylyty_data_engineer_challenge_spark.operators import cluster

    direct = sorted(
        tuple(r) for r in cluster.kmeans_lloyd(spark, sf_dir).collect()
    )
    cached_df = cluster.lloyd_labels_cached(spark, sf_dir)
    cached = sorted(
        tuple(r)
        for r in cached_df.select("vec_id", "cluster", "dist").collect()
    )
    assert cached == direct

    plan = _physical_plan(cached_df)
    assert "FileScan parquet" in plan
    for marker in ("BroadcastNestedLoop", "HashAggregate", "embeddings.parquet"):
        assert marker not in plan, f"lloyd cache accessor re-trains ({marker})"


def test_minhash_append_idempotent_and_equals_rebuild(spark, sf_dir, artifact_roots):
    """dedup_minhash_append (r8 VERDICT item 4): the persisted base +
    appended batch must serve the EXACT full-rebuild pair set, and a
    re-run must not duplicate stored rows (marker idempotency)."""
    rebuild = sorted(
        tuple(r) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    )
    first = sorted(
        tuple(r) for r in dedup.dedup_minhash_append(spark, sf_dir).collect()
    )
    assert first == rebuild, "append must equal full rebuild on the union"
    second = sorted(
        tuple(r) for r in dedup.dedup_minhash_append(spark, sf_dir).collect()
    )
    assert second == first, "re-run must be a no-op read, not a re-append"
