"""Persisted image/audio signature band stores (r9 VERDICT item 1) and
the modality append paths (item 3).

r9's probes re-decoded the whole corpus per call — `_phash_bands_table`
ran the mapInPandas PNG decode+hash stage on BOTH sides of the probe's
self-join, every invocation. The stores convert that into a build-once
identity-keyed artifact (the MinHash band store contract,
dedup.py's append path):

* build-once: after any first consumer builds the store, every later
  consumer's plan starts from a parquet scan — ZERO decode stages
  (asserted on the PLAN: no MapInPandas / ArrowEvalPython anywhere);
* equivalence: store-served pairs/probes == the r9 semantics (covered by
  the unchanged oracles; here we pin dedup == append == compacted rows);
* append: mm_phash_append / mm_audio_append equal the full rebuild and
  re-run as a no-op read (marker idempotency) — the exact
  dedup_minhash_append contract;
* compaction: dedup_pairs_compact leaves exactly one file per bucket and
  serves the identical pair set.
"""

from __future__ import annotations

import os

import pytest

from zylyty_data_engineer_challenge_spark.operators import dedup, multimodal


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


DECODE_MARKERS = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def test_phash_store_zero_decodes_after_build(spark, sf_dir, artifact_roots):
    """First consumer builds the store; from then on the probe, the pair
    enumeration, and the band table itself must carry NO Python decode
    stage in their plans — the whole point of r9 VERDICT item 1."""
    multimodal.phash_signatures_cached(spark, sf_dir).count()  # builds

    base = dedup._pair_cache_dir(spark, sf_dir, modality="phash")
    assert os.path.exists(f"{base}/_SIGS_READY")

    for consumer in (multimodal.mm_phash_probe, multimodal.mm_phash_dedup):
        plan = _physical_plan(consumer(spark, sf_dir))
        for marker in DECODE_MARKERS + ("documents.parquet",):
            assert marker not in plan, (
                f"{consumer.__name__} re-decodes the corpus ({marker} in plan)"
            )
        assert "FileScan parquet" in plan


def test_afp_store_zero_decodes_after_build(spark, sf_dir, artifact_roots):
    multimodal.afp_signatures_cached(spark, sf_dir).count()  # builds

    base = dedup._pair_cache_dir(spark, sf_dir, modality="audio")
    assert os.path.exists(f"{base}/_SIGS_READY")

    for consumer in (multimodal.mm_audio_probe, multimodal.mm_audio_dedup):
        plan = _physical_plan(consumer(spark, sf_dir))
        for marker in DECODE_MARKERS + ("documents.parquet",):
            assert marker not in plan, (
                f"{consumer.__name__} re-decodes the corpus ({marker} in plan)"
            )
        assert "FileScan parquet" in plan


def test_store_served_pairs_equal_fresh_compute(spark, sf_dir, artifact_roots):
    """The persisted signatures must reproduce a fresh in-plan compute
    bit-for-bit — pin by comparing the store-served pair rows against
    pairs built directly from a live _phash_sig_compute pass."""
    from zylyty_data_engineer_challenge_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    live_bands = multimodal._explode_bands(
        multimodal._phash_sig_compute(docs), multimodal.PHASH_BANDS
    )
    live = sorted(
        tuple(r)
        for r in multimodal._banded_pairs(
            live_bands,
            live_bands,
            multimodal.PHASH_BANDS,
            multimodal.PHASH_HAMMING_MAX,
        ).collect()
    )
    stored = sorted(
        tuple(r) for r in multimodal.mm_phash_dedup(spark, sf_dir).collect()
    )
    assert stored == live


@pytest.mark.parametrize(
    "append_fn, dedup_fn, modality",
    [
        (multimodal.mm_phash_append, multimodal.mm_phash_dedup, "phash"),
        (multimodal.mm_audio_append, multimodal.mm_audio_dedup, "audio"),
    ],
)
def test_mm_append_equals_rebuild_and_idempotent(
    spark, sf_dir, artifact_roots, append_fn, dedup_fn, modality
):
    """append ≡ full rebuild on the union corpus, and a re-run is a
    no-op read (the dedup_minhash_append contract, items 3)."""
    rebuild = sorted(tuple(r) for r in dedup_fn(spark, sf_dir).collect())
    first = sorted(tuple(r) for r in append_fn(spark, sf_dir).collect())
    assert first == rebuild, f"{modality}: append must equal full rebuild"
    second = sorted(tuple(r) for r in append_fn(spark, sf_dir).collect())
    assert second == first, f"{modality}: re-run must not re-append"


def test_pairs_compact_one_file_per_bucket_and_equal(spark, sf_dir, artifact_roots):
    """Compaction is a pure layout change: one parquet file per bucket
    partition, identical pair rows before and after (item 4)."""
    before = sorted(
        tuple(r) for r in dedup.dedup_minhash_append(spark, sf_dir).collect()
    )
    compacted_df = dedup.dedup_pairs_compact(spark, sf_dir)
    after = sorted(tuple(r) for r in compacted_df.collect())
    assert after == before, "compaction must not change the pair set"

    base = dedup._pair_cache_dir(spark, sf_dir, modality="append-inst")
    files = [
        f
        for f in compacted_df.inputFiles()
        if f"{base}/pairs_compact" in f or "pairs_compact" in f
    ]
    assert files, "compacted table must be served from pairs_compact"
    buckets = {f.split("bucket=")[1].split("/")[0] for f in files}
    assert len(files) == len(buckets), (
        f"expected one file per bucket, got {len(files)} files over "
        f"{len(buckets)} buckets"
    )

    # marker idempotency: a second call reads, never rewrites
    again = sorted(tuple(r) for r in dedup.dedup_pairs_compact(spark, sf_dir).collect())
    assert again == after


@pytest.mark.parametrize(
    "stream_fn, dedup_fn, modality",
    [
        ("stream_phash_append", "mm_phash_dedup", "phash"),
        ("stream_afp_append", "mm_audio_dedup", "audio"),
    ],
)
def test_mm_stream_append_equals_rebuild_and_exactly_once(
    spark, sf_dir, artifact_roots, stream_fn, dedup_fn, modality
):
    """The streamed signature store (assembled across THREE micro-
    batches) must hash-equal the full rebuild, and a re-trigger must
    process zero batches (checkpoint exactly-once) — the mm members of
    the streaming-append family's shared contract."""
    from zylyty_data_engineer_challenge_spark.streaming import mm_stream

    sfn = getattr(mm_stream, stream_fn)
    dfn = getattr(multimodal, dedup_fn)

    rebuild = sorted(tuple(r) for r in dfn(spark, sf_dir).collect())
    first = sorted(tuple(r) for r in sfn(spark, sf_dir).collect())
    assert first == rebuild, f"{modality}: streamed store != full rebuild"

    second = sorted(tuple(r) for r in sfn(spark, sf_dir).collect())
    assert second == first, f"{modality}: re-trigger duplicated pairs"


def test_mm_forget_physically_purges_and_is_idempotent(spark, sf_dir, artifact_roots):
    """The image/audio takedown (r11): after the purge no revoked doc_id
    may physically survive in either the signature or pair parquet, and a
    re-run is a pure store read (marker idempotency)."""
    from pyspark.sql import functions as F

    from zylyty_data_engineer_challenge_spark.catalog import load_table
    from zylyty_data_engineer_challenge_spark.operators.dedup import _pair_cache_dir
    from zylyty_data_engineer_challenge_spark.operators.text import FORGET_SOURCE

    revoked = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == FORGET_SOURCE)
        .select("doc_id")
        .collect()
    }
    assert revoked  # the guarantee must be exercised, not vacuous

    for fn, modality in (
        (multimodal.mm_phash_forget, "phash-forget"),
        (multimodal.mm_afp_forget, "audio-forget"),
    ):
        first = fn(spark, sf_dir).collect()
        again = fn(spark, sf_dir).collect()
        assert [tuple(r) for r in again] == [tuple(r) for r in first]
        base = _pair_cache_dir(spark, sf_dir, modality=modality)
        sig_docs = {
            r["doc_id"] for r in spark.read.parquet(f"{base}/sigs").collect()
        }
        assert sig_docs and not sig_docs & revoked
        pair_docs = {
            d
            for r in spark.read.parquet(f"{base}/pairs").collect()
            for d in (r["d1"], r["d2"])
        }
        assert not pair_docs & revoked


def test_labels_forget_physically_purges_and_matches_frozen_assignment(
    spark, sf_dir, artifact_roots
):
    """The Lloyd label-store takedown (r11): zero revoked vec_ids survive
    in the stored parquet, survivors' labels equal the frozen-centroid
    assignment, the revocation set is the SAME set sim_index_delete
    tombstones, and a re-run is a pure read."""
    from zylyty_data_engineer_challenge_spark.operators import cluster, similarity
    from zylyty_data_engineer_challenge_spark.operators.dedup import _pair_cache_dir

    assert cluster.LABELS_FORGET_MOD == similarity.DEL_MOD
    assert cluster.LABELS_FORGET_REM == similarity.DEL_REM

    first = cluster.cluster_labels_forget(spark, sf_dir).collect()
    again = cluster.cluster_labels_forget(spark, sf_dir).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in first]

    base = _pair_cache_dir(
        spark, sf_dir, modality="lloyd-forget", src="embeddings.parquet"
    )
    stored = spark.read.parquet(f"{base}/labels").collect()
    assert stored
    assert all(
        r["vec_id"] % cluster.LABELS_FORGET_MOD != cluster.LABELS_FORGET_REM
        for r in stored
    )
    # survivors' rows are exactly the frozen-model assignment, filtered
    want = [
        tuple(r)
        for r in cluster.kmeans_lloyd(spark, sf_dir).collect()
        if r["vec_id"] % cluster.LABELS_FORGET_MOD != cluster.LABELS_FORGET_REM
    ]
    assert sorted(tuple(r) for r in stored) == sorted(want)


def test_cluster_labels_append_equals_single_shot_train(spark, sf_dir, artifact_roots):
    """cluster_labels_append (r12): the two-installment frozen-centroid
    store must be byte-identical to kmeans_lloyd's single-shot full
    assignment (assignment is per-vector deterministic given the stored
    centroids — split invariance IS the maintenance proof), a re-run is
    a pure store read, and both installments physically landed."""
    from zylyty_data_engineer_challenge_spark.operators import cluster
    from zylyty_data_engineer_challenge_spark.operators.dedup import (
        APPEND_MOD,
        _pair_cache_dir,
    )

    first = [tuple(r) for r in cluster.cluster_labels_append(spark, sf_dir).collect()]
    want = [tuple(r) for r in cluster.kmeans_lloyd(spark, sf_dir).collect()]
    assert first == want
    # marker-idempotent: the second call reads the store, same rows
    again = [tuple(r) for r in cluster.cluster_labels_append(spark, sf_dir).collect()]
    assert again == first

    base = _pair_cache_dir(
        spark, sf_dir, modality="lloyd-append", src="embeddings.parquet"
    )
    stored = spark.read.parquet(f"{base}/labels").collect()
    batch = {r["vec_id"] for r in stored if r["vec_id"] % APPEND_MOD == 0}
    standing = {r["vec_id"] for r in stored if r["vec_id"] % APPEND_MOD != 0}
    assert batch and standing  # both installments present
    # the frozen codebook itself is persisted beside the labels
    cents = spark.read.parquet(f"{base}/centroids").collect()
    assert len(cents) == cluster.K_CLUSTERS
