"""text_lm_score (r10): bigram-LM fluency scoring pinned against a
hand-computed corpus, plus the contract edges (short docs excluded,
integer quantization exact).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from zylyty_data_engineer_challenge_spark.operators import text


def _docs_dir(spark, tmp_path, rows):
    sf = tmp_path / "sf"
    sf.mkdir()
    df = spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    return str(sf)


def test_lm_score_hand_computed(spark, tmp_path):
    # corpus bigrams: doc1 = (a,b),(b,a),(a,b); doc2 = (a,c)
    # c1: a=3, b=1; c12: (a,b)=2, (b,a)=1, (a,c)=1; V = |{a,b}| = 2
    # p_q (add-one smoothed, denominator c1 + V):
    #   (a,b) = 2_000_000 // (3+2) = 400_000
    #   (b,a) = 1_000_000 // (1+2) = 333_333
    #   (a,c) = 1_000_000 // (3+2) = 200_000
    sf = _docs_dir(spark, tmp_path, [(1, "a b a b"), (2, "a c")])
    rows = {r["doc_id"]: r.asDict() for r in text.text_lm_score(spark, sf).collect()}
    assert rows[1] == {
        "doc_id": 1,
        "n_transitions": 3,
        "sum_pq": 400_000 + 333_333 + 400_000,
        "mean_pq": (400_000 + 333_333 + 400_000) // 3,
        "min_pq": 333_333,
    }
    assert rows[2] == {
        "doc_id": 2,
        "n_transitions": 1,
        "sum_pq": 200_000,
        "mean_pq": 200_000,
        "min_pq": 200_000,
    }


def test_lm_score_excludes_short_docs_and_orders_fluency(spark, tmp_path):
    # a one-token doc has no transitions -> no row (length rules handle it)
    # an in-domain doc (common transitions) outscores a gibberish one
    common = "the cat sat on the mat"
    sf = _docs_dir(
        spark,
        tmp_path,
        [(1, common), (2, common), (3, common), (4, "zzz qqq xxx www"), (5, "solo")],
    )
    out = {r["doc_id"]: r["mean_pq"] for r in text.text_lm_score(spark, sf).collect()}
    assert 5 not in out, "single-token doc must be excluded"
    assert out[1] == out[2] == out[3], "identical docs score identically"
    assert out[1] > out[4], "in-domain text must outscore gibberish"


def test_lm_score_all_integer_schema(spark, sf_dir):
    df = text.text_lm_score(spark, sf_dir)
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds == {
        "doc_id": "bigint",
        "n_transitions": "bigint",
        "sum_pq": "bigint",
        "mean_pq": "bigint",
        "min_pq": "bigint",
    }


def test_lm_append_equals_retrain_and_idempotent(spark, sf_dir, artifact_roots):
    """text_lm_append: the merged persisted model must serve scores
    hash-equal to the in-plan full retrain, and a re-run must append
    nothing (marker idempotency)."""
    retrain = sorted(
        tuple(r) for r in text.text_lm_score(spark, sf_dir).collect()
    )
    first = sorted(
        tuple(r) for r in text.text_lm_append(spark, sf_dir).collect()
    )
    assert first == retrain, "append must equal full retrain"
    second = sorted(
        tuple(r) for r in text.text_lm_append(spark, sf_dir).collect()
    )
    assert second == first, "re-run must be a no-op read"


def test_lm_compact_one_file_per_bucket_and_equal(spark, sf_dir, artifact_roots):
    """text_lm_compact: scoring over the compacted (merge-materialized)
    model must equal the in-plan retrain, with exactly one parquet file
    per bucket partition."""
    from zylyty_data_engineer_challenge_spark.operators.dedup import _pair_cache_dir

    retrain = sorted(
        tuple(r) for r in text.text_lm_score(spark, sf_dir).collect()
    )
    compacted = sorted(
        tuple(r) for r in text.text_lm_compact(spark, sf_dir).collect()
    )
    assert compacted == retrain

    base = _pair_cache_dir(spark, sf_dir, modality="lm-append-inst")
    files = spark.read.parquet(f"{base}/c12_compact").inputFiles()
    buckets = {f.split("bucket=")[1].split("/")[0] for f in files}
    assert len(files) == len(buckets), (
        f"{len(files)} files over {len(buckets)} buckets"
    )
