"""Streaming maintenance of the persisted BM25 lexical index (r11).

[EXTENDED] — the lexical member of the streaming-store family (text
pairs :func:`.dedup_stream.stream_dedup_pairs`, embeddings
:func:`.index_stream.stream_index_append`, image/audio
:func:`.mm_stream`): documents arrive as a file stream; every
micro-batch tokenizes ONLY its own rows and parquet-appends its postings
(into the same term-hash bucket partitions), doc-lengths, and ONE
additive stats row into the durable store.

The split-invariance argument is the cleanest of the family: postings
and doc-lengths are PER-DOCUMENT (a document's term counts depend on
nothing else), and the corpus statistics are SUM-merged at read time —
so the streamed store equals the single-shot build no matter how the
stream was batched, with no cross-batch join at all. The probe after the
replay is hash-equal to :func:`..operators.text.text_bm25` (the same
oracle, now a FOURTH execution path: in-plan / stored / batch-appended /
streamed).

Exactly-once: the file-stream checkpoint lives under the identity-keyed
store dir; re-triggering finds no new files, runs zero batches, appends
nothing (pinned by tests/test_lexical_index.py). A crash BETWEEN a
batch's three appends could double-write on retry; production would
write the three tables under a batch_id partition and replace it — the
same honesty note as every append twin in this repo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.lexical import LEXICAL_INDEX_VERSION, _index_tables, _probe_lexical


def stream_bm25_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble the lexical index across three micro-batches, then serve
    the benchmark query from the streamed store."""
    from ..catalog import artifact_dir, build_once
    from ..schemas import DOCUMENTS
    from .views_stream import _stream_conf

    base = artifact_dir(
        spark,
        "pairCacheDir",
        [f"{sf_dir}/documents.parquet"],
        f"stream-bm25-v{LEXICAL_INDEX_VERSION}",
    )

    # stage the corpus as THREE files once per identity, so the stream
    # genuinely runs three micro-batches (split-invariance is the claim)
    def stage_incoming(stage: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.repartition(3).write.parquet(f"{stage}/incoming")

    build_once(spark, base, "_INCOMING_READY", stage_incoming)

    def absorb_batch(batch_df: DataFrame, batch_id: int) -> None:
        # tokenize the batch EXACTLY ONCE (r16, guide §4.5/§2.3): the
        # three appends each re-derived the token stream (postings,
        # doclens, stats = 3 tokenize passes per batch). The eager
        # checkpoint materializes the (term, doc_id, tf) aggregate —
        # batch-bounded, far smaller than the raw token stream — and the
        # doc lengths fold from it exactly: dl = Σ_term tf(term, doc).
        postings, _, _ = _index_tables(batch_df)
        postings = postings.localCheckpoint(eager=True)
        from pyspark.sql import functions as F

        dls = postings.groupBy("doc_id").agg(
            F.sum("tf").cast("long").alias("dl")
        )
        stats = dls.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_tokens"),
        )
        postings.write.mode("append").partitionBy("tb").parquet(
            f"{base}/postings"
        )
        dls.write.mode("append").parquet(f"{base}/doclens")
        stats.write.mode("append").parquet(f"{base}/stats")

    with _stream_conf(spark):
        stream = (
            spark.readStream.schema(DOCUMENTS)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{base}/incoming")
        )
        q = (
            stream.writeStream.foreachBatch(absorb_batch)
            .option("checkpointLocation", f"{base}/chk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _probe_lexical(spark, base)


# the streamed store must serve the identical ranking: text_bm25's
# oracle verbatim — one oracle, four execution paths
def _oracle() -> dict[str, str]:
    from ..operators.text import ORACLE_SQL as TEXT_ORACLE_SQL

    return {"stream_bm25_append": TEXT_ORACLE_SQL["text_bm25"]}


ORACLE_SQL = _oracle()
