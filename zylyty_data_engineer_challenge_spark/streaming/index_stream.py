"""Streaming maintenance of the persisted ANN index (r8 VERDICT item 7).

[EXTENDED] surface — not in the reference (`/root/reference/main.py` is a
batch-only pandas ETL); this closes the loop between the streaming family
and the serving index: new vectors arrive as a stream and are encoded
against the FROZEN coarse centroids + PQ codebook into the stored,
cid-partitioned code table, exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (
    N_QUERIES,
    QUANT,
    ORACLE_SQL as _SIM_ORACLE,
    _l2_nearest_lists,
    _pq_encode,
    _probe_stored,
    build_ann_index,
)
from ..schemas import EMBEDDINGS
from .views_stream import _stream_conf


def stream_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_index_append`'s encode path driven by ``foreachBatch`` over a
    file stream of arriving embeddings — what a deployed vector index
    actually runs: the index is trained once (:func:`..operators.
    similarity.build_ann_index`, frozen centroids + codebook), then every
    micro-batch assigns + PQ-encodes ONLY its own rows and parquet-appends
    them into the stored ``codes_stream`` tree's cid partitions.

    Exactly-once: the file-stream checkpoint (under the identity-keyed
    index dir, so regenerated data gets a fresh log) records which source
    files each batch consumed — re-triggering the query finds no new
    files, runs zero batches, and appends nothing, which
    tests/test_file_sinks.py pins by re-running and counting stored
    codes. The probe is :func:`..operators.similarity._probe_stored` over
    the streamed codes, and the oracle is ``sim_ann_ivfpq``'s verbatim —
    hash-equality proves the streamed table is the single-shot build's
    code-for-code equal (a dropped, doubled, or stale-codebook batch
    breaks the differential).

    Scale: per-batch cost is O(batch) encode + small broadcast joins
    (centroids/codebook); write amplification is new files in existing
    cid directories. maxFilesPerTrigger=1 keeps micro-batches bounded no
    matter how many files land between triggers.
    """
    base = build_ann_index(spark, sf_dir)
    data_dir = f"{base}/codes_stream"
    chk_dir = f"{base}/codes_stream_chk"
    cents = spark.read.parquet(f"{base}/centroids")
    cb = spark.read.parquet(f"{base}/codebook")

    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.select(
                "vec_id",
                F.expr(
                    f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
                    f" * {QUANT}) AS BIGINT))"
                ).alias("q"),
            )
            .filter(F.col("vec_id") >= N_QUERIES)
        )
        assign = _l2_nearest_lists(cents, part.select("vec_id", "q"), "vec_id", 1)
        (
            _pq_encode(part, cb)
            .join(assign, "vec_id")
            .write.mode("append")
            .partitionBy("cid")
            .parquet(data_dir)
        )

    with _stream_conf(spark):
        stream = (
            spark.readStream.schema(EMBEDDINGS)
            .option("pathGlobFilter", "embeddings.parquet")
            .option("maxFilesPerTrigger", "1")
            .parquet(sf_dir)
        )
        q = (
            stream.writeStream.foreachBatch(encode_batch)
            .option("checkpointLocation", chk_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return _probe_stored(spark, sf_dir, base, spark.read.parquet(data_dir))


# the streamed code table must serve the identical artifact the in-plan
# build computes: one oracle, three execution paths (in-plan / persisted
# batch append / streamed append)
ORACLE_SQL = {"stream_index_append": _SIM_ORACLE["sim_ann_ivfpq"]}
