"""Streaming CDC apply: the change feed as a stream, merged per batch.

[EXTENDED] — the streaming twin of :func:`..queries.warehouse.q_cdc_apply`
(the reference `/root/reference/main.py` is batch-only). The batch op
reduces the whole change feed to the latest change per key and runs one
MERGE; in production the feed *arrives* — so this module maintains a
persisted snapshot via ``foreachBatch``, merging each micro-batch as it
lands, and the final snapshot must equal the batch MERGE **no matter how
the feed was split into batches**.

The algebra that makes that true: each batch reduces to its own latest
change per key, and the snapshot merge takes the (ts, event_id)-greater
change — a commutative, associative, idempotent max. Deletes are kept as
tombstones (never physically dropped mid-stream) so a late-batched older
update cannot resurrect a deleted key; the final read filters tombstones
and derives the same keep/update/insert action the batch computes. The
oracle is ``q_cdc_apply``'s SQL verbatim — hash-equality proves
stream-of-batches ≡ one batch.

Scale: per-batch cost is one window over the BATCH (bounded by feed
cadence, not corpus), plus a key-partitioned merge join against the
snapshot. The snapshot rewrite is the simple-file-format trade (a real
deployment points the same foreachBatch at a transactional table format's
MERGE); exactly-once comes from the file-stream checkpoint plus the
max-merge's idempotence — a retried batch re-merges to the identical
snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..queries.warehouse import ORACLE_SQL as _WAREHOUSE_ORACLE

CDC_STREAM_VERSION = 1


def _latest_per_key(changes: DataFrame) -> DataFrame:
    """Reduce a change set to the (ts, event_id)-latest row per key."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        changes.select("user_id", "ts", "event_id", "event_type")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("user_id").alias("key"),
            F.col("ts").alias("ch_ts"),
            F.col("event_id").alias("ch_eid"),
            (F.col("event_type") == "error").alias("is_delete"),
        )
    )


def _merge_snapshot(snap: DataFrame, batch_latest: DataFrame) -> DataFrame:
    """Max-merge the batch's latest changes into the snapshot.

    Per key, the (ts, event_id)-greater change wins; base membership is
    sticky (only the initial snapshot sets it). Tombstones persist —
    deletion is decided at read time, so merge order cannot matter.
    """
    b = batch_latest.select(
        F.col("key").alias("b_key"),
        F.col("ch_ts").alias("b_ts"),
        F.col("ch_eid").alias("b_eid"),
        F.col("is_delete").alias("b_del"),
    )
    take_batch = F.col("b_eid").isNotNull() & (
        F.col("ch_eid").isNull()
        | (F.col("b_ts") > F.col("ch_ts"))
        | ((F.col("b_ts") == F.col("ch_ts")) & (F.col("b_eid") > F.col("ch_eid")))
    )
    return (
        snap.join(b, F.col("key") == F.col("b_key"), "full_outer")
        .select(
            F.coalesce("key", "b_key").alias("key"),
            F.coalesce("in_base", F.lit(False)).alias("in_base"),
            F.when(take_batch, F.col("b_ts")).otherwise(F.col("ch_ts")).alias("ch_ts"),
            F.when(take_batch, F.col("b_eid")).otherwise(F.col("ch_eid")).alias("ch_eid"),
            F.when(take_batch, F.col("b_del")).otherwise(F.col("is_delete")).alias("is_delete"),
        )
    )


def _snapshot_result(snap: DataFrame) -> DataFrame:
    """Read-time semantics: drop tombstones, derive the MERGE action."""
    return (
        snap.filter(~F.coalesce("is_delete", F.lit(False)))
        .select(
            "key",
            F.when(F.col("ch_eid").isNull(), F.lit("keep"))
            .when(F.col("in_base"), F.lit("update"))
            .otherwise(F.lit("insert"))
            .alias("action"),
            F.col("ch_eid").alias("last_event_id"),
        )
        .orderBy("key")
    )


def cdc_apply_stream(
    spark: SparkSession,
    feed_stream: DataFrame,
    base: DataFrame,
    work_dir: str,
) -> DataFrame:
    """Run the bounded replay: merge every micro-batch of ``feed_stream``
    (an events-shaped readStream) into a snapshot seeded from ``base``
    (a one-column DataFrame of existing keys), and return the final
    merged result.

    The snapshot is versioned per batch id (``snap_<id>``): a retried
    batch overwrites its own version and — because the merge is an
    idempotent max — reconverges to the identical content even if its
    earlier attempt partially committed. Each batch reads the highest
    snapshot version present, which on the sequential availableNow replay
    is always its predecessor.
    """
    from ..catalog import hadoop_fs
    from .views_stream import _stream_conf

    fs, root_path = hadoop_fs(spark, work_dir)
    base_snap = base.select(
        F.col(base.columns[0]).cast("long").alias("key"),
        F.lit(True).alias("in_base"),
        F.lit(None).cast("timestamp").alias("ch_ts"),
        F.lit(None).cast("long").alias("ch_eid"),
        F.lit(None).cast("boolean").alias("is_delete"),
    )

    def _latest_snap_dir() -> str | None:
        if not fs.exists(root_path):
            return None
        versions = []
        for status in fs.listStatus(root_path):
            name = status.getPath().getName()
            if name.startswith("snap_") and name[5:].isdigit():
                versions.append(int(name[5:]))
        if not versions:
            return None
        return f"{work_dir}/snap_{max(versions)}"

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        prev = _latest_snap_dir()
        snap = spark.read.parquet(prev) if prev else base_snap
        merged = _merge_snapshot(snap, _latest_per_key(batch_df))
        merged.write.mode("overwrite").parquet(f"{work_dir}/snap_{batch_id}")

    with _stream_conf(spark):
        q = (
            feed_stream.writeStream.foreachBatch(merge_batch)
            .option("checkpointLocation", f"{work_dir}/chk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    final = _latest_snap_dir()
    snap = spark.read.parquet(final) if final else base_snap
    return _snapshot_result(snap)


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: the events feed streamed onto the customer base,
    identity-keyed work dir (regenerated sources get a fresh snapshot
    chain AND a fresh checkpoint log), re-trigger appends nothing
    (pinned by test). Result is hash-equal to batch ``q_cdc_apply``."""
    from ..catalog import artifact_dir, load_table
    from .views_stream import _stream_events

    work_dir = artifact_dir(
        spark,
        "pairCacheDir",
        [f"{sf_dir}/events.parquet", f"{sf_dir}/customer.parquet"],
        f"cdc-v{CDC_STREAM_VERSION}",
    )
    base = load_table(spark, sf_dir, "customer").select("c_custkey")
    return cdc_apply_stream(spark, _stream_events(spark, sf_dir), base, work_dir)


# stream-of-batches must equal the one-shot batch MERGE: same oracle
ORACLE_SQL = {"stream_cdc_apply": _WAREHOUSE_ORACLE["q_cdc_apply"]}
