"""stream_cdc_apply (r9c): batch-split invariance + exactly-once.

The oracle gate proves the single-batch replay equals batch q_cdc_apply;
these tests prove the properties the oracle cannot see — that the merge
result is IDENTICAL for any batching of the feed (including conflicting
changes to one key split across batches, and a delete arriving in an
earlier batch than an older update), and that re-triggering the bounded
replay processes zero new batches.
"""

from __future__ import annotations

import datetime
import shutil

from pyspark.sql import functions as F

from zylyty_data_engineer_challenge_spark.queries.warehouse import q_cdc_apply
from zylyty_data_engineer_challenge_spark.schemas import EVENTS
from zylyty_data_engineer_challenge_spark.streaming.cdc_stream import (
    cdc_apply_stream,
    stream_cdc_apply,
)


def _stream_dir(spark, path):
    return (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(path))
    )


def _write_flat_chunk(df, tmp_path, feed_dir, name):
    """FileStreamSource lists FILES, not .parquet output directories —
    write the chunk, then promote its single part file into the feed dir
    as a flat file (one file per micro-batch)."""
    staging = tmp_path / "staging" / name
    df.coalesce(1).write.mode("overwrite").parquet(str(staging))
    [part] = staging.glob("part-*.parquet")
    feed_dir.mkdir(parents=True, exist_ok=True)
    shutil.copy(part, feed_dir / f"{name}.parquet")


def test_three_way_split_equals_batch_merge(spark, sf_dir, tmp_path):
    """The real feed split into three interleaved files (row % 3) — so a
    key's conflicting changes land in different micro-batches in an order
    unrelated to event time — must merge to the exact batch result."""
    from zylyty_data_engineer_challenge_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    feed_dir = tmp_path / "feed"
    for i in range(3):
        _write_flat_chunk(
            events.filter(F.col("event_id") % 3 == i), tmp_path, feed_dir, f"chunk_{i}"
        )
    base = load_table(spark, sf_dir, "customer").select("c_custkey")
    got = cdc_apply_stream(
        spark, _stream_dir(spark, feed_dir), base, str(tmp_path / "work")
    ).collect()
    want = q_cdc_apply(spark, sf_dir).collect()
    assert got == want


def test_delete_not_resurrected_by_late_older_update(spark, tmp_path):
    """Targeted semantics: key 1's delete (newest event) arrives in batch
    one; an OLDER update for the same key arrives in batch two. The older
    update must lose the max-merge — key 1 stays deleted. Key 2's newer
    update in batch two must win over its older batch-one change."""
    t = datetime.datetime(2024, 1, 1)

    def ev(eid, ts_min, uid, etype):
        return (eid, t + datetime.timedelta(minutes=ts_min), uid, etype, 0.0, "{}")

    batch1 = [ev(10, 30, 1, "error"), ev(11, 10, 2, "click")]
    batch2 = [ev(12, 20, 1, "click"), ev(13, 40, 2, "view")]
    feed_dir = tmp_path / "feed"
    for i, rows in enumerate([batch1, batch2]):
        _write_flat_chunk(
            spark.createDataFrame(rows, EVENTS), tmp_path, feed_dir, f"b{i}"
        )
    base = spark.createDataFrame([(1,), (2,), (3,)], "c_custkey long")
    got = cdc_apply_stream(
        spark, _stream_dir(spark, feed_dir), base, str(tmp_path / "work")
    ).collect()
    rows = {r["key"]: (r["action"], r["last_event_id"]) for r in got}
    assert 1 not in rows, "deleted key must not be resurrected by older update"
    assert rows[2] == ("update", 13), "newest change must win across batches"
    assert rows[3] == ("keep", None)


def test_stream_cdc_apply_exactly_once_retrigger(spark, sf_dir, artifact_roots):
    """Re-triggering the registry replay must process zero new batches:
    no new snapshot version appears and the result is identical."""
    import os

    first = stream_cdc_apply(spark, sf_dir).collect()
    [work] = [
        str(p)
        for p in (artifact_roots / "pairCacheDir").iterdir()
        if (p / "chk").exists()
    ]
    snaps1 = sorted(d for d in os.listdir(work) if d.startswith("snap_"))
    second = stream_cdc_apply(spark, sf_dir).collect()
    snaps2 = sorted(d for d in os.listdir(work) if d.startswith("snap_"))
    assert snaps2 == snaps1, "re-trigger must not write a new snapshot"
    assert second == first
