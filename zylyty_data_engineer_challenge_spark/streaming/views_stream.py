"""Structured Streaming analogs of the reference's aggregation views.

[EXTENDED] north-star surface — the reference is strictly batch
(SURVEY.md §2.12 "Streaming: none"). These are views 2/3 re-expressed as
streaming aggregations over the ``events`` table: tumbling event-time
windows + watermark for late data, the standard production shape for
"monthly_transaction_summary as data arrives".

Determinism for the test gate: the bounded events parquet is replayed with
``availableNow`` through a memory sink in *complete* output mode, so the
final state equals the batch answer and the DuckDB oracle can check it
(window start == date_trunc). With append mode + watermark, unclosed final
windows would be withheld — correct for an unbounded stream, wrong for a
bounded replay check.

Scale: a streaming hash aggregate keyed on (window, group) with state in
the state store; the watermark bounds state size (windows older than
watermark - lateness are evicted). Skewed event types are handled by AQE
being unavailable in streaming — instead the key space (window x type)
keeps cardinality bounded.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import (
    artifact_dir,
    convert_event_ts,
    events_ts_is_nanos,
    load_table,
)
from ..schemas import EVENTS, EVENTS_RAW

WATERMARK = "1 hour"
WINDOW = "1 hour"

# State-store partition count for the bounded-replay gate queries. The
# number of state partitions is fixed at a streaming query's FIRST run from
# spark.sql.shuffle.partitions; 32 state stores (+ 32 Python state workers
# for applyInPandasWithState) on a one-file micro-batch is pure overhead.
# A real deployment sizes this to cluster cores before the first start.
STREAM_SHUFFLE_PARTITIONS = "8"


class _stream_conf:
    """Temporarily pin spark.sql.shuffle.partitions while a bounded-replay
    streaming query is planned and run, restoring the session value after
    (the gate runs queries serially, so the scope is safe)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", STREAM_SHUFFLE_PARTITIONS)

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)
        return False


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the bounded events parquet (one file -> one batch).

    FileStreamSource requires a directory path; pathGlobFilter narrows the
    scan to the events file within the corpus directory. The ts unit is
    sniffed from the parquet footer (catalog.events_ts_is_nanos) so batch
    and streaming reads can never diverge on unit handling.
    """
    if events_ts_is_nanos(f"{sf_dir}/events.parquet", spark):
        # runtime-settable — independent of how the session was built
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(EVENTS_RAW)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        return convert_event_ts(raw)
    return (
        spark.readStream.schema(EVENTS)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def windowed_event_summary(events: DataFrame) -> DataFrame:
    """View-2 analog: per (tumbling hour, event_type) count + exact decimal
    sum of value. Works identically on a batch or streaming events frame."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_event_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the windowed summary as a real stream to completion
    (availableNow + memory sink, complete mode) and return the final table."""
    sink = f"stream_summary_{uuid.uuid4().hex[:8]}"
    with _stream_conf(spark):
        q = (
            windowed_event_summary(_stream_events(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).orderBy("window_start", "event_type")


def stream_high_activity_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-3 analog as a stream: users with > 2 events in a tumbling hour
    (streaming HAVING). Same bounded-replay execution contract."""
    sink = f"stream_high_{uuid.uuid4().hex[:8]}"
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW).alias("w"), "user_id")
        .agg(F.count("event_id").alias("n_events"))
        .filter(F.col("n_events") > 2)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "user_id",
            "n_events",
        )
    )
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).orderBy("window_start", "user_id")


ORACLE_SQL = {
    "stream_event_summary": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               COUNT(event_id) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY window_start, event_type
    """,
    "stream_high_activity_users": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               user_id,
               COUNT(event_id) AS n_events
        FROM events
        GROUP BY 1, 2
        HAVING COUNT(event_id) > 2
        ORDER BY window_start, user_id
    """,
}


N_TIERS = 5


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against a static
    (batch-loaded) user-dimension table, then aggregated per (tier,
    event_type).

    The static side is broadcast once and re-used by every micro-batch —
    the standard pattern for dimension enrichment in a streaming pipeline
    (no state, no watermark interaction; only the downstream aggregate
    holds state, and its key space here is a bounded 5x5 grid). The
    bounded replay equals the batch join, which is what the oracle checks.
    """
    static_dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select("user_id", F.pmod("user_id", F.lit(N_TIERS)).alias("tier"))
    )
    sink = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    with _stream_conf(spark):
        agg = (
            _stream_events(spark, sf_dir)
            .join(F.broadcast(static_dim), "user_id")
            .groupBy("tier", "event_type")
            .agg(F.count("event_id").alias("n_events"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).orderBy("tier", "event_type")


ORACLE_SQL["stream_static_join"] = f"""
    SELECT user_id % {N_TIERS} AS tier,
           event_type,
           COUNT(event_id) AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY tier, event_type
"""


SESSION_GAP = "30 minutes"


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with Spark's NATIVE session_window operator (dynamic
    gap-merged windows in the streaming state store) — the built-in
    counterpart to the custom applyInPandasWithState sessionizer in
    .sessionize: per (user, session) event counts where a session extends
    until a 30-minute silence.

    Scale: state is one open window per active (user) key, merged in the
    state store as events arrive; the watermark closes and evicts sessions
    whose end precedes it. The oracle states the same sessions relationally
    (lag-based island detection): new session when the gap since the
    previous event is >= 30 min, end = last event + gap.
    """
    sink = f"stream_sessw_{uuid.uuid4().hex[:8]}"
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(F.count("event_id").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).orderBy("user_id", "session_start")


ORACLE_SQL["stream_session_window"] = """
    WITH ordered AS (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR ts - prev_ts >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM ordered
    ),
    grouped AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS session_no
        FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
               AS session_end,
           COUNT(*) AS n_events
    FROM grouped
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
"""


def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze-layer file delivery: the events stream written to a
    partitioned parquet table through Spark's transactional file sink,
    then read back and summarized per (event_type).

    The file sink + checkpoint is Structured Streaming's exactly-once
    delivery mechanism: each micro-batch's files are recorded in the
    sink's _spark_metadata commit log, so a crashed/retried batch can
    never double-count — and because the sink location is durable (the
    ``streamSinkDir`` root keyed by the events source identity, see
    :func:`..catalog.artifact_dir`), calling this twice reuses the checkpoint:
    the second run processes zero micro-batches and the read-back is
    unchanged, which is the restart-safety contract a production bronze
    ingest relies on (r6: a driver-local tempdir + localCheckpoint
    keep-alive only worked in local mode). partitionBy(event_type) gives
    the downstream reader partition pruning for free. The oracle
    aggregates the same source directly, so the differential check proves
    the sink delivered exactly-once (any duplicated or dropped file would
    flip counts/sums).

    Scale: append-mode file sink, no state store; throughput is bounded
    by parquet write bandwidth, and the commit log keeps O(batches)
    metadata, compacted periodically.
    """
    base = artifact_dir(spark, "streamSinkDir", [f"{sf_dir}/events.parquet"])
    data_dir, chk_dir = f"{base}/data", f"{base}/chk"
    with _stream_conf(spark):
        q = (
            _stream_events(spark, sf_dir)
            .select("event_id", "event_type", "value", "ts")
            .writeStream.format("parquet")
            .option("path", data_dir)
            .option("checkpointLocation", chk_dir)
            .partitionBy("event_type")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    delivered = spark.read.parquet(data_dir)
    return (
        delivered.groupBy("event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
    )


ORACLE_SQL["stream_parquet_sink"] = """
    SELECT event_type,
           COUNT(event_id) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregate (2h windows, 1h slide): every
    event feeds two overlapping windows' state — the streaming twin of
    the batch queries.analytics.q_sliding_window, sharing its oracle, so
    the differential cross-validates batch window(), streaming window
    state, and the oracle's hour-trunc reconstruction against each other.

    Scale: state rows = windows x types; the watermark evicts windows
    older than (watermark - window), so overlap multiplies live state by
    the window/slide ratio (2x here), never unboundedly.
    """
    sink = f"stream_slide_{uuid.uuid4().hex[:8]}"
    agg = (
        _stream_events(spark, sf_dir)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    with _stream_conf(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(sink).orderBy("win_start", "event_type")


ORACLE_SQL["stream_sliding_window"] = """
    WITH x AS (
        SELECT event_id, event_type, value,
               date_trunc('hour', ts) - o.o * INTERVAL 1 HOUR AS win_start
        FROM events, (SELECT unnest(range(0, 2)) AS o) o
    )
    SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           COUNT(event_id) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM x
    GROUP BY 1, 2
    ORDER BY win_start, event_type
"""
