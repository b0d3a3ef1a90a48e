"""Event-time windowed aggregation: tumbling, sliding, session.

The reference does no event-time windowing at all (its foreachBatch pattern
sidesteps watermarks — SURVEY §2.2); this module supplies it. Each window
shape has a batch form (the ``F.window``/``F.session_window`` functions work
identically in batch) with a DuckDB oracle, plus TRUE Structured-Streaming
variants (q53/q54) that run a real streaming query over a file source and
return its result — proving the same operators run under the streaming
engine with watermarks.

Scale: windowed aggregation shuffles on (window, keys) — bounded state per
window; watermarks bound total state in streaming. Session windows use
Spark's native session merge (state-store backed when streaming).
"""

from __future__ import annotations

import contextlib
import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka2delta_spark.queryset import register
from kafka2delta_spark.sources.tables import load_table, normalize_event_ts
from kafka2delta_spark.streaming.drain import drain_to_memory, scratch_dir


@register(
    "q50_tumbling_hourly_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q50_tumbling_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window — the canonical streaming agg, batch form."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


@register(
    "q51_sliding_window_activity",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts) - (offs * INTERVAL '30 minutes')
               AS window_start,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS offs)
    GROUP BY 1
    """,
)
def q51_sliding_window_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide) — every event lands in
    exactly 2 windows; the oracle replicates via an offset cross join."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(F.col("window.start").alias("window_start"), "n", "n_users")
    )


@register(
    "q52_session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN ts >= COALESCE(LAG(ts) OVER w, ts - INTERVAL '1 second')
                                + INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q52_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) via native session_window —
    Spark merges overlapping per-key sessions; the oracle rebuilds sessions
    with the lag-gap-cumsum island technique."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open the events table as a real file-source stream (Kafka stand-in;
    same schema juggling as the batch loader for the nanos timestamp).
    The file source wants a directory — symlink the single parquet file
    into a scratch dir named after ``sf_dir`` (testdata is read-only)."""
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    d = os.path.join(scratch_dir(), f"events_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    with contextlib.suppress(FileExistsError):
        os.symlink(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(d)
    return normalize_event_ts(stream)


@register(
    "q53_stream_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type, COUNT(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def q53_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming tumbling-window count: readStream → watermark →
    window agg → memory sink (complete mode), drained synchronously. With
    the whole file processed, complete-mode output equals the batch result —
    hence SQL-oracle-checkable."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    # complete mode re-emits the whole result every data trigger — the
    # trailing no-data batch (watermark eviction bookkeeping) adds no
    # output rows, only one more state-commit round: skip it
    return spark.table(drain_to_memory(agg, "complete", no_data_batches=False))


@register(
    "q54_stream_latest_state",
    oracle="""
    SELECT user_id, event_id, event_type
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def q54_stream_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE streaming latest-state-per-key (the CDC dedup as a continuous
    query): max_by over (ts, event_id) in complete mode — the streaming
    twin of q70."""
    ev = _events_stream(spark, sf_dir)
    latest = ev.groupBy("user_id").agg(
        F.max_by(
            F.struct("event_id", "event_type"), F.struct("ts", "event_id")
        ).alias("__latest")
    ).select("user_id", "__latest.event_id", "__latest.event_type")
    return spark.table(drain_to_memory(latest, "complete"))


@register(
    "q55_stream_dedup_within_watermark",
    # One output row per distinct event_id, projected to columns that are
    # FUNCTIONS OF THE KEY. In general, WHICH arrival of a duplicated
    # event_id survives dropDuplicatesWithinWatermark is watermark-
    # progression-dependent (non-SQL-expressible) — the oracle is
    # therefore the batch DISTINCT of the projection, exact whenever
    # duplicate event_ids are content-identical on these columns (the
    # at-least-once redelivery case the operator exists for; the
    # collisions fixture ships 44 such duplicates). Distinct-content
    # duplicates keyed alike remain ambiguous BY DESIGN — that is the
    # CDC path's job, where LSN + tie_break_hash defines the winner.
    # Rounds 4-6 carried a count-only row_oracle; round 7 graduated it to
    # a full value oracle on the key-determined projection; round 12
    # replaced the bare SELECT (which silently assumed event_id unique —
    # the collisions fixture's exact target) with DISTINCT.
    # Epoch-floor contract (stateful.EPOCH_FLOOR_SQL): the watermark
    # starts at epoch 0, so pre-1970 rows are dropped as late — declared
    # identically on both engines.
    oracle="SELECT DISTINCT event_id, user_id, event_type FROM events "
           "WHERE ts >= TIMESTAMP '1970-01-01 00:00:00'",
)
def q55_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark on event_id — bounded-state
    exact dedup for at-least-once sources. The projection returns only
    key-determined columns, so the output is value-checkable against the
    batch DISTINCT even though which physical arrival survives a true
    duplicate is watermark-dependent (see the register comment)."""
    from kafka2delta_spark.streaming.stateful import _epoch_floor

    ev = _epoch_floor(_events_stream(spark, sf_dir))
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    # dedup emits each first-seen row EAGERLY in its data batch; the
    # trailing no-data batch only evicts expired dedup state — no output
    name = drain_to_memory(deduped, "append", no_data_batches=False)
    return spark.table(name).select("event_id", "user_id", "event_type")
