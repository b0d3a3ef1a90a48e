"""Advanced streaming: stream-stream joins and custom stateful operators.

The reference's only stateful construct is the Delta MERGE inside
foreachBatch (SURVEY §2.1 P12/P13); this module supplies the two streaming
capabilities SURVEY §2.2 lists beyond it: a watermarked stream-stream
interval join, and an arbitrary-stateful operator built on
``applyInPandasWithState`` (the public API for custom per-key state with
event-time timeouts).

Both run as TRUE multi-micro-batch streaming queries: the events table is
split into two time-ordered sharded halves consumed one half per trigger
(``maxFilesPerTrigger=SPLIT_SHARDS``), so join state and session state
genuinely carry across micro-batches. A
far-future sentinel event rides at the end of the second half; its
watermark advance (applied at batch end) flushes every open session /
unmatched outer row through the timeout-eviction path in the trailing
no-data batch — one fewer data trigger than a separate sentinel file.

Scale posture: stream-stream join state is bounded by the watermark delay
x event rate per key; session state is one small struct per active key.
Both shuffle on the key — the state store is partitioned the same way, so
a 1000-executor cluster holds 1/1000th of the keys per task."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from kafka2delta_spark.operators.hints import dim_broadcast
from kafka2delta_spark.queryset import register
from kafka2delta_spark.functions.measure import v1000 as v1000_m
from kafka2delta_spark.sources.tables import load_table
from kafka2delta_spark.streaming.drain import drain_to_memory

SESSION_GAP_MIN = 30
SENTINEL_USER = 99_999_999

# Spark's event-time watermark is EPOCH-FLOORED: the internal watermark
# value starts at 0 ms (1970-01-01T00:00:00Z) and can never go below it,
# so a pre-1970 event is late-by-definition from the very first batch and
# every watermark-stateful operator (dropDuplicatesWithinWatermark,
# stream-stream joins, event-time timeouts) silently drops it. The
# watermark queries therefore declare ``event_time >= epoch 0`` as an
# explicit input contract, applied identically on both engines (found by
# the round-11 timeskew fixture: 118 pre-1970 rows vanished from Spark's
# side only). The additive maintained families have no watermark-drop
# path and take all rows — no floor there.
EPOCH_FLOOR_SQL = "ts >= TIMESTAMP '1970-01-01 00:00:00'"


def _epoch_floor(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    # timezone-INDEPENDENT boundary (2026-08-16 ADVICE): a string cast is
    # interpreted in spark.sql.session.timeZone, but the real watermark
    # floor this models is fixed at epoch-0 UTC. timestamp_micros(0) is
    # the same instant under any session timezone.
    return df.filter(F.col(ts_col) >= F.timestamp_micros(F.lit(0)))

# shard files per half-split (= files per micro-batch). Each half is
# written by SPLIT_SHARDS parallel tasks — no coalesce(1) single-task
# funnel — and the stream consumes exactly SPLIT_SHARDS files per
# trigger, so the micro-batch boundary still falls between the halves.
SPLIT_SHARDS = 4

# Where the batch boundary lands inside [min(ts), max(ts)], as a fraction.
# 0.5 (the default, the oracle-checked configuration) is the time
# midpoint. The maintained-aggregate families claim their results are
# INVARIANT to this boundary (additive/idempotent state); the round-11
# boundary-shuffle regression test (tests/test_boundary_shuffle.py)
# proves it by monkeypatching several placements and asserting identical
# hashes — don't change the default.
SPLIT_FRAC = 0.5

_SPLIT_DIRS: dict[tuple[str, float], str] = {}


def _split_prefix(sf_dir: str) -> str:
    """Name prefix shared by every split dir of ``sf_dir`` (and of any
    directory below it)."""
    return os.path.join(
        tempfile.gettempdir(),
        f"events_split3_{sf_dir.strip('/').replace('/', '_')}",
    )


def _split_dir(sf_dir: str) -> str:
    """Scratch dir of ``sf_dir``'s two-half events split. Deterministic,
    keyed by the source dir AND the events file's identity (mtime_ns,
    size) -> built once per machine, reused across processes (bench runs
    pay the split only once), but a REGENERATED events table gets a fresh
    split instead of a stale one (the same staleness contract as the
    session memo's content fingerprint — see test_cache_fingerprint.py).
    The split fraction is part of the key so the boundary-shuffle test's
    placements never collide with the default build."""
    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    return (
        f"{_split_prefix(sf_dir)}_{st.st_mtime_ns}_{st.st_size}"
        f"_f{SPLIT_FRAC:g}"
    )


def _events_multibatch_dir(spark: SparkSession, sf_dir: str) -> str:
    """Split the events table into two time-ordered parquet halves — the
    second carrying a far-future sentinel event appended after the real
    tail — in a scratch dir. With maxFilesPerTrigger=SPLIT_SHARDS the
    file source turns each SPLIT_SHARDS-file half into its own
    micro-batch, so state genuinely crosses a batch boundary; the
    sentinel advances the watermark at the END of b1's batch and the
    trailing no-data batch (noDataMicroBatches, on by default) runs the
    timeout/eviction flush. Folding the sentinel into b1 instead of a
    third half drops one full data micro-batch — per-trigger checkpoint
    and planning cost is the dominant term of every drain.

    Scale hygiene (both fixture-only sites, but they execute inside
    registered queries at bench time, so they obey the repo's rules):

    * the split point is the (min+max)/2 timestamp midpoint — two O(1)
      aggregates, NOT a ``percentile()`` multiset (O(n) value buffers in
      one task). A split point only has to land strictly inside the time
      range; watermarks update at batch end, so b1's real rows are
      processed under the post-b0 watermark wherever the boundary falls
      — result sets are invariant to it (oracle-verified tri-scale).
    * each half is written with ``repartition(SPLIT_SHARDS)``, not
      ``coalesce(1)`` — no single-task write funnel. A time-skewed
      short half may leave some shards empty; those are PADDED with
      schema-only files so the maxFilesPerTrigger batch boundary holds
      (see below). The one genuinely degenerate shape — a midpoint at
      or below min(ts), i.e. ``max-min < 2µs``, which would make b0
      empty and collapse the fixture to one real batch — is rejected
      loudly on the O(1) min/max aggregate itself (a zero-ROW half
      still writes one schema-only parquet file on Spark 4.x, so a
      file-count check could never catch it).

    Batch order is pinned explicitly: FileStreamSource processes new
    files oldest-mtime-first (path-order for ties), so the b0 shard
    files get an mtime strictly older than b1's, and the symlink names
    sort b0 first as a tie-breaker."""
    if (sf_dir, SPLIT_FRAC) in _SPLIT_DIRS:
        return _SPLIT_DIRS[(sf_dir, SPLIT_FRAC)]
    d = _split_dir(sf_dir)
    stream_dir = f"{d}/stream"
    if os.path.isdir(stream_dir) and len(os.listdir(stream_dir)) == 2 * SPLIT_SHARDS:
        _SPLIT_DIRS[(sf_dir, SPLIT_FRAC)] = stream_dir
        return stream_dir
    ev = load_table(spark, sf_dir, "events")
    os.makedirs(d, exist_ok=True)
    rng = ev.agg(
        F.expr("min(unix_micros(ts))").alias("lo"),
        F.expr("max(unix_micros(ts))").alias("hi"),
    ).collect()[0]
    if rng["lo"] is None:
        raise RuntimeError(
            "events table is empty: the two-batch scaffold cannot be built"
        )
    # frac=0.5 reduces exactly to the (lo+hi)//2 midpoint the oracles
    # assume (lo + floor((hi-lo)*0.5) == floor((lo+hi)/2) for int inputs)
    mid_us = rng["lo"] + int((rng["hi"] - rng["lo"]) * SPLIT_FRAC)
    if mid_us <= rng["lo"]:
        # max-min < 2µs: every row would land in b1 (ts < mid matches
        # nothing), so there is no two-batch split to build — fail
        # loudly rather than hand the streaming families a one-batch
        # fixture that silently stops exercising cross-batch state.
        # (b1 can never be empty — it always holds the max-ts row and
        # the sentinel — so b0 is the only degenerate half, and this
        # min/max test is its exact precondition.)
        raise RuntimeError(
            "events split midpoint degenerated (max(ts)-min(ts) < 2µs; "
            "all timestamps equal?): the two-batch scaffold cannot be "
            "built"
        )
    ev.filter(F.unix_micros("ts") < mid_us).repartition(SPLIT_SHARDS).write.mode(
        "overwrite"
    ).parquet(f"{d}/b0")
    # sentinel = one event 10h after the real max ts, appended to b1
    sent = (
        ev.orderBy(F.desc("ts"))
        .limit(1)
        .select(
            (F.col("event_id") + 10**9).alias("event_id"),
            (F.col("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"),
            F.lit(SENTINEL_USER).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    b1 = ev.filter(F.unix_micros("ts") >= mid_us).unionByName(
        sent.select(*ev.columns)
    )
    b1.repartition(SPLIT_SHARDS).write.mode("overwrite").parquet(f"{d}/b1")
    tmp_stream = f"{d}/stream.tmp"
    shutil.rmtree(tmp_stream, ignore_errors=True)
    os.makedirs(tmp_stream)
    base_mtime = os.path.getmtime(d)
    for bi, sub in enumerate(["b0", "b1"]):
        srcs = sorted(
            f for f in os.listdir(f"{d}/{sub}") if f.endswith(".parquet")
        )
        if len(srcs) < SPLIT_SHARDS:
            # time-skewed events: one half carried so few rows the
            # repartition left empty partitions unwritten. Degrade
            # gracefully (round-9 ADVICE) — but by PADDING with empty
            # schema-only shards, not by accepting fewer files: the
            # consumers read maxFilesPerTrigger=SPLIT_SHARDS, so a short
            # b0 would otherwise pull b1 files into trigger 1 and break
            # the batch boundary the mtime pinning exists to guarantee.
            pad_dir = f"{d}/{sub}_pad"
            spark.createDataFrame([], ev.schema).repartition(1).write.mode(
                "overwrite"
            ).parquet(pad_dir)
            pad_src = next(
                f"{pad_dir}/{f}"
                for f in sorted(os.listdir(pad_dir))
                if f.endswith(".parquet")
            )
            for pi in range(SPLIT_SHARDS - len(srcs)):
                pad_tgt = f"{d}/{sub}/pad-{pi:03d}.parquet"
                shutil.copyfile(pad_src, pad_tgt)
            srcs = sorted(
                f for f in os.listdir(f"{d}/{sub}") if f.endswith(".parquet")
            )
        if len(srcs) != SPLIT_SHARDS:
            raise RuntimeError(
                f"events split half {sub} has {len(srcs)} shard files "
                f"after padding, expected {SPLIT_SHARDS}"
            )
        for si, src in enumerate(srcs):
            tgt = f"{d}/{sub}/{src}"
            # pin batch order: all b0 shards strictly older than b1's
            os.utime(tgt, (base_mtime + 10 * bi, base_mtime + 10 * bi))
            os.symlink(tgt, f"{tmp_stream}/part-{bi:03d}-{si:03d}.parquet")
    shutil.rmtree(stream_dir, ignore_errors=True)
    os.replace(tmp_stream, stream_dir)
    _SPLIT_DIRS[(sf_dir, SPLIT_FRAC)] = stream_dir
    return stream_dir


def _open_stream(
    spark: SparkSession,
    sf_dir: str,
    files_per_trigger: int | None = SPLIT_SHARDS,
) -> DataFrame:
    """Events file-source stream over the 2-half time-ordered split.

    ``files_per_trigger=SPLIT_SHARDS`` (default) forces one micro-batch
    per half so state genuinely crosses a batch boundary; ``None`` lets
    the availableNow drain take both halves in ONE data trigger —
    per-trigger planning + state-commit cost is the dominant drain term,
    so queries whose cross-batch behavior is already covered elsewhere
    (kill/resume property tests, the maintenance family) drop a full
    trigger."""
    batch = load_table(spark, sf_dir, "events")
    d = _events_multibatch_dir(spark, sf_dir)
    reader = spark.readStream.schema(batch.schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(d)


@register(
    "q56_stream_stream_interval_join",
    oracle="""
    -- epoch-floor contract: see stateful.EPOCH_FLOOR_SQL
    WITH ev AS (SELECT * FROM events
                WHERE ts >= TIMESTAMP '1970-01-01 00:00:00')
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM ev p JOIN ev c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def q56_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream inner join: purchases ⋈ clicks by the same user
    within the preceding hour. Both sides are watermarked (2 h delay ≥ the
    1 h join window, so no cross-batch match can be dropped) and the time
    bound lets Spark evict join state as the watermark advances — bounded
    state at any scale. Inner-join matches emit eagerly, so with the file
    fully processed the append-mode result equals the batch interval join
    — hence SQL-oracle-checkable."""
    ev = _epoch_floor(_open_stream(spark, sf_dir, files_per_trigger=None))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    ).select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    # Opposite tuning to q57: the stream-stream join is pure JVM, and each
    # partition carries FOUR state stores (left/right × key/keyWithIndex)
    # paying checkpoint I/O per batch — fewer partitions win (sf0.1
    # medians post-sentinel-fold: 1→2.8 s, 2→2.47 s, 4→2.47 s). Inner
    # joins emit matches eagerly, so the trailing no-data flush batch
    # buys nothing — skip it (one fewer state-commit round).
    name = drain_to_memory(
        joined, "append", shuffle_partitions="2", no_data_batches=False
    )
    return spark.table(name)


@register(
    "q58_stream_stream_left_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id, p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL
            AND ts >= TIMESTAMP '1970-01-01 00:00:00') p
    LEFT JOIN (SELECT * FROM events
          WHERE event_type = 'click' AND user_id IS NOT NULL
            AND ts >= TIMESTAMP '1970-01-01 00:00:00') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def q58_stream_stream_left_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRUE stream-stream LEFT OUTER interval join — the state-eviction
    path q56's inner join never exercises: an unmatched purchase emits its
    null-padded row only once the global watermark proves no future click
    can match (purchase_ts + 1 h < watermark), i.e. on state eviction, not
    eagerly. The far-future sentinel flows through BOTH side filters so
    both per-side watermarks (global watermark = their min) advance past
    every real purchase and flush the final unmatched rows; sentinel rows
    are dropped from the result afterwards. Same bounded-state posture as
    q56: eviction is what MAKES the outer rows emit, so state is bounded
    by construction."""
    # Defined-user contract, explicit on BOTH inputs (matching the
    # oracle's stated ``user_id IS NOT NULL``): NULL-key rows can never
    # equi-join, so without this filter they would only be dropped
    # incidentally by the trailing sentinel filter's three-valued logic —
    # fragile (an eqNullSafe there would resurrect them) and wasteful
    # (NULL-key rows sit in join state until watermark eviction for
    # nothing). Filtering here trims that state up front. The sentinel
    # user is non-NULL, so watermark advancement is unaffected.
    ev = _epoch_floor(
        _open_stream(spark, sf_dir, files_per_trigger=None)
    ).filter(F.col("user_id").isNotNull())
    purchases = (
        ev.filter(F.col("event_type").isin("purchase", "sentinel"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type").isin("click", "sentinel"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "leftOuter",
    ).select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts")
    # Outer join NEEDS the no-data flush batch (unmatched rows emit on
    # watermark eviction); measured sf0.1 warm medians post-sentinel-fold:
    # 1→2.68 s, 2→2.47 s, 4→2.51 s.
    name = drain_to_memory(joined, "append", shuffle_partitions="2")
    return spark.table(name).filter(F.col("user_id") != SENTINEL_USER)


_SESSION_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
    ]
)


def _sessionize(key, pdf_iter, state):  # noqa: ANN001 — applyInPandasWithState contract
    """Per-user sessionizer: events ≤30 min apart share a session. Closed
    sessions emit immediately on an in-stream gap; the final open session
    emits via event-time timeout once the watermark passes end+gap."""
    import numpy as np
    import pandas as pd

    gap_us = SESSION_GAP_MIN * 60 * 1_000_000

    def emit(rows: list[tuple[int, int]]) -> pd.DataFrame:
        # ~15k per-key calls per trigger make frame-construction cost the
        # dominant Python term (guide §4.2): a dict of preallocated numpy
        # arrays with copy=False builds ~3x faster than per-row
        # pd.Timestamp boxing, and datetime64[us] is Spark's own timestamp
        # resolution so Arrow ships it without conversion.
        n = len(rows)
        return pd.DataFrame(
            {
                "user_id": np.full(n, key[0], dtype="int64"),
                "session_start": np.array(
                    [r[0] for r in rows], dtype="int64"
                ).view("M8[us]"),
                "n_events": np.array([r[1] for r in rows], dtype="int64"),
            },
            copy=False,
        )

    if state.hasTimedOut:
        start_us, end_us, n = state.get
        state.remove()
        yield emit([(start_us, n)])
        return

    ts_us: list[int] = []
    for pdf in pdf_iter:
        if len(pdf):
            # pandas Timestamps are int64 nanoseconds; state keeps microseconds
            ts_us.extend(int(t) for t in pdf["ts"].astype("int64") // 1000)
    ts_us = sorted(ts_us)
    if not ts_us:
        return
    cur = list(state.get) if state.exists else None
    closed: list[tuple[int, int]] = []
    for t in ts_us:
        if cur is None:
            cur = [t, t, 1]
        elif t - cur[1] <= gap_us:
            cur[1] = t
            cur[2] += 1
        else:
            closed.append((cur[0], cur[2]))
            cur = [t, t, 1]
    state.update((cur[0], cur[1], cur[2]))
    state.setTimeoutTimestamp((cur[1] + gap_us) // 1000)
    if closed:
        yield emit(closed)


@register(
    "q57_stateful_sessionize",
    oracle=f"""
    WITH flagged AS (
        -- defined-user contract: the keyed python state operator cannot
        -- address a NULL key (anonymous events are excluded)
        SELECT user_id, ts,
               CASE WHEN ts >= COALESCE(LAG(ts) OVER w, ts - INTERVAL '1 second')
                                + INTERVAL '{SESSION_GAP_MIN} minutes'
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id IS NOT NULL
          AND ts >= TIMESTAMP '1970-01-01 00:00:00'
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def q57_stateful_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` — the public
    Spark API for arbitrary per-key state (SURVEY §2.2's 'custom stateful
    operators' gap). Sessionizes each user's event stream with a 30-minute
    inactivity gap across micro-batch boundaries; the far-future sentinel
    event advances the watermark so every real session flushes through the
    event-time-timeout path. Deterministic end state → full SQL oracle
    parity with the lag-gap-cumsum islands rewrite (q52 checks the same
    semantics against Spark's built-in session_window)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Project to the two columns the sessionizer reads BEFORE the stateful
    # exchange — every retained column (props is a JSON blob) is Arrow-
    # shipped to the Python state workers per batch otherwise.
    # defined-user contract (see oracle): drop NULL keys BEFORE the
    # stateful exchange — they cannot address keyed state, and filtering
    # here keeps them out of the Arrow worker round-trips entirely
    ev = (
        _epoch_floor(_open_stream(spark, sf_dir))
        .filter(F.col("user_id").isNotNull())
        .select("user_id", "ts")
    )
    sessions = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    # 16 partitions, not the drain default 4: the cost driver here is
    # Python state-worker round-trips (parallelize per partition), not
    # checkpoint I/O (multiplies per partition). Measured sf0.1 medians:
    # 4→7.5 s, 8→5.3-6.7 s, 16→5.2 s, 32→5.8 s.
    name = drain_to_memory(sessions, "append", shuffle_partitions="16")
    return spark.table(name).filter(F.col("user_id") != SENTINEL_USER)


@register(
    "qx08_stream_full_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           COALESCE(p.user_id, c.user_id) AS user_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events
          WHERE event_type = 'purchase' AND user_id IS NOT NULL
            AND ts >= TIMESTAMP '1970-01-01 00:00:00') p
    FULL JOIN (SELECT * FROM events
          WHERE event_type = 'click' AND user_id IS NOT NULL
            AND ts >= TIMESTAMP '1970-01-01 00:00:00') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def qx08_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE stream-stream FULL OUTER interval join — both eviction paths
    at once: unmatched purchases null-pad like q58, AND unmatched clicks
    emit once the watermark proves no purchase within the following hour
    can still arrive. State on both sides is bounded by the watermark
    delay exactly as in q56/q58; the sentinel flows through both side
    filters so both per-side watermarks advance past every real event
    and the final unmatched rows on BOTH sides flush in the no-data
    batch. Completes the streaming join matrix: inner (q56), left outer
    (q58), full outer (here)."""
    # Defined-user contract on both inputs, mirroring the oracle and q58:
    # drop NULL keys before they enter (full-outer) join state — without
    # this, NULL-key rows would emit as unmatched outer rows and only the
    # trailing sentinel filter's three-valued logic would hide them.
    ev = _epoch_floor(
        _open_stream(spark, sf_dir, files_per_trigger=None)
    ).filter(F.col("user_id").isNotNull())
    purchases = (
        ev.filter(F.col("event_type").isin("purchase", "sentinel"))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type").isin("click", "sentinel"))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce("p_user_id", "c_user_id").alias("user_id"),
        "purchase_ts",
        "click_ts",
    )
    name = drain_to_memory(joined, "append", shuffle_partitions="2")
    return spark.table(name).filter(F.col("user_id") != SENTINEL_USER)


@register(
    "qx12_stream_static_enrichment",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_nationkey, e.event_type,
           (CASE WHEN isfinite(e.value)
                 THEN CAST(FLOOR(e.value * 1000) AS BIGINT) END) AS v1000
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def qx12_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the dimension-enrichment pattern every event
    pipeline runs before sinking: the event stream joins the static
    customer table on the user key. STATELESS by construction (the
    static side is re-planned per micro-batch, broadcast when small — no
    watermark, no join state, unlike q56/q58), so enriched rows emit
    eagerly and append mode equals the batch join. At 100 TB the static
    dim is a broadcast ONLY while it fits — customer scales with SF, so
    the hint is size-gated (``dim_broadcast``); past the cap the
    alternative is a bucketed storage-side join or a per-batch shuffled
    hash join, which AQE picks without the hint."""
    ev = _open_stream(spark, sf_dir, files_per_trigger=None).filter(
        F.col("user_id") != SENTINEL_USER
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_nationkey")
    )
    enriched = ev.join(
        dim_broadcast(dim), F.col("user_id") == F.col("c_custkey")
    ).select(
        "event_id",
        "user_id",
        "c_nationkey",
        "event_type",
        v1000_m("value").alias("v1000"),
    )
    name = drain_to_memory(enriched, "append", no_data_batches=False)
    return spark.table(name)
