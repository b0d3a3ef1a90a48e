"""Incremental view maintenance: eight maintained-aggregate families as
pure folds under one replay ledger and one foreachBatch runner.

The third leg of the stateful-streaming surface, next to q57's
``applyInPandasWithState`` and lifetime.py's env-gated
``transformWithStateInPandas``: maintain a per-key aggregate TABLE (not
in-memory operator state) by folding each micro-batch into the state
store — the ``foreachBatch`` + MERGE pattern every Delta-based pipeline
uses for continuously-maintained rollups, and the same shape as the
reference's CDC merge loop (ref stream/stream.py:39-156) with fold
semantics instead of latest-LSN-wins. Each concern is written once:

* a **fold** ``(prior | None, batch) -> DataFrame`` per family, pure and
  I/O-free: additive rollup (q49), KMV sketch union (qx23), count-min
  cells (qx31), rolling anomaly tails (qx46), daily counts (qx70),
  presence sets (qx92), session intervals (qx99) and inter-arrival
  histograms (qy10). ``prior`` is None on the first batch, so no fold
  unions with an empty-state scaffold;
* :func:`apply_batch`, the replay ledger around any fold;
* :func:`maintain`, the one ``foreachBatch`` + ``availableNow`` query;
* :func:`_drain_family`, which drives a fold over the two-batch events
  split and hands the final snapshot to the query's read-time tail.

Why this scales where complete-mode output (q54) does not: complete mode
re-emits the ENTIRE result every trigger, so sink I/O is O(total keys) per
batch. Here each trigger aggregates only the batch (map-side partial
shuffle of batch-keys rows), and the store merge touches only rows for
keys present in the batch — with ``DeltaStateStore`` that is a file-pruned
MERGE; with the parquet store it is union + re-aggregate (associative, so
the result is order-independent). State lives in the table itself:
executor memory holds nothing between triggers.

Exactly-once: foreachBatch is at-least-once on retry, and additive
aggregates — unlike the CDC path, whose LSN guard makes replay a no-op —
have no natural guard: re-folding a replayed batch double-counts it. So
:func:`apply_batch` records the applied ``batch_id`` in the SAME commit as
the snapshot (``ParquetStateStore.overwrite(metadata=...)`` — the ledger
flips atomically with the version pointer) and skips any batch with
``batch_id <= last_applied_batch_id``. Each fold notes whether the ledger
is load-bearing for it (additive state) or only skips wasted work
(idempotent state). On Delta the identical pattern is the writer's
``txnAppId``/``txnVersion`` options (or reading ``DeltaTable.history``
for the last txn version): ledger and data in one transaction, replay
detected by version comparison.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from kafka2delta_spark.queryset import register
from kafka2delta_spark.functions.measure import v1000 as v1000_m
from kafka2delta_spark.state.store import ParquetStateStore
from kafka2delta_spark.streaming.drain import drain_shuffle_partitions, scratch_dir

Fold = Callable[[DataFrame | None, DataFrame], DataFrame]


def apply_batch(
    store: ParquetStateStore, batch_df: DataFrame, batch_id: int, fold: Fold
) -> bool:
    """Fold one micro-batch into ``store``; replay-idempotent. Returns
    False (no-op) when ``batch_id`` was already applied — foreachBatch is
    at-least-once, so a retry after the commit landed, or a restart
    replaying the last batch not yet recorded in the checkpoint, delivers
    the same batch again. The ledger (``last_applied_batch_id``) commits
    atomically with the snapshot, so the check and the data can't
    diverge."""
    if batch_id <= store.metadata().get("last_applied_batch_id", -1):
        return False  # replayed batch: already folded into the snapshot
    store.overwrite(
        fold(store.read(), batch_df),
        metadata={"last_applied_batch_id": batch_id},
    )
    return True


def maintain(
    source_df: DataFrame,
    store: ParquetStateStore,
    fold: Fold,
    checkpoint: str | None = None,
):
    """Start the maintenance query: every micro-batch of ``source_df``
    goes through :func:`apply_batch` with ``fold``. Returns the
    StreamingQuery (caller awaits). Without an explicit ``checkpoint``
    (a durable deployment would pass one on real storage), a scratch dir
    on the drain's tmpfs root is used."""
    if checkpoint is None:
        checkpoint = scratch_dir("maintain_ckpt_")
    return (
        source_df.writeStream.foreachBatch(
            lambda batch_df, batch_id: apply_batch(store, batch_df, batch_id, fold)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _drain_family(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fold: Fold,
    keep_null_users: bool = False,
) -> DataFrame:
    """Maintain ``fold`` over the two-batch events split (one micro-batch
    per time-ordered half, sentinel riding in the second) into a scratch
    store and return its final snapshot.

    Sentinel filter: per-user state cannot address a NULL key, so by
    default only defined users are kept (``isNotNull`` also makes the
    sentinel exclusion explicit). ``keep_null_users`` is for keys that are
    not the user: anonymous events count, and the sentinel is excluded
    null-safely (a plain ``!=`` would drop NULL users and undercount).

    Every micro-batch re-plans its fold with the session's shuffle
    partitions and pays fixed cost per partition, so the drain runs under
    the shared :func:`drain_shuffle_partitions` override."""
    from kafka2delta_spark.streaming.stateful import SENTINEL_USER, _open_stream

    user = F.col("user_id")
    stream = _open_stream(spark, sf_dir).filter(
        ~user.eqNullSafe(SENTINEL_USER)
        if keep_null_users
        else user.isNotNull() & (user != SENTINEL_USER)
    )
    store = ParquetStateStore(spark, scratch_dir(f"{name}_state_") + "/state")
    with drain_shuffle_partitions(spark):
        maintain(stream, store, fold, scratch_dir(f"{name}_ckpt_")).awaitTermination()
    return store.read()


def _partial(batch_df: DataFrame) -> DataFrame:
    return batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(v1000_m("value"))
        .cast("bigint")
        .alias("v1000"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("last_seen_us"),
    )


def _combine(prior: DataFrame, partial: DataFrame) -> DataFrame:
    """Additive fold — associative/commutative, so any batch order yields
    the same table (what makes the view maintainable incrementally)."""
    return (
        prior.unionByName(partial)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("v1000").cast("bigint").alias("v1000"),
            F.max("last_seen_us").cast("bigint").alias("last_seen_us"),
        )
    )


def rollup_fold(prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Per-user (n_events, v1000, last_seen_us). Additive: a replayed
    batch would double-count, so the ledger is load-bearing."""
    partial = _partial(batch_df)
    return partial if prior is None else _combine(prior, partial)


@register(
    "q49_incremental_user_rollup",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM((CASE WHEN isfinite(value) THEN CAST(FLOOR(value * 1000) AS BIGINT) END)) AS BIGINT) AS v1000,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_seen_us
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    """,
)
def q49_incremental_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-user rollup read back from the state
    store — the final table equals the batch aggregate over all events,
    which is the invariant incremental maintenance must hold."""
    return _drain_family(spark, sf_dir, "rollup", rollup_fold)


@register(
    "qx13_store_change_feed",
    oracle="""
    WITH mid AS (
        -- midpoint over the same defined-user set the engine processes
        SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS m
        FROM events WHERE user_id IS NOT NULL),
    b0 AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM((CASE WHEN isfinite(value) THEN CAST(FLOOR(value * 1000) AS BIGINT) END)) AS BIGINT) AS v1000,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_seen_us
        FROM events, mid
        WHERE user_id IS NOT NULL AND epoch_us(ts) < m GROUP BY user_id),
    full_ AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM((CASE WHEN isfinite(value) THEN CAST(FLOOR(value * 1000) AS BIGINT) END)) AS BIGINT) AS v1000,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_seen_us
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
    ins AS (
        SELECT f.*, 'insert' AS _change_type
        FROM full_ f LEFT JOIN b0 USING (user_id) WHERE b0.user_id IS NULL),
    pairs AS (
        SELECT b0.user_id,
               b0.n_events AS o_n, b0.v1000 AS o_v, b0.last_seen_us AS o_l,
               f.n_events AS n_n, f.v1000 AS n_v, f.last_seen_us AS n_l
        FROM b0 JOIN full_ f USING (user_id)
        WHERE b0.n_events <> f.n_events OR b0.v1000 <> f.v1000
           OR b0.last_seen_us <> f.last_seen_us),
    pre AS (SELECT user_id, o_n AS n_events, o_v AS v1000, o_l AS last_seen_us,
                   'update_preimage' AS _change_type FROM pairs),
    post AS (SELECT user_id, n_n AS n_events, n_v AS v1000, n_l AS last_seen_us,
                    'update_postimage' AS _change_type FROM pairs)
    SELECT * FROM ins UNION ALL SELECT * FROM pre UNION ALL SELECT * FROM post
    """,
)
def qx13_store_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed over the state store (Delta ``readChangeFeed``
    parity): apply the rollup in two batches (the same (min+max)/2
    time-midpoint split the streaming scaffold uses — two O(1)
    aggregates, no percentile() multiset; the oracle computes the
    identical midpoint, and both sides use integer floor-division on
    non-negative epoch-microseconds), then read the row-level diff between
    snapshot v1 and v2 — inserts for users first seen in batch 1,
    pre/post images for users whose aggregate advanced. The downstream
    shape: incremental consumers chain off the CHANGES (keyed joins over
    the touched rows), never re-scanning the snapshot — what makes a
    pipeline of materialized views incremental end to end."""
    from kafka2delta_spark.sources.tables import load_table

    # defined-user contract: the rollup state is keyed on user_id
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    m_val = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("m")
    ).collect()[0]["m"]
    if m_val is None:  # same loud contract as the streaming split scaffold
        raise RuntimeError(
            "events table is empty: the change-feed two-batch split "
            "cannot be built"
        )
    mid = int(m_val)
    store = ParquetStateStore(
        spark, scratch_dir("cdf_state_") + "/state",
        retain_versions=2,
    )
    apply_batch(store, ev.filter(F.unix_micros("ts") < mid), 0, rollup_fold)
    apply_batch(store, ev.filter(F.unix_micros("ts") >= mid), 1, rollup_fold)
    return store.read_changes(1, 2, ["user_id"])


def kmv_fold(prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Per-type KMV sketch. The merge is set union — associative,
    commutative and IDEMPOTENT — so even an undetected replay could not
    corrupt the sketch: the ledger only skips wasted work."""
    from kafka2delta_spark.operators.advanced import kmv_merge, kmv_sketch_by_type

    partial = kmv_sketch_by_type(batch_df)
    return partial if prior is None else kmv_merge(prior, partial)


def _qx19_oracle() -> str:
    from kafka2delta_spark.operators.advanced import _kmv_oracle

    return _kmv_oracle()


@register(
    "qx23_streaming_kmv_distinct",
    # Streaming maintenance must land on EXACTLY the batch sketch — KMV
    # merge loses nothing — so the oracle is qx19's, verbatim: a
    # streaming query with a full hash-verified oracle, not rows-only.
    oracle=_qx19_oracle(),
)
def qx23_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained approx-distinct: per-micro-batch KMV
    sketch partials folded into the state store, estimates read back at
    the end. Because sketch union is lossless w.r.t. the K minimum
    hashes, the final table equals qx19's batch answer bit-for-bit — the
    strongest checkable invariant a streaming sketch can offer, and the
    100 TB pattern for distinct-count dashboards: per-partition sketch
    partials merge in O(K) per key, no raw-key shuffle, state bounded by
    K x n_types regardless of cardinality."""
    from kafka2delta_spark.operators.advanced import kmv_estimates

    return kmv_estimates(_drain_family(spark, sf_dir, "kmv", kmv_fold))


def countmin_fold(prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Count-min cells over user_id. Cells are ADDITIVE, so the ledger
    is load-bearing: a replayed batch would double-count its cells."""
    from kafka2delta_spark.operators.advanced import countmin_cells

    partial = countmin_cells(batch_df, "user_id")
    if prior is None:
        return partial
    return (
        prior.unionByName(partial)
        .groupBy("d", "col")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def _qx11_oracle() -> str:
    from kafka2delta_spark.operators.advanced import _cm_oracle

    return _cm_oracle()


@register(
    "qx31_streaming_countmin",
    # cell-wise addition is exact, so the maintained sketch equals the
    # batch sketch and qx11's oracle applies verbatim
    oracle=_qx11_oracle(),
)
def qx31_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintained count-min heavy hitters: per-micro-batch
    sketch cells folded into the state store, report read back through
    qx11's exact tail. Bounded-memory frequency cells: 256 counters per
    store version regardless of batch count or key cardinality, the
    state shape a 100 TB stream can afford."""
    from kafka2delta_spark.operators.advanced import countmin_report
    from kafka2delta_spark.sources.tables import load_table

    cells = _drain_family(spark, sf_dir, "cm", countmin_fold)
    return countmin_report(cells, load_table(spark, sf_dir, "events"))


def anomaly_fold(prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Flag batch events against (prior per-user tail ∪ batch) with
    qx38's exact trailing-frame rule, append the flags, and keep only
    the newest ``ANOM_WINDOW`` events per user as the next tail.
    Appended flags are NOT idempotent, so the ledger is load-bearing."""
    from kafka2delta_spark.operators.analytic import (
        ANOM_WINDOW,
        flag_rolling_anomalies,
    )

    rows = batch_df.select(
        "user_id", "event_id", "ts",
        v1000_m("value").alias("v1000"),
        F.lit(1).alias("is_new"),
    )
    if prior is None:
        union = rows
    else:
        tail = prior.filter(F.col("kind") == "tail").select(
            "user_id", "event_id", "ts", "v1000", F.lit(0).alias("is_new")
        )
        union = tail.unionByName(rows)
    flagged = (
        flag_rolling_anomalies(union)
        .filter(F.col("is_new") == 1)
        .select(
            F.lit("anom").alias("kind"),
            "user_id", "event_id",
            F.lit(None).cast("timestamp").alias("ts"),
            "v1000", "n_window", "dev_num", "direction",
        )
    )
    keep = (
        union.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(
                    F.desc("ts"), F.desc("event_id")
                )
            ),
        )
        .filter(F.col("rk") <= ANOM_WINDOW)
        .select(
            F.lit("tail").alias("kind"),
            "user_id", "event_id", "ts", "v1000",
            F.lit(None).cast("bigint").alias("n_window"),
            F.lit(None).cast("bigint").alias("dev_num"),
            F.lit(None).cast("string").alias("direction"),
        )
    )
    out = flagged.unionByName(keep)
    if prior is not None:
        out = prior.filter(F.col("kind") == "anom").unionByName(out)
    return out


def _qx38_oracle() -> str:
    from kafka2delta_spark.operators.analytic import ANOM_ORACLE

    return ANOM_ORACLE


@register(
    "qx46_streaming_anomalies",
    # micro-batches arrive in event-time order (the same two-file split
    # every streaming query here drains), and each batch is judged
    # against exactly the ANOM_WINDOW-event per-user tail the batch
    # boundary preserved — so the maintained flag set equals qx38's
    # whole-table answer and its oracle applies VERBATIM.
    oracle=_qx38_oracle(),
)
def qx46_streaming_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintained rolling z-score anomalies: per micro-batch,
    events are flagged against the stored per-user tail (the last
    ANOM_WINDOW events) plus earlier same-batch events — qx38's exact
    integer rule via the shared ``flag_rolling_anomalies`` core — then
    the tail rolls forward and flags append under the replay ledger.
    ORDER-SENSITIVE windowed state: per-user state is ANOM_WINDOW rows
    regardless of history length, the shape that lets a 100 TB event
    stream run anomaly detection with state proportional to users, not
    events.

    The window inside a batch shuffles on user_id exactly like the
    batch query; the tail read-modify-write is store-sized (users x
    ANOM_WINDOW rows), not history-sized."""
    state = _drain_family(spark, sf_dir, "anom", anomaly_fold)
    return state.filter(F.col("kind") == "anom").select(
        "user_id", "event_id", "v1000", "n_window", "dev_num", "direction"
    )


@register(
    "qx58_ivm_retraction_agg",
    oracle="""
    WITH state AS (
        -- CDC primary keys are non-null (Debezium PK contract, see q71)
        SELECT user_id, event_id, event_type,
               (CASE WHEN isfinite(value) THEN CAST(FLOOR(value * 1000) AS BIGINT) END) AS v1000
        FROM events
        WHERE user_id IS NOT NULL AND ts <= TIMESTAMP '2024-01-15 00:00:00'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY event_id DESC) = 1),
    chg AS (
        SELECT user_id, event_id, event_type,
               (CASE WHEN isfinite(value) THEN CAST(FLOOR(value * 1000) AS BIGINT) END) AS v1000,
               event_type = 'error' AS is_del
        FROM events
        WHERE user_id IS NOT NULL AND ts > TIMESTAMP '2024-01-15 00:00:00'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY event_id DESC) = 1),
    merged AS (
        SELECT CASE WHEN c.user_id IS NOT NULL
                     AND (s.user_id IS NULL OR c.event_id > s.event_id)
                    THEN c.event_type ELSE s.event_type END AS event_type,
               CASE WHEN c.user_id IS NOT NULL
                     AND (s.user_id IS NULL OR c.event_id > s.event_id)
                    THEN c.v1000 ELSE s.v1000 END AS v1000,
               c.user_id IS NOT NULL
                 AND (s.user_id IS NULL OR c.event_id > s.event_id)
                 AND c.is_del AS drop_row,
               s.user_id IS NULL AND c.is_del AS never_row
        FROM state s FULL OUTER JOIN chg c ON s.user_id = c.user_id)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)    AS n_users,
           CAST(SUM(v1000) AS BIGINT)  AS v1000_sum
    FROM merged WHERE NOT drop_row AND NOT never_row
    GROUP BY event_type
    """,
)
def qx58_ivm_retraction_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance WITH RETRACTIONS — the differential
    step q49's insert-only rollup cannot express: the maintained view is
    an aggregate over the latest-per-user STATE table (not the event
    log), so an upsert that moves a user from type A to type B must
    subtract the user's old contribution from A and add the new one to B,
    and a delete must only retract. The aggregate is updated from the
    (old state ⟗ change set) join alone — the merged state table is
    NEVER rescanned, which is the entire point of IVM at 100 TB: per
    batch cost tracks the change set, not the view's base.

    Plan: two latest-per-key hash-aggs (the q71 inputs), one full-outer
    key join sized by |state keys ∪ change keys| touched (partition-
    pruned in the store path), a delta union (≤ 2 rows per change), and
    a fold into the prior aggregate — additive, so the same shape runs
    under the q49 batch-id ledger for replay idempotence. The oracle
    aggregates the directly-merged state: incremental result must equal
    it bit-for-bit."""
    from kafka2delta_spark.cdc.dedup import latest_per_key
    from kafka2delta_spark.operators.cdc_queries import SPLIT_TS
    from kafka2delta_spark.sources.tables import load_table

    # CDC primary keys are non-null (Debezium PK contract, see q71)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    ).select(
        "user_id",
        "event_id",
        "event_type",
        v1000_m("value").alias("v1000"),
        "ts",
    )
    split = F.lit(SPLIT_TS).cast("timestamp")
    state0 = latest_per_key(
        ev.filter(F.col("ts") <= split), ["user_id"], "event_id"
    ).select("user_id", "event_id", "event_type", "v1000")
    chg = latest_per_key(
        ev.filter(F.col("ts") > split), ["user_id"], "event_id"
    ).select(
        "user_id",
        F.col("event_id").alias("c_eid"),
        F.col("event_type").alias("c_type"),
        F.col("v1000").alias("c_v"),
        (F.col("event_type") == "error").alias("is_del"),
    )
    # prior aggregate: the maintained view before this batch. The
    # non-null-value count `nv` rides along because SQL SUM over an
    # all-NULL group is NULL, not 0 — an incremental fold built on
    # coalesce(sum, 0) + delta cannot tell "group absent" from "sum is
    # NULL", so NULL-ness must be maintained as its own additive cell
    # (the classic IVM COUNT-column trick). Found by the compound
    # fixture, where some users' latest values are NULL/NaN.
    agg0 = state0.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("v1000").cast("bigint").alias("v1000_sum"),
        F.count("v1000").cast("bigint").alias("nv"),
    )
    j = state0.join(chg, "user_id", "full_outer")
    c_wins = F.col("c_eid").isNotNull() & (
        F.col("event_id").isNull() | (F.col("c_eid") > F.col("event_id"))
    )
    retract = j.where(c_wins & F.col("event_id").isNotNull()).select(
        F.col("event_type"),
        F.lit(-1).cast("bigint").alias("dn"),
        (-F.col("v1000")).alias("dv"),
        F.when(F.col("v1000").isNotNull(), -1)
        .otherwise(0).cast("bigint").alias("dnv"),
    )
    add = j.where(c_wins & ~F.col("is_del")).select(
        F.col("c_type").alias("event_type"),
        F.lit(1).cast("bigint").alias("dn"),
        F.col("c_v").alias("dv"),
        F.when(F.col("c_v").isNotNull(), 1)
        .otherwise(0).cast("bigint").alias("dnv"),
    )
    deltas = (
        retract.unionByName(add)
        .groupBy("event_type")
        .agg(
            F.sum("dn").alias("dn"),
            F.sum("dv").alias("dv"),
            F.sum("dnv").alias("dnv"),
        )
    )
    nv_total = F.coalesce("nv", F.lit(0)) + F.coalesce("dnv", F.lit(0))
    # The fold key is nullable (event_type can be NULL), and a
    # using-column full_outer join is NULL-UNSAFE: a NULL-group
    # retraction in `deltas` would land on its own row instead of
    # folding into agg0's NULL group, leaving the unretracted count
    # behind while the oracle's GROUP BY merges NULLs into one group.
    # Join with eqNullSafe and coalesce the key back (2026-08-16 ADVICE).
    return (
        agg0.alias("a")
        .join(
            deltas.alias("d"),
            F.col("a.event_type").eqNullSafe(F.col("d.event_type")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("a.event_type"), F.col("d.event_type")).alias(
                "event_type"
            ),
            (
                F.coalesce("n_users", F.lit(0)) + F.coalesce("dn", F.lit(0))
            ).cast("bigint").alias("n_users"),
            # all contributing values NULL -> SQL SUM semantics say NULL
            F.when(
                nv_total > 0,
                F.coalesce("v1000_sum", F.lit(0)) + F.coalesce("dv", F.lit(0)),
            ).cast("bigint").alias("v1000_sum"),
        )
        .where(F.col("n_users") > 0)
    )


def daily_count_fold(prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """(event_type, day) counts. Additive: the ledger is load-bearing."""
    partial = batch_df.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    if prior is None:
        return partial
    return (
        prior.unionByName(partial)
        .groupBy("event_type", "day")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )


def _qx64_oracle() -> str:
    from kafka2delta_spark.queryset import ORACLES

    return ORACLES["qx64_cusum_changepoints"]


@register(
    "qx70_streaming_cusum",
    # daily-count cells add exactly, so the maintained table equals the
    # batch aggregate and the CUSUM tail is deterministic on top of it
    oracle=_qx64_oracle(),
)
def qx70_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintained CUSUM change-point monitor: per-micro-batch
    daily counts folded into the state store, the drift statistic
    computed from the maintained table via ``cusum_from_daily`` —
    monitoring that follows the stream instead of rescanning history.
    State is |types| × |days| count cells: bounded by the calendar, not
    by event volume. The counts are keyed on type, not user, so
    anonymous (NULL user_id) events are kept."""
    from kafka2delta_spark.operators.advanced import cusum_from_daily

    return cusum_from_daily(
        _drain_family(spark, sf_dir, "cusum", daily_count_fold, keep_null_users=True)
    )


def presence_fold(prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Distinct (user_id, week) presence merged by SET UNION. Idempotent:
    a replayed batch is harmless, so the ledger only skips wasted work."""
    from kafka2delta_spark.operators.analytic import WEEK_US

    partial = batch_df.select(
        "user_id", F.expr(f"unix_micros(ts) div {WEEK_US}").alias("week")
    ).distinct()
    return partial if prior is None else prior.unionByName(partial).distinct()


def _qx26_oracle() -> str:
    from kafka2delta_spark.queryset import ORACLES

    return ORACLES["qx26_retention_cohorts"]


@register(
    "qx92_streaming_retention",
    # the set-union-maintained presence table equals batch distinct
    # (user, week), so qx26's oracle applies VERBATIM
    oracle=_qx26_oracle(),
)
def qx92_streaming_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintained weekly retention cohorts: per-micro-batch
    distinct (user, week) presence folded into the state store by
    idempotent set union, the qx26 cohort matrix derived from the
    maintained table at read time (shared ``retention_matrix`` helper —
    same code path as batch, so streaming and batch answers are
    string-identical, which the shared oracle gates). State is one row
    per (user, active-week): bounded by users × calendar, not event
    volume. Cohort assignment (min week per user) is recomputed from the
    full presence table at read time, so an OUT-OF-ORDER arrival that
    reveals an earlier first week re-cohorts the user correctly —
    additive cell maintenance cannot do that without retractions (qx58)."""
    from kafka2delta_spark.operators.analytic import retention_matrix

    return retention_matrix(_drain_family(spark, sf_dir, "ret", presence_fold))


def session_interval_fold(prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Batch events become degenerate [us, us] intervals, unioned with
    the prior intervals and gap-merged per user. Gap-merge is a closure
    operation — merging in stages over any partition of the events equals
    sessionizing everything at once — so a replay is harmless (the ledger
    only skips wasted work), and a batch that BRIDGES two intervals fuses
    them, which per-session additive cells could not."""
    from kafka2delta_spark.operators.behavior import merge_gap_intervals

    partial = batch_df.select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        F.unix_micros("ts").alias("e_us"),
    )
    return merge_gap_intervals(
        partial if prior is None else prior.unionByName(partial)
    )


def _qx82_oracle() -> str:
    # registers qx82 first: this module can be imported directly (tests)
    # before load_all_querysets has pulled in operators.behavior
    from kafka2delta_spark.operators import behavior  # noqa: F401
    from kafka2delta_spark.queryset import ORACLES

    return ORACLES["qx82_concurrent_sessions"]


@register(
    "qx99_streaming_concurrency",
    # the gap-merged interval state equals batch sessionization (the
    # closure property), so qx82's oracle applies VERBATIM
    oracle=_qx82_oracle(),
)
def qx99_streaming_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintained peak-concurrency monitor: per-micro-batch
    events folded into per-user session intervals by idempotent
    gap-merge, the qx82 day-clamped +1/−1 sweep derived from the
    maintained intervals at read time (shared
    ``concurrency_from_intervals`` — same code path as batch, which the
    shared oracle gates). State is one row per SESSION, not per event —
    the interval set is the minimal sufficient statistic for
    concurrency."""
    from kafka2delta_spark.operators.behavior import (
        concurrency_from_intervals,
    )

    return concurrency_from_intervals(
        _drain_family(spark, sf_dir, "conc", session_interval_fold)
    )


def interarrival_fold(prior: DataFrame | None, batch_df: DataFrame) -> DataFrame:
    """Same-type inter-arrival gaps into (event_type, bucket) histogram
    cells plus per-(user, type) last-seen rows (``kind`` tells them
    apart). Within-batch gaps come from the qx96 lag window; each
    (user, type)'s FIRST batch event takes its gap from the stored
    last-seen row instead (NULL when the pair is new) — qx46's tail
    handoff with a 1-row tail. Mixed replay contract: cell counts are
    additive (the ledger is load-bearing), cell extremes and last-seen
    are max/min-merge closures (idempotent on their own)."""
    from kafka2delta_spark.operators.behavior import _log2_bucket_sql

    wu = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    rows = batch_df.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.lag(F.unix_micros("ts")).over(wu).alias("prev_us"),
    )
    # boundary handoff: batch-first events (prev_us NULL) read the stored
    # last-seen micros; truly-new pairs stay NULL and emit no gap
    if prior is None:
        last_rows = None
        gaps = rows.select(
            "event_type",
            ((F.col("us") - F.col("prev_us")) / F.lit(1_000_000))
            .cast("bigint")
            .alias("gap_s"),
        ).filter(F.col("gap_s").isNotNull())
    else:
        last_rows = prior.filter(F.col("kind") == "last").select(
            "user_id", "event_type", "last_us"
        )
        gaps = (
            rows.join(last_rows, ["user_id", "event_type"], "left")
            .select(
                "event_type",
                (
                    (F.col("us") - F.coalesce("prev_us", "last_us"))
                    / F.lit(1_000_000)
                )
                .cast("bigint")
                .alias("gap_s"),
            )
            .filter(F.col("gap_s").isNotNull())
        )
    # One aggregation merges batch gaps AND prior cells (sum/min/max are
    # associative; the map-side partial combine still collapses the gap
    # rows before the shuffle).
    gap_cells = gaps.select(
        "event_type",
        F.expr(_log2_bucket_sql("gap_s")).cast("int").alias("bucket"),
        F.lit(1).cast("bigint").alias("n"),
        F.col("gap_s").alias("min_gap_s"),
        F.col("gap_s").alias("max_gap_s"),
    )
    if prior is not None:
        gap_cells = (
            prior.filter(F.col("kind") == "cell")
            .select("event_type", "bucket", "n", "min_gap_s", "max_gap_s")
            .unionByName(gap_cells)
        )
    cells = gap_cells.groupBy("event_type", "bucket").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.min("min_gap_s").cast("bigint").alias("min_gap_s"),
        F.max("max_gap_s").cast("bigint").alias("max_gap_s"),
    )
    # last-seen roll-forward: raw batch rows union prior last-rows into ONE
    # max aggregation (max-merge stays correct even for unordered batches)
    batch_last = batch_df.select(
        "user_id", "event_type", F.unix_micros("ts").alias("last_us")
    )
    if last_rows is not None:
        batch_last = last_rows.unionByName(batch_last)
    new_last = batch_last.groupBy("user_id", "event_type").agg(
        F.max("last_us").alias("last_us")
    )
    return cells.select(
        F.lit("cell").alias("kind"),
        "event_type",
        "bucket",
        "n",
        "min_gap_s",
        "max_gap_s",
        F.lit(None).cast("bigint").alias("user_id"),
        F.lit(None).cast("bigint").alias("last_us"),
    ).unionByName(
        new_last.select(
            F.lit("last").alias("kind"),
            "event_type",
            F.lit(None).cast("int").alias("bucket"),
            F.lit(None).cast("bigint").alias("n"),
            F.lit(None).cast("bigint").alias("min_gap_s"),
            F.lit(None).cast("bigint").alias("max_gap_s"),
            "user_id",
            "last_us",
        )
    )


def _qx96_oracle() -> str:
    from kafka2delta_spark.queryset import ORACLES

    return ORACLES["qx96_interarrival_histogram"]


@register(
    "qy10_streaming_interarrival",
    # boundary gaps are chained through the per-(user, type) last-seen
    # state and batches arrive in event-time order, so the maintained
    # cells equal the whole-table lag histogram — qx96's oracle VERBATIM
    oracle=_qx96_oracle(),
)
def qy10_streaming_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-maintained inter-arrival log₂ histogram: per micro-
    batch, same-type gaps are bucketed by qx96's integer CASE ladder and
    folded into (event_type, bucket) cells, with each batch's first
    event per (user, type) measuring against the stored last-seen
    timestamp. The readout derives per-type shares from the cells exactly
    as qx96 does, so the shared oracle gates streaming == batch. State is
    users×types last-seen rows plus an alphabet-bounded cell table —
    nothing scales with event volume."""
    state = _drain_family(spark, sf_dir, "gap", interarrival_fold)
    cells = state.filter(F.col("kind") == "cell")
    t = cells.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return cells.join(F.broadcast(t), "event_type").select(
        "event_type",
        "bucket",
        "n",
        "min_gap_s",
        "max_gap_s",
        F.expr("cast(n * 10000 div tot as bigint)").alias("share_e4"),
    )
