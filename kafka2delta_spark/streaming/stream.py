"""Streaming entry point: Kafka CDC → state tables.

Reference surface: ``stream_to_delta(...)`` (ref stream/stream.py:161-235)
wires ``readStream.format("kafka")`` → envelope projection → a monolithic
``foreachBatch`` closure doing decode/dedup/merge per topic and schema pair
(ref stream/stream.py:39-156). The rebuild splits that closure into pure,
unit-testable batch functions:

  * :func:`process_topic_slice` — one topic's records → merged state.
  * :func:`apply_cdc_micro_batch` — full micro-batch fan-out over topics.
  * :func:`stream_to_delta` — the thin streaming shell (source + trigger +
    checkpoint + foreachBatch + liveness), API-compatible in spirit with the
    reference.

Scale notes vs the reference:
  * Envelope parsing is native expressions (no Python UDF workers).
  * Independent topics are processed via a driver thread pool — Spark
    schedules their jobs concurrently instead of strictly serially
    (ref stream/stream.py:52 loops serially; SURVEY §4 flags it).
  * Dedup is hash-agg ``max_by``, not a ranking-window sort.
  * Upsert+delete fold into one merge pass instead of two MERGEs.
"""

from __future__ import annotations

import logging
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka2delta_spark.cdc.avro_codec import decode_avro
from kafka2delta_spark.cdc.debezium import cast_debezium_columns
from kafka2delta_spark.cdc.dedup import latest_per_key
from kafka2delta_spark.cdc.merge import (
    defined_keys_predicate,
    merge_cdc_batch_evolving,
)
from kafka2delta_spark.cdc.registry import SchemaRegistry, column_names_from_schema_str
from kafka2delta_spark.cdc.wire import parse_confluent_envelope
from kafka2delta_spark.config import DELETED_COL, LSN_COL, TableConfig
from kafka2delta_spark.session import delta_available
from kafka2delta_spark.state.store import DeltaStateStore, ParquetStateStore

DEFAULT_AVRO_OPTIONS = {"mode": "FAILFAST"}  # ref stream/stream.py:36-37

logger = logging.getLogger(__name__)


def make_state_store(
    spark: SparkSession, cfg: TableConfig, backend: str = "auto"
) -> ParquetStateStore | DeltaStateStore:
    """Select the state-store backend for one table.

    ``auto`` picks :class:`DeltaStateStore` when delta-spark imports (the
    reference's actual sink — file-level MERGE instead of full-state
    rewrite, ref stream/stream.py:114-148) and falls back to the versioned
    :class:`ParquetStateStore` otherwise (this sandbox). ``delta`` /
    ``parquet`` force a backend.
    """
    if backend not in ("auto", "delta", "parquet"):
        raise ValueError(f"unknown store backend: {backend}")
    use_delta = backend == "delta" or (backend == "auto" and delta_available())
    cls = DeltaStateStore if use_delta else ParquetStateStore
    return cls(spark, cfg.path, cfg.partition_cols, table_name=cfg.full_table_name)


def process_topic_slice(
    slice_df: DataFrame,
    registry: SchemaRegistry,
    config: TableConfig,
    store: ParquetStateStore | DeltaStateStore,
    lsn_col: str = LSN_COL,
    deleted_col: str = DELETED_COL,
) -> dict[str, int]:
    """Apply one topic's envelope-parsed records to its state store.

    Mirrors the per-topic body of the reference's foreachBatch closure
    (ref stream/stream.py:57-153): discover distinct (key_schema_id,
    value_schema_id) pairs ascending (registry IDs are monotonic → ascending
    approximates schema-evolution order, ref stream/stream.py:60-67), then
    per pair: decode → Debezium casts → latest-per-key → derived columns →
    merge. Only schema-ID *pairs* ever hit the driver (tiny metadata), never
    data rows.

    Returns slice metrics: ``{"null_key_rows": n}`` — change rows dropped
    for a NULL primary key under ``on_null_key='drop'`` (always 0 under
    'error', which raises instead). Summed over schema pairs. Counted on
    the DEDUPED slice (the merge input), so n is
    the number of rows the merge excluded — several raw NULL-key records
    collapse to one under latest-per-key, like any other key. Counted by
    an explicit aggregate over the persisted deduped slice (see the
    in-body note on why the prior Observation was structurally unreliable
    past batch 0).
    """
    null_key_total = 0
    pairs = [
        (r["key_schema_id"], r["value_schema_id"])
        for r in (
            slice_df.select("key_schema_id", "value_schema_id")
            .distinct()
            .sort(["value_schema_id", "key_schema_id"])
            .collect()
        )
    ]
    for key_sid, value_sid in pairs:
        key_schema = registry.get_json_schema(key_sid)
        value_schema = registry.get_json_schema(value_sid)
        pk_cols = column_names_from_schema_str(key_schema)

        subset = slice_df.filter(
            (F.col("key_schema_id") == F.lit(key_sid))
            & (F.col("value_schema_id") == F.lit(value_sid))
        )
        decoded = decode_avro(
            subset.select("value_avro"), "value_avro", value_schema,
            mode=DEFAULT_AVRO_OPTIONS["mode"],
        )
        typed = decoded.select(*cast_debezium_columns(value_schema))
        # tie_break_hash: Debezium snapshot boundaries emit duplicate
        # LSNs; the content-hash tiebreak keeps the winner deterministic
        # under replay/repartition (round-11 temporal-disorder campaign)
        latest = latest_per_key(typed, pk_cols, lsn_col, tie_break_hash=True)
        if config.additional_cols:
            latest = latest.select(
                *latest.columns, *[F.expr(e) for e in config.additional_cols]
            )

        # NULL-PK policy (TableConfig.on_null_key). The merge executors
        # exclude NULL-key rows either way (they can never MERGE-match);
        # this makes the contract violation OBSERVABLE instead of silent:
        # 'error' fails the batch BEFORE the store mutates (an eager scan
        # of the deduped slice — deterministic, unlike an in-plan assert
        # that Catalyst can short-circuit past once fused with the merge's
        # own IS NOT NULL filters), 'drop' persists the deduped slice and
        # counts them with an explicit aggregate job.
        #
        # Round 12 replaced the previous ``Observation`` here after
        # profiling the multi-batch CDC bench: on every batch whose merge
        # joins against EXISTING state, the observed node lands in a plan
        # subtree whose metrics never reach the main execution, so
        # ``Observation.get`` hit its full 30 s safety timeout per batch
        # (~4x per-trigger cost) AND returned None — the drop counter
        # silently degraded to batch-0-only. The explicit count is one
        # cheap job over the persisted slice, which the store merge then
        # re-reads from cache (the selective path scanned ``latest`` twice
        # anyway), and the counter is now deterministic on EVERY batch.
        # Schema-level fast path: when every PK field is NON-NULLABLE in
        # the decoded+cast frame (a non-union Avro key type under
        # FAILFAST — the normal Debezium PK), a NULL key is impossible by
        # construction and both policies cost zero extra jobs. The
        # nullability is read BEFORE latest_per_key (whose struct
        # round-trip widens everything to nullable).
        typed_nullable = {f.name: f.nullable for f in typed.schema.fields}
        pk_maybe_null = any(typed_nullable.get(c, True) for c in pk_cols)

        persisted = False
        null_key_rows = 0
        if pk_cols and pk_maybe_null and config.on_null_key == "error":
            if latest.filter(~defined_keys_predicate(pk_cols)).take(1):
                raise ValueError(
                    f"CDC batch for {config.full_table_name} contains "
                    "change row(s) with NULL primary key (key cols: "
                    f"{', '.join(pk_cols)}) — Debezium PK contract "
                    "violation; batch rejected (on_null_key='error')"
                )
        elif pk_cols and pk_maybe_null:
            latest = latest.persist()
            persisted = True
            null_key_rows = latest.filter(
                ~defined_keys_predicate(pk_cols)
            ).count()

        try:
            _apply_latest_to_store(latest, store, pk_cols, lsn_col, deleted_col)
        finally:
            if persisted:
                latest.unpersist()

        if null_key_rows:
            null_key_total += int(null_key_rows)
            logger.warning(
                "CDC merge for %s: dropped %d change row(s) with NULL "
                "primary key (cols: %s) — upstream Debezium contract "
                "violation; set TableConfig.on_null_key='error' to "
                "fail instead",
                config.full_table_name,
                null_key_rows,
                ", ".join(pk_cols),
            )

    return {"null_key_rows": null_key_total}


def _apply_latest_to_store(
    latest: DataFrame,
    store: ParquetStateStore | DeltaStateStore,
    pk_cols: list[str],
    lsn_col: str,
    deleted_col: str,
) -> None:
    """Route one deduped change slice to the store's best merge path."""
    if isinstance(store, DeltaStateStore):
        # In-place file-level MERGE (the reference's sink semantics,
        # ref stream/stream.py:114-148): only files holding matched keys
        # rewrite; schema evolution via Delta autoMerge. This is the
        # scale path — the parquet paths below rewrite at partition or
        # snapshot granularity.
        target_schema = T.StructType(
            [f for f in latest.schema.fields if f.name != deleted_col]
        )
        store.create_if_not_exists(target_schema)
        store.merge(latest, pk_cols)
        return

    # Parquet fallback, partition-selective first: rewrite only the
    # hive partitions the batch touches, hardlink the rest (the
    # parquet analogue of Delta's file pruning). Returns False —
    # full read-merge-overwrite below — on schema evolution, missing/
    # NULL partition values, or an unpartitioned store.
    if store.merge(latest, pk_cols, lsn_col, deleted_col):
        return

    # Schema evolution (Delta autoMerge equivalent, ref conftest.py:101):
    # union by name with missing columns as typed NULLs in either direction.
    store.overwrite(
        merge_cdc_batch_evolving(
            store.read(), latest, pk_cols, lsn_col, deleted_col
        )
    )


def apply_cdc_micro_batch(
    batch_df: DataFrame,
    registry: SchemaRegistry,
    table_configs: Mapping[str, TableConfig],
    stores: Mapping[str, ParquetStateStore | DeltaStateStore],
    max_concurrent_topics: int = 4,
) -> dict[str, dict[str, int]]:
    """One micro-batch: envelope parse once, fan out per topic.

    Equivalent of the reference's ``merge_micro_batch`` closure
    (ref stream/stream.py:39-156) with the batch cached once and topics
    processed concurrently (independent target tables → independent jobs).

    Returns per-topic slice metrics (see :func:`process_topic_slice`),
    e.g. ``{"server.db.users": {"null_key_rows": 1}}`` — collected after
    the concurrent fan-out joins, so no cross-thread mutation.
    """
    parsed = parse_confluent_envelope(batch_df).cache()
    try:
        topics = [r["topic"] for r in parsed.select("topic").distinct().collect()]
        work = [t for t in topics if t in table_configs]

        def _one(topic: str) -> dict[str, int]:
            slice_df = parsed.filter(F.col("topic") == F.lit(topic))
            return process_topic_slice(
                slice_df, registry, table_configs[topic], stores[topic]
            )

        if len(work) <= 1 or max_concurrent_topics <= 1:
            results = [_one(t) for t in work]
        else:
            with ThreadPoolExecutor(max_workers=max_concurrent_topics) as pool:
                results = list(pool.map(_one, work))
        return dict(zip(work, results))
    finally:
        parsed.unpersist()


def kafka_source_options(
    bootstrap_servers: str,
    topics: list[str],
    starting_offset: str = "earliest",
    fail_on_data_loss: bool = True,
) -> dict[str, str]:
    """The exact option map the Kafka readStream binding passes to the
    connector (ref stream/stream.py:196-204) — pure and broker-free, so
    the live-Kafka leg's configuration is testable in environments
    without a broker or the kafka connector jar: comma-joined multi-topic
    ``subscribe``, pass-through ``startingOffsets`` (``earliest`` |
    ``latest`` | a JSON offset map), and ``failOnDataLoss`` rendered as
    the lowercase string the connector expects (Python ``str(True)`` =
    ``'True'`` is NOT valid connector input)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": ",".join(topics),
        "startingOffsets": starting_offset,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }


class CdcMetrics:
    """Harness-consumable counters for one CDC streaming query.

    ``stream_to_delta`` records each micro-batch's per-topic slice metrics
    here and attaches the instance to the returned query as
    ``query.cdc_metrics`` — so a test or monitoring harness can ASSERT on
    contract-violation counts (e.g. NULL-PK drops) instead of scraping
    warning logs. Thread-safe: foreachBatch writes from the streaming
    thread while the harness reads from its own.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._batches: list[tuple[int, dict[str, dict[str, int]]]] = []

    def record(self, batch_id: int, per_topic: dict[str, dict[str, int]]) -> None:
        with self._lock:
            self._batches.append((batch_id, per_topic))

    @property
    def batches(self) -> list[tuple[int, dict[str, dict[str, int]]]]:
        with self._lock:
            return list(self._batches)

    def null_key_rows(self, topic: str | None = None) -> int:
        """Total change rows dropped for NULL primary keys, across all
        recorded batches (optionally for one topic)."""
        total = 0
        with self._lock:
            for _, per_topic in self._batches:
                for t, m in per_topic.items():
                    if topic is None or t == topic:
                        total += int(m.get("null_key_rows", 0))
        return total


def stream_to_delta(
    spark: SparkSession,
    query_name: str,
    kafka_bootstrap_server_url: str,
    kafka_topics: list[str],
    table_configs: Mapping[str, TableConfig],
    checkpoints_path: str,
    schema_registry: SchemaRegistry,
    starting_offset: str = "earliest",
    fail_on_data_loss: bool = True,
    processing_time: str = "0 seconds",
    source_df: DataFrame | None = None,
    store_backend: str = "auto",
    metrics: CdcMetrics | None = None,
):
    """Start the CDC replication streaming query.

    Signature parity with ref stream/stream.py:161-204. ``source_df`` lets
    tests inject any streaming DataFrame with the Kafka source schema
    (topic/partition/offset/timestamp/timestampType/key/value) in place of a
    live broker — the Kafka connector jar is environment-dependent.
    ``store_backend`` selects the sink: ``auto`` (Delta MERGE when
    delta-spark is importable, else versioned parquet), ``delta``,
    ``parquet``. ``metrics`` (optional, created if absent) accumulates
    per-batch contract counters and is exposed as ``query.cdc_metrics``.
    """
    if metrics is None:
        metrics = CdcMetrics()
    stores = {
        t: make_state_store(spark, cfg, store_backend)
        for t, cfg in table_configs.items()
    }
    if source_df is None:
        reader = spark.readStream.format("kafka")
        for k, v in kafka_source_options(
            kafka_bootstrap_server_url,
            kafka_topics,
            starting_offset,
            fail_on_data_loss,
        ).items():
            reader = reader.option(k, v)
        source_df = reader.load()

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        per_topic = apply_cdc_micro_batch(
            batch_df, schema_registry, table_configs, stores
        )
        metrics.record(batch_id, per_topic)

    query = (
        source_df.writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoints_path)
        .outputMode("update")
        .trigger(processingTime=processing_time)
        .foreachBatch(_batch)
        .start()
    )
    if not query.isActive:  # liveness check, ref stream/stream.py:233-235
        raise RuntimeError(f"streaming query {query_name} failed to start")
    query.cdc_metrics = metrics
    return query
