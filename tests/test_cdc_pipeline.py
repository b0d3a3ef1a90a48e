"""End-to-end CDC pipeline tests (batch-driven).

Re-creates the reference's integration scenarios (ref
stream/test/stream_test.py:164-460 — insert, update, delete, schema
evolution add/drop column) without the kind/Postgres/Debezium/Kafka stack:
Confluent-envelope records are synthesized in-memory and pushed through
``apply_cdc_micro_batch`` against parquet state stores.
"""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from kafka2delta_spark.cdc.avro_codec import encode_avro_payload
from kafka2delta_spark.cdc.registry import InMemorySchemaRegistry
from kafka2delta_spark.cdc.wire import make_confluent_envelope
from kafka2delta_spark.config import TableConfig
from kafka2delta_spark.session import delta_available
from kafka2delta_spark.streaming.stream import (
    apply_cdc_micro_batch,
    make_state_store,
)

TOPIC = "postgres.public.users"

USERS_V1 = json.dumps(
    {
        "type": "record",
        "name": "users",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "name", "type": "string"},
            {"name": "email", "type": "string"},
            {"name": "created_at", "type": {"type": "int", "logicalType": "date"}},
            {"name": "__deleted", "type": ["null", "string"], "default": None},
            {"name": "__timestamp", "type": ["null", "long"], "default": None},
            {"name": "__log_sequence_number", "type": ["null", "long"], "default": None},
        ],
    }
)
# v2 adds phone_number (ref stream_test.py:326-390 add-column scenario)
USERS_V2 = json.dumps(
    {
        "type": "record",
        "name": "users",
        "fields": json.loads(USERS_V1)["fields"][:4]
        + [{"name": "phone_number", "type": ["null", "string"], "default": None}]
        + json.loads(USERS_V1)["fields"][4:],
    }
)
KEY_SCHEMA = json.dumps(
    {"type": "record", "name": "users_key", "fields": [{"name": "id", "type": "int"}]}
)

KAFKA_SCHEMA = (
    "topic string, partition int, offset long, timestamp timestamp, "
    "timestampType int, key binary, value binary"
)


@pytest.fixture(
    params=[
        "parquet",
        pytest.param(
            "delta",
            marks=pytest.mark.skipif(
                not delta_available(), reason="delta-spark not on the classpath"
            ),
        ),
    ]
)
def rig(request, spark, tmp_path):
    registry = InMemorySchemaRegistry()
    key_sid = registry.register(KEY_SCHEMA)
    v1_sid = registry.register(USERS_V1)
    v2_sid = registry.register(USERS_V2)
    config = TableConfig(
        schema_name="cdc",
        table_name="users",
        path=str(tmp_path / "users"),
        additional_cols=["YEAR(created_at) AS year", "MONTH(created_at) AS month"],
        partition_cols=["year", "month"],
    )
    store = make_state_store(spark, config, backend=request.param)
    store.table_name = None  # catalog registration covered by its own test
    return registry, key_sid, v1_sid, v2_sid, config, store


def mk_record(schema, key_sid, value_sid, uid, lsn, deleted="false", **extra):
    rec = {
        "id": uid,
        "name": extra.get("name", f"user{uid}"),
        "email": extra.get("email", f"user{uid}@test.io"),
        "created_at": extra.get("created_at", dt.date(2024, 3, 15)),
        "__deleted": deleted,
        "__timestamp": 1700000000000 + lsn,
        "__log_sequence_number": lsn,
    }
    if "phone_number" in schema:
        rec["phone_number"] = extra.get("phone_number")
    key = make_confluent_envelope(key_sid, encode_avro_payload({"id": uid}, KEY_SCHEMA))
    val = make_confluent_envelope(value_sid, encode_avro_payload(rec, schema))
    return (TOPIC, 0, lsn, dt.datetime(2024, 3, 15, 12), 0, key, val)


def run_batch(spark, rig, rows):
    registry, *_, config, store = rig[0], rig[1], rig[2], rig[3], rig[4], rig[5]
    batch = spark.createDataFrame(rows, KAFKA_SCHEMA)
    apply_cdc_micro_batch(batch, rig[0], {TOPIC: rig[4]}, {TOPIC: rig[5]})
    return rig[5].read()


def test_insert_update_delete_lifecycle(spark, rig):
    registry, key_sid, v1, v2, config, store = rig

    # batch 1: 3 inserts, one key has two versions in-batch (dedup by LSN)
    state = run_batch(
        spark,
        rig,
        [
            mk_record(USERS_V1, key_sid, v1, 1, 10, name="alice_old"),
            mk_record(USERS_V1, key_sid, v1, 1, 20, name="alice"),
            mk_record(USERS_V1, key_sid, v1, 2, 15, name="bob"),
            mk_record(USERS_V1, key_sid, v1, 3, 17, name="carol"),
        ],
    )
    got = {r["id"]: r["name"] for r in state.collect()}
    assert got == {1: "alice", 2: "bob", 3: "carol"}
    # the reference's own acceptance predicate (ref stream_test.py:206-209)
    assert state.filter("email like '%test%'").count() == 3
    # derived partition columns materialized (ref stream_test.py:108-110)
    row = state.filter("id = 1").collect()[0]
    assert (row["year"], row["month"]) == (2024, 3)
    assert "__deleted" not in state.columns

    # batch 2: update bob (newer LSN), stale update for alice (guard), delete carol
    state = run_batch(
        spark,
        rig,
        [
            mk_record(USERS_V1, key_sid, v1, 2, 30, name="bob_updated"),
            mk_record(USERS_V1, key_sid, v1, 1, 5, name="alice_stale"),
            mk_record(USERS_V1, key_sid, v1, 3, 40, deleted="true"),
        ],
    )
    got = {r["id"]: r["name"] for r in state.collect()}
    assert got == {1: "alice", 2: "bob_updated"}


def test_schema_evolution_add_column(spark, rig):
    registry, key_sid, v1, v2, config, store = rig
    run_batch(spark, rig, [mk_record(USERS_V1, key_sid, v1, 1, 10)])
    state = run_batch(
        spark,
        rig,
        [mk_record(USERS_V2, key_sid, v2, 2, 20, phone_number="+1-555")],
    )
    rows = {r["id"]: r for r in state.collect()}
    assert rows[2]["phone_number"] == "+1-555"
    assert rows[1]["phone_number"] is None  # old rows NULL (ref :326-390)


def test_schema_evolution_drop_column(spark, rig):
    registry, key_sid, v1, v2, config, store = rig
    run_batch(spark, rig, [mk_record(USERS_V2, key_sid, v2, 1, 10, phone_number="+1")])
    state = run_batch(spark, rig, [mk_record(USERS_V1, key_sid, v1, 2, 20)])
    rows = {r["id"]: r for r in state.collect()}
    assert rows[1]["phone_number"] == "+1"  # column retained
    assert rows[2]["phone_number"] is None  # new rows NULL (ref :393-460)


def test_mixed_schema_versions_one_batch(spark, rig):
    registry, key_sid, v1, v2, config, store = rig
    state = run_batch(
        spark,
        rig,
        [
            mk_record(USERS_V1, key_sid, v1, 1, 10),
            mk_record(USERS_V2, key_sid, v2, 1, 20, phone_number="+9"),
        ],
    )
    rows = state.collect()
    assert len(rows) == 1
    assert rows[0]["phone_number"] == "+9"  # newer schema version won by LSN


def test_restart_recovery_from_checkpoint(spark, rig, tmp_path):
    """Exactly-once across restart: run stream_to_delta over a file source
    (Kafka stand-in), stop the query after batch 1 committed, restart from
    the SAME checkpoint, feed batch 2, and assert final state equals the
    batch oracle — the reference's whole delivery story is checkpoint
    resume + idempotent merge, and this exercises the actual resume path,
    not just merge idempotency.

    The no-new-input restart also asserts state is unchanged: the resumed
    query must not re-apply batch 1 (its offsets are committed in the
    checkpoint; the LSN guard would also mask a replay, so the version
    count check below pins that no merge even ran)."""
    from kafka2delta_spark.state.store import ParquetStateStore
    from kafka2delta_spark.streaming.stream import stream_to_delta

    registry, key_sid, v1, v2, config, store = rig
    if not isinstance(store, ParquetStateStore):
        pytest.skip("restart version-count probe is parquet-store-specific")
    src = str(tmp_path / "source")
    ckpt = str(tmp_path / "ckpt")

    def feed(rows):
        spark.createDataFrame(rows, KAFKA_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        source = spark.readStream.schema(KAFKA_SCHEMA).parquet(src)
        return stream_to_delta(
            spark, "restart_test", "none:9092", [TOPIC], {TOPIC: config},
            ckpt, registry, source_df=source, store_backend="parquet",
        )

    feed(
        [
            mk_record(USERS_V1, key_sid, v1, 1, 10, name="alice"),
            mk_record(USERS_V1, key_sid, v1, 2, 15, name="bob"),
        ]
    )
    q = start()
    q.processAllAvailable()
    q.stop()  # "kill" after batch 1 committed
    assert {r["id"]: r["name"] for r in store.read().collect()} == {
        1: "alice",
        2: "bob",
    }
    v_after_b1 = store._version()

    # restart with no new input: offsets are committed, nothing replays
    q = start()
    q.processAllAvailable()
    q.stop()
    assert store._version() == v_after_b1  # no merge ran at all

    # restart + batch 2 (update, stale LSN, delete): only the delta applies
    feed(
        [
            mk_record(USERS_V1, key_sid, v1, 2, 30, name="bob_v2"),
            mk_record(USERS_V1, key_sid, v1, 1, 5, name="stale"),
            mk_record(USERS_V1, key_sid, v1, 3, 40, deleted="true"),
        ]
    )
    q = start()
    q.processAllAvailable()
    q.stop()
    assert {r["id"]: r["name"] for r in store.read().collect()} == {
        1: "alice",
        2: "bob_v2",
    }


def test_partition_pruning_layout(spark, rig):
    """State store is hive-partitioned → scans with partition predicates
    prune files (the reference's year/month layout intent)."""
    registry, key_sid, v1, v2, config, store = rig
    run_batch(
        spark,
        rig,
        [
            mk_record(USERS_V1, key_sid, v1, 1, 10, created_at=dt.date(2023, 1, 5)),
            mk_record(USERS_V1, key_sid, v1, 2, 20, created_at=dt.date(2024, 6, 5)),
        ],
    )
    state = store.read().filter((F.col("year") == 2024) & (F.col("month") == 6))
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert state.count() == 1
    # partition filters present in the scan (pruning, not post-filter)
    assert "PartitionFilters" in plan


# ---------------------------------------------------------------------------
# NULL-primary-key observability (2026-08-16 ADVICE): malformed upstream
# rows are excluded by the merge guard either way, but the exclusion must
# be VISIBLE — a per-batch warning with the drop count in the default
# 'drop' policy, a loud batch failure under on_null_key='error'.
# ---------------------------------------------------------------------------

# a users schema whose id is nullable, so a contract-violating NULL PK can
# actually arrive through the Avro decode path
USERS_NULLABLE_ID = json.dumps(
    {
        "type": "record",
        "name": "users_nid",
        "fields": [
            {"name": "id", "type": ["null", "int"], "default": None},
            {"name": "name", "type": "string"},
            {"name": "__deleted", "type": "string"},
            {"name": "__timestamp", "type": "long"},
            {"name": "__log_sequence_number", "type": "long"},
        ],
    }
)
KEY_NULLABLE = json.dumps(
    {
        "type": "record",
        "name": "users_nid_key",
        "fields": [{"name": "id", "type": ["null", "int"], "default": None}],
    }
)


def _nullable_rig(spark, tmp_path, on_null_key):
    registry = InMemorySchemaRegistry()
    key_sid = registry.register(KEY_NULLABLE)
    val_sid = registry.register(USERS_NULLABLE_ID)
    config = TableConfig(
        schema_name="cdc",
        table_name="users_nid",
        path=str(tmp_path / "users_nid"),
        on_null_key=on_null_key,
    )
    store = make_state_store(spark, config, backend="parquet")
    store.table_name = None
    return registry, key_sid, val_sid, config, store


def _nullable_record(key_sid, val_sid, uid, lsn):
    rec = {
        "id": uid,
        "name": f"user{uid}" if uid is not None else "ghost",
        "__deleted": "false",
        "__timestamp": 1700000000000 + lsn,
        "__log_sequence_number": lsn,
    }
    key = make_confluent_envelope(
        key_sid, encode_avro_payload({"id": uid}, KEY_NULLABLE)
    )
    val = make_confluent_envelope(
        val_sid, encode_avro_payload(rec, USERS_NULLABLE_ID)
    )
    return (TOPIC, 0, lsn, dt.datetime(2024, 3, 15, 12), 0, key, val)


def test_null_pk_drop_policy_logs_count(spark, tmp_path, caplog):
    """Default policy: NULL-PK rows are dropped AND the drop is logged
    with a count — never silent (an explicit count over the persisted
    deduped slice; the store merge re-reads the cache)."""
    import logging

    registry, key_sid, val_sid, config, store = _nullable_rig(
        spark, tmp_path, "drop"
    )
    batch = spark.createDataFrame(
        [
            _nullable_record(key_sid, val_sid, 1, 10),
            _nullable_record(key_sid, val_sid, None, 11),
            _nullable_record(key_sid, val_sid, 2, 12),
        ],
        KAFKA_SCHEMA,
    )
    with caplog.at_level(
        logging.WARNING, logger="kafka2delta_spark.streaming.stream"
    ):
        per_topic = apply_cdc_micro_batch(
            batch, registry, {TOPIC: config}, {TOPIC: store}
        )
    state = store.read()
    assert sorted(r["id"] for r in state.collect()) == [1, 2]
    warned = [r for r in caplog.records if "NULL" in r.getMessage()]
    assert len(warned) == 1
    assert "dropped 1 change row" in warned[0].getMessage()
    assert "cdc.users_nid" in warned[0].getMessage()
    # the drop count is a RETURNED metric too, not only a log line
    assert per_topic == {TOPIC: {"null_key_rows": 1}}


def test_null_pk_drop_count_on_streaming_query_metrics(spark, tmp_path):
    """The streaming shell exposes the NULL-PK drop counter on the
    returned query (``query.cdc_metrics``), so a harness can assert on it
    without log scraping — closes the observability loop opened in round
    10 (the strict mode was testable, the drop count was caplog-only)."""
    from kafka2delta_spark.streaming.stream import stream_to_delta

    registry, key_sid, val_sid, config, store = _nullable_rig(
        spark, tmp_path, "drop"
    )
    src = str(tmp_path / "source")
    spark.createDataFrame(
        [
            _nullable_record(key_sid, val_sid, 1, 10),
            _nullable_record(key_sid, val_sid, None, 11),
            _nullable_record(key_sid, val_sid, None, 12),
            _nullable_record(key_sid, val_sid, 2, 13),
        ],
        KAFKA_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    source = spark.readStream.schema(KAFKA_SCHEMA).parquet(src)
    q = stream_to_delta(
        spark, "nullpk_metrics_test", "none:9092", [TOPIC], {TOPIC: config},
        str(tmp_path / "ckpt"), registry, source_df=source,
        store_backend="parquet",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r["id"] for r in store.read().collect()) == [1, 2]
    # the counter rides the DEDUPED slice (latest_per_key groups both
    # NULL-key rows into one), so it counts rows excluded from the merge,
    # not raw upstream rows: 2 NULL-PK records -> 1 excluded merge row
    assert q.cdc_metrics.null_key_rows() == 1
    assert q.cdc_metrics.null_key_rows(TOPIC) == 1
    assert q.cdc_metrics.null_key_rows("other.topic") == 0
    batches = q.cdc_metrics.batches
    assert len(batches) == 1
    assert batches[0][1] == {TOPIC: {"null_key_rows": 1}}


def test_null_pk_clean_batch_logs_nothing(spark, tmp_path, caplog):
    """No contract violation -> no warning noise."""
    import logging

    registry, key_sid, val_sid, config, store = _nullable_rig(
        spark, tmp_path, "drop"
    )
    batch = spark.createDataFrame(
        [_nullable_record(key_sid, val_sid, 1, 10)], KAFKA_SCHEMA
    )
    with caplog.at_level(
        logging.WARNING, logger="kafka2delta_spark.streaming.stream"
    ):
        apply_cdc_micro_batch(batch, registry, {TOPIC: config}, {TOPIC: store})
    assert [r for r in caplog.records if "NULL" in r.getMessage()] == []
    assert store.read().count() == 1


def test_null_pk_error_policy_fails_the_batch(spark, tmp_path):
    """Strict mode: the batch fails loudly on the first NULL-PK row
    (assert_true at the executor), so upstream contract violations cannot
    be absorbed."""
    registry, key_sid, val_sid, config, store = _nullable_rig(
        spark, tmp_path, "error"
    )
    batch = spark.createDataFrame(
        [
            _nullable_record(key_sid, val_sid, 1, 10),
            _nullable_record(key_sid, val_sid, None, 11),
        ],
        KAFKA_SCHEMA,
    )
    with pytest.raises(Exception, match="NULL primary key"):
        apply_cdc_micro_batch(batch, registry, {TOPIC: config}, {TOPIC: store})


def test_on_null_key_policy_is_validated():
    from kafka2delta_spark.cdc.merge import exclude_null_key_changes

    with pytest.raises(ValueError, match="on_null_key"):
        TableConfig(schema_name="a", table_name="b", path="/tmp/x",
                    on_null_key="ignore")
    with pytest.raises(ValueError, match="on_null_key"):
        exclude_null_key_changes(None, ["k"], "ignore")


def test_null_pk_drop_counted_on_later_batches(spark, tmp_path):
    """Round-12 regression pin: the drop counter must be real on batches
    whose merge joins EXISTING state, not only batch 0. The previous
    Observation-based counter resolved only on the first (stateless)
    batch — on later batches the observed node's metrics never reached
    the main execution, so ``Observation.get`` burned its full 30 s
    timeout per batch (found by profiling the multi-batch CDC bench:
    ~107 s for a 4-batch run whose work was ~14 s) and returned None,
    silently zeroing the counter exactly where snapshot-boundary NULL-PK
    noise is most likely to arrive. The explicit persisted-slice count
    has no such dependence; this test drives the NULL-PK rows in through
    batch 1, after state exists."""
    from kafka2delta_spark.streaming.stream import stream_to_delta

    registry, key_sid, val_sid, config, store = _nullable_rig(
        spark, tmp_path, "drop"
    )
    src = str(tmp_path / "source")
    spark.createDataFrame(
        [_nullable_record(key_sid, val_sid, 1, 10)], KAFKA_SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [
            _nullable_record(key_sid, val_sid, None, 11),
            _nullable_record(key_sid, val_sid, 2, 12),
        ],
        KAFKA_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    source = (
        spark.readStream.schema(KAFKA_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_to_delta(
        spark, "nullpk_late_batch_test", "none:9092", [TOPIC],
        {TOPIC: config}, str(tmp_path / "ckpt"), registry,
        source_df=source, store_backend="parquet",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r["id"] for r in store.read().collect()) == [1, 2]
    per_batch = {
        bid: m for bid, per_topic in q.cdc_metrics.batches
        for m in [per_topic.get(TOPIC, {})]
    }
    assert len(per_batch) >= 2
    # the NULL-PK drop arrived AFTER state existed and is still counted
    assert q.cdc_metrics.null_key_rows() == 1
    assert per_batch[0].get("null_key_rows", 0) == 0
    assert sum(m.get("null_key_rows", 0) for b, m in per_batch.items() if b > 0) == 1
