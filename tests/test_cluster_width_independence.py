"""Round-13 pins for the cluster-width-independence fixes.

Two classes of change are covered:

1. ``local_rows`` — literal/empty frames must occupy ONE partition.
   ``spark.createDataFrame(list, schema)`` slices into
   defaultParallelism partitions, so every broadcast build / union /
   scan over a 3-row constant spine scheduled a cluster-width round of
   no-op tasks (the r12-verdict 8-vs-32-core streaming inversion traced
   to exactly this on the maintained folds' empty state scaffolds).

2. The maintained folds' batch-0 fast path (qy10 / qx46) — skipping the
   union-with-empty-state must be bit-identical to taking the union
   path with an explicitly-seeded EMPTY state snapshot.
"""

import pytest
from pyspark.sql import functions as F

from kafka2delta_spark.session import local_rows
from kafka2delta_spark.state.store import ParquetStateStore
from kafka2delta_spark.streaming.incremental import (
    anomaly_fold,
    apply_batch,
    interarrival_fold,
)


def test_local_rows_is_single_partition(spark):
    assert local_rows(spark, [], "a int").rdd.getNumPartitions() == 1
    df = local_rows(spark, [(1,), (2,), (3,)], "a int")
    assert df.rdd.getNumPartitions() == 1
    assert [r.a for r in df.orderBy("a").collect()] == [1, 2, 3]


def _events_batch(spark, seed: int):
    rows = [
        (i + seed * 100, 1000 + (i % 7), f"t{i % 3}",
         float(i) / 3.0, 1_700_000_000_000_000 + (seed * 3600 + i * 60) * 1_000_000)
        for i in range(40)
    ]
    return local_rows(
        spark,
        [(e, u, t, v) for e, u, t, v, _ in rows],
        "event_id bigint, user_id bigint, event_type string, value double",
    ).withColumn(
        "ts",
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + (F.lit(seed) * 3600 + (F.col("event_id") - seed * 100) * 60)
            * 1_000_000
        ),
    )


GAP_SCHEMA = (
    "kind string, event_type string, bucket int, n bigint, "
    "min_gap_s bigint, max_gap_s bigint, user_id bigint, last_us bigint"
)
ANOM_SCHEMA = (
    "kind string, user_id bigint, event_id bigint, ts timestamp, "
    "v1000 bigint, n_window bigint, dev_num bigint, direction string"
)


@pytest.mark.parametrize(
    "fold, schema",
    [
        (interarrival_fold, GAP_SCHEMA),
        (anomaly_fold, ANOM_SCHEMA),
    ],
    ids=["interarrival", "anomaly"],
)
def test_batch0_fast_path_equals_union_with_empty(
    spark, tmp_path, fold, schema
):
    b0 = _events_batch(spark, 0)
    b1 = _events_batch(spark, 1)

    # fast path: fresh store, batch 0 sees no prior
    fast = ParquetStateStore(spark, str(tmp_path / "fast"))
    apply_batch(fast, b0, 0, fold)
    apply_batch(fast, b1, 1, fold)

    # union path: store pre-seeded with an EMPTY typed snapshot, so
    # batch 0 takes the prior-union branch over zero state rows
    seeded = ParquetStateStore(spark, str(tmp_path / "seeded"))
    seeded.overwrite(local_rows(spark, [], schema))
    apply_batch(seeded, b0, 1, fold)  # ledger: batch_id must exceed the seed commit's
    apply_batch(seeded, b1, 2, fold)

    a = sorted(map(str, fast.read().collect()))
    b = sorted(map(str, seeded.read().collect()))
    assert a == b and len(a) > 0
