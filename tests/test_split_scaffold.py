"""Shape tests for the two-batch events split scaffold (round-8 form).

The scaffold feeds every multi-micro-batch streaming query, so its
contract is load-bearing: two time-ordered halves, SPLIT_SHARDS files
each, b0 strictly older than b1 (batch order is mtime-pinned), a single
sentinel riding in b1, and a split point computed by O(1) aggregates
(the (min+max)/2 midpoint — no percentile multiset, see
stateful.py::_events_multibatch_dir). A drain with
maxFilesPerTrigger=SPLIT_SHARDS must see exactly one batch boundary
between the halves.
"""

from __future__ import annotations

import os

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def split_dir(spark):
    from kafka2delta_spark.streaming.stateful import _events_multibatch_dir

    return _events_multibatch_dir(spark, SF_DIR)


def test_split_dir_shape(split_dir):
    from kafka2delta_spark.streaming.stateful import SPLIT_SHARDS

    files = sorted(os.listdir(split_dir))
    assert len(files) == 2 * SPLIT_SHARDS
    b0 = [f for f in files if f.startswith("part-000-")]
    b1 = [f for f in files if f.startswith("part-001-")]
    assert len(b0) == SPLIT_SHARDS and len(b1) == SPLIT_SHARDS


def test_batch_order_is_mtime_pinned(split_dir):
    """Every b0 shard's target mtime is strictly older than every b1
    shard's — the property FileStreamSource's oldest-first ordering
    keys on."""
    files = sorted(os.listdir(split_dir))
    mtime = {f: os.stat(os.path.join(split_dir, f)).st_mtime for f in files}
    b0_max = max(v for f, v in mtime.items() if f.startswith("part-000-"))
    b1_min = min(v for f, v in mtime.items() if f.startswith("part-001-"))
    assert b0_max < b1_min


def test_halves_partition_events_at_the_midpoint(spark, split_dir):
    """b0 ∪ b1 = events ∪ {sentinel}; b0 < midpoint <= b1; exactly one
    sentinel and it holds the global max timestamp."""
    from pyspark.sql import functions as F

    from kafka2delta_spark.sources.tables import load_table
    from kafka2delta_spark.streaming.stateful import SENTINEL_USER

    ev = load_table(spark, SF_DIR, "events")
    mid = ev.agg(
        F.expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2").alias("m")
    ).collect()[0]["m"]

    both = spark.read.parquet(split_dir)
    n_total = both.count()
    assert n_total == ev.count() + 1  # + the sentinel

    b0 = spark.read.parquet(f"{os.path.dirname(split_dir)}/b0")
    b1 = spark.read.parquet(f"{os.path.dirname(split_dir)}/b1")
    assert b0.filter(F.unix_micros("ts") >= mid).count() == 0
    real_b1 = b1.filter(F.col("user_id") != SENTINEL_USER)
    assert real_b1.filter(F.unix_micros("ts") < mid).count() == 0

    sentinels = both.filter(F.col("user_id") == SENTINEL_USER).collect()
    assert len(sentinels) == 1
    max_real = ev.agg(F.max("ts")).collect()[0][0]
    assert sentinels[0]["ts"] > max_real


def test_drain_sees_exactly_two_data_batches(spark, split_dir, tmp_path):
    """A foreachBatch drain over the split with the scaffold's trigger
    size observes exactly 2 non-empty micro-batches, in half order."""
    from pyspark.sql import functions as F

    from kafka2delta_spark.sources.tables import load_table
    from kafka2delta_spark.streaming.stateful import (
        SENTINEL_USER,
        SPLIT_SHARDS,
    )

    batch = load_table(spark, SF_DIR, "events")
    seen: list[tuple[int, int, int]] = []  # (batch_id, rows, max_us)

    def sink(df, bid):
        rows = df.count()
        if rows:
            mx = df.filter(F.col("user_id") != SENTINEL_USER).agg(
                F.max(F.unix_micros("ts"))
            ).collect()[0][0]
            seen.append((bid, rows, mx))

    q = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", SPLIT_SHARDS)
        .parquet(split_dir)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        # fresh checkpoint each run — a reused one would mark the files
        # consumed and the re-run would observe zero batches
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    assert len(seen) == 2, seen
    (b0_id, b0_rows, b0_max), (b1_id, b1_rows, b1_max) = seen
    assert b0_id < b1_id
    assert b0_rows + b1_rows == batch.count() + 1
    # time-ordered halves: everything in batch 0 precedes batch 1's max
    assert b0_max < b1_max


def test_split_dir_refreshes_when_events_regenerate(spark, tmp_path):
    """Cross-process staleness contract: the persistent split scratch dir
    is keyed by the events file's (mtime_ns, size) identity, so a
    regenerated events table gets a fresh split instead of silently
    reusing the old one (testdata is driver-regenerated between rounds)."""
    import shutil

    import kafka2delta_spark.streaming.stateful as st

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), f"{sf}/events.parquet")
    d1 = st._events_multibatch_dir(spark, sf)

    # "regenerate" the table: same path, different file identity
    st._SPLIT_DIRS.pop((sf, st.SPLIT_FRAC), None)  # simulate a fresh process
    os.utime(f"{sf}/events.parquet")
    d2 = st._events_multibatch_dir(spark, sf)
    assert d1 != d2, "stale split dir reused after events regenerated"

    # same identity from a fresh process -> same dir (the cache works)
    st._SPLIT_DIRS.pop((sf, st.SPLIT_FRAC), None)
    d3 = st._events_multibatch_dir(spark, sf)
    assert d3 == d2
    for d in (d1, d2):
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def test_time_skewed_half_pads_to_split_shards(spark, tmp_path):
    """A heavily time-skewed events table (one event far past the rest)
    makes the (min+max)/2 midpoint leave one half nearly empty — the
    repartition then writes fewer than SPLIT_SHARDS data files for it.
    Round-9 ADVICE: that must degrade gracefully, not hard-error. The
    degradation PADS the short half with empty schema-only shards so
    each half still presents exactly SPLIT_SHARDS paths — accepting
    fewer files would let maxFilesPerTrigger pull b1 files into trigger
    1 and break the batch boundary the mtime pinning guarantees."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    import kafka2delta_spark.streaming.stateful as st

    src = pq.read_table(os.path.join(SF_DIR, "events.parquet")).slice(0, 200)
    ts = src.column("ts").to_pylist()
    base = min(ts)
    # all events share one timestamp except the last, 10 days later:
    # midpoint = base + 5 days -> b0 gets 199 rows, b1 gets 1 (+ sentinel)
    import datetime

    skewed_ts = [base] * 199 + [base + datetime.timedelta(days=10)]
    tbl = src.set_column(
        src.schema.get_field_index("ts"),
        pa.field("ts", pa.timestamp("us")),
        pa.array(skewed_ts, pa.timestamp("us")),
    )
    sf = str(tmp_path / "sf_skew")
    os.makedirs(sf)
    pq.write_table(tbl, f"{sf}/events.parquet")

    d = st._events_multibatch_dir(spark, sf)
    try:
        links = sorted(os.listdir(d))
        assert len(links) == 2 * st.SPLIT_SHARDS, links
        # the skewed half was padded: at least one pad shard exists
        half_dir = os.path.dirname(os.readlink(f"{d}/{links[-1]}"))
        pads = [
            f
            for bdir in (f"{os.path.dirname(half_dir)}/b0",
                         f"{os.path.dirname(half_dir)}/b1")
            if os.path.isdir(bdir)
            for f in os.listdir(bdir)
            if f.startswith("pad-")
        ]
        assert pads, "no pad shards written for the short half"
        # no rows lost, sentinel appended: 200 real + 1 sentinel
        total = spark.read.parquet(d).count()
        assert total == 201, total
        # batch boundary intact: the b1-mtime files hold ONLY the late
        # event + the sentinel (2 rows), never b0 spill-over
        by_mtime = sorted(
            links, key=lambda f: os.path.getmtime(os.path.join(d, f))
        )
        b1_files = [f"{d}/{f}" for f in by_mtime[st.SPLIT_SHARDS:]]
        b1_rows = spark.read.parquet(*b1_files).count()
        assert b1_rows == 2, b1_rows
    finally:
        st._SPLIT_DIRS.pop((sf, st.SPLIT_FRAC), None)
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)


def test_degenerate_midpoint_fails_loudly(spark, tmp_path):
    """All-equal timestamps make the (min+max)/2 midpoint == min, so the
    b0 filter (ts < mid) matches nothing and no two-batch split exists.
    The builder must reject that on the O(1) min/max aggregate — a
    file-count check can NOT catch it, because Spark 4.x writes one
    schema-only parquet file even for a zero-row half, which would
    otherwise silently pad b0 into a one-batch fixture that stops
    exercising cross-batch state."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    import kafka2delta_spark.streaming.stateful as st

    src = pq.read_table(os.path.join(SF_DIR, "events.parquet")).slice(0, 100)
    one_ts = min(src.column("ts").to_pylist())
    tbl = src.set_column(
        src.schema.get_field_index("ts"),
        pa.field("ts", pa.timestamp("us")),
        pa.array([one_ts] * 100, pa.timestamp("us")),
    )
    sf = str(tmp_path / "sf_degenerate")
    os.makedirs(sf)
    pq.write_table(tbl, f"{sf}/events.parquet")

    try:
        with pytest.raises(RuntimeError, match="midpoint degenerated"):
            st._events_multibatch_dir(spark, sf)
    finally:
        st._SPLIT_DIRS.pop((sf, st.SPLIT_FRAC), None)
        shutil.rmtree(st._split_dir(sf), ignore_errors=True)
