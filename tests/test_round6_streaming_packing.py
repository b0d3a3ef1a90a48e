"""qx92 streaming-retention maintenance (idempotent-base IVM contract)
and qx93 length-bucketed batch packing invariants.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kafka2delta_spark.state.store import ParquetStateStore
from kafka2delta_spark.streaming.incremental import apply_batch, presence_fold

SF_DIR = "/root/testdata/sf0.001"

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _events(spark, rows):
    # rows: (user_id, week_index) — one event in that week
    data = [
        (i, dt.datetime(2024, 1, 4) + dt.timedelta(weeks=w), u, "view", 1.0, "{}")
        for i, (u, w) in enumerate(rows)
    ]
    return spark.createDataFrame(data, EVENTS_SCHEMA)


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetStateStore(spark, str(tmp_path / "state"))


def test_presence_merge_is_idempotent_without_ledger(spark, store):
    """The qx92 contract: set union makes replay harmless even if the
    ledger were bypassed — apply the same rows under DIFFERENT batch ids
    (so the ledger does not absorb the replay) and the state must not
    change."""
    b = _events(spark, [(1, 0), (1, 0), (2, 1), (2, 1)])
    apply_batch(store, b, 0, presence_fold)
    s1 = sorted(tuple(r) for r in store.read().collect())
    apply_batch(store, b, 1, presence_fold)  # replay content, new batch id
    s2 = sorted(tuple(r) for r in store.read().collect())
    assert s1 == s2
    assert len(s1) == 2  # distinct (user, week) only


def test_presence_out_of_order_recohorts_user(spark, store):
    """Late arrival of an EARLIER week must retroactively move the user's
    cohort — the property additive cell maintenance cannot deliver."""
    from kafka2delta_spark.operators.analytic import retention_matrix

    apply_batch(store, _events(spark, [(1, 5), (1, 6)]), 0, presence_fold)
    m1 = {
        (r["cohort_week"], r["week_offset"]): r["n_active"]
        for r in retention_matrix(store.read()).collect()
    }
    cohort1 = min(c for c, _ in m1)
    # the user's first activity actually happened in week 2 — arrives late
    apply_batch(store, _events(spark, [(1, 2)]), 1, presence_fold)
    m2 = {
        (r["cohort_week"], r["week_offset"]): r["n_active"]
        for r in retention_matrix(store.read()).collect()
    }
    cohort2 = min(c for c, _ in m2)
    assert cohort2 == cohort1 - 3
    # offsets re-anchored: all three weeks now measured from week 2
    assert sorted(off for _, off in m2) == [0, 3, 4]


def test_stale_batch_id_skipped(spark, store):
    assert apply_batch(store, _events(spark, [(1, 0)]), 5, presence_fold)
    assert not apply_batch(store, _events(spark, [(9, 9)]), 5, presence_fold)
    assert not apply_batch(store, _events(spark, [(9, 9)]), 4, presence_fold)
    users = {r["user_id"] for r in store.read().collect()}
    assert users == {1}


def test_length_buckets_pack_correctly(spark):
    from kafka2delta_spark.functions.pipeline import (
        SEQ_MIN_BUCKET,
        SEQ_TOKEN_BUDGET,
        qx93_length_bucketed_batches,
    )
    from kafka2delta_spark.sources.tables import load_table

    rows = qx93_length_bucketed_batches(spark, SF_DIR).collect()
    n_docs_total = sum(r["n_docs"] for r in rows)
    docs = load_table(spark, SF_DIR, "documents")
    n_nonempty = docs.filter(
        F.size(F.split(F.lower("text"), r"\s+")) > 0
    ).count()
    assert n_docs_total == n_nonempty  # every doc scheduled exactly once
    for r in rows:
        w = r["width"]
        assert w >= SEQ_MIN_BUCKET and (w & (w - 1)) == 0  # power of two
        cap = SEQ_TOKEN_BUDGET // w
        assert 1 <= r["n_docs"] <= cap
        assert r["tokens_padded"] == r["n_docs"] * w
        assert r["tokens_real"] <= r["tokens_padded"]
        # docs in a width-w bucket have len in (w/2, w] (or <= 16 floor)
        assert r["tokens_real"] > r["n_docs"] * (w // 2) or w == SEQ_MIN_BUCKET
        assert (
            r["waste_e4"]
            == (r["tokens_padded"] - r["tokens_real"]) * 10000 // r["tokens_padded"]
        )
    # only the LAST batch of a bucket may be under-full
    by_width = {}
    for r in rows:
        by_width.setdefault(r["width"], []).append(r)
    for w, rs in by_width.items():
        rs.sort(key=lambda r: r["batch_seq"])
        assert [r["batch_seq"] for r in rs] == list(range(len(rs)))
        cap = SEQ_TOKEN_BUDGET // w
        for r in rs[:-1]:
            assert r["n_docs"] == cap


# --- qx99: gap-merged session-interval maintenance -----------------------


def _iv_events(spark, rows):
    # rows: (user_id, minute_offset) — one event at that minute
    data = [
        (i, dt.datetime(2024, 3, 1) + dt.timedelta(minutes=m), u, "view", 1.0, "{}")
        for i, (u, m) in enumerate(rows)
    ]
    return spark.createDataFrame(data, EVENTS_SCHEMA)


def _state(store):
    return sorted(
        (r["user_id"], r["s_us"], r["e_us"]) for r in store.read().collect()
    )


def test_interval_merge_is_idempotent_and_order_free(spark, tmp_path):
    from kafka2delta_spark.streaming.incremental import (
        apply_batch,
        session_interval_fold,
    )

    b1 = _iv_events(spark, [(1, 0), (1, 10), (2, 0)])
    b2 = _iv_events(spark, [(1, 20), (2, 200)])
    # order A
    sa = ParquetStateStore(spark, str(tmp_path / "a"))
    apply_batch(sa, b1, 0, session_interval_fold)
    apply_batch(sa, b2, 1, session_interval_fold)
    # replay with a NEW batch id (ledger does not absorb it) — no change
    before = _state(sa)
    apply_batch(sa, b2, 2, session_interval_fold)
    assert _state(sa) == before
    # order B (batches swapped) — same final state: gap-merge is a
    # closure operation, stage order cannot matter
    sb = ParquetStateStore(spark, str(tmp_path / "b"))
    apply_batch(sb, b2, 0, session_interval_fold)
    apply_batch(sb, b1, 1, session_interval_fold)
    assert _state(sa) == _state(sb)
    # user 1: events at 0/10/20 min merge into ONE interval; user 2's
    # 0 and 200 min stay separate (> 30 min gap)
    by_user = {}
    for u, s, e in _state(sa):
        by_user.setdefault(u, []).append((s, e))
    assert len(by_user[1]) == 1
    assert len(by_user[2]) == 2


def test_bridging_batch_fuses_intervals(spark, tmp_path):
    """An event landing in the gap between two maintained intervals must
    fuse them — the property per-session additive state cannot deliver."""
    from kafka2delta_spark.streaming.incremental import (
        apply_batch,
        session_interval_fold,
    )

    store = ParquetStateStore(spark, str(tmp_path / "s"))
    # two sessions 50 minutes apart -> separate (gap > 30 min)
    apply_batch(store, _iv_events(spark, [(1, 0), (1, 50)]), 0, session_interval_fold)
    assert len(_state(store)) == 2
    # a late event at minute 25 is within 30-min gap reach of BOTH
    apply_batch(store, _iv_events(spark, [(1, 25)]), 1, session_interval_fold)
    st = _state(store)
    assert len(st) == 1
    u, s, e = st[0]
    assert (e - s) == 50 * 60 * 1_000_000


def test_q55_dedup_collapses_real_duplicates(spark, tmp_path):
    """The harness events table has unique event_ids at every SF, so
    q55's full value oracle never exercises the dedup itself — this
    does: duplicate every event 3x with arrival times spread inside the
    1-hour watermark, and the streamed output must still be exactly one
    row per event_id with the key-determined columns intact."""
    import pyspark.sql.functions as F

    from kafka2delta_spark.queryset import QUERIES, load_all_querysets
    from kafka2delta_spark.sources.tables import load_table

    load_all_querysets()
    d = str(tmp_path / "dup_events")
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    n = ev.count()
    reps = spark.range(3).select(F.col("id").alias("rep"))
    dup = (
        ev.crossJoin(reps)
        .select(
            "event_id",
            # re-deliveries arrive minutes apart, inside the watermark
            (F.col("ts") + F.make_interval(mins=F.col("rep") * 5)).alias("ts"),
            "user_id", "event_type",
        )
        .toPandas()
    )
    # single FILE (not a dir): the stream reader symlinks the file path
    import os

    os.makedirs(d, exist_ok=True)
    dup.to_parquet(f"{d}/events.parquet", index=False)
    out = QUERIES["q55_stream_dedup_within_watermark"](spark, d).collect()
    assert len(out) == n
    assert len({r["event_id"] for r in out}) == n
    base = {
        r["event_id"]: (r["user_id"], r["event_type"])
        for r in ev.select("event_id", "user_id", "event_type").collect()
    }
    for r in out:
        assert (r["user_id"], r["event_type"]) == base[r["event_id"]]
