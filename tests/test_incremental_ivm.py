"""Incremental view maintenance (q49 path): replay idempotency + the
shared drain guard.

foreachBatch is at-least-once: after a sink commit, the same batch can be
delivered again (retry before the checkpoint records it, or a restart).
Additive aggregates have no natural replay guard — unlike the CDC path's
LSN comparison — so apply_batch keeps a batch-id ledger committed
atomically with each snapshot. These tests drive the rollup fold through
apply_batch directly with replays, out-of-order retries, and a
restart-shaped replay, asserting the rollup equals the batch oracle every time.
"""

from __future__ import annotations

import datetime as dt

import pytest

from kafka2delta_spark.state.store import ParquetStateStore
from kafka2delta_spark.streaming.incremental import (
    _combine,
    _partial,
    apply_batch,
    rollup_fold,
)


def _events(spark, rows):
    return spark.createDataFrame(
        [
            (u, dt.datetime(2024, 1, 1, 0, 0, i), float(v))
            for i, (u, v) in enumerate(rows)
        ],
        "user_id long, ts timestamp, value double",
    )


def _rollup(store):
    return sorted(tuple(r) for r in store.read().collect())


@pytest.fixture()
def store(spark, tmp_path):
    return ParquetStateStore(spark, str(tmp_path / "rollup"))


def test_replayed_batch_is_noop(spark, store):
    b0 = _events(spark, [(1, 1.0), (1, 2.0), (2, 5.0)])
    assert apply_batch(store, b0, 0, rollup_fold) is True
    after_first = _rollup(store)
    # at-least-once retry: same batch id delivered again
    assert apply_batch(store, b0, 0, rollup_fold) is False
    assert _rollup(store) == after_first
    assert store.metadata() == {"last_applied_batch_id": 0}


def test_stale_batch_after_newer_commit_is_noop(spark, store):
    b0 = _events(spark, [(1, 1.0)])
    b1 = _events(spark, [(1, 3.0), (2, 4.0)])
    apply_batch(store, b0, 0, rollup_fold)
    apply_batch(store, b1, 1, rollup_fold)
    after = _rollup(store)
    # restart replays an older batch the checkpoint already advanced past
    assert apply_batch(store, b0, 0, rollup_fold) is False
    assert _rollup(store) == after
    assert store.metadata() == {"last_applied_batch_id": 1}


def test_replay_sequence_matches_batch_oracle(spark, store):
    """Apply batches with every batch replayed once; final table must equal
    the one-shot batch aggregate over all events (the IVM invariant)."""
    batches = [
        _events(spark, [(1, 1.5), (2, 2.5)]),
        _events(spark, [(1, 0.25), (3, 9.0)]),
        _events(spark, [(2, 1.0), (3, 1.0), (1, 1.0)]),
    ]
    for i, b in enumerate(batches):
        apply_batch(store, b, i, rollup_fold)
        apply_batch(store, b, i, rollup_fold)  # immediate retry of every batch
    allb = batches[0]
    for b in batches[1:]:
        allb = allb.unionByName(b)
    expect = sorted(tuple(r) for r in _partial(allb).collect())
    assert _rollup(store) == expect


def test_combine_is_associative_fold(spark):
    """_combine(partial(a), partial(b)) == partial(a ∪ b) — the property
    that makes the view incrementally maintainable."""
    a = _events(spark, [(1, 1.0), (2, 2.0)])
    b = _events(spark, [(1, 4.0), (3, 3.0)])
    folded = _combine(_partial(a), _partial(b))
    oneshot = _partial(a.unionByName(b))
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, oneshot.collect())
    )


def test_optimize_preserves_replay_ledger(spark, store):
    """Compaction commits a new version; the batch-id ledger must ride
    along or a post-OPTIMIZE replay double-applies."""
    b0 = _events(spark, [(1, 1.0), (2, 2.0)])
    apply_batch(store, b0, 0, rollup_fold)
    before = _rollup(store)
    store.optimize(target_files=1)
    assert store.metadata() == {"last_applied_batch_id": 0}
    assert apply_batch(store, b0, 0, rollup_fold) is False  # replay still a no-op
    assert _rollup(store) == before


def test_concurrent_drain_raises(spark):
    from kafka2delta_spark.streaming.drain import drain_shuffle_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with drain_shuffle_partitions(spark, "2"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
        with pytest.raises(RuntimeError, match="concurrent drain"):
            with drain_shuffle_partitions(spark, "3"):
                pass  # pragma: no cover
        # the failed acquire must not have clobbered the active override
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_drain_guard_released_after_exception(spark):
    from kafka2delta_spark.streaming.drain import drain_shuffle_partitions

    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(ValueError, match="boom"):
        with drain_shuffle_partitions(spark, "2"):
            raise ValueError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # lock released: a fresh drain acquires cleanly
    with drain_shuffle_partitions(spark, "2"):
        pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


# -- property: any batch split + any replay pattern == the batch oracle --
try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAVE_HYPOTHESIS = False


if HAVE_HYPOTHESIS:
    # a run = per-batch event lists (user_id, value) + a replay flag per
    # batch (replay immediately after commit — the foreachBatch retry)
    run_strategy = st.lists(
        st.tuples(
            st.lists(
                st.tuples(st.integers(1, 4), st.integers(0, 5)),
                min_size=1,
                max_size=4,
            ),
            st.booleans(),
        ),
        min_size=1,
        max_size=4,
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(run=run_strategy)
    def test_rollup_replay_property(spark, tmp_path_factory, run):
        """For ANY batch split and ANY immediate-retry pattern, the final
        rollup equals the one-shot batch aggregate — the invariant that
        makes the additive view maintainable under at-least-once
        delivery."""
        store = ParquetStateStore(
            spark,
            str(tmp_path_factory.mktemp("prop_rollup")) + "/state",
        )
        all_events = []
        for batch_id, (events, replay) in enumerate(run):
            rows = [(u, float(v)) for u, v in events]
            all_events.extend(rows)
            b = _events(spark, rows)
            apply_batch(store, b, batch_id, rollup_fold)
            if replay:
                apply_batch(store, b, batch_id, rollup_fold)
        # timestamps differ per _events call (index-based), so compare the
        # additive columns only
        got = sorted(
            (r["user_id"], r["n_events"], r["v1000"])
            for r in store.read().collect()
        )
        import collections

        model = collections.defaultdict(lambda: [0, 0])
        for u, v in all_events:
            model[u][0] += 1
            model[u][1] += int(v * 1000)
        expect = sorted((u, n, s) for u, (n, s) in model.items())
        assert got == expect


# --- qx23: streaming KMV sketch maintenance -------------------------------


def _typed_events(spark, rows):
    """rows: (event_type, user_id)."""
    return spark.createDataFrame(
        [(t, u) for t, u in rows], "event_type string, user_id long"
    )


def _sketch(store):
    return sorted(
        (r["event_type"], tuple(r["kmins"])) for r in store.read().collect()
    )


def test_kmv_split_application_equals_single_batch(spark, tmp_path):
    from kafka2delta_spark.streaming.incremental import apply_batch, kmv_fold

    rows = [("click", u % 37) for u in range(100)] + [
        ("view", u % 91) for u in range(100)
    ]
    split = ParquetStateStore(spark, str(tmp_path / "a"))
    assert apply_batch(split, _typed_events(spark, rows[:73]), 0, kmv_fold)
    assert apply_batch(split, _typed_events(spark, rows[73:]), 1, kmv_fold)
    # at-least-once retry of the last batch: ledger makes it a no-op
    before = _sketch(split)
    assert apply_batch(split, _typed_events(spark, rows[73:]), 1, kmv_fold) is False
    assert _sketch(split) == before

    whole = ParquetStateStore(spark, str(tmp_path / "b"))
    apply_batch(whole, _typed_events(spark, rows), 0, kmv_fold)
    assert _sketch(split) == _sketch(whole)


def test_kmv_merge_is_idempotent_without_ledger(spark):
    """Unlike the additive rollup, the sketch itself absorbs replay:
    merging a sketch with itself changes nothing (set union)."""
    from kafka2delta_spark.operators.advanced import kmv_merge, kmv_sketch_by_type

    s = kmv_sketch_by_type(
        _typed_events(spark, [("click", u * 7) for u in range(200)])
    )
    twice = kmv_merge(s, s)
    a = sorted((r["event_type"], tuple(r["kmins"])) for r in s.collect())
    b = sorted((r["event_type"], tuple(r["kmins"])) for r in twice.collect())
    assert a == b


if HAVE_HYPOTHESIS:
    kmv_run_strategy = st.lists(
        st.tuples(
            st.lists(
                st.tuples(st.sampled_from(["click", "view"]), st.integers(0, 300)),
                min_size=1,
                max_size=40,
            ),
            st.booleans(),
        ),
        min_size=1,
        max_size=3,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(run=kmv_run_strategy)
    def test_kmv_replay_property(spark, tmp_path_factory, run):
        """For ANY batch split and ANY immediate-retry pattern, the
        maintained KMV sketch equals the one-shot sketch over all rows —
        here replay safety comes from the merge itself (set union), the
        ledger is belt-and-braces."""
        from kafka2delta_spark.streaming.incremental import apply_batch, kmv_fold

        store = ParquetStateStore(
            spark, str(tmp_path_factory.mktemp("prop_kmv")) + "/state"
        )
        all_rows = []
        for batch_id, (rows, replay) in enumerate(run):
            all_rows.extend(rows)
            b = spark.createDataFrame(rows, "event_type string, user_id long")
            apply_batch(store, b, batch_id, kmv_fold)
            if replay:
                apply_batch(store, b, batch_id, kmv_fold)
        whole = ParquetStateStore(
            spark, str(tmp_path_factory.mktemp("prop_kmv_whole")) + "/state"
        )
        apply_batch(
            whole,
            spark.createDataFrame(all_rows, "event_type string, user_id long"),
            0,
            kmv_fold,
        )
        got = sorted(
            (r["event_type"], tuple(r["kmins"])) for r in store.read().collect()
        )
        expect = sorted(
            (r["event_type"], tuple(r["kmins"])) for r in whole.read().collect()
        )
        assert got == expect


def test_countmin_split_replay_equals_single_batch(spark, tmp_path):
    from kafka2delta_spark.streaming.incremental import apply_batch, countmin_fold

    rows = [("e", u % 17) for u in range(120)]
    split = ParquetStateStore(spark, str(tmp_path / "cma"))
    b0 = _typed_events(spark, rows[:50])
    b1 = _typed_events(spark, rows[50:])
    assert apply_batch(split, b0, 0, countmin_fold)
    assert apply_batch(split, b1, 1, countmin_fold)
    before = sorted(tuple(r) for r in split.read().collect())
    # additive cells MUST be guarded: replay is a no-op only via the ledger
    assert apply_batch(split, b1, 1, countmin_fold) is False
    assert sorted(tuple(r) for r in split.read().collect()) == before

    whole = ParquetStateStore(spark, str(tmp_path / "cmb"))
    apply_batch(whole, _typed_events(spark, rows), 0, countmin_fold)
    assert before == sorted(tuple(r) for r in whole.read().collect())


def test_kmv_maintenance_restart_from_checkpoint(spark, tmp_path):
    """Checkpoint-resume for the maintained sketch: stop after batch 1,
    restart from the same checkpoint with batch 2 appended — committed
    offsets must not replay (ledger version pins that no merge re-ran on
    the no-new-input restart), and the final sketch equals the one-shot
    sketch over both batches."""
    from kafka2delta_spark.streaming.incremental import (
        apply_batch,
        kmv_fold,
        maintain,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = ParquetStateStore(spark, str(tmp_path / "state"))

    rows1 = [("click", u) for u in range(80)]
    rows2 = [("click", u) for u in range(60, 140)] + [("view", u) for u in range(30)]

    def feed(rows):
        _typed_events(spark, rows).coalesce(1).write.mode("append").parquet(src)

    def start():
        stream = spark.readStream.schema(
            "event_type string, user_id long"
        ).parquet(src)
        return maintain(stream, store, kmv_fold, checkpoint=ckpt)

    feed(rows1)
    q = start()
    q.awaitTermination()
    after_b1 = _sketch(store)
    meta_b1 = store.metadata()

    # restart, no new input: committed offsets -> no batch fires
    q = start()
    q.awaitTermination()
    assert _sketch(store) == after_b1
    assert store.metadata() == meta_b1

    # restart with batch 2 appended: only the delta applies
    feed(rows2)
    q = start()
    q.awaitTermination()

    whole = ParquetStateStore(spark, str(tmp_path / "whole"))
    apply_batch(whole, _typed_events(spark, rows1 + rows2), 0, kmv_fold)
    assert _sketch(store) == _sketch(whole)


# --- qx46: streaming rolling-anomaly maintenance ---------------------------


def _anom_events(spark, rows):
    """rows: (event_id, user_id, minute, value)."""
    import datetime as dt

    return spark.createDataFrame(
        [
            (i, u, dt.datetime(2024, 1, 1, 0, m), float(v))
            for i, u, m, v in rows
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )


def _flags(store):
    return sorted(
        tuple(r)
        for r in store.read()
        .filter("kind = 'anom'")
        .select("user_id", "event_id", "v1000", "n_window", "dev_num", "direction")
        .collect()
    )


def test_anomaly_split_application_equals_single_batch(spark, tmp_path):
    """Time-ordered split points anywhere (including mid-anomaly-window)
    must not change the flag set, and a replayed batch is a ledger no-op."""
    from kafka2delta_spark.streaming.incremental import apply_batch, anomaly_fold

    # user 1: stable around 10 with one spike; user 2: noisy ramp
    rows = [(1, m, 10.0 + (m % 3) * 0.5) for m in range(20)]
    rows[13] = (1, 13, 500.0)  # spike after a stable prefix -> must flag
    rows += [(2, m, float(m * m % 17)) for m in range(20)]
    rows.sort(key=lambda r: (r[1], r[0]))  # time order, ties by user
    rows = [(i, u, m, v) for i, (u, m, v) in enumerate(rows)]
    spike_id = next(i for i, u, m, v in rows if v == 500.0)

    whole = ParquetStateStore(spark, str(tmp_path / "w"))
    assert apply_batch(whole, _anom_events(spark, rows), 0, anomaly_fold)
    want = _flags(whole)
    assert any(r[1] == spike_id for r in want), (
        "the engineered spike must be flagged"
    )

    for cut in (7, 13, 20, 33):
        split = ParquetStateStore(spark, str(tmp_path / f"s{cut}"))
        assert apply_batch(split, _anom_events(spark, rows[:cut]), 0, anomaly_fold)
        assert apply_batch(split, _anom_events(spark, rows[cut:]), 1, anomaly_fold)
        assert _flags(split) == want, f"cut at {cut}"
        # at-least-once retry: ledger makes the replay a no-op
        before = _flags(split)
        replay = _anom_events(spark, rows[cut:])
        assert apply_batch(split, replay, 1, anomaly_fold) is False
        assert _flags(split) == before


def test_anomaly_maintenance_restart_from_checkpoint(spark, tmp_path):
    """Checkpoint-resume for the ORDER-SENSITIVE maintainer: stop after
    batch 1, restart on the same checkpoint (no replay — ledger and flag
    set pinned unchanged), append batch 2, and require the final flag
    set to equal the one-shot application over both batches. The tail
    handed across the restart is what makes this stricter than the
    sketch version: a lost or doubled tail changes flags, not just
    counts."""
    from kafka2delta_spark.streaming.incremental import (
        anomaly_fold,
        apply_batch,
        maintain,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    store = ParquetStateStore(spark, str(tmp_path / "state"))

    rows = [(1, m, 10.0 + (m % 3) * 0.5) for m in range(20)]
    rows[13] = (1, 13, 500.0)
    rows += [(2, m, float((m * 7) % 23)) for m in range(20)]
    rows.sort(key=lambda r: (r[1], r[0]))
    rows = [(i, u, m, v) for i, (u, m, v) in enumerate(rows)]
    rows1, rows2 = rows[:17], rows[17:]

    def feed(rs):
        _anom_events(spark, rs).coalesce(1).write.mode("append").parquet(src)

    def start():
        stream = spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        ).parquet(src)
        return maintain(stream, store, anomaly_fold, checkpoint=ckpt)

    feed(rows1)
    q = start()
    q.awaitTermination()
    after_b1 = _flags(store)
    meta_b1 = store.metadata()

    # restart with no new input: committed offsets, nothing fires
    q = start()
    q.awaitTermination()
    assert _flags(store) == after_b1
    assert store.metadata() == meta_b1

    # restart + batch 2: only the delta applies, tail carried across
    feed(rows2)
    q = start()
    q.awaitTermination()

    whole = ParquetStateStore(spark, str(tmp_path / "whole"))
    apply_batch(whole, _anom_events(spark, rows), 0, anomaly_fold)
    assert _flags(store) == _flags(whole)
    assert any(r[1] == next(i for i, u, m, v in rows if v == 500.0)
               for r in _flags(store))


# ---------------------------------------------------------------------------
# qy10: streaming-maintained inter-arrival histogram (round 7)
# ---------------------------------------------------------------------------


def _gap_events(spark, rows):
    """rows: (user_id, event_type, second_offset, event_id)."""
    return spark.createDataFrame(
        [
            (u, e, dt.datetime(2024, 1, 1, 0, 0, 0)
             + dt.timedelta(seconds=s), eid)
            for (u, e, s, eid) in rows
        ],
        "user_id long, event_type string, ts timestamp, event_id long",
    )


def _cells(store):
    return sorted(
        tuple(r)
        for r in store.read()
        .filter("kind = 'cell'")
        .select("event_type", "bucket", "n", "min_gap_s", "max_gap_s")
        .collect()
    )


def test_interarrival_boundary_gap_crosses_batches(spark, tmp_path):
    """A (user, type) pair split across batches must produce the SAME
    cells as one batch holding everything — the 1-row tail handoff."""
    from kafka2delta_spark.streaming.incremental import (
        apply_batch,
        interarrival_fold,
    )

    rows = [
        (1, "click", 0, 10),
        (1, "click", 3, 11),     # gap 3  -> bucket 2
        (1, "click", 300, 12),   # gap 297 -> bucket 9 (256..512)
        (2, "view", 5, 20),      # first ever: no gap
        (2, "view", 5, 21),      # gap 0 (tie, ordered by event_id) -> bucket 0
    ]
    staged = ParquetStateStore(spark, str(tmp_path / "staged"))
    apply_batch(staged, _gap_events(spark, rows[:2]), 0, interarrival_fold)
    apply_batch(staged, _gap_events(spark, rows[2:]), 1, interarrival_fold)
    single = ParquetStateStore(spark, str(tmp_path / "single"))
    apply_batch(single, _gap_events(spark, rows), 0, interarrival_fold)
    assert _cells(staged) == _cells(single)
    # and the boundary gap really landed: 297 s -> bucket 9
    assert any(c[1] == 9 and c[2] == 1 for c in _cells(staged))


def test_interarrival_replayed_batch_is_noop(spark, tmp_path):
    from kafka2delta_spark.streaming.incremental import (
        apply_batch,
        interarrival_fold,
    )

    store = ParquetStateStore(spark, str(tmp_path / "gap"))
    b0 = _gap_events(spark, [(1, "click", 0, 1), (1, "click", 2, 2)])
    assert apply_batch(store, b0, 0, interarrival_fold) is True
    before = _cells(store)
    # additive cell counts make the ledger load-bearing: replay must skip
    assert apply_batch(store, b0, 0, interarrival_fold) is False
    assert _cells(store) == before


def test_interarrival_last_seen_rolls_forward(spark, tmp_path):
    from kafka2delta_spark.streaming.incremental import (
        apply_batch,
        interarrival_fold,
    )

    store = ParquetStateStore(spark, str(tmp_path / "gap2"))
    apply_batch(
        store, _gap_events(spark, [(1, "click", 0, 1)]), 0, interarrival_fold
    )
    apply_batch(
        store, _gap_events(spark, [(1, "click", 7, 2)]), 1, interarrival_fold
    )
    last = (
        store.read()
        .filter("kind = 'last'")
        .select("user_id", "event_type", "last_us")
        .collect()
    )
    assert len(last) == 1
    assert last[0]["last_us"] == int(
        dt.datetime(2024, 1, 1, 0, 0, 7).timestamp() * 1_000_000
    )
    # the 7 s boundary gap landed in bucket 3 ([4, 8))
    assert any(c[1] == 3 for c in _cells(store))
