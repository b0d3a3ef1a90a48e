"""Seeded benchmark inputs, cached on disk.

Every input is a pure function of (workload, seed, size): the same triple
always yields byte-identical files, so two commits measured with one seed
read the same data. Generation runs before any timed window and outside
``setup_s``; the result is cached under ``.perfbench_cache/`` in the
checkout, keyed by that triple.

Two families of inputs:

* CDC change files. Each micro-batch is one parquet file with the Kafka
  source schema whose ``key``/``value`` are Confluent envelopes around
  Avro payloads, encoded with the package's own
  ``encode_avro_payload``/``make_confluent_envelope``. Beside the files an
  ``events.npz`` keeps, per event, (file, topic, key, lsn, is_delete):
  the analytic oracle (last op per key wins) is computed from it.
* Analytics tables for the query mix: the ten tables the query surface
  reads, with the schemas, value domains and near-duplicate structure of
  the scale-factor fixtures, drawn from the seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import subprocess
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
CACHE_KEEP = 24  # cached input sets kept per checkout (oldest evicted)

KAFKA_SCHEMA = (
    "topic string, partition int, offset long, timestamp timestamp, "
    "timestampType int, key binary, value binary"
)

USERS_TOPIC = "pg.public.users"
ORDERS_TOPIC = "pg.public.orders"
CUSTOMERS_TOPIC = "pg.public.customers"
# Topic codes in events.npz are indexes into this tuple. The customers topic
# carries users-shaped rows (same key and value schemas) into a partitioned,
# preloaded table.
TOPICS = (USERS_TOPIC, ORDERS_TOPIC, CUSTOMERS_TOPIC)

_CONTROL_FIELDS = [
    {"name": "__deleted", "type": ["null", "string"], "default": None},
    {"name": "__timestamp", "type": ["null", "long"], "default": None},
    {"name": "__log_sequence_number", "type": ["null", "long"], "default": None},
]
USERS_VALUE_SCHEMA = json.dumps({
    "type": "record", "name": "users",
    "fields": [
        {"name": "id", "type": "int"},
        {"name": "name", "type": "string"},
        {"name": "email", "type": "string"},
        {"name": "created_at", "type": {"type": "int", "logicalType": "date"}},
        *_CONTROL_FIELDS,
    ],
})
# Debezium time types with ``time.precision.mode: connect``: the casts in
# cdc/debezium.py turn each into a timestamp, so this topic makes them work.
ORDERS_VALUE_SCHEMA = json.dumps({
    "type": "record", "name": "orders",
    "fields": [
        {"name": "order_id", "type": "long"},
        {"name": "customer_id", "type": "int"},
        {"name": "amount", "type": "double"},
        {"name": "status", "type": "string"},
        {"name": "created_at", "type": {
            "type": "long", "connect.name": "io.debezium.time.MicroTimestamp"}},
        {"name": "updated_at", "type": {
            "type": "long", "connect.name": "io.debezium.time.Timestamp"}},
        {"name": "shipped_at", "type": ["null", {
            "type": "string", "connect.name": "io.debezium.time.ZonedTimestamp"}],
         "default": None},
        *_CONTROL_FIELDS,
    ],
})
USERS_KEY_SCHEMA = json.dumps(
    {"type": "record", "name": "users_key", "fields": [{"name": "id", "type": "int"}]})
ORDERS_KEY_SCHEMA = json.dumps(
    {"type": "record", "name": "orders_key",
     "fields": [{"name": "order_id", "type": "long"}]})

# Registration order fixes the schema ids written into the envelopes; the
# workload registers the same list into its registry and checks the ids.
SCHEMAS = (USERS_KEY_SCHEMA, USERS_VALUE_SCHEMA, ORDERS_KEY_SCHEMA, ORDERS_VALUE_SCHEMA)
KEY_COL = {USERS_TOPIC: "id", ORDERS_TOPIC: "order_id", CUSTOMERS_TOPIC: "id"}
LSN_COL = "__log_sequence_number"

TS0_US = 1_700_000_000_000_000
_ORDER_STATUS = ("new", "paid", "packed", "shipped", "returned")


def _schema_ids(topic: int) -> tuple[int, int]:
    return (3, 4) if topic == 1 else (1, 2)


NEW_KEY_BASE = 10_000_000  # keys from here on are users created this month


def user_created_at(key: int) -> dt.date:
    """Immutable per key, so a key's (year, month) partition never moves:
    older keys spread over the 36 months 2022-01 .. 2024-12, new keys land
    in the newest month."""
    month = 35 if key >= NEW_KEY_BASE else key % 36
    return dt.date(2022 + month // 12, month % 12 + 1, 1 + (key // 36) % 28)


def _value_record(topic: int, key: int, lsn: int, deleted: bool) -> dict:
    if topic != 1:
        return {
            "id": key,
            "name": f"user_{key}_v{lsn}",
            "email": f"user{key}@example.test",
            "created_at": user_created_at(key),
            "__deleted": "true" if deleted else "false",
            "__timestamp": TS0_US // 1000 + lsn,
            "__log_sequence_number": lsn,
        }
    shipped = None
    if lsn % 5:
        shipped = (
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(seconds=lsn % 31_536_000, microseconds=lsn % 997)
        ).isoformat().replace("+00:00", "Z")
    return {
        "order_id": key,
        "customer_id": key % 9973,
        "amount": round((lsn % 100_000) / 7.0, 2),
        "status": _ORDER_STATUS[lsn % len(_ORDER_STATUS)],
        "created_at": TS0_US + key * 1_000_003,
        "updated_at": TS0_US // 1000 + lsn,
        "shipped_at": shipped,
        "__deleted": "true" if deleted else "false",
        "__timestamp": TS0_US // 1000 + lsn,
        "__log_sequence_number": lsn,
    }


def _encode_file(args: tuple) -> None:
    """Write one micro-batch file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka2delta_spark.cdc.avro_codec import encode_avro_payload
    from kafka2delta_spark.cdc.wire import make_confluent_envelope

    path, topic, key, lsn, is_del = args
    key_schemas = (USERS_KEY_SCHEMA, ORDERS_KEY_SCHEMA, USERS_KEY_SCHEMA)
    value_schemas = (USERS_VALUE_SCHEMA, ORDERS_VALUE_SCHEMA, USERS_VALUE_SCHEMA)
    key_field = ("id", "order_id", "id")
    key_cache: dict[tuple[int, int], bytes] = {}
    keys, values = [], []
    for t, k, l, d in zip(topic.tolist(), key.tolist(), lsn.tolist(), is_del.tolist()):
        ksid, vsid = _schema_ids(t)
        kb = key_cache.get((t, k))
        if kb is None:
            kb = make_confluent_envelope(
                ksid, encode_avro_payload({key_field[t]: k}, key_schemas[t]))
            key_cache[(t, k)] = kb
        keys.append(kb)
        values.append(make_confluent_envelope(
            vsid, encode_avro_payload(_value_record(t, k, l, d), value_schemas[t])))
    n = len(keys)
    table = pa.table({
        "topic": pa.array([TOPICS[t] for t in topic.tolist()], pa.string()),
        "partition": pa.array(np.zeros(n, np.int32)),
        "offset": pa.array(lsn.astype(np.int64)),
        "timestamp": pa.array(
            (TS0_US + lsn.astype(np.int64) * 1000), pa.timestamp("us", tz="UTC")),
        "timestampType": pa.array(np.zeros(n, np.int32)),
        "key": pa.array(keys, pa.binary()),
        "value": pa.array(values, pa.binary()),
    })
    pq.write_table(table, path)


def _encode_files(out: str, names: list[str], procs: int) -> None:
    """Encode the change files ``names`` (file index = list position) from
    ``out/events.npz``: Avro encoding is pure Python, so ``procs`` worker
    processes (this module run as a script) each write every ``procs``-th
    file. Each worker is waited for, and killed first if another failed."""
    procs = max(1, min(procs, len(names)))
    workers = [subprocess.Popen([sys.executable, os.path.abspath(__file__), out,
                                 str(i), str(procs), *names]) for i in range(procs)]
    try:
        for w in workers:
            if w.wait() != 0:
                raise RuntimeError(f"input encoder exited with {w.returncode}")
    finally:
        for w in workers:
            if w.poll() is None:
                w.kill()
            w.wait()


def _encode_worker(out: str, index: int, procs: int, names: list[str]) -> None:
    with np.load(os.path.join(out, "events.npz")) as z:
        ev = {k: z[k] for k in z.files}
    for f in range(index, len(names), procs):
        sel = ev["file_id"] == f
        _encode_file((os.path.join(out, names[f]), ev["topic"][sel], ev["key"][sel],
                      ev["lsn"][sel], ev["is_del"][sel]))


def _cached(name: str, build) -> str:
    """Return the cache dir ``name``, building it atomically if absent."""
    final = os.path.join(CACHE_DIR, name)
    if os.path.isdir(final):
        os.utime(final)
        return final
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, final)
    entries = sorted(
        (e for e in os.scandir(CACHE_DIR) if e.is_dir() and ".tmp" not in e.name),
        key=lambda e: e.stat().st_mtime,
    )
    for e in entries[:-CACHE_KEEP]:
        shutil.rmtree(e.path, ignore_errors=True)
    return final


def cdc_inputs(seed: int, bulk_files: int, bulk_events: int, trickle_files: int,
               trickle_events: int, preload_rows: int, procs: int) -> str:
    """Change files of both CDC phases, in one cache entry.

    ``bulk_*.parquet`` (backfill): ``bulk_events`` events each, alternating
    users and orders, keys drawn uniformly from a key space per topic half
    as large as one file (so every file mixes inserts and updates), 2%
    deletes.

    ``trickle_*.parquet`` (steady replication into customers, whose keys
    0..preload_rows-1 are preloaded with LSN = key + 1): per file, 3%
    scattered ops on old keys (five in six updates, one in six deletes),
    60% inserts of new keys (created this month, so they share the newest
    partition), and the rest updates of keys inserted in the last files.

    LSNs ascend across all files. ``events.npz`` holds per event: topic
    code, key, LSN, delete flag and file index (bulk files first, then
    trickle files)."""

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 101])
        n = bulk_files * bulk_events
        b_topic = (np.arange(n) % 2).astype(np.int8)
        b_key = rng.integers(0, bulk_events // 2, n).astype(np.int64)
        b_del = rng.random(n) < 0.02
        b_file = (np.arange(n) // bulk_events).astype(np.int32)

        next_key = NEW_KEY_BASE
        recent: list[int] = []
        keys, dels = [], []
        n_old = max(1, int(round(trickle_events * 0.03)))
        n_new = int(trickle_events * 0.60)
        for _ in range(trickle_files):
            old = rng.integers(0, preload_rows, n_old)
            old_del = rng.random(n_old) < 1 / 6
            new = np.arange(next_key, next_key + n_new)
            next_key += n_new
            pool = np.array(recent[-5 * n_new:] or new.tolist())
            upd = rng.choice(pool, trickle_events - n_old - n_new)
            order = rng.permutation(trickle_events)
            keys.append(np.concatenate([old, new, upd])[order])
            dels.append(np.concatenate([old_del, np.zeros(len(new) + len(upd), bool)])[order])
            recent.extend(new.tolist())
        m = trickle_files * trickle_events
        topic = np.concatenate([b_topic, np.full(m, 2, np.int8)])
        key = np.concatenate([b_key] + keys).astype(np.int64)
        is_del = np.concatenate([b_del] + dels)
        file = np.concatenate([b_file, bulk_files + np.arange(m) // trickle_events]).astype(np.int32)
        lsn = max(n, preload_rows) + np.arange(1, n + m + 1, dtype=np.int64)
        np.savez(os.path.join(out, "events.npz"),
                 topic=topic, key=key, lsn=lsn, is_del=is_del, file_id=file)
        names = [f"bulk_{i:05d}.parquet" for i in range(bulk_files)] + \
                [f"trickle_{i:05d}.parquet" for i in range(trickle_files)]
        _encode_files(out, names, procs)

    return _cached(
        f"cdc-s{seed}-b{bulk_files}x{bulk_events}-t{trickle_files}x{trickle_events}"
        f"-p{preload_rows}", build)


def load_events(path: str) -> dict[str, np.ndarray]:
    with np.load(os.path.join(path, "events.npz")) as z:
        ev = {k: z[k] for k in z.files}
    ev["file"] = ev.pop("file_id")
    return ev


def batch_files(path: str, kind: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.startswith(kind + "_"))


# ---------------------------------------------------------------------------
# Analytics tables
# ---------------------------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _choice(rng, values, n: int, p=None) -> list[str]:
    idx = rng.choice(len(values), n, p=p)
    return [values[i] for i in idx]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _build_tables(out: str, seed: int, sf: float) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 303])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       row_group_size=1 << 24)

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(
            rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust),
    })
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
    noun = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
    pk = np.arange(n_part, dtype=np.int64)
    write("part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_choice(rng, adj, n_part),
                                               _choice(rng, noun, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _choice(
            rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(
            _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": _choice(
            rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord),
    })
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _choice(rng, ("F", "O"), n_li),
        "l_shipdate": pa.array(
            _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), pa.timestamp("us")),
    })
    gap = 30 * 86_400_000_000 // n_ev
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(
        rng.integers(1, 2 * gap, n_ev)).astype("timedelta64[us]")
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": _choice(rng, ("click", "error", "purchase", "signup", "view"), n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # 5% of documents are an earlier document plus a trailing " dup" token:
    # the near-duplicate clusters the dedup operators exist to find
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(_choice(rng, _WORDS, int(k))) for k in lengths]
    dup_ids = rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False)
    dup_set = set(dup_ids.tolist())
    originals = [i for i in range(n_doc) if i not in dup_set]
    for d, src in zip(dup_ids.tolist(), rng.choice(originals, len(dup_ids)).tolist()):
        texts[d] = texts[src] + " dup"
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })


def analytics_tables(seed: int, sf: float) -> str:
    return _cached(f"query_mix-s{seed}-sf{sf}", lambda out: _build_tables(out, seed, sf))


if __name__ == "__main__":
    _encode_worker(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4:])
