"""The ``cdc`` workload: a backfill drain, then steady replication with reads.

One streaming query, started through the program's entry point
``stream_to_delta``, replicates three topics from a parquet file source
standing in for Kafka. A batch becomes available when its file is renamed
into the source directory and is committed when the query's commit log
gains an entry; per-trigger numbers come from the public
``StreamingQueryProgress``.

* Backfill phase (decode-bound): 10k-event files over two topics, users
  and orders, each into an unpartitioned table (full-rewrite merge), keys
  as many as one file's events. The source always holds one file beyond
  the running batch, so the query drains a backlog. One file is one input
  partition, so Avro decode runs as one task per topic, and two topics
  make the per-topic fan-out pool run.
* Replication phase (store-bound): 2k-event files for the customers topic
  into a table preloaded through ``ParquetStateStore.overwrite`` and
  partitioned over 36 months; a few percent of each file updates old rows
  scattered over most partitions. Closed loop with one client: land one
  file, wait for its commit, run the read set (point lookup, count per
  partition, time-travel read of the previous version), repeat.

Correctness, outside every timed window: the final state of each table
equals the analytic oracle (last op per key by LSN wins; a key whose last
op is a delete is absent), compared as row count plus an order-insensitive
hash of (key, LSN); every point lookup returns the LSN the oracle expects
at that moment.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import inputs
from common import Run, median
from inputs import KEY_COL, LSN_COL

BULK_EVENTS = 10_000
TRICKLE_EVENTS = 2_000
PRELOAD_ROWS = 60_000
PARTITION_EXPRS = ["YEAR(created_at) AS year", "MONTH(created_at) AS month"]
# The JVM keeps speeding up over the first batches (JIT, codegen caches), so
# each phase is warmed in set-up before timing: BULK_WARMUP backfill files
# and TRICKLE_WARMUP replication files are committed and READ_WARMUP read
# sets run.
BULK_WARMUP = 3
TRICKLE_WARMUP = 1
READ_WARMUP = 2
# Timed batches per phase, whatever the host speed: every end-to-end figure
# is a median over at least this many samples.
MIN_BULK_TIMED = 8
MIN_TRICKLE_TIMED = 5
BULK_SHARE = 0.4  # share of ``seconds`` given to the backfill phase
# Staged files beyond the minimum: one per BULK_FILE_S / TRICKLE_FILE_S of
# the phase, enough for a host about 1.5x as fast as a 4-core x86 VM
# (backfill ~1.4 s, replication ~3 s a batch with its reads).
BULK_FILE_S = 1.0
TRICKLE_FILE_S = 3.0
REPLAY_FILES = 2  # files per phase replayed after the first, by the traced pass
COMMIT_TIMEOUT_S = 90.0
USERS, ORDERS, CUSTOMERS = range(3)


class CountingRegistry:
    """The in-memory registry the program is given, counting lookups."""

    def __init__(self) -> None:
        from kafka2delta_spark import InMemorySchemaRegistry

        self._reg = InMemorySchemaRegistry()
        self.lookups = 0
        ids = [self._reg.register(s) for s in inputs.SCHEMAS]
        if ids != [1, 2, 3, 4]:
            raise RuntimeError(f"unexpected schema ids {ids}")

    def get_json_schema(self, schema_id: int) -> str:
        self.lookups += 1
        return self._reg.get_json_schema(schema_id)


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------

def state_digest(keys: np.ndarray, lsns: np.ndarray) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a set of (key, LSN) pairs."""
    x = keys.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15) ^ lsns.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
        return len(keys), int(np.sum(x, dtype=np.uint64))


def _applied(ev: dict, topic: int, files: set[int]) -> np.ndarray:
    return (ev["topic"] == topic) & np.isin(ev["file"], list(files))


def oracle_state(ev: dict, topic: int, files: set[int],
                 preload_rows: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Keys alive after applying ``files`` on top of the preload, with LSNs."""
    m = _applied(ev, topic, files)
    key = np.concatenate([np.arange(preload_rows, dtype=np.int64), ev["key"][m]])
    lsn = np.concatenate([np.arange(1, preload_rows + 1, dtype=np.int64), ev["lsn"][m]])
    dele = np.concatenate([np.zeros(preload_rows, bool), ev["is_del"][m]])
    order = np.lexsort((lsn, key))
    key, lsn, dele = key[order], lsn[order], dele[order]
    alive = np.r_[key[1:] != key[:-1], True] & ~dele
    return key[alive], lsn[alive]


def oracle_lookup(ev: dict, topic: int, key: int, files: set[int],
                  preload_rows: int) -> int | None:
    m = _applied(ev, topic, files) & (ev["key"] == key)
    if not m.any():
        return key + 1 if key < preload_rows else None
    i = int(np.argmax(np.where(m, ev["lsn"], -1)))
    return None if ev["is_del"][i] else int(ev["lsn"][i])


# ---------------------------------------------------------------------------
# Stream plumbing
# ---------------------------------------------------------------------------

class Feed:
    """Lands staged change files into the source directory of a running
    query and waits for their commits."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.src = run.path("cdc", "src")
        self.ckpt = run.path("cdc", "ckpt")
        self.commits = os.path.join(self.ckpt, "commits")
        os.makedirs(self.src)
        self.landed: list[int] = []  # file ids, in landing order
        self.query = None

    def land(self, path: str, file_id: int) -> float:
        """Make one file available; returns the time it became so."""
        n = len(self.landed)
        tmp = self.run.path("cdc", f".landing-{n}")
        try:
            os.link(path, tmp)
        except OSError:
            shutil.copyfile(path, tmp)
        # the file source orders new files by modification time
        os.utime(tmp, (1_600_000_000 + n, 1_600_000_000 + n))
        os.replace(tmp, os.path.join(self.src, f"{n:05d}.parquet"))
        self.landed.append(file_id)
        return time.monotonic()

    def committed(self) -> int:
        try:
            return sum(1 for f in os.listdir(self.commits) if f.isdigit())
        except FileNotFoundError:
            return 0

    def wait_committed(self, n: int) -> float:
        deadline = time.monotonic() + COMMIT_TIMEOUT_S
        while self.committed() < n:
            if not self.query.isActive:
                raise RuntimeError(f"stream stopped: {self.query.exception()}")
            if time.monotonic() > deadline:
                raise RuntimeError(f"batch {n - 1} not committed in {COMMIT_TIMEOUT_S} s")
            time.sleep(0.005)
        return time.monotonic()

    def start(self, registry, configs: dict) -> None:
        from kafka2delta_spark import stream_to_delta

        spark = self.run.spark
        source = (
            spark.readStream.schema(inputs.KAFKA_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = stream_to_delta(
            spark, "perfbench_cdc", "unused:9092", list(configs), configs,
            self.ckpt, registry, source_df=source, store_backend="parquet",
        )

    def stop(self) -> dict[int, dict]:
        """Stop the query; per-batch progress of the batches with input."""
        progress = {p.batchId: {"rows": p.numInputRows, "dur": dict(p.durationMs)}
                    for p in self.query.recentProgress if p.numInputRows > 0}
        self.query.stop()
        return progress


def rows_per_s(progress: list[dict]) -> float:
    """Change events per second of the median batch: the median over
    batches of input rows ÷ ``triggerExecution``."""
    return median(1000.0 * p["rows"] / p["dur"]["triggerExecution"] for p in progress)


def streaming_layer(run: Run, progress: list[dict], jobs_per_batch: float) -> None:
    """Per-trigger medians from StreamingQueryProgress."""
    def med(k: str) -> float:
        return median(p["dur"].get(k, 0) for p in progress)

    run.layer.update({
        "streaming.stream.jobs_per_batch": jobs_per_batch,
        "streaming.stream.trigger_overhead_ms": median(
            p["dur"]["triggerExecution"] - p["dur"].get("addBatch", 0) for p in progress),
        "streaming.stream.walCommit_ms": med("walCommit"),
        "streaming.stream.commitOffsets_ms": med("commitOffsets"),
        "streaming.stream.queryPlanning_ms": med("queryPlanning"),
        "streaming.stream.latestOffset_ms": med("latestOffset"),
    })


# ---------------------------------------------------------------------------
# Reads on the replicated table
# ---------------------------------------------------------------------------

def read_set(store, key: int) -> dict:
    """Point lookup by primary key, count per partition, and a time-travel
    count of the previous version. Returns per-read seconds and the LSNs
    the lookup found."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    rows = store.read().filter(F.col("id") == key).select(LSN_COL).collect()
    t1 = time.perf_counter()
    store.read().groupBy("year", "month").count().collect()
    t2 = time.perf_counter()
    store.read(version=store.history()[-2]).count()
    t3 = time.perf_counter()
    return {"point": t1 - t0, "count": t2 - t1, "timetravel": t3 - t2,
            "total": t3 - t0, "lsns": [r[0] for r in rows]}


def check_state(run: Run, spark, path: str, topic: int, ev: dict, files: set[int],
                preload_rows: int, fault: bool) -> bool:
    from kafka2delta_spark import ParquetStateStore

    name = inputs.TOPICS[topic]
    pdf = ParquetStateStore(spark, path).read().select(KEY_COL[name], LSN_COL).toPandas()
    got = state_digest(pdf[KEY_COL[name]].to_numpy(), pdf[LSN_COL].to_numpy())
    keys, lsns = oracle_state(ev, topic, files, preload_rows)
    if fault:  # a wrong expected state, to show the check catches it
        keys, lsns = keys[1:], lsns[1:]
    want = state_digest(keys, lsns)
    return run.check(got == want, f"{name} state {got} != oracle {want}")


# ---------------------------------------------------------------------------
# Traced replay: each layer's public function, materialized in turn
# ---------------------------------------------------------------------------

def replay(run: Run, registry: CountingRegistry, files: list[str], configs: dict,
           stores: dict) -> list[dict]:
    """Replay ``files`` through the layers of ``apply_cdc_micro_batch``, one
    call at a time, into ``stores``. Each output is cached and counted
    before the next call, so each span is that layer's own work."""
    from pyspark.sql import functions as F

    from kafka2delta_spark.cdc.avro_codec import decode_avro
    from kafka2delta_spark.cdc.debezium import cast_debezium_columns
    from kafka2delta_spark.cdc.dedup import latest_per_key
    from kafka2delta_spark.cdc.merge import merge_cdc_batch
    from kafka2delta_spark.cdc.registry import column_names_from_schema_str
    from kafka2delta_spark.cdc.wire import parse_confluent_envelope
    from kafka2delta_spark.config import DELETED_COL

    spark = run.spark
    per_file = []
    for path in files:
        first_span = len(run.spans)
        lookups0 = registry.lookups
        raw = spark.read.schema(inputs.KAFKA_SCHEMA).parquet(path)
        with run.span("cdc.wire"):
            parsed = parse_confluent_envelope(raw).cache()
            parsed.count()
        with run.span("streaming.stream.discover"):
            topics = sorted(r[0] for r in parsed.select("topic").distinct().collect())
            pairs = {
                t: [(r[0], r[1]) for r in parsed.filter(F.col("topic") == t)
                    .select("key_schema_id", "value_schema_id").distinct()
                    .sort("value_schema_id", "key_schema_id").collect()]
                for t in topics
            }
        for topic in topics:
            cfg, store = configs[topic], stores[topic]
            for key_sid, value_sid in pairs[topic]:
                value_schema = registry.get_json_schema(value_sid)
                pk = column_names_from_schema_str(registry.get_json_schema(key_sid))
                subset = parsed.filter(
                    (F.col("topic") == topic) & (F.col("key_schema_id") == key_sid)
                    & (F.col("value_schema_id") == value_sid))
                with run.span("cdc.avro_codec") as s:
                    py_ms = run.worker_cpu_ms()
                    decoded = decode_avro(subset.select("value_avro"), "value_avro",
                                          value_schema, mode="FAILFAST").cache()
                    s.counts["rows"] = decoded.count()
                    s.counts["python_cpu_ms"] = run.worker_cpu_ms() - py_ms
                with run.span("cdc.debezium"):
                    typed = decoded.select(*cast_debezium_columns(value_schema)).cache()
                    typed.count()
                with run.span("cdc.dedup") as s:
                    latest = latest_per_key(typed, pk, LSN_COL, tie_break_hash=True)
                    if cfg.additional_cols:
                        latest = latest.select(
                            *latest.columns, *[F.expr(e) for e in cfg.additional_cols])
                    latest = latest.cache()
                    s.counts["rows_out"] = latest.count()
                with run.span("state.store.merge") as s:
                    if not store.merge(latest, pk, LSN_COL, DELETED_COL):
                        store.overwrite(merge_cdc_batch(
                            store.read(), latest, pk, LSN_COL, DELETED_COL))
                s.counts.update(store_write_counts(store))
                for df in (latest, typed, decoded):
                    df.unpersist()
        parsed.unpersist()
        per_file.append({"spans": run.spans[first_span:],
                         "lookups": registry.lookups - lookups0})
    return per_file


def store_write_counts(store) -> dict:
    """What the last commit wrote: new files and bytes (files carried over
    by hardlink from the previous version have a link count above one),
    partitions holding new files, partitions in total, rows in total."""
    cur = os.path.join(store.path, f"v{store.history()[-1]:08d}")
    files = nbytes = 0
    touched, total = set(), set()
    for root, _dirs, names in os.walk(cur):
        data = [n for n in names if n.endswith(".parquet")]
        if not data:
            continue
        total.add(root)
        for n in data:
            st = os.stat(os.path.join(root, n))
            if st.st_nlink == 1:
                files += 1
                nbytes += st.st_size
                touched.add(root)
    return {"files_written": files, "bytes_written": nbytes,
            "partitions_touched": len(touched), "partitions_total": len(total),
            "rows": store.read().count()}


def replay_layer(run: Run, bulk: list[dict], trickle: list[dict]) -> float:
    """Per-file means over the replayed files after the first of each
    phase: decode-path layers from the backfill files, store counters and
    discovery from the replication files. Returns Σ span ms per file,
    backfill plus replication."""
    jobs = run.stage_metrics()
    acc: dict[str, float] = {}

    def mean_into(files: list[dict], wanted) -> float:
        files = files[1:]
        total = 0.0
        for f in files:
            for s in f["spans"]:
                total += s.ms / len(files)
                for k, v in wanted(s, run.span_totals(jobs, s)):
                    acc[k] = acc.get(k, 0.0) + v / len(files)
        return total

    def decode_path(s, tot):
        if s.name in ("cdc.wire", "cdc.debezium"):
            yield f"{s.name}.ms", s.ms
        elif s.name == "cdc.avro_codec":
            yield from (("cdc.avro_codec.ms", s.ms), ("cdc.avro_codec.rows", s.counts["rows"]),
                        ("cdc.avro_codec.tasks", tot["tasks"]),
                        ("cdc.avro_codec.cpu_ms", tot["cpu_ms"] + s.counts["python_cpu_ms"]))
        elif s.name == "cdc.dedup":
            yield from (("cdc.dedup.ms", s.ms), ("cdc.dedup.rows_out", s.counts["rows_out"]),
                        ("cdc.dedup.shuffle_bytes", tot["shuffle_bytes"]))

    def store_path(s, tot):
        if s.name == "streaming.stream.discover":
            yield "streaming.stream.discover_ms", s.ms
        elif s.name == "state.store.merge":
            yield "state.store.merge_ms", s.ms
            yield from ((f"state.store.{k}", v) for k, v in s.counts.items())

    span_ms = mean_into(bulk, decode_path) + mean_into(trickle, store_path)
    acc["cdc.registry.lookups"] = median(f["lookups"] for f in bulk[1:])
    run.layer.update(acc)
    return span_ms


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------

def _preload(spark):
    """Customers state before replication: keys 0..N-1 with LSN key + 1, in
    the exact schema the pipeline writes (decoded users-shaped row minus the
    delete flag, plus the derived partition columns), each key in the month
    ``inputs.user_created_at`` gives it."""
    from pyspark.sql import functions as F

    m = F.col("id") % 36
    created = F.make_date(
        (F.lit(2022) + F.floor(m / 12)).cast("int"), (m % 12 + 1).cast("int"),
        (F.floor(F.col("id") / 36) % 28 + 1).cast("int"))
    lsn = F.col("id") + 1
    return (
        spark.range(PRELOAD_ROWS)
        .select(
            F.col("id").cast("int").alias("id"),
            F.concat(F.lit("user_"), F.col("id"), F.lit("_v"), lsn).alias("name"),
            F.concat(F.lit("user"), F.col("id"), F.lit("@example.test")).alias("email"),
            created.alias("created_at"),
            (F.lit(inputs.TS0_US // 1000) + lsn).alias("__timestamp"),
            lsn.cast("long").alias(LSN_COL),
        )
        .select("*", *[F.expr(e) for e in PARTITION_EXPRS])
        .repartition("year", "month")  # one file per partition, as if compacted
    )


def _configs(root: str) -> dict:
    from kafka2delta_spark import TableConfig

    return {
        inputs.USERS_TOPIC: TableConfig("cdc", "users", os.path.join(root, "users")),
        inputs.ORDERS_TOPIC: TableConfig("cdc", "orders", os.path.join(root, "orders")),
        inputs.CUSTOMERS_TOPIC: TableConfig(
            "cdc", "customers", os.path.join(root, "customers"),
            additional_cols=PARTITION_EXPRS, partition_cols=["year", "month"]),
    }


def cdc(run: Run, fault: str) -> dict:
    """Set-up: preload customers, start the query, commit BULK_WARMUP
    backfill files and TRICKLE_WARMUP replication files and run
    READ_WARMUP read sets, to warm every path. Then the backfill phase runs
    for BULK_SHARE of ``seconds`` and the replication phase for the rest,
    each for at least its minimum number of timed batches. Reports the
    median backfill batch's rows/s, replication freshness p50 and read set
    p50."""
    from kafka2delta_spark import ParquetStateStore

    bulk_s = run.seconds * BULK_SHARE
    trickle_s = run.seconds - bulk_s
    n_bulk = BULK_WARMUP + MIN_BULK_TIMED + int(bulk_s / BULK_FILE_S)
    n_trickle = TRICKLE_WARMUP + MIN_TRICKLE_TIMED + int(trickle_s / TRICKLE_FILE_S)
    with run.excluded():
        path = inputs.cdc_inputs(run.seed, n_bulk, BULK_EVENTS, n_trickle,
                                 TRICKLE_EVENTS, PRELOAD_ROWS, run.cores)
        bulk_files = inputs.batch_files(path, "bulk")
        trickle_files = inputs.batch_files(path, "trickle")
        ev = inputs.load_events(path)
    registry = CountingRegistry()
    spark = run.session()
    run.log("session built")
    configs = _configs(run.path("state"))
    customers = ParquetStateStore(spark, configs[inputs.CUSTOMERS_TOPIC].path,
                                  ["year", "month"])
    if not run.backfill_only:
        customers.overwrite(_preload(spark))
        run.log("customers preloaded")

    feed = Feed(run)
    feed.start(registry, configs)
    for i in range(BULK_WARMUP):
        feed.land(bulk_files[i], i)
        feed.wait_committed(len(feed.landed))
    if not run.backfill_only:
        for i in range(TRICKLE_WARMUP):
            feed.land(trickle_files[i], n_bulk + i)
            feed.wait_committed(len(feed.landed))
    reads, latencies, trickle_jobs = [], [], 0

    def read_after_commit() -> None:
        key = int(ev["key"][ev["file"] == feed.landed[-1]][0])
        res = read_set(customers, key)
        reads.append(res)
        with run.excluded():
            run.attempted += 1
            want = oracle_lookup(ev, CUSTOMERS, key, set(feed.landed), PRELOAD_ROWS)
            want = [] if want is None else [want]
            if not run.check(res["lsns"] == want, f"lookup {key}: {res['lsns']} != {want}"):
                run.failed += 1

    if not run.backfill_only:
        for _ in range(READ_WARMUP):
            read_after_commit()
        reads.clear()
    run.setup_done()

    # backfill phase: keep one file queued beyond the running batch; the
    # single-thread baseline runs just the minimum number of batches
    t0 = time.monotonic()
    bulk_first = feed.committed()
    nxt = BULK_WARMUP
    while True:
        done = feed.committed()
        timed = nxt - BULK_WARMUP
        want_more = timed < MIN_BULK_TIMED or (
            not run.backfill_only and time.monotonic() - t0 < bulk_s)
        if want_more and nxt < n_bulk and len(feed.landed) - done < 2:
            feed.land(bulk_files[nxt], nxt)
            nxt += 1
            continue
        if done >= len(feed.landed):
            break
        feed.wait_committed(done + 1)
    bulk_batches = range(bulk_first, feed.committed())
    trigger_ms = {p.batchId: p.durationMs["triggerExecution"]
                  for p in feed.query.recentProgress if p.numInputRows > 0}
    run.log(f"backfill phase done: {len(bulk_batches)} batches; trigger ms "
            + " ".join(str(trigger_ms.get(b)) for b in range(feed.committed())))
    if run.backfill_only:
        progress = feed.stop()
        return {"ops_per_s": (rows_per_s([progress[b] for b in bulk_batches]), "1/s")}

    # replication phase: closed loop, one file at a time, reads after each
    t0 = time.monotonic()
    trickle_first = feed.committed()
    i = TRICKLE_WARMUP
    while i < n_trickle and (i - TRICKLE_WARMUP < MIN_TRICKLE_TIMED
                             or time.monotonic() - t0 < trickle_s):
        j0 = run.next_job()
        t_avail = feed.land(trickle_files[i], n_bulk + i)
        latencies.append(feed.wait_committed(len(feed.landed)) - t_avail)
        trickle_jobs += run.next_job() - j0
        read_after_commit()
        i += 1
    trickle_batches = range(trickle_first, feed.committed())
    run.log(f"replication phase done: {len(trickle_batches)} batches, latencies "
            + " ".join(f"{x:.2f}" for x in latencies) + ", read sets "
            + " ".join(f"{r['total']:.2f}" for r in reads))
    progress = feed.stop()
    run.attempted += len(feed.landed)

    with run.excluded():
        landed = set(feed.landed)
        ok = [check_state(run, spark, configs[inputs.TOPICS[t]].path, t, ev, landed,
                          PRELOAD_ROWS if t == CUSTOMERS else 0, fault == "state")
              for t in (USERS, ORDERS, CUSTOMERS)]
        if not all(ok):
            run.failed += len(feed.landed)

    bulk_p = [progress[b] for b in bulk_batches]
    trickle_p = [progress[b] for b in trickle_batches]
    streaming_layer(run, trickle_p, trickle_jobs / len(latencies))
    for kind in ("point", "count", "timetravel"):
        run.layer[f"state.store.read_{kind}_ms"] = 1000.0 * median(r[kind] for r in reads)
    if run.trace:
        rcfg = _configs(run.path("replay"))
        stores = {t: ParquetStateStore(spark, c.path, c.partition_cols)
                  for t, c in rcfg.items()}
        stores[inputs.CUSTOMERS_TOPIC].overwrite(_preload(spark))
        bulk = replay(run, registry, bulk_files[:1 + REPLAY_FILES], rcfg, stores)
        trickle = replay(run, registry, trickle_files[:1 + REPLAY_FILES], rcfg, stores)
        span_ms = replay_layer(run, bulk, trickle)
        untraced_ms = median(p["dur"]["triggerExecution"] for p in bulk_p) + \
            median(p["dur"]["triggerExecution"] for p in trickle_p)
        run.layer["trace.overhead_ratio"] = span_ms / untraced_ms
    return {
        "ops_per_s": (rows_per_s(bulk_p), "1/s"),
        "latency_p50_s": (median(latencies), "s"),
        "read_p50_s": (median(r["total"] for r in reads), "s"),
    }
