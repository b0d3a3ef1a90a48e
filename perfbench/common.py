"""Run context, Spark session lifetime and layer spans.

A :class:`Run` owns one benchmark run: its private scratch root, its
clock (process start, time excluded from ``setup_s``), the operation
counters behind ``attempted``/``failed``, and, in a traced run, the spans
recorded around calls into each layer's public functions.

Spans carry wall time plus the Spark jobs launched while they were open.
Job ids are allocated sequentially by the scheduler, so the jobs of a span
that runs alone on the driver are exactly the ids handed out between its
start and its end. Their stage metrics (tasks, executor run and CPU time,
shuffle bytes) are read once, after the run, from the application status
store through py4j; the listener bus is drained first because it is
asynchronous.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench_work")

# Fixed pure-Python loop, about 1 s on one core of a 2020s x86 server.
# Reported as the diagnostic ``host.probe_s`` so a reader can tell
# host-speed drift from a program change; no metric is divided by it.
_PROBE_N = 9_000_000


def host_probe_s() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(_PROBE_N):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class Span:
    name: str
    ms: float
    job_lo: int
    job_hi: int
    counts: dict = field(default_factory=dict)


class Run:
    """One benchmark run: isolation, clocks, counters and spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 cores: int, t_process: float, backfill_only: bool = False) -> None:
        self.workload = workload
        self.backfill_only = backfill_only
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.t_process = t_process
        self.excluded_s = 0.0
        self.setup_s: float | None = None
        self.attempted = 0
        self.failed = 0
        self.checks_ok = True
        self.spans: list[Span] = []
        self.layer: dict[str, float] = {}
        self.spark = None
        self.dir = os.path.join(WORK_DIR, f"run-{os.getpid()}-{time.time_ns()}")
        for sub in ("tmp", "spark-local", "ckpt", "warehouse"):
            os.makedirs(os.path.join(self.dir, sub))
        # Per-run scratch: the package's streaming checkpoints, Python and
        # JVM temp files and Spark's shuffle/local dirs all land here, so
        # nothing leaks from one run into the next.
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["K2D_CKPT_DIR"] = self.path("ckpt")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
        import tempfile

        tempfile.tempdir = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- clocks --------------------------------------------------------------
    @contextlib.contextmanager
    def excluded(self):
        """Time spent here (input generation, oracles, checks) is not set-up."""
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.excluded_s += time.monotonic() - t0

    def setup_done(self) -> None:
        """Mark the start of the first timed operation."""
        self.setup_s = time.monotonic() - self.t_process - self.excluded_s
        self.log(f"set-up done: {self.setup_s:.2f} s (excluded {self.excluded_s:.2f} s)")

    def log(self, msg: str) -> None:
        """Phase timeline on stderr (standard output carries the result)."""
        print(f"perfbench {time.monotonic() - self.t_process:7.2f}s {msg}",
              file=sys.stderr, flush=True)

    # -- correctness ----------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.checks_ok = False
            print(f"perfbench: check failed: {what}", file=sys.stderr, flush=True)
        return ok

    # -- session ---------------------------------------------------------------
    def session(self):
        from kafka2delta_spark.session import build_session

        self.spark = build_session(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
                "spark.ui.retainedJobs": "20000",
                "spark.ui.retainedStages": "20000",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.enabled": "false",
            },
        )
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (0 where /proc is absent)."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    def worker_cpu_ms(self) -> float:
        """CPU time used so far by the Python workers the driver JVM forked
        (user + system, reaped children included), read from /proc: the work
        of Python UDFs, which the executor CPU counters leave out."""
        jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        parent, ticks = {}, {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            parent[int(pid)] = int(fields[1])
            ticks[int(pid)] = sum(int(x) for x in fields[11:15])

        def under_jvm(pid: int) -> bool:
            while pid > 1:
                pid = parent.get(pid, 0)
                if pid == jvm:
                    return True
            return False

        total = sum(t for pid, t in ticks.items() if under_jvm(pid))
        return 1000.0 * total / os.sysconf("SC_CLK_TCK")

    def close(self) -> None:
        """Stop Spark, wait for the JVM to exit, count and remove scratch."""
        if self.spark is not None:
            from pyspark import SparkContext

            proc = getattr(SparkContext._gateway, "proc", None)
            self.spark.stop()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None
        left = 0
        for sub in ("ckpt", "tmp"):
            with os.scandir(self.path(sub)) as it:
                left += sum(1 for e in it if e.is_dir() and not e.name.startswith("hsperf"))
        self.layer["streaming.drain.scratch_dirs_left"] = float(left)
        shutil.rmtree(self.dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(WORK_DIR)

    # -- spans -----------------------------------------------------------------
    def next_job(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one call into a layer: wall ms and the jobs it launched."""
        lo = self.next_job()
        t0 = time.perf_counter()
        s = Span(name, 0.0, lo, lo)
        try:
            yield s
        finally:
            s.ms = (time.perf_counter() - t0) * 1000.0
            s.job_hi = self.next_job()
            self.spans.append(s)

    def stage_metrics(self) -> dict[int, dict]:
        """Per-job totals over the status store's stages, keyed by job id."""
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        gw = self.spark.sparkContext._gateway
        lst = gw.jvm.java.util.ArrayList
        stages = jsc.statusStore().stageList(lst(), False, False,
                                             gw.new_array(gw.jvm.double, 0), lst())
        by_stage: dict[int, dict] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            agg = by_stage.setdefault(int(s.stageId()), dict.fromkeys(
                ("tasks", "run_ms", "cpu_ms", "shuffle_bytes"), 0.0))
            agg["tasks"] += s.numCompleteTasks()
            agg["run_ms"] += s.executorRunTime()
            agg["cpu_ms"] += s.executorCpuTime() / 1e6
            agg["shuffle_bytes"] += s.shuffleWriteBytes()
        tracker = self.spark.sparkContext.statusTracker()
        hi = self.next_job()
        out: dict[int, dict] = {}
        for jid in range(hi):
            info = tracker.getJobInfo(jid)
            tot = dict.fromkeys(("tasks", "run_ms", "cpu_ms", "shuffle_bytes"), 0.0)
            for sid in (list(info.stageIds) if info else []):
                for k, v in by_stage.get(int(sid), {}).items():
                    tot[k] += v
            out[jid] = tot
        return out

    def span_totals(self, jobs: dict[int, dict], s: Span) -> dict:
        tot = dict.fromkeys(("tasks", "run_ms", "cpu_ms", "shuffle_bytes"), 0.0)
        for jid in range(s.job_lo, s.job_hi):
            for k, v in jobs.get(jid, {}).items():
                tot[k] += v
        tot["jobs"] = float(s.job_hi - s.job_lo)
        return tot
