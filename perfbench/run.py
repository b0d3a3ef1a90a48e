"""Benchmark of the CDC replicator and the analytics surface.

Usage (from the repository root):

    python3 perfbench/run.py --workload {cdc,query_mix} \
        --seed N --seconds S --trace {0,1}

Inputs are generated from ``--seed`` (and cached on disk), the workload
is measured for about ``--seconds``, its outputs are checked against an
oracle, and the last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the ``end_to_end`` ones of BENCHMARK.json; with ``--trace 1``
they are the ``per_layer`` ones, measured by a traced pass that follows
the untraced one in the same run. A layer a workload never calls reports
0. See perfbench/README.md for the workloads and the layer-to-metric map.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc", "query_mix")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so
    the Spark JVM's Python workers and anything else the run forks are
    waited for by :func:`_stop_descendants` rather than left to init."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(pid))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _stop_descendants(grace_s: float = 10.0) -> None:
    """Wait for every process this run started (orphans included, see
    :func:`_adopt_orphans`) to end: a grace period, then SIGTERM, then
    SIGKILL."""
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        while True:  # reap whatever has already exited
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        kids = _children()
        if not kids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for pid in kids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def _single_thread_rows_per_s(args) -> float:
    """Backfill rows/s of ``cdc`` on ``local[1]`` in a child process: the
    single-thread baseline of the same job."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", "cdc",
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
         "--single-thread-baseline"],
        cwd=ROOT, capture_output=True, text=True, timeout=120, check=True,
    )
    return float(json.loads(out.stdout.strip().splitlines()[-1])["ops_per_s"])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--single-thread-baseline", action="store_true",
                    help="cdc only: run just the backfill phase on local[1] and "
                         "print its rows/s (the traced run records it)")
    ap.add_argument("--inject-fault", choices=("none", "state", "query"), default="none",
                    help="corrupt the expected CDC state or one query result, "
                         "to show that the correctness check catches it")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "kafka2delta_spark")) \
            or not os.path.isfile(spec_path):
        print("perfbench: kafka2delta_spark package or BENCHMARK.json not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import cdc
    import querymix
    from common import Run, host_probe_s

    baseline = args.single_thread_baseline and args.workload == "cdc"
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace),
              1 if baseline else _cores(), T_PROCESS, backfill_only=baseline)
    if args.trace:
        with run.excluded():
            run.layer["host.probe_s"] = host_probe_s()
    workload = {"cdc": cdc.cdc, "query_mix": querymix.query_mix}[args.workload]
    try:
        e2e = workload(run, args.inject_fault)
        run.layer["session.peak_rss_mb"] = run.jvm_peak_rss_mb()
    finally:
        run.close()
    if baseline:
        print(json.dumps({"ops_per_s": e2e["ops_per_s"][0]}))
        return 0
    e2e["setup_s"] = (run.setup_s, "s")
    run.layer["error_rate"] = run.failed / max(1, run.attempted)
    if args.trace and args.workload == "cdc":
        run.layer["cdc.local1.rows_per_s"] = _single_thread_rows_per_s(args)
    if args.trace:
        metrics = {m["name"]: {"value": float(run.layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": run.checks_ok and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    _adopt_orphans()
    signal.signal(signal.SIGTERM, _terminate)
    try:
        code = main()
    finally:
        _stop_descendants()
    sys.exit(code)
