"""Run-to-run spread of the end-to-end metrics.

Runs every workload of BENCHMARK.json once per seed, interleaved (seed 1 of
each workload, then seed 2, ...), and reports for each metric the median
and the distance between the first and third quartiles
(``statistics.quantiles(values, n=4)``) as a share of the median. After
each run it times the fixed pure-Python loop of ``host.probe_s``, whose
spread is the floor set by the host's own speed drift:

    python3 perfbench/spread.py --seeds 1-10 [--out perfbench/results/spread.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from common import host_probe_s  # noqa: E402


def spread(vals: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return {"median": med, "iqr_share": (q3 - q1) / med}


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--out", help="write the table and every run as JSON here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = [w["name"] for w in spec["workloads"]]
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for seed in seeds(args.seeds):
        for w in workloads:
            t0 = time.monotonic()
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            res.update(seed=seed, wall_s=round(time.monotonic() - t0, 1),
                       probe_s=host_probe_s())
            runs[w].append(res)
            print(json.dumps({"workload": w, **res}), flush=True)
    table = {}
    for w in workloads:
        table[w] = {}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs[w]]
            table[w][m["name"]] = {**spread(vals), "bound": m["bound"]}
        table[w]["host.probe_s"] = spread([r["probe_s"] for r in runs[w]])
        table[w]["wall_s_median"] = statistics.median(r["wall_s"] for r in runs[w])
        table[w]["all_correct"] = all(r["correct"] for r in runs[w])
    print(json.dumps(table, indent=1))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"spread": table, "runs": runs}, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
