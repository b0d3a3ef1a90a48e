"""The streaming scratch root removes itself when the process exits.

Drain checkpoints, maintained-family checkpoints and state stores all take
their directories from ``drain.scratch_dir``; none of them may outlive the
process that made them.
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = """
import os
from kafka2delta_spark.streaming.drain import scratch_dir

root = scratch_dir()
dirs = [scratch_dir(p) for p in ("strm_a_", "rollup_ckpt_", "rollup_state_")]
assert all(os.path.dirname(d) == root for d in dirs), dirs
with open(os.path.join(dirs[0], "offsets"), "w") as f:
    f.write("0")
print(root)
"""


def test_scratch_root_is_removed_at_exit(tmp_path):
    env = dict(os.environ, K2D_CKPT_DIR=str(tmp_path), PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path), root
    assert os.listdir(tmp_path) == [], "scratch left behind after exit"
