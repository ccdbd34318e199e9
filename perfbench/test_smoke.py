"""Smoke test of the benchmark itself: every workload once per trace mode at
the smallest scale, through ``run.py --smoke``. Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_metric_printed_and_no_op_failed():
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--smoke"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
