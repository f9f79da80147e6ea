"""The benchmark's own test: its smoke mode runs every workload once at a
tiny size, untraced and traced, and fails unless every metric named in
BENCHMARK.json is produced with its unit.

    python3 -m pytest perfbench/test_smoke.py
"""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_smoke_prints_every_metric():
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
    assert out.stdout.rstrip().endswith("SMOKE OK")
