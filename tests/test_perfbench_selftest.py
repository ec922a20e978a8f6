"""The benchmark's traced-run parser self-test (``perfbench/selftest.py``)
run as a subprocess, so the suite guards the parser the per-layer metrics
are read with. It writes only under the git-ignored ``.perfbench/``."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, "perfbench/selftest.py"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "selftest ok" in proc.stdout
