"""End-to-end CPU time counts this process and every process below it,
running or already reaped."""

from __future__ import annotations

import subprocess
import sys

import run

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3:\n    pass\n"


def test_counts_a_running_child():
    before = run.process_cpu_s()
    child = subprocess.Popen(
        [sys.executable, "-c", BURN + "print('done', flush=True)\nimport sys\nsys.stdin.read()\n"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert child.stdout.readline().strip() == "done"
        assert run.process_cpu_s() - before >= 0.25
    finally:
        child.stdin.close()
        child.wait(timeout=30)


def test_counts_a_reaped_child():
    before = run.process_cpu_s()
    subprocess.run([sys.executable, "-c", BURN], check=True)
    assert run.process_cpu_s() - before >= 0.25
