"""Round gate: the mechanical pre-close check every operator batch
must pass BEFORE its SURVEY.md status is written (VERDICT r7 process
finding: two continuation operators claimed "all sweeps green" from
per-op memory, and the judge's suite-wide run disproved it — the
sweeps did their job, they just weren't re-run before the claim).

Runs, suite-wide:
  1. the driver-window simulation (oracle_check --window, sf0.01)
  2. the oracle tail sweep (every registry query not in the window)
  3. all seven robustness sweeps (empty / null-heavy / unicode /
     extreme values / ties+skew / partitioning invariance / sf0.1
     window)
  4. the doc drift guards (README registry block, PLANS.md)
  5. the persisted-index lifecycle suites (LSH, its stream sink, the
     LSH hot-bucket cap, LM and DSIR indexes)
  6. the pipeline benchmark's own tests (perfbench/tests)

and writes ONE summary line to GATE.json (plus stdout) that SURVEY.md
status claims must cite — a timestamped artifact, not memory.

Usage: python tools/round_gate.py          (~25 min on local[32])
"""

from __future__ import annotations

import json
import re
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

STAGES: list[tuple[str, list[str]]] = [
    ("window_sim", [sys.executable, "tools/oracle_check.py", "--window"]),
    ("oracle_tail", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                     "tests/test_oracle_tail.py"]),
    ("sweep_empty", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                     "tests/test_empty_input_sweep.py"]),
    ("sweep_null_heavy", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                          "tests/test_null_heavy_sweep.py"]),
    ("sweep_unicode", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                       "tests/test_unicode_text_sweep.py"]),
    ("sweep_extreme", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                       "tests/test_extreme_values_sweep.py"]),
    ("sweep_ties_skew", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                         "tests/test_ties_skew_sweep.py"]),
    ("sweep_part_invariance", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                               "tests/test_partitioning_invariance_sweep.py"]),
    ("sweep_window_sf01", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                           "tests/test_oracle_window_sf01.py"]),
    # the scale-posture audit (cartesian/nested-loop/row-Python red
    # flags + the SinglePartition-window sweep over every registry
    # query) — added r8 after it caught a red flag the oracle sweeps
    # can't see (plans, not results)
    ("plan_audit", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                    "tests/test_plan_audit.py"]),
    ("doc_guards", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                    "tests/test_registry_window.py"]),
    # the window-rotation discipline as its own named stage (VERDICT
    # r11 #8): serve-one-round, family-representative, and
    # twin-in-window rules from registry/_window.py — also covered by
    # doc_guards, but surfaced separately so a rotation violation is
    # legible in GATE.json at a glance
    ("window_rotation", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                         "tests/test_registry_window.py::test_window_rotation_rules"]),
    # build / probe / append / verify / repair / stream-sink of every
    # persisted index family: all of these suites are `slow`, so no
    # other stage or the default collection runs them
    ("index_lifecycle", [sys.executable, "-m", "pytest", "-q", "-m", "slow or not slow",
                         "tests/test_index_lifecycle.py", "tests/test_stream_dedup.py",
                         "tests/test_lsh_hot_bucket.py", "tests/test_lm_index.py",
                         "tests/test_dsir_index.py"]),
    # metric names and units against BENCHMARK.json, generator
    # determinism, process-CPU accounting, status-store counters: the
    # default collection covers tests/ only
    ("perfbench_tests", [sys.executable, "-m", "pytest", "-q", "perfbench/tests"]),
]


def run_stage(name: str, cmd: list[str]) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        cmd, cwd=ROOT, capture_output=True, text=True, timeout=5400
    )
    out = proc.stdout + proc.stderr
    if name == "window_sim":
        m = re.search(r"(\d+) pass, (\d+) fail", out)
        ok = proc.returncode == 0 and m is not None and m.group(2) == "0"
        detail = m.group(0) if m else "no summary line"
    else:
        m = re.search(r"(\d+) passed", out)
        ok = proc.returncode == 0
        detail = m.group(0) if m else out.strip().splitlines()[-1][:120] if out.strip() else "?"
    if not ok:
        fails = [ln for ln in out.splitlines() if "FAIL" in ln or "Error" in ln]
        print(f"  !! {name} FAILED — first failures:")
        for ln in fails[:10]:
            print(f"     {ln[:160]}")
    return {
        "stage": name,
        "ok": ok,
        "detail": detail,
        "sec": round(time.time() - t0, 1),
    }


def main() -> int:
    results = []
    for name, cmd in STAGES:
        print(f"gate: {name} ...", flush=True)
        r = run_stage(name, cmd)
        print(f"gate: {name} {'OK' if r['ok'] else 'FAIL'} "
              f"({r['detail']}, {r['sec']}s)", flush=True)
        results.append(r)
    all_ok = all(r["ok"] for r in results)
    summary = {
        "gate": "PASS" if all_ok else "FAIL",
        "stages": {r["stage"]: r["detail"] for r in results},
        "failed": [r["stage"] for r in results if not r["ok"]],
        "total_sec": round(sum(r["sec"] for r in results), 1),
    }
    with open(ROOT / "GATE.json", "w") as f:
        json.dump(summary, f)
        f.write("\n")
    print(json.dumps(summary))
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
