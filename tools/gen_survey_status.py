"""Generate SURVEY.md's machine-maintained current-status block.

VERDICT r8 #8: six rounds of per-round status narrative (~800 lines,
old SURVEY §8-§13) kept accreting stale counts. The history now lives
verbatim in SURVEY_HISTORY.md; SURVEY §8 carries ONE generated
current-state block between ``<!-- STATUS:BEGIN -->`` /
``<!-- STATUS:END -->`` rendered from the live registry plus the last
recorded GATE.json — the same drift-guard mechanism as README's
registry table (asserted by tests/test_registry_window.py).

Usage: python tools/gen_survey_status.py [--check]
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

BEGIN = "<!-- STATUS:BEGIN (generated by tools/gen_survey_status.py — do not edit by hand) -->"
END = "<!-- STATUS:END -->"
SURVEY = ROOT / "SURVEY.md"
GATE = ROOT / "GATE.json"


def render_block() -> str:
    import __spark_entry__ as entry

    reg = entry._REGISTRY
    twins = entry._NO_ORACLE_TWINS
    names = list(reg)
    n_oracle = sum(1 for _, sql in reg.values() if sql is not None)
    window = entry._WINDOW_ORDER

    try:
        with open(GATE) as f:
            gate = json.load(f)
        gate_lines = [
            f"- **Last recorded gate** (`GATE.json`): **{gate['gate']}** "
            f"({gate['total_sec']:.0f} s total)",
        ] + [
            f"  - `{stage}`: {result}"
            for stage, result in gate.get("stages", {}).items()
        ]
    except (OSError, json.JSONDecodeError, KeyError):
        gate_lines = ["- **Last recorded gate**: GATE.json missing/unreadable"]

    lines = [
        BEGIN,
        "",
        f"- **Registry**: {len(names)} queries — {n_oracle} DuckDB-oracle "
        f"hash-checked, {len(names) - n_oracle} rows-only, each rows-only "
        "entry mapped to a hash-checked twin "
        f"({', '.join(f'`{k}`→`{v}`' for k, v in twins.items())}).",
        f"- **Driver window** ({entry._DRIVER_WINDOW} slots, hard hash "
        "check at sf0.01 every round): "
        + ", ".join(f"`{n}`" for n in window)
        + ".",
        "- **Tail**: every other registry query, swept by "
        "`tests/test_oracle_tail.py` with the same DuckDB "
        "canonicalization, plus seven robustness sweeps and the "
        "plan-audit stage (`tools/round_gate.py` runs all of it and "
        "writes GATE.json).",
        "- **Full per-query inventory**: README.md registry table "
        "(generated, drift-guarded); **plan audit**: PLANS.md "
        "(generated, drift-guarded); **benchmark**: `perfbench/run.py` "
        "under `BENCHMARK.json` (the `elt` and `curate_corpus` pipeline "
        "workloads).",
    ] + gate_lines + [
        "",
        END,
    ]
    return "\n".join(lines)


def main() -> int:
    with open(SURVEY) as f:
        text = f.read()
    block = render_block()
    pattern = re.compile(
        re.escape(BEGIN) + r".*?" + re.escape(END), flags=re.DOTALL
    )
    if not pattern.search(text):
        print("SURVEY.md has no STATUS block markers", file=sys.stderr)
        return 1
    new_text = pattern.sub(lambda _m: block, text)
    if "--check" in sys.argv:
        if new_text != text:
            print(
                "SURVEY status block is OUT OF DATE — run "
                "python tools/gen_survey_status.py",
                file=sys.stderr,
            )
            return 1
        print("SURVEY status block in sync")
        return 0
    if new_text != text:
        with open(SURVEY, "w") as f:
            f.write(new_text)
        print("SURVEY status block rewritten")
    else:
        print("SURVEY status block already in sync")
    return 0


if __name__ == "__main__":
    sys.exit(main())
