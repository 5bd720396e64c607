"""Generate the README's machine-maintained query-registry block.

The block between ``<!-- REGISTRY:BEGIN -->`` and
``<!-- REGISTRY:END -->`` in README.md is WRITTEN by this tool and
ASSERTED by tests/test_registry_window.py::test_readme_registry_block_in_sync
— so the documentation cannot drift from ``__spark_entry__._REGISTRY``
as the registry grows (a missing/extra/renamed row fails CI, the
fix is one ``python tools/gen_registry_docs.py``).

Usage: python tools/gen_registry_docs.py [--check]
  --check: exit 1 if README is out of date instead of rewriting it.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

BEGIN = "<!-- REGISTRY:BEGIN (generated by tools/gen_registry_docs.py — do not edit by hand) -->"
END = "<!-- REGISTRY:END -->"
README = ROOT / "README.md"


def render_block() -> str:
    import __spark_entry__ as entry

    reg = entry._REGISTRY
    twins = entry._NO_ORACLE_TWINS
    names = list(reg)
    n_oracle = sum(1 for _, sql in reg.values() if sql is not None)
    window = set(entry._WINDOW_ORDER)

    lines = [
        BEGIN,
        "",
        f"**{len(names)} registered queries** — {n_oracle} DuckDB-oracle "
        f"hash-checked, {len(names) - n_oracle} rows-only (each mapped to "
        "a hash-checked twin in `_NO_ORACLE_TWINS`). The first "
        f"{entry._DRIVER_WINDOW} in iteration order are the driver's "
        "curated correctness window (marked `W`); the rest are swept by "
        "`tests/test_oracle_tail.py`.",
        "",
        "| Query | Check |",
        "|---|---|",
    ]
    for name in names:
        _, sql = reg[name]
        if sql is not None:
            check = "oracle"
        else:
            check = f"rows-only → twin `{twins[name]}`"
        w = " `W`" if name in window else ""
        lines.append(f"| `{name}`{w} | {check} |")
    lines.append(END)
    return "\n".join(lines)


def main() -> int:
    with open(README) as f:
        text = f.read()
    block = render_block()
    pattern = re.compile(
        re.escape(BEGIN) + r".*?" + re.escape(END), flags=re.DOTALL
    )
    if not pattern.search(text):
        print("README.md has no REGISTRY block markers", file=sys.stderr)
        return 1
    new_text = pattern.sub(lambda _m: block, text)
    if "--check" in sys.argv:
        if new_text != text:
            print("README registry block is OUT OF DATE — run "
                  "python tools/gen_registry_docs.py", file=sys.stderr)
            return 1
        print("README registry block in sync")
        return 0
    if new_text != text:
        with open(README, "w") as f:
            f.write(new_text)
        print("README registry block rewritten")
    else:
        print("README registry block already in sync")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
