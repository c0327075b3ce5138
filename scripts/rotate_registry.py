"""Rotate the query registry so the stalest queries lead.

The correctness driver samples the FIRST 50 entries of
``wpextract_spark.plans.queries.QUERIES`` each round. To guarantee every
query keeps accumulating hard driver signal, this script orders the dict
stalest-first:

1. uncovered first: a query that is neither in the last round's
   CORRECTNESS keys nor hash-green in >= 2 rounds leads the window, since
   it has no other route to driver coverage;
2. never driver-hash-green (no CORRECTNESS row, or only ``err`` rows),
3. ascending by the last round with a green row,
4. ties broken by how many rounds ever saw the query (fewest first),
5. final tie-break: current registry order (stable).

It rewrites the ``QUERIES = {...}`` block of ``plans/queries.py`` in place,
preserving each entry's trailing comment, and prints the resulting window.
``tests/test_registry_rotation.py`` asserts the invariant this maintains:
every registry query is covered by the union of the previous round's
CORRECTNESS keys and the current first-50 window, minus an explicit
allowlist of multi-round-green leftovers.

Usage: python scripts/rotate_registry.py [--check]
  --check  exit 1 if the current order differs from the computed one
           (used by tests; does not rewrite).
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).parent.parent
QUERIES_PY = REPO / "wpextract_spark" / "plans" / "queries.py"
WINDOW = 50


def correctness_history() -> list[dict[str, bool]]:
    """Per round (ascending), map query -> hash_match is True."""
    out = []
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        data = json.loads(path.read_text())
        rows = data.get("queries", data)
        out.append(
            {
                k: isinstance(v, dict) and v.get("hash_match") is True
                for k, v in rows.items()
            }
        )
    return out


def registry_entries(src: str) -> tuple[str, list[tuple[str, str]]]:
    """(dict block, [(query name, full entry line)...]) from source."""
    match = re.search(r"\nQUERIES = \{\n(.*?)\n\}\n", src, re.S)
    if not match:
        raise SystemExit("QUERIES dict block not found")
    block = match.group(1)
    entries = []
    for line in block.splitlines():
        m = re.match(r'\s*"(q_\w+)":', line)
        if m:
            entries.append((m.group(1), line))
    return match.group(0), entries


def staleness_order(
    names: list[str], history: list[dict[str, bool]]
) -> list[str]:
    pos = {name: i for i, name in enumerate(names)}

    def key(name: str):
        greens = [i + 1 for i, r in enumerate(history) if r.get(name)]
        seen = [i + 1 for i, r in enumerate(history) if name in r]
        last_green = max(greens, default=0)
        covered = name in history[-1] or len(greens) >= 2
        return (covered, last_green, len(seen), pos[name])

    return sorted(names, key=key)


def main() -> int:
    check = "--check" in sys.argv
    src = QUERIES_PY.read_text()
    full_block, entries = registry_entries(src)
    names = [n for n, _ in entries]
    lines = dict(entries)
    order = staleness_order(names, correctness_history())

    if order == names:
        print("registry already in stalest-first order")
        return 0
    if check:
        moved = [
            (names[i], order[i]) for i in range(len(names))
            if names[i] != order[i]
        ]
        print(f"registry order is stale: {len(moved)} entries out of place")
        for cur, want in moved[:10]:
            print(f"  position has {cur}, wants {want}")
        return 1

    header = (
        "    # --- Stalest-first driver-window ordering (maintained by\n"
        "    # scripts/rotate_registry.py): the correctness driver checks\n"
        "    # the FIRST 50 entries, so queries with the least / oldest\n"
        "    # driver-green history lead and multi-round-green entries sit\n"
        "    # at the tail (those are additionally pinned by the pytest\n"
        "    # gate and byte-parity e2e).\n"
    )
    body_lines = []
    for i, name in enumerate(order):
        if i == WINDOW:
            body_lines.append(
                "    # ---- below the 50-entry driver window ----"
            )
        # strip stale per-entry rotation comments; keep other comments
        line = lines[name]
        line = re.sub(
            r"\s*#\s*(new in round \d.*|rows-only:.*|round-\d rotation.*"
            r"|needs a driver row.*)$",
            "",
            line,
        )
        body_lines.append(line)
    new_block = "\nQUERIES = {\n" + header + "\n".join(body_lines) + "\n}\n"
    QUERIES_PY.write_text(src.replace(full_block, new_block))
    window = order[:WINDOW]
    print(f"rotated: window head {window[:6]} ... tail {order[-3:]}")
    leftover = [
        n for n in names
        if n not in window and n not in correctness_history()[-1]
    ]
    print(f"not covered by (last round ∪ new window): {leftover}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
