"""Gate-rotation tracker: when did each queries() entry last pass a
committed correctness gate, and does the current dict order put the
oldest ones inside the gate's ~50-query front window?

The per-round correctness gate (CORRECTNESS_r{N}.json) verifies the FIRST ~50
entries of __spark_entry__.queries() in dict order.  So that no query
goes more than ``STALE_AFTER`` rounds without a gate, the front window
is filled oldest-gate-first (``_GATE_FRONT`` in __spark_entry__.py):
never-gated queries, then those whose latest green round is oldest.
This tool derives each query's latest green round from the committed
CORRECTNESS_r*.json files:

    python tools/gate_rotation.py          # audit current ordering
    python tools/gate_rotation.py --emit   # print a fresh _GATE_FRONT body

Exit status is non-zero if a query last gated ``STALE_AFTER`` or more
rounds before the next round (or never gated) sits outside the front
window while a more recently gated query sits inside it (i.e. the
rotation is stale).
"""

from __future__ import annotations

import json
import re
import sys
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

WINDOW = 50
STALE_AFTER = 3


def latest_green(repo: Path) -> tuple[dict[str, int], int]:
    """(query -> latest round with a hash-match row, latest round
    on file). Round numbers come from the ``CORRECTNESS_r{N}.json`` names."""
    last: dict[str, int] = {}
    latest = 0
    for f in repo.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        latest = max(latest, rnd)
        for name, row in json.loads(f.read_text()).items():
            if row.get("hash_match"):
                last[name] = max(last.get(name, 0), rnd)
    return last, latest


def oldest_first(order: list[str], last: dict[str, int]) -> list[str]:
    """``order`` re-sorted never-gated first, then by latest green round
    ascending; ties keep their order."""
    return sorted(order, key=lambda q: last.get(q, 0))


def audit(
    order: list[str], last: dict[str, int], next_round: int, window: int = WINDOW
) -> tuple[list[str], list[str]]:
    """(overdue queries outside the front window, queries inside it that
    were gated more recently than one of those). Both non-empty means
    the rotation is stale."""
    front = order[:window]
    overdue = [
        q for q in order[window:] if next_round - last.get(q, 0) >= STALE_AFTER
    ]
    if not overdue:
        return [], []
    oldest_outside = min(last.get(q, 0) for q in overdue)
    newer = [q for q in front if last.get(q, 0) > oldest_outside]
    return overdue, newer


def main() -> int:
    repo = Path(__file__).resolve().parents[1]
    import __spark_entry__ as entry

    order = list(entry.queries().keys())
    last, latest = latest_green(repo)
    rounds = Counter(last.get(q, 0) for q in order)
    print(f"queries: {len(order)}  latest gate file: r{latest:02d}  "
          "queries by latest green round (0 = never): "
          + ", ".join(f"r{r}: {n}" for r, n in sorted(rounds.items())))

    if "--emit" in sys.argv:
        print("_GATE_FRONT = [")
        group = None
        for q in oldest_first(order, last)[:WINDOW]:
            if last.get(q, 0) != group:
                group = last.get(q, 0)
                print(f"    # latest green gate: r{group:02d}" if group else
                      "    # never gated")
            print(f'    "{q}",')
        print("]")
        return 0

    overdue, newer = audit(order, last, latest + 1)
    if overdue and newer:
        print(f"STALE rotation: overdue outside window: {overdue}")
        print(f"               more recently gated inside it: {newer}")
        return 1
    if overdue:
        print(f"overdue queued for a later round (window full of older "
              f"ones this round): {overdue}")
    else:
        print("every overdue query is inside the front window")
    return 0


if __name__ == "__main__":
    sys.exit(main())
