"""Compare two traced runs op type by op type, and say why each one moved.

    python3 perfbench/layerdiff.py <before_trace.json> <after_trace.json>

Each trace file is what ``run.py --trace 1`` writes under
``perfbench/.work/traces/``. An op type is labelled

- ``plan`` when its jobs, stages or tasks per op changed, or its shuffle
  bytes per op moved by more than ``BYTES_TOLERANCE``: the work changed;
- ``load`` when those counters are equal but its median wall time moved
  by more than ``WALL_TOLERANCE``: the same work ran slower or faster;
- ``same`` otherwise.
"""

from __future__ import annotations

import json
import sys

COUNTERS = ("jobs", "stages", "tasks")
BYTES_TOLERANCE = 0.01
WALL_TOLERANCE = 0.05


def label(before: dict, after: dict) -> str:
    if any(before[c] != after[c] for c in COUNTERS):
        return "plan"
    b, a = before["shuffle_bytes"], after["shuffle_bytes"]
    if abs(a - b) > BYTES_TOLERANCE * max(a, b, 1):
        return "plan"
    if abs(after["wall_s"] - before["wall_s"]) > WALL_TOLERANCE * before["wall_s"]:
        return "load"
    return "same"


def diff(before: dict, after: dict) -> list[dict]:
    """One row per op type present in both traces."""
    rows = []
    for kind in sorted(set(before["types"]) & set(after["types"])):
        b, a = before["types"][kind], after["types"][kind]
        rows.append({
            "type": kind,
            "label": label(b, a),
            "wall_s": (b["wall_s"], a["wall_s"]),
            "wall_change": a["wall_s"] / b["wall_s"] - 1,
            **{c: (b[c], a[c]) for c in COUNTERS + ("shuffle_bytes",)},
        })
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        before = json.load(f)
    with open(argv[1]) as f:
        after = json.load(f)
    for row in diff(before, after):
        counts = "  ".join(f"{c} {row[c][0]:g}->{row[c][1]:g}" for c in COUNTERS)
        print(f"{row['type']:28s} {row['label']:5s} wall {row['wall_s'][0]:.3f}->"
              f"{row['wall_s'][1]:.3f}s ({row['wall_change']:+.1%})  {counts}  "
              f"shuffle {row['shuffle_bytes'][0]:.0f}->{row['shuffle_bytes'][1]:.0f}B")
    for key in sorted(set(before["layers"]) & set(after["layers"])):
        b, a = before["layers"][key], after["layers"][key]
        if a != b:
            print(f"  layer {key:28s} {b:.6g} -> {a:.6g}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
