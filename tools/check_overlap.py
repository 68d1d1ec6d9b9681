"""Capability-overlap report for inventory entries (r10 verdict item 9).

Usage: python tools/check_overlap.py [entry ...]

With names: prints each named entry's top-5 IDF-nearest existing
oracles — the pre-commit review for every NEW entry (the r10
duplicates both ranked their true twin in the top 2; read the report,
then decide). Without names: runs only the sweep below.

Always sweeps the strong-signal tier: exits 1 if any pair at
>= TWIN_THRESH is missing from the reviewed ALLOWED_TWINS list (the
same check the contract test pins).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from warpdb_spark import inventory
    from warpdb_spark.inventory.overlap import ALLOWED_TWINS, OverlapIndex

    _, oracles = inventory.load_all()
    idx = OverlapIndex(oracles)

    for name in sys.argv[1:]:
        if name not in idx.toks:
            print(f"{name}: not in the inventory (no oracle SQL)")
            continue
        print(f"{name} — nearest existing capabilities:")
        for s, other in idx.nearest(name, k=5):
            mark = " (reviewed twin)" if tuple(sorted((name, other))) in ALLOWED_TWINS else ""
            print(f"  {s:5.3f}  {other}{mark}")

    unreviewed = [
        (s, a, b)
        for s, a, b in idx.twin_pairs()
        if (a, b) not in ALLOWED_TWINS
    ]
    if unreviewed:
        print("FAIL: strong-signal pairs missing from ALLOWED_TWINS:")
        for s, a, b in unreviewed:
            print(f"  {s:5.3f}  {a} <-> {b}")
        return 1
    print("OK: every strong-signal pair is a reviewed twin")
    return 0


if __name__ == "__main__":
    sys.exit(main())
