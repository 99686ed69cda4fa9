"""Check that the exact per-cycle counters of two runs are identical.

    python3 cyclebench/counters.py A.json B.json

A and B are result records from ``.cyclebench/results/`` of two runs with
the same workload and seed. Cycle ``i`` of one run received the same CSV
and ``now`` as cycle ``i`` of the other, so every counter below must
match for every cycle both runs completed (the window can fit a
different number of cycles). Exits 1 on any difference.
"""

import json
import sys

EXACT = ("jobs", "stages", "skipped", "tasks", "commits", "files", "bytes",
         "landing_buckets", "staging_buckets", "cdc_rows")


def main(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)["cycles"]
    with open(b_path) as f:
        b = json.load(f)["cycles"]
    bad = 0
    print("cycle " + " ".join(f"{k:>15}" for k in EXACT))
    for x, y in zip(a, b):
        cells = []
        for k in EXACT:
            same = x[k] == y[k]
            bad += not same
            cells.append(f"{x[k]:>15}" if same else f"{x[k]}!={y[k]}".rjust(15))
        print(f"{x['cycle']:>5} " + " ".join(cells))
    print(f"{min(len(a), len(b))} cycles compared, {bad} counters differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
