"""Check that the count-type per-layer metrics repeat exactly.

Run from the root of a checkout:

    python3 perfbench/repeat_check.py --workload replicate --seed 1

It makes two traced runs of the workload with the same seed and compares
every per-layer metric whose unit is ``count`` or ``ratio``. It prints
one line per metric and exits 1 if any differs; a metric that differs
must not carry a claim (``README.md`` lists the ones found so).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        stdout=subprocess.PIPE, text=True, check=True, timeout=600)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    a, b = (traced_run(args.workload, args.seed, args.seconds) for _ in range(2))
    differ = 0
    for name, m in a["metrics"].items():
        if m["unit"] not in ("count", "ratio"):
            continue
        x, y = m["value"], b["metrics"][name]["value"]
        differ += x != y
        print(f"{'same' if x == y else 'DIFFERS':8s} {name} {x} {y}")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
