"""Compare two result records written by perfbench/run.py.

    python3 perfbench/compare.py .perfbench/results/A.json .perfbench/results/B.json

Prints each metric the two records share, with B/A.  Refuses (exit 2)
records of different workloads, or taken with different ``cpus``: a number
measured on another core count says nothing about this one.
"""

from __future__ import annotations

import json
import math
import sys


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (json.loads(open(p).read()) for p in argv)
    for key, va, vb in (
        ("workload", a["workload"], b["workload"]),
        ("cpus", a["env"]["cpus"], b["env"]["cpus"]),
    ):
        if va != vb:
            print(f"refusing to compare: {key} differs ({va} vs {vb})", file=sys.stderr)
            return 2
    print(f"{a['workload']}, cpus={a['env']['cpus']}: A seed {a['env']['seed']}, B seed {b['env']['seed']}")
    for section in ("end_to_end", "per_layer"):
        for name in sorted(set(a[section]) & set(b[section])):
            x, y = a[section][name], b[section][name]
            ratio = y / x if x and math.isfinite(x) and math.isfinite(y) else float("nan")
            print(f"  {name:44s} {x:14.6g} {y:14.6g} {ratio:8.3f}x")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
