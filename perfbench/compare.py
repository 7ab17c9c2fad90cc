"""Compare two sets of saved benchmark outputs.

    python3 perfbench/compare.py base.out new.out

Each file holds the stdout of one or more ``run.py`` runs. For every
workload and metric the script prints the median of each side, their
ratio (new / base), and each side's quartile spread. It refuses to
compare runs whose ``cpus`` or ``fixtures_fp`` differ: numbers from
another core count or another fixture generation are not comparable.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def records(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line)["perfbench_record"]
                for line in fh if line.startswith('{"perfbench_record"')]


def metrics(recs: list[dict]) -> dict[tuple[str, str], list[float]]:
    out = defaultdict(list)
    for r in recs:
        for name, value in (r.get("per_layer") or r["end_to_end"]).items():
            out[(r["workload"], name)].append(value)
    return out


def main(base_path: str, new_path: str) -> int:
    base, new = records(base_path), records(new_path)
    if not base or not new:
        print("compare: no perfbench records found", file=sys.stderr)
        return 2
    for key in ("cpus", "fixtures_fp"):
        seen = {r[key] for r in base + new}
        if len(seen) > 1:
            print(f"compare: refusing, runs differ in {key}: {sorted(map(str, seen))}",
                  file=sys.stderr)
            return 1
    mb, mn = metrics(base), metrics(new)
    print(f"{'workload':<12} {'metric':<26} {'base':>12} {'new':>12} {'new/base':>9} "
          f"{'spread b':>9} {'spread n':>9}")
    for key in sorted(mb.keys() & mn.keys()):
        b, n = statistics.median(mb[key]), statistics.median(mn[key])
        ratio = n / b if b else float("nan")
        sb = stats.quartile_spread(mb[key]) if len(mb[key]) > 1 and b else float("nan")
        sn = stats.quartile_spread(mn[key]) if len(mn[key]) > 1 and n else float("nan")
        print(f"{key[0]:<12} {key[1]:<26} {b:>12.4g} {n:>12.4g} {ratio:>9.3f} "
              f"{sb:>9.3f} {sn:>9.3f}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
