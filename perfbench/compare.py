"""Compare two sets of benchmark records (the JSON files run.py writes to
``.perfbench/results/``), metric by metric, against BENCHMARK.json bounds.

    python3 perfbench/compare.py --base DIR_OR_FILES... --new DIR_OR_FILES...

Records group by (workload, trace). For each metric it prints both
medians, the change as a share of the base median, and the base's own
quartile spread. An end-to-end metric whose median worsens by more than
its bound is flagged REGRESSED; one whose base spread exceeds its bound
is flagged UNRESOLVED, since the base cannot tell a change of that size
from noise. Either flag makes the exit code 1. It refuses (exit 2) to
compare records taken at different core counts.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def load(items) -> list[dict]:
    files = []
    for item in map(Path, items):
        files += sorted(item.glob("*.json")) if item.is_dir() else [item]
    return [json.loads(f.read_text()) for f in files]


def cores(records) -> set:
    return {(r["host"]["nproc"], r["host"]["spark_graft_cpus"]) for r in records}


def spread(values) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    seen = cores(base) | cores(new)
    if len(seen) != 1:
        print(f"refused: records span (nproc, SPARK_GRAFT_CPUS) {sorted(seen)}", file=sys.stderr)
        return 2
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    flagged = False
    groups = sorted({(r["args"]["workload"], r["args"]["trace"]) for r in base + new})
    for workload, trace in groups:
        def values(records, name):
            return [
                r["metrics"][name] for r in records
                if r["args"]["workload"] == workload and r["args"]["trace"] == trace
                and name in r["metrics"]
            ]
        names = sorted({n for r in base + new for n in r["metrics"]} & set(better))
        for name in names:
            b, n = values(base, name), values(new, name)
            if not b or not n:
                continue
            mb, mn = statistics.median(b), statistics.median(n)
            change = (mn - mb) / mb if mb else 0.0
            worse = change if better[name] == "lower" else -change
            flag = ""
            if name in bounds and spread(b) > bounds[name]["bound"]:
                flag = "  UNRESOLVED"
            elif name in bounds and worse > bounds[name]["bound"]:
                flag = "  REGRESSED"
            flagged = flagged or bool(flag)
            print(f"{workload:12s} {name:24s} base {mb:12.4f} (n={len(b)}, iqr {spread(b):.3f})"
                  f"  new {mn:12.4f} (n={len(n)})  {change:+.3f}{flag}")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
