"""Compare two sets of benchmark result files.

    python3 perfbench/compare.py <base dir or files> -- <new dir or files>

Each side is one or more result files written by ``run.py`` (or directories
holding them, such as ``.bench_out/``).  For every workload the end-to-end
metrics of untraced runs are summarised as median and quartiles per side;
a metric whose new median is worse than the base median by more than its
``BENCHMARK.json`` bound is flagged.  Results taken at different core
counts are refused.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths: list[str]) -> list[dict]:
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    out = []
    for f in files:
        with open(f) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0:
            out.append(rec)
    return out


def summary(recs: list[dict], workload: str, metric: str):
    vals = [
        r["result"]["metrics"][metric]["value"]
        for r in recs
        if r["workload"] == workload and r["result"]["metrics"].get(metric, {}).get("value") is not None
    ]
    if len(vals) < 2:
        return None
    q = statistics.quantiles(vals, n=4)
    return {"n": len(vals), "median": statistics.median(vals), "q1": q[0], "q3": q[2]}


def main(argv: list[str]) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1 :])
    cores = {(r["env"]["nproc"], r["env"]["SPARK_GRAFT_CPUS"]) for r in base + new}
    if len(cores) != 1:
        print(f"refused: results taken at different core counts {sorted(cores)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    worse = 0
    for workload in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        print(f"{workload}")
        for m in spec["end_to_end"]:
            b, n = summary(base, workload, m["name"]), summary(new, workload, m["name"])
            if not b or not n:
                continue
            change = n["median"] / b["median"] - 1
            bad = change if m["better"] == "lower" else -change
            flag = "WORSE" if bad > m["bound"] else ""
            worse += bool(flag)
            print(
                f"  {m['name']:14s} base {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}] n={b['n']}"
                f"  new {n['median']:.4g} [{n['q1']:.4g}, {n['q3']:.4g}] n={n['n']}"
                f"  {change:+.1%} {m['unit']} {flag}"
            )
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
