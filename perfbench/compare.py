#!/usr/bin/env python3
"""Summarise or compare sets of benchmark results.

    python3 perfbench/compare.py A_DIR_OR_FILES...               # spread of one set
    python3 perfbench/compare.py A_DIR_OR_FILES... --vs B_DIR_OR_FILES...

Each argument is a result file written by run.py (perfbench/.work/results)
or a directory of them. For every workload and end-to-end metric it prints
the median, the quartiles and the spread (interquartile range as a share
of the median); with --vs it also prints B's median against A's and flags
a change beyond the metric's bound in BENCHMARK.json.

It refuses (exit code 2) to compare results whose width or host stamp
differ, or that ran with other --seconds or --scale: numbers from another
core count, CPU model or BLAS kernel do not compare.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.host import COMPARABLE_KEYS  # noqa: E402


def load(args: list[str]) -> list[dict]:
    files: list[str] = []
    for a in args:
        files += sorted(glob.glob(os.path.join(a, "*.json"))) if os.path.isdir(a) else [a]
    out = []
    for f in files:
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def host_key(rec: dict) -> tuple:
    """What must agree before two results compare: the host stamp and the
    run settings."""
    return (tuple(rec["stamp"].get(k) for k in COMPARABLE_KEYS)
            + (rec["seconds"], rec["scale"]))


def summarise(recs: list[dict]) -> dict:
    """→ {(workload, metric): (median, q1, q3, n)} over untraced runs."""
    vals: dict = {}
    for r in recs:
        if r.get("trace"):
            continue
        for name, m in r["result"]["metrics"].items():
            vals.setdefault((r["workload"], name), []).append(m["value"])
    out = {}
    for key, xs in vals.items():
        q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [xs[0]] * 3
        out[key] = (statistics.median(xs), q[0], q[2], len(xs))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", nargs="+")
    ap.add_argument("--vs", nargs="+", default=None)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}

    a = load(args.a)
    b = load(args.vs) if args.vs else []
    hosts = {host_key(r) for r in a + b}
    if len(hosts) > 1:
        print("refusing to compare: results differ in "
              + ", ".join(COMPARABLE_KEYS + ("seconds", "scale"))
              + f": {sorted(hosts, key=str)}",
              file=sys.stderr)
        return 2
    sa, sb = summarise(a), summarise(b)
    worst = 0
    for (wl, name), (med, q1, q3, n) in sorted(sa.items()):
        spread = (q3 - q1) / med if med else float("inf")
        line = (f"{wl:<12} {name:<14} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
                f"  spread {spread:6.3f}  n={n}")
        spec_m = bounds.get(name)
        if spec_m and not b:
            ok = name == "setup_s" or spread <= spec_m["bound"]
            line += f"  bound {spec_m['bound']}" + ("" if ok else "  SPREAD ABOVE BOUND")
            worst = max(worst, 0 if ok else 1)
        if (wl, name) in sb and spec_m:
            bmed = sb[(wl, name)][0]
            change = (bmed - med) / med if med else 0.0
            worse = -change if spec_m["better"] == "higher" else change
            flag = "REGRESSION" if worse > spec_m["bound"] else "ok"
            line += f"  vs {bmed:12.4f} ({100 * change:+.1f}%) {flag}"
            worst = max(worst, 1 if flag == "REGRESSION" else 0)
        print(line)
    return worst


if __name__ == "__main__":
    sys.exit(main())
