#!/usr/bin/env python3
"""Run-to-run diff of graft benchmark results.

    python3 graftbench/diff.py BEFORE AFTER [--json]

BEFORE and AFTER are result files written by run.py
(graftbench/out/results/<workload>-seed<n>-trace<t>.json) or directories
of them. Results are grouped per workload and trace mode; within a group
each value is the median over the files (seeds). The diff lists every
end-to-end metric, every per-layer metric and every entry's median wall,
with the relative change from BEFORE to AFTER."""
import argparse
import glob
import json
import os
import statistics
import sys


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    groups = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        g = groups.setdefault((r["workload"], r["trace"]), {"metrics": {}, "entries": {}})
        for name, m in r["metrics"].items():
            g["metrics"].setdefault(name, []).append(m["value"])
        for entry, walls in r.get("entries", {}).items():
            for k, v in walls.items():
                g["entries"].setdefault(f"{entry}.{k}", []).append(v)
    return {key: {scope: {n: statistics.median(vs) for n, vs in d.items()}
                  for scope, d in g.items()} for key, g in groups.items()}


def diff(before, after):
    """Rows (workload, scope, name, before, after, change) for every
    value present on either side; change is (after-before)/before."""
    rows = []
    for key in sorted(set(before) | set(after)):
        wl, trace = key
        for scope in ("metrics", "entries"):
            b = before.get(key, {}).get(scope, {})
            a = after.get(key, {}).get(scope, {})
            label = "entry" if scope == "entries" else ("layer" if trace else "e2e")
            for name in sorted(set(b) | set(a)):
                bv, av = b.get(name), a.get(name)
                change = None
                if bv not in (None, 0) and av is not None:
                    change = (av - bv) / abs(bv)
                rows.append((wl, label, name, bv, av, change))
    return rows


def fmt(v):
    return "-" if v is None else f"{v:.6g}"


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args(argv)
    rows = diff(load(a.before), load(a.after))
    if a.json:
        json.dump([dict(zip(("workload", "scope", "name", "before", "after", "change"), r))
                   for r in rows], sys.stdout, indent=1)
        print()
        return
    print(f"{'workload':<16} {'scope':<6} {'name':<34} {'before':>12} {'after':>12} {'change':>8}")
    for wl, scope, name, bv, av, ch in rows:
        chs = "-" if ch is None else f"{ch * 100:+.1f}%"
        print(f"{wl:<16} {scope:<6} {name:<34} {fmt(bv):>12} {fmt(av):>12} {chs:>8}")


if __name__ == "__main__":
    main()
