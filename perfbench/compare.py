#!/usr/bin/env python3
"""Compare two traced benchmark runs, layer by layer.

Usage: python3 perfbench/compare.py <before> <after>

Each argument is a summary.json written by a traced run
(`run.py --trace 1` prints its path on the "# report" line), or a directory
holding such files; directories are matched by workload. For each workload
the script prints every layer's self time per op (time inside Spark jobs,
inside each span the benchmark put around a call into a layer, and the
driver time outside both) before and after, and names the layers whose self
time moved by more than 10% and at least 1 ms per op. When both runs used one seed, it
also says which traced counts (jobs, stages, tasks, plan shape, leaked
RDDs) repeated exactly op by op. It flags a run whose box was busy (its
load exceeded its cores), since its times then say little about the code.
Standard library only.
"""
import argparse
import json
import os
import sys

THRESHOLD = 0.10  # relative change that counts as moved
FLOOR_MS = 1.0    # smaller changes per op are ignored


def load(path):
    """{workload: summary} from a summary file or a directory of them."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f == "summary.json"]
    out = {}
    for f in sorted(files):
        s = json.load(open(f))
        if "layer_self_ms_per_op" in s:
            out[s["context"]["workload"]] = s
    return out


def repeatable(b, a):
    """For each traced count, whether every op of two runs of one seed gave
    the same value."""
    ops = set(b["op_counts"]) & set(a["op_counts"])
    fields = sorted({k for o in ops for k in b["op_counts"][o]})
    return {k: all(b["op_counts"][o].get(k) == a["op_counts"][o].get(k) for o in ops) for k in fields}


def compare(before, after):
    moved = []
    for w in sorted(set(before) & set(after)):
        b, a = before[w], after[w]
        print(f"== {w}")
        for name, s in (("before", b), ("after", a)):
            if s["context"].get("contaminated"):
                print(f"   note: the {name} run was on a busy box "
                      f"(load {s['context']['load_1m_max']:.1f} > {s['context']['nproc']} cores)")
        lb, la = b["layer_self_ms_per_op"], a["layer_self_ms_per_op"]
        print(f"   {'layer':24s} {'before ms/op':>13s} {'after ms/op':>13s} {'change':>8s}")
        for layer in sorted(set(lb) | set(la)):
            x, y = lb.get(layer, 0.0), la.get(layer, 0.0)
            change = (y - x) / x if x else float("inf") if y else 0.0
            flag = abs(y - x) >= FLOOR_MS and abs(change) > THRESHOLD
            print(f"   {layer:24s} {x:13.2f} {y:13.2f} {change:+8.1%}{'  <- moved' if flag else ''}")
            if flag:
                moved.append((w, layer, x, y))
        if b["context"]["seed"] == a["context"]["seed"]:
            print(f"   counts that repeat exactly for seed {a['context']['seed']}: " +
                  ", ".join(f"{k} {'yes' if ok else 'no'}" for k, ok in repeatable(b, a).items()))
    if not moved:
        print("no layer's self time moved")
    for w, layer, x, y in moved:
        print(f"moved: {w} {layer} {x:.2f} -> {y:.2f} ms/op")
    return moved


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    if not set(before) & set(after):
        sys.exit("no workload has a traced summary in both runs")
    compare(before, after)


if __name__ == "__main__":
    main()
