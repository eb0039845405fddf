#!/usr/bin/env python3
"""Alternating parent/change pairs of graftbench runs, judged per metric.

    python3 tools/abba.py --parent <git ref> --workload <name> \
        --seeds 1001-1010 [--out runs.tsv]

Run from the root of a graft checkout. The parent ref is exported with
`git archive` into a temporary directory; the change side is this
checkout as it stands (commit or stash what should not be measured).
One pair per seed, so the seed list sets the pair count: pair i runs
seed i of the list once in each tree through `graftbench/run.py
--trace 0` for the `run_seconds` of BENCHMARK.json, the parent first on
even pairs and the change first on odd ones. Each tree builds its own
benchmark classpath on its first run.

For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the pairs the change wins (ties count for
neither), whether a gain holds by the rule "wins at least 9/10 of the
pairs and the medians differ, in the better direction, by more than the
parent's quartile distance", and whether the change's median is within
the metric's regression bound. Each run's window probe,
`health.cal_spark_ms_post` (a fixed Spark job timed after the run, read
from the tree's `.bench_build/results/<workload>-<seed>-trace0.json`),
is printed on its pair's line, so a pair run in a slow window shows.
--out keeps every result line as `pair, seed, order, side, probe, json`
rows.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi) + 1)) if hi else [int(lo)]
    return seeds


def export(ref, dest):
    """`git archive` of `ref` unpacked into `dest`."""
    arch = subprocess.Popen(["git", "archive", ref], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=arch.stdout, check=True)
    if arch.wait() != 0:
        sys.exit(f"abba: git archive {ref} failed")


def run(tree, workload, seed, seconds):
    """The result line of one benchmark run (None when it failed) and
    its post-run window probe in ms (None when there is no record)."""
    p = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None, None
    return json.loads(lines[-1]), probe(tree, workload, seed)


def probe(tree, workload, seed):
    art = os.path.join(tree, ".bench_build", "results", f"{workload}-{seed}-trace0.json")
    try:
        with open(art) as f:
            return json.load(f)["metrics"]["health.cal_spark_ms_post"]["value"]
    except (OSError, KeyError, ValueError):
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def judge(name, better, bound, pairs):
    """One report line for metric `name` over (parent, change) pairs."""
    ps = [p for p, _ in pairs]
    cs = [c for _, c in pairs]
    mp, mc = statistics.median(ps), statistics.median(cs)
    (p1, p3), (c1, c3) = quartiles(ps), quartiles(cs)
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in pairs if sign * (c - p) > 0)
    gain = wins >= 0.9 * len(pairs) and sign * (mc - mp) > (p3 - p1)
    worse = -sign * (mc - mp) / abs(mp) if mp else 0.0
    return (f"{name:18} parent {mp:12.4g} [{p1:.4g}, {p3:.4g}]   "
            f"change {mc:12.4g} [{c1:.4g}, {c3:.4g}]   "
            f"wins {wins}/{len(pairs)}   gain {'holds' if gain else 'not shown'}   "
            f"{'within' if worse <= bound else 'OUTSIDE'} bound {bound} "
            f"(worse by {worse if worse > 0 else 0.0:.1%})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="git ref of the parent side")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1001-1010 or 5,7,9")
    ap.add_argument("--out", help="file for the raw result lines")
    args = ap.parse_args()
    seeds = parse_seeds(args.seeds)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    parent = tempfile.mkdtemp(prefix="abba-parent-")
    out = open(args.out, "w") if args.out else None
    results = []  # (parent line, change line) per complete pair
    try:
        export(args.parent, parent)
        for i, seed in enumerate(seeds):
            order = [("parent", parent), ("change", ROOT)]
            if i % 2:
                order.reverse()
            got, cal = {}, {}
            for side, tree in order:
                got[side], cal[side] = run(tree, args.workload, seed, seconds)
                if out:
                    out.write(f"{i}\t{seed}\t{order[0][0][0].upper()}-{order[1][0][0].upper()}"
                              f"\t{side}\t{cal[side]}\t{json.dumps(got[side])}\n")
                    out.flush()
            print(f"pair {i} seed {seed}: " + "  ".join(
                f"{s} {'ok' if got[s] and got[s]['correct'] else 'FAILED'}"
                f" (cal_spark_ms_post {cal[s]})" for s, _ in order), flush=True)
            if got["parent"] and got["change"]:
                results.append((got["parent"], got["change"]))
    finally:
        shutil.rmtree(parent, ignore_errors=True)
        if out:
            out.close()

    print(f"\n{args.workload}: {len(results)} complete pairs of {len(seeds)}, "
          f"parent {args.parent}; median [q1, q3]")
    for m in metrics:
        vals = [(p["metrics"][m["name"]]["value"], c["metrics"][m["name"]]["value"])
                for p, c in results]
        if vals:
            print(judge(m["name"], m["better"], m["bound"], vals))


if __name__ == "__main__":
    main()
