#!/usr/bin/env python3
"""Per drain micro-batch of `weather_stream` runs: where its time went.

    python3 plans/local_fs/drain_split.py <result.json> [<result.json> ...]

Reads the `stream_drain_progress` detail of graftbench result records
(`.bench_build/results/weather_stream-<seed>-trace<k>.json`) and prints,
for every drain batch, the trigger, `addBatch`, the state operators'
`commitTimeMs` (summed over the state tasks, as Spark reports it),
`addBatch` minus that sum, and the offset-log (`walCommit`) and
commit-log (`commitOffsets`) writes, all in ms; then the medians.
"""
import json
import statistics
import sys

COLS = ("trigger", "addBatch", "state_commit", "addBatch-commit", "walCommit", "commitOffsets")


def rows(path):
    with open(path) as f:
        det = json.load(f)["detail"]
    prog = det["stream_drain_progress"]
    for p in json.loads(prog) if isinstance(prog, str) else prog:
        d = p["durationMs"]
        commit = sum(s.get("commitTimeMs", 0) for s in p["stateOperators"])
        yield (d["triggerExecution"], d["addBatch"], commit, d["addBatch"] - commit,
               d.get("walCommit", 0), d.get("commitOffsets", 0))


def main():
    print("run".ljust(40) + "".join(c.rjust(16) for c in COLS))
    for path in sys.argv[1:]:
        got = list(rows(path))
        for r in got:
            print(path[-40:].ljust(40) + "".join(f"{v:16d}" for v in r))
        meds = [statistics.median(c) for c in zip(*got)]
        print("  median".ljust(40) + "".join(f"{v:16.0f}" for v in meds))


if __name__ == "__main__":
    main()
