#!/usr/bin/env python3
"""Code generation and remote class fetches of one graftbench run.

    python3 tools/compile_counts.py <work dir> [--jfr run.jfr]

`<work dir>` is a run's `.bench_build/work/<workload>-<seed>-<trace>/`:
its `jvm.log` must hold the CodeGenerator logger at DEBUG (one line
ending in `CodeGenerator: `, the generated source, then `Code generated
in N ms` per compile; `plans/batch_clock/codegen-log4j2.properties`),
and its `spans-*.jsonl` (a `--trace 1` run) sets the timed spans: the
root spans whose name does not start with `setup.`. The JFR file must
record `jdk.JavaExceptionThrow` with stack traces (the JDK's
`profile.jfc` with that event's `enabled` set to true): every class
name that an `ExecutorClassLoader` fetches from the driver and does not
find there throws one `ClassNotFoundException` under `findClassLocally`.
A run records both with

    JAVA_TOOL_OPTIONS="-Dlog4j2.configurationFile=<properties> \\
      -XX:StartFlightRecording=filename=<run.jfr>,settings=<exc.jfc>" \\
      python3 graftbench/run.py --workload view_ticks --seed 11 --trace 1

after one plain run has built the classpath (the options reach sbt too).

Prints, for the whole run and inside the timed spans: the compiles by
class kind and thread (driver or task), the compiles whose source an
earlier compile already had (a codegen-cache miss on an identical
source), their janino milliseconds, and the remote class fetches. Times
are compared as time of day, so a run must not cross midnight.
"""
import argparse
import collections
import datetime
import glob
import json
import os
import re
import subprocess
import sys

KINDS = [("GeneratedIteratorForCodegenStage", "wholestage"),
         ("SpecificUnsafeRowJoiner", "rowjoiner"),
         ("SpecificColumnarIterator", "columnaccessor"),
         ("SpecificPredicate", "predicate"),
         ("SpecificUnsafeProjection", "unsafeproj"),
         ("SpecificSafeProjection", "safeproj"),
         ("SpecificMutableProjection", "mutableproj"),
         ("SpecificOrdering", "ordering")]
STAMP = re.compile(r"^(\d\d):(\d\d):(\d\d)\.(\d{3}) \[(.*?)\] ")


def day_ms(h, m, s, ms):
    return ((int(h) * 60 + int(m)) * 60 + int(s)) * 1000 + int(ms)


def timed_spans(work):
    """(start, end) time-of-day ms of the root spans outside set-up."""
    out = []
    for path in glob.glob(os.path.join(work, "spans-*.jsonl")):
        for line in open(path):
            s = json.loads(line)
            if s["parent"] == -1 and not s["name"].startswith("setup."):
                a, b = (datetime.datetime.fromtimestamp(s[k] / 1e6) for k in ("start_us", "end_us"))
                out.append((day_ms(a.hour, a.minute, a.second, a.microsecond // 1000),
                            day_ms(b.hour, b.minute, b.second, b.microsecond // 1000)))
    if not out:
        sys.exit(f"no timed spans under {work} (a --trace 1 run writes them)")
    return out


def compiles(log):
    """(time of day ms, thread kind, class kind, source, janino ms) per compile."""
    out, src, thread = [], None, None
    for line in open(log, errors="replace"):
        m = STAMP.match(line)
        if m and line.rstrip().endswith("CodeGenerator:"):
            src, thread = [], m.group(5)
        elif m and "Code generated in" in line and src is not None:
            body = "".join(src)
            kind = next((k for tag, k in KINDS if tag in body), "other")
            who = "task" if "Executor task launch" in thread else "driver"
            ms = float(re.search(r"Code generated in ([\d.]+) ms", line).group(1))
            out.append((day_ms(*m.group(1, 2, 3, 4)), who, kind, body, ms))
            src = None
        elif src is not None:
            src.append(line)
    return out


def fetches(jfr):
    """Time of day ms of each failed remote class fetch."""
    text = subprocess.run(["jfr", "print", "--events", "jdk.JavaExceptionThrow",
                           "--stack-depth", "12", jfr],
                          check=True, capture_output=True, text=True).stdout
    out = []
    for ev in text.split("jdk.JavaExceptionThrow {")[1:]:
        if "ExecutorClassLoader.findClassLocally" in ev:
            m = re.search(r"startTime = (\d\d):(\d\d):(\d\d)\.(\d{3})", ev)
            out.append(day_ms(*m.groups()))
    return out


def report(label, cs, fetched):
    """`cs`: (compile, repeats an earlier source of the run) pairs."""
    repeats = [c for c, r in cs if r]
    by = collections.Counter(f"{c[2]}/{c[1]}" for c, _ in cs)
    print(f"{label}: {len(cs)} compiles, {sum(c[4] for c, _ in cs):.0f} ms janino; "
          f"{len(repeats)} repeat an earlier source ({sum(c[4] for c in repeats):.0f} ms)"
          + ("" if fetched is None else f"; {len(fetched)} remote class fetches"))
    print("  " + " ".join(f"{k}={v}" for k, v in sorted(by.items())))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("work")
    ap.add_argument("--jfr")
    a = ap.parse_args()
    spans = timed_spans(a.work)
    inside = lambda t: any(lo <= t <= hi for lo, hi in spans)
    seen, cs = set(), []
    for c in compiles(os.path.join(a.work, "jvm.log")):
        cs.append((c, c[3] in seen))
        seen.add(c[3])
    fs = fetches(a.jfr) if a.jfr else None
    report("run", cs, fs)
    report("timed spans", [(c, r) for c, r in cs if inside(c[0])],
           None if fs is None else [t for t in fs if inside(t)])


if __name__ == "__main__":
    main()
