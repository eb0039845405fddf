#!/usr/bin/env python3
"""Processes a JVM started, split by command, caller and target, from a JFR file.

    python3 plans/local_fs/forks_by_caller.py run.jfr

The recording needs `jdk.ProcessStart` with stack traces (on in the
`default` and `profile` settings). The caller of a start is the first
frame of its stack outside `java.*`, `jdk.*`, `sun.*` and
`org.apache.hadoop.*`, i.e. the Spark or graft code that reached the
file system; `(none)` when the stack holds no such frame (JVM start-up,
or a stack truncated by JFR's depth limit). The target of a start is
`state` when its path argument lies under a streaming `state/`
directory, else the name of that path's parent directory (`offsets`,
`commits`, ...).
"""
import collections
import json
import os
import subprocess
import sys

LIBRARY = ("java.", "jdk.", "sun.", "org.apache.hadoop.")


def starts(jfr):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", jfr],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        args = (v["command"] or "?").split()
        exe = os.path.basename(args[0])
        path = next((a.removeprefix("file:") for a in args[1:]
                     if a.removeprefix("file:").startswith("/")), None)
        target = ("-" if path is None else "state" if "/state/" in path
                  else os.path.basename(os.path.dirname(path)))
        caller = "(none)"
        for fr in (v.get("stackTrace") or {}).get("frames", []):
            cls = fr["method"]["type"]["name"].replace("/", ".")
            if not cls.startswith(LIBRARY):
                caller = f"{cls}.{fr['method']['name']}"
                break
        yield exe, caller, target


def main():
    by_exe, by_caller = collections.Counter(), collections.Counter()
    by_target = collections.Counter()
    for exe, caller, target in starts(sys.argv[1]):
        by_exe[exe] += 1
        by_caller[(exe, caller)] += 1
        by_target[(exe, target)] += 1
    print(f"{sum(by_exe.values())} process starts")
    for exe, n in by_exe.most_common():
        print(f"{n:6d}  {exe}")
    print("\nby command and caller")
    for (exe, caller), n in by_caller.most_common():
        print(f"{n:6d}  {exe:10s} {caller}")
    print("\nby command and target")
    for (exe, target), n in by_target.most_common():
        print(f"{n:6d}  {exe:10s} {target}")


if __name__ == "__main__":
    main()
