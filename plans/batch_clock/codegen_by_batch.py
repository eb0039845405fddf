#!/usr/bin/env python3
"""Code compiles per micro-batch, by kind and thread, from a run's log.

    python3 plans/batch_clock/codegen_by_batch.py <jvm.log>

The log must hold the CodeGenerator logger at DEBUG (each compile: an
empty-message line, the generated source, then `Code generated in N ms`)
and MicroBatchExecution at INFO (`Committed offsets for batch N` opens
batch N). Batch -1 is everything before the stream's first batch.
"""
import collections
import re
import sys

KINDS = [("GeneratedIteratorForCodegenStage", "wholestage"),
         ("SpecificPredicate", "predicate"),
         ("SpecificUnsafeProjection", "unsafeproj"),
         ("SpecificSafeProjection", "safeproj"),
         ("SpecificOrdering", "ordering")]

batch = -1
counts = collections.defaultdict(collections.Counter)
src = None
for line in open(sys.argv[1], errors="replace"):
    m = re.search(r"Committed offsets for batch (\d+)", line)
    if m:
        batch = int(m.group(1))
    elif line.rstrip("\n").endswith("CodeGenerator: "):
        src = []
    elif "Code generated in" in line:
        body = "".join(src or [])
        kind = next((k for tag, k in KINDS if tag in body), "other")
        thread = "task" if "Executor task launch" in line else "driver"
        counts[batch][f"{kind}/{thread}"] += 1
        src = None
    elif src is not None:
        src.append(line)
for b in sorted(counts):
    print(b, " ".join(f"{k}={v}" for k, v in sorted(counts[b].items())))
