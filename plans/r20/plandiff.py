#!/usr/bin/env python3
"""Compare graft.PlanDump outputs after stripping run-specific ids.

    python3 plans/r20/plandiff.py <beforeDir> <afterDir>

Pairs `<row>_before.txt` in beforeDir with `<row>_after.txt` in afterDir
and prints the rows whose normalized plans differ. Normalization removes
what changes from one JVM run to the next without changing the plan:
expression ids (`#123`), RDD ids, plan ids, the source line of an RDD's
creation site, broadcast ids, object identity hashes, lambda class names,
MLlib stage uids and per-run table-name UUIDs, and the sfDir header.
"""
import os
import re
import sys


def norm(t):
    t = re.sub(r"#\d+L?", "#", t)
    t = re.sub(r"RDD\[\d+\]", "RDD[]", t)
    t = re.sub(r"\[plan_id=\d+\]", "[plan_id=]", t)
    t = re.sub(r"(\w+)\.scala:\d+", r"\1.scala:N", t)
    t = re.sub(r"_[0-9a-f]{12}\b", "_uid", t)
    t = re.sub(r"Broadcast\(\d+\)", "Broadcast()", t)
    t = re.sub(r"@[0-9a-f]{5,8}\b", "@obj", t)
    t = re.sub(r"Lambda\$\d+/0x[0-9a-f]+", "Lambda", t)
    t = re.sub(r"[0-9a-f]{8}_[0-9a-f]{4}_[0-9a-f]{4}_[0-9a-f]{4}_"
               r"(uid|[0-9a-f]{12})", "uuid", t)
    t = re.sub(r"-- sfDir.*\n", "", t)
    return t


def main():
    before, after = sys.argv[1], sys.argv[2]
    rows = sorted(f[:-len("_before.txt")] for f in os.listdir(before)
                  if f.endswith("_before.txt"))
    differ = []
    for r in rows:
        a = os.path.join(after, r + "_after.txt")
        if not os.path.exists(a):
            differ.append(f"{r} (no after plan)")
            continue
        with open(os.path.join(before, r + "_before.txt")) as f, open(a) as g:
            if norm(f.read()) != norm(g.read()):
                differ.append(r)
    print(f"{len(rows)} plans compared, {len(differ)} differ")
    for r in differ:
        print(r)


if __name__ == "__main__":
    main()
