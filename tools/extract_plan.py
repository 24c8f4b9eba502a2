#!/usr/bin/env python3
"""Extract one query's formatted plan from a graft.Explain log.

graft.Explain is a test-scope tool; make the log with
    sbt "Test/runMain graft.Explain <query_name>" > <explain_log>

Usage: extract_plan.py <explain_log> <query_name> <out_file>
Strips the sbt [info]/[error] prefixes and stops at the [time] line.
"""
import re
import sys

log, name, out = sys.argv[1], sys.argv[2], sys.argv[3]
lines = []
on = False
for raw in open(log, errors="replace"):
    line = re.sub(r"^\[(info|error)\] ", "", raw.rstrip("\n"))
    if line.startswith(f"===== {name} "):
        on = True
    if on:
        lines.append(line)
        if line.startswith("[time]") and name in line:
            break
with open(out, "w") as f:
    f.write("\n".join(lines) + "\n")
print(f"{out}: {len(lines)} lines")
