#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps query by query.

Usage: python3 plan_diff.py PARENT_DUMP CHANGE_DUMP [query ...]

A dump is the stdout of `sbt "runMain graft.Explain <sfDir> <query ...>"`,
with or without sbt's `[info] ` prefix. Each query's section runs from its
`========== name ==========` header to the next header. Before comparing,
every line is normalised so that two runs of the same plan read the same:

- expression ids (`doc_id#1973L` -> `doc_id#NL`), `plan_id=123` and RDD ids;
- the source line of an RDD's call site (`at SparkEntry.scala:130`), which
  moves with any edit above it;
- per-run temp paths (`/tmp/graft_smdaf123456789` -> `/tmp/graft_smdaf<RUN>`)
  and UUIDs.

Prints one line per query (`same` / `DIFF` / `missing`), then a unified
diff of each differing query. Exits 1 when any listed query differs or is
missing on one side, else 0. With no query names, every query in either
dump is compared.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"(\.scala):\d+"), r"\1:N"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"),
     "<UUID>"),
    (re.compile(r"(/tmp/[A-Za-z_]+?)-?\d{6,}"), r"\1<RUN>"),
]


def normalise(line):
    for pat, rep in RULES:
        line = pat.sub(rep, line)
    return line


def sections(path):
    out, name = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif line.startswith("["):
                continue  # sbt's own [warn]/[error]/[success] lines
            m = HEADER.match(line.strip())
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                out[name].append(normalise(line))
    return out


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    a, b = sections(argv[1]), sections(argv[2])
    names = argv[3:] or sorted(set(a) | set(b))
    diffs, bad = [], 0
    for n in names:
        if n not in a or n not in b:
            print(f"missing {n} (parent: {n in a}, change: {n in b})")
            bad += 1
        elif a[n] == b[n]:
            print(f"same    {n}")
        else:
            print(f"DIFF    {n}")
            bad += 1
            diffs.append(difflib.unified_diff(a[n], b[n], f"parent/{n}",
                                              f"change/{n}", lineterm=""))
    for d in diffs:
        print("\n".join(d))
    print(f"== {len(names) - bad} same / {bad} differ or missing ==")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
