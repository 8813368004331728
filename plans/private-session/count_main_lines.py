#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the Scala sources under src/main.

Usage: python3 count_main_lines.py [repo_root]
A line counts unless it is blank, a `//` line comment, or inside a
`/* ... */` block (scaladoc included).
"""
import pathlib
import sys

root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".") / "src" / "main"
total = 0
for f in sorted(root.rglob("*.scala")):
    n = 0
    in_block = False
    for line in f.read_text().splitlines():
        t = line.strip()
        if in_block:
            if "*/" in t:
                in_block = False
            continue
        if not t or t.startswith("//"):
            continue
        if t.startswith("/*"):
            in_block = "*/" not in t
            continue
        n += 1
    total += n
    print(f"{n:6d} {f.relative_to(root)}")
print(f"{total:6d} total")
