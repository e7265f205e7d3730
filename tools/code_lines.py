#!/usr/bin/env python3
"""Count Scala code lines under each given directory, leaving out blank
lines, `//` lines and `/* ... */` comment blocks (dev-only tool, not part
of the library).

    python3 tools/code_lines.py src/main src/test"""
import pathlib, sys

def count(root):
    n = 0
    for p in sorted(pathlib.Path(root).rglob("*.scala")):
        in_block = False
        for line in p.read_text().splitlines():
            t = line.strip()
            if in_block:
                in_block = "*/" not in t
            elif t.startswith("/*"):
                in_block = "*/" not in t
            elif t and not t.startswith("//"):
                n += 1
    return n

for root in sys.argv[1:]:
    print(f"{root} {count(root)}")
