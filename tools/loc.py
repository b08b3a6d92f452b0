#!/usr/bin/env python3
"""Count non-blank, non-comment source lines under src/main.

A line counts unless it is blank, starts with `//`, or lies inside a
`/* ... */` block (scaladoc included). A line that opens or closes a
block is counted only if code stands outside the block on it.

Usage: python3 tools/loc.py [root]   (default: the repo's src/main)
Prints the count per file, then the total.
"""
import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            code = ""
            i = 0
            while i < len(line):
                if in_block:
                    end = line.find("*/", i)
                    if end < 0:
                        i = len(line)
                    else:
                        in_block = False
                        i = end + 2
                elif line.startswith("/*", i):
                    in_block = True
                    i += 2
                elif line.startswith("//", i):
                    break
                else:
                    code += line[i]
                    i += 1
            if code.strip():
                n += 1
    return n


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "..", "src", "main")
    per_file = {}
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith((".scala", ".java")):
                p = os.path.join(d, name)
                per_file[os.path.relpath(p, root)] = count(p)
    for p in sorted(per_file):
        print(f"{per_file[p]:7d}  {p}")
    print(f"{sum(per_file.values()):7d}  total")


if __name__ == "__main__":
    main()
