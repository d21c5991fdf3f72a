#!/usr/bin/env python3
"""Count code lines per Scala file under a source root (default src/main).

A code line is any line that is not blank, not a `//` comment line, and
not inside a `/* ... */` or scaladoc `/** ... */` block. A line holding
code before or after a comment still counts as code.

Usage: python3 scripts/loc.py [path ...]
Each path is a directory (every .scala file under it) or a .scala file.
Prints "<code lines>  <path>" per file, sorted by path, then the total;
exits 1 without counting if a path does not exist.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            code = False
            while s:
                if in_block:
                    end = s.find("*/")
                    if end < 0:
                        s = ""
                    else:
                        in_block = False
                        s = s[end + 2:].strip()
                elif s.startswith("//"):
                    s = ""
                elif s.startswith("/*"):
                    in_block = True
                    s = s[2:]
                else:
                    code = True
                    s = ""
            n += code
    return n


def main(roots):
    missing = [r for r in roots if not os.path.exists(r)]
    if missing:
        sys.exit(f"loc.py: no such path: {', '.join(missing)}")
    total = 0
    for root in roots:
        files = [root] if os.path.isfile(root) and root.endswith(".scala") else []
        for d, _, names in os.walk(root):
            files += [os.path.join(d, x) for x in names if x.endswith(".scala")]
        for p in sorted(files):
            c = code_lines(p)
            total += c
            print(f"{c:7d}  {p}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main"])
