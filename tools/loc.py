#!/usr/bin/env python3
"""Code-line count for the Scala sources: `/* ... */` blocks (scaladoc
included) and `//` comments are stripped, then non-blank lines are counted
per file and in total for src/main and src/test.

    python3 tools/loc.py [repo_root]

Comments are not code, so deleting them is not a reduction by this count.
"""
import os
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)
LINE = re.compile(r"//.*")


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        text = BLOCK.sub("", f.read())
    return sum(1 for ln in text.splitlines() if LINE.sub("", ln).strip())


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    for tree in ("src/main", "src/test"):
        base = os.path.join(root, tree)
        counts = {}
        for d, _, names in os.walk(base):
            for n in names:
                if n.endswith(".scala"):
                    p = os.path.join(d, n)
                    counts[os.path.relpath(p, root)] = code_lines(p)
        for p, n in sorted(counts.items(), key=lambda kv: -kv[1]):
            print(f"{n:7d}  {p}")
        print(f"{sum(counts.values()):7d}  {tree} ({len(counts)} files)")


if __name__ == "__main__":
    main()
