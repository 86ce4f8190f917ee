#!/usr/bin/env python3
"""Count Scala code lines per file and in total.

A line counts when it is not blank and, after leading whitespace, does
not start with `//`, `*` or `/**` (comment and scaladoc lines).

Usage: python3 tools/loc.py <file-or-dir>...

Directories are walked for `*.scala` files. Prints one `<count> <path>`
line per file, sorted by path, then `<total> total`.
"""
import os
import sys


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return sum(1 for line in f
                   if line.strip()
                   and not line.lstrip().startswith(("//", "*", "/**")))


def scala_files(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                for n in names:
                    if n.endswith(".scala"):
                        yield os.path.join(root, n)
        else:
            yield p


def main(argv):
    if not argv:
        sys.exit("usage: python3 tools/loc.py <file-or-dir>...")
    total = 0
    for f in sorted(set(scala_files(argv))):
        n = code_lines(f)
        total += n
        print(f"{n:7d} {f}")
    print(f"{total:7d} total")


if __name__ == "__main__":
    main(sys.argv[1:])
