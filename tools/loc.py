#!/usr/bin/env python3
"""Count blank, comment and code lines per source file and in total.

Usage: python3 tools/loc.py [path ...]      (default: src/main)

A path may be a file or a directory; directories are walked for
.scala, .java and .py files. A line is blank when it holds only
whitespace. It is a comment line when, after trimming, it starts with
`//`, `/*` or `*`, or when it lies inside a `/* ... */` block. Every
other line is code.
"""
import os
import sys

EXTENSIONS = (".scala", ".java", ".py")


def count(path):
    blank = comment = code = 0
    in_block = False
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if s:
                    comment += 1
                else:
                    blank += 1
                if "*/" in s:
                    in_block = False
                continue
            if not s:
                blank += 1
            elif s.startswith(("//", "/*", "*")):
                comment += 1
                if s.startswith("/*") and "*/" not in s[2:]:
                    in_block = True
            else:
                code += 1
    return blank, comment, code


def files_under(root):
    if os.path.isfile(root):
        yield root
        return
    for d, dirs, names in os.walk(root):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(EXTENSIONS):
                yield os.path.join(d, n)


def main(argv):
    roots = argv or ["src/main"]
    total = [0, 0, 0]
    print(f"{'blank':>7} {'comment':>7} {'code':>7}  file")
    for root in roots:
        if not os.path.exists(root):
            sys.exit(f"loc.py: no such path: {root}")
        for p in files_under(root):
            b, c, k = count(p)
            total[0] += b
            total[1] += c
            total[2] += k
            print(f"{b:>7} {c:>7} {k:>7}  {p}")
    print(f"{total[0]:>7} {total[1]:>7} {total[2]:>7}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
