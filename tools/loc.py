#!/usr/bin/env python3
"""Prints code, comment and blank line counts per source file.

    python3 tools/loc.py [PATH[:FIRST-LAST] ...]

PATH defaults to src/main; a directory is walked for .scala, .java and .py
files. FIRST-LAST limits a file to that 1-based, inclusive line range. A
comment line is one whose first non-blank characters are //, /* or *;
every other non-blank line is code.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def count(path, first=1, last=None):
    code = comment = blank = 0
    with open(path, encoding="utf-8") as f:
        lines = f.read().splitlines()[first - 1:last]
    for line in lines:
        s = line.strip()
        if not s:
            blank += 1
        elif s.startswith(("//", "/*", "*")):
            comment += 1
        else:
            code += 1
    return code, comment, blank


def targets(args):
    for a in args:
        path, _, span = a.partition(":")
        if span:
            first, last = span.split("-")
            yield a, path, int(first), int(last)
        elif os.path.isfile(path):
            yield os.path.relpath(path, ROOT), path, 1, None
        else:
            for d, dirs, names in os.walk(path):
                dirs.sort()
                for n in sorted(names):
                    if n.endswith((".scala", ".java", ".py")):
                        p = os.path.join(d, n)
                        yield os.path.relpath(p, ROOT), p, 1, None


def main():
    args = sys.argv[1:] or [os.path.join(ROOT, "src", "main")]
    total = [0, 0, 0]
    print("%7s %7s %7s  %s" % ("code", "comment", "blank", "file"))
    for name, path, first, last in targets(args):
        c = count(path, first, last)
        total = [a + b for a, b in zip(total, c)]
        print("%7d %7d %7d  %s" % (c + (name,)))
    print("%7d %7d %7d  total" % tuple(total))


if __name__ == "__main__":
    main()
