#!/usr/bin/env python3
"""Line tally of the Scala sources, two trees side by side.

For `src/main` and `src/test` (the `*.scala` files under each) prints
the total line count and the non-blank non-comment line count of both
trees and their deltas. A comment line is one whose first non-blank
characters are `//`, `/*` or `*` (a `//` line or a scaladoc / block
comment line); a line that starts with code and ends in a comment
counts as code.

Usage:
  python3 tools/loc.py                  # HEAD against the working tree
  python3 tools/loc.py <revA>           # revA against the working tree
  python3 tools/loc.py <revA> <revB>    # revA against revB
Run from the root of the repository.
"""
import os
import subprocess
import sys

DIRS = ["src/main", "src/test"]


def tally(texts):
    """(lines, non-blank non-comment lines) over an iterable of file texts."""
    lines = code = 0
    for text in texts:
        rows = text.split("\n")
        if text.endswith("\n"):
            rows = rows[:-1]
        lines += len(rows)
        for row in rows:
            s = row.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
    return lines, code


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def rev_texts(rev, d):
    names = git("ls-tree", "-r", "--name-only", rev, "--", d).split("\n")
    return (git("show", f"{rev}:{n}") for n in names if n.endswith(".scala"))


def tree_texts(d):
    for root, _, files in os.walk(d):
        for f in sorted(files):
            if f.endswith(".scala"):
                with open(os.path.join(root, f), encoding="utf-8") as h:
                    yield h.read()


def side(rev, d):
    return tally(rev_texts(rev, d) if rev else tree_texts(d))


def main(argv):
    if len(argv) > 2:
        sys.exit(__doc__)
    rev_a = argv[0] if argv else "HEAD"
    rev_b = argv[1] if len(argv) > 1 else None
    print(f"{rev_a} -> {rev_b or 'working tree'}")
    print(f"{'':10} {'lines':>28}   {'non-blank non-comment':>28}")
    for d in DIRS:
        (la, ca), (lb, cb) = side(rev_a, d), side(rev_b, d)
        cells = [f"{a:,} -> {b:,} ({b - a:+,})" for a, b in ((la, lb), (ca, cb))]
        print(f"{d:10} {cells[0]:>28}   {cells[1]:>28}")


if __name__ == "__main__":
    main(sys.argv[1:])
