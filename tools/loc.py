#!/usr/bin/env python3
"""Count non-blank, non-comment source lines.

Usage (from the repo root):
    python3 tools/loc.py [file-or-directory ...]

Prints the total over every `*.scala` file under `src/main`, then one line
per path named on the command line: a file's own count, or a directory's
total over the `*.scala` files under it. A line counts unless it is blank,
a `//` line, or inside a `/* ... */` block that starts a line.
"""
import pathlib
import sys


def count(path):
    n = 0
    in_block = False
    for line in pathlib.Path(path).read_text().splitlines():
        s = line.strip()
        if in_block or s.startswith("/*"):
            in_block = "*/" not in s
        elif s and not s.startswith("//"):
            n += 1
    return n


def total(path):
    p = pathlib.Path(path)
    if p.is_dir():
        return sum(count(f) for f in p.rglob("*.scala"))
    return count(p)


def main(argv):
    print(f"src/main {total('src/main')}")
    for f in argv:
        print(f"{f} {total(f)}")


if __name__ == "__main__":
    main(sys.argv[1:])
