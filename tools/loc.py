#!/usr/bin/env python3
"""Count non-blank, non-comment source lines.

Usage (from the repo root):
    python3 tools/loc.py [file ...]

Prints the total over every `*.scala` file under `src/main`, then one line
per file named on the command line. A line counts unless it is blank, a
`//` line, or inside a `/* ... */` block that starts a line.
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


def main(argv):
    total = sum(count(f) for f in pathlib.Path("src/main").rglob("*.scala"))
    print(f"src/main {total}")
    for f in argv:
        print(f"{f} {count(f)}")


if __name__ == "__main__":
    main(sys.argv[1:])
