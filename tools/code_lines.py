#!/usr/bin/env python3
"""Code-line counter for the Scala sources: counts non-blank lines,
skipping `//` line comments and every line of a `/* ... */` block
(Scaladoc included). A line that starts code and opens a trailing
block comment still counts. Usage:

    python3 tools/code_lines.py src/main src/main/scala/graft/operators/Scale.scala

Prints one `<count> <path>` line per argument (a directory counts every
`.scala` file under it) and, for more than one argument, a total.
"""
import os
import sys


def count_file(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as fh:
        for raw in fh:
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line
                continue
            n += 1
    return n


def count_path(path):
    if os.path.isfile(path):
        return count_file(path)
    return sum(count_file(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".scala"))


def main(paths):
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        if not os.path.exists(p):
            sys.exit(f"code_lines: no such path: {p}")
        c = count_path(p)
        total += c
        print(f"{c} {p}")
    if len(paths) > 1:
        print(f"{total} total")


if __name__ == "__main__":
    main(sys.argv[1:])
