#!/usr/bin/env python3
"""Count code lines of the Scala sources, per file and in total.

Usage (from the repository root):
  python3 tools/loc.py [ROOT...]        # default roots: src/main src/test

A code line is a line with at least one character outside a comment:
blank lines, `//` line comments and `/* ... */` block comments
(scaladoc included) do not count. A `//` or `/*` inside a string
literal (plain or triple-quoted) is not a comment. Prints one
`<lines>  <path>` row per file, largest first, then a total per root.
"""
import os
import sys


def code_lines(text):
    n = 0
    depth = 0          # block-comment nesting (Scala comments nest)
    in_str = None      # None, '"' or '"""'
    for line in text.split("\n"):
        code = False
        i = 0
        while i < len(line):
            c = line[i]
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_str:
                code = True
                if in_str == '"' and c == "\\":
                    i += 2
                elif line.startswith(in_str, i):
                    i += len(in_str)
                    in_str = None
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if not c.isspace():
                code = True
            if line.startswith('"""', i):
                in_str = '"""'
                i += 3
            elif c == '"':
                in_str = '"'
                i += 1
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                i += 3      # a char literal such as '"'
            else:
                i += 1
        if in_str == '"':
            in_str = None   # a plain string never spans lines
        n += code
    return n


def main():
    roots = sys.argv[1:] or ["src/main", "src/test"]
    for root in roots:
        rows = []
        for d, _, files in os.walk(root):
            for f in files:
                if f.endswith((".scala", ".java")):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8") as fh:
                        rows.append((code_lines(fh.read()), p))
        for n, p in sorted(rows, key=lambda r: (-r[0], r[1])):
            print(f"{n:7d}  {p}")
        print(f"{sum(n for n, _ in rows):7d}  total {root} ({len(rows)} files)")


if __name__ == "__main__":
    main()
