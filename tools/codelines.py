#!/usr/bin/env python3
"""Code lines per Scala file under a source tree, plus the total.

A code line is a line with at least one character outside comments:
blank lines, `//` line comments and `/* ... */` block comments
(scaladoc included, nesting as in Scala) do not count; a line of code
with a trailing comment does. String literals, triple-quoted ones
included, are code, so `//` or `/*` inside SQL text is not a comment.

    python3 tools/codelines.py [root]        # default root: src/main

prints `<lines>  <path>` per file, sorted by path, then `<total>  TOTAL`.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    count = 0
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal (spans lines)
    for line in text.split("\n"):
        has_code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_triple:
                has_code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif line[i] == '"':
                # one-line string literal: skip to its closing quote
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and line[i + 2:i + 3] == "'":
                has_code = True  # a char literal such as '"'
                i += 3
            elif line[i] == "'" and line[i + 1:i + 2] == "\\" and line[i + 3:i + 4] == "'":
                has_code = True  # an escaped char literal such as '\"'
                i += 4
            else:
                if not line[i].isspace():
                    has_code = True
                i += 1
        if has_code:
            count += 1
    return count


def main(argv):
    root = argv[1] if len(argv) > 1 else "src/main"
    rows = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    rows.append((os.path.relpath(p, root), code_lines(fh.read())))
    rows.sort()
    for p, c in rows:
        print(f"{c:7d}  {p}")
    print(f"{sum(c for _, c in rows):7d}  TOTAL")


if __name__ == "__main__":
    main(sys.argv)
