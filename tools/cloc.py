#!/usr/bin/env python3
"""Count code lines in the tracked files under src/.

A line counts when it is not blank and holds something outside `//` and
`/* */` comments. Text inside string literals is code, so a line of a
multi-line SQL string counts even when it looks like a comment.

Usage: python3 tools/cloc.py [git-rev]
  With no revision the working tree's tracked files under src/ are read;
  with one, the files as they are at that revision.
Prints main, test and total line counts.
"""
import subprocess
import sys


def code_lines(text):
    """Number of lines that carry code (see the module docstring)."""
    n = 0
    depth = 0              # /* */ nesting (Scala block comments nest)
    in_triple = False      # inside a """ string, which spans lines
    for line in text.split("\n"):
        has_code = False
        i = 0
        in_str = False     # inside a one-line "..." string
        while i < len(line):
            if depth > 0:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if in_triple:
                has_code = True
                if line.startswith('"""', i):
                    # a closing """ may carry extra quotes: """" ends
                    # with one literal quote inside the string
                    j = i + 3
                    while j < len(line) and line[j] == '"':
                        j += 1
                    in_triple = False
                    i = j
                else:
                    i += 1
                continue
            if in_str:
                has_code = True
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_str = False
                    i += 1
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_triple = True
                has_code = True
                i += 3
                continue
            if c == '"':
                in_str = True
                has_code = True
                i += 1
                continue
            if c == "'" and i + 2 < len(line):
                # character literal: 'x' or '\n' (a quote must not open
                # a string); symbols like 'foo are left alone
                if line[i + 1] == "\\" and i + 3 < len(line) \
                        and line[i + 3] == "'":
                    has_code = True
                    i += 4
                    continue
                if line[i + 2] == "'":
                    has_code = True
                    i += 3
                    continue
            if not c.isspace():
                has_code = True
            i += 1
        if has_code or (in_triple and line.strip()):
            n += 1
    return n


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else None
    if rev:
        files = subprocess.check_output(
            ["git", "ls-tree", "-r", "--name-only", rev, "src"],
            text=True).split()
    else:
        files = subprocess.check_output(
            ["git", "ls-files", "src"], text=True).split()
    counts = {"main": 0, "test": 0}
    for f in files:
        if rev:
            text = subprocess.check_output(
                ["git", "show", f"{rev}:{f}"], text=True)
        else:
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
        kind = "test" if f.startswith("src/test/") else "main"
        counts[kind] += code_lines(text)
    print(f"main  {counts['main']}")
    print(f"test  {counts['test']}")
    print(f"total {counts['main'] + counts['test']}")


if __name__ == "__main__":
    main()
