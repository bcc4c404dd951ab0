#!/usr/bin/env python3
"""Count code lines per file and in total.

A line counts when something other than whitespace is left on it after
comments are removed. Blank lines and lines that hold only comment text
do not count. Scala and Java files drop `//` line comments and `/* */`
block comments (nested, as Scala nests them, so scaladoc counts as
comment); Python files drop `#` comments. String literals, triple-quoted
ones included, are code: a `//` or `#` inside one starts no comment.

Usage:
    python3 tools/code_lines.py [--rev REV] PATH [PATH ...]

PATH is a file or a directory (walked for .scala, .java and .py files).
With `--rev`, files are read from that git revision (`git ls-tree` and
`git show`) instead of the worktree, so a parent and a change can be
counted without a checkout:

    python3 tools/code_lines.py --rev HEAD~1 src/main
    python3 tools/code_lines.py src/main/scala/graft/operators/Features.scala

Prints one `<count>  <path>` line per file, sorted by path, then
`<count>  total`.
"""

import argparse
import os
import subprocess
import sys

EXTENSIONS = (".scala", ".java", ".py")


def code_lines_c(text):
    """Code lines of Scala/Java source: `//`, nested `/* */` removed."""
    count = 0
    depth = 0          # block-comment nesting depth
    in_triple = False  # inside a """...""" literal
    for line in text.split("\n"):
        code = False
        i, n = 0, len(line)
        while i < n:
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_triple:
                code = True
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple = False
                i = end + 3
                continue
            c = line[i]
            if c.isspace():
                i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code = True
                in_triple = True
                i += 3
            elif c == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and (line.startswith("\\", i + 1) or
                               line.startswith("'", i + 2)):
                # a character literal: 'x' or '\n' / 'A'
                code = True
                end = line.find("'", i + 2 if line[i + 1] != "\\" else i + 3)
                i = n if end < 0 else end + 1
            else:
                code = True
                i += 1
        if code:
            count += 1
    return count


def code_lines_py(text):
    """Code lines of Python source: `#` comments removed."""
    count = 0
    quote = None  # the open triple quote, if any
    for line in text.split("\n"):
        code = False
        i, n = 0, len(line)
        while i < n:
            if quote:
                code = True
                end = line.find(quote, i)
                if end < 0:
                    break
                i = end + 3
                quote = None
                continue
            c = line[i]
            if c.isspace():
                i += 1
            elif c == "#":
                break
            elif line.startswith('"""', i) or line.startswith("'''", i):
                code = True
                quote = line[i:i + 3]
                i += 3
            elif c in "\"'":
                code = True
                i += 1
                while i < n and line[i] != c:
                    i += 2 if line[i] == "\\" else 1
                i += 1
            else:
                code = True
                i += 1
        if code:
            count += 1
    return count


def count(path, text):
    return (code_lines_py if path.endswith(".py") else code_lines_c)(text)


def worktree_files(path):
    if os.path.isfile(path):
        return [path]
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found += [os.path.join(root, f) for f in files
                  if f.endswith(EXTENSIONS)]
    return found


def rev_files(rev, path):
    out = subprocess.run(
        ["git", "ls-tree", "-r", "--name-only", rev, "--", path],
        check=True, capture_output=True, text=True).stdout
    return [f for f in out.splitlines()
            if f == path or f.endswith(EXTENSIONS)]


def read(rev, path):
    if rev is None:
        with open(path, encoding="utf-8") as f:
            return f.read()
    return subprocess.run(["git", "show", f"{rev}:{path}"], check=True,
                          capture_output=True, text=True).stdout


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rev", help="git revision to read instead of the "
                    "worktree")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args(argv)
    files = set()
    for p in args.paths:
        p = os.path.normpath(p)
        listed = worktree_files(p) if args.rev is None else rev_files(args.rev, p)
        if not listed:
            sys.exit(f"code_lines: no source files at {p}")
        files.update(listed)
    total = 0
    for f in sorted(files):
        n = count(f, read(args.rev, f))
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
