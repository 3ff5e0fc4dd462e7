#!/usr/bin/env python3
"""Count code lines per Scala file.

A code line is a line that is not blank, not only a `//` comment and not
wholly inside a `/* ... */` block (scaladoc included). Text inside a
one-line string literal never opens or closes a comment.

Usage:
    python3 tools/code_lines.py <file-or-dir>... [--rev <git-rev>]

Directories are searched for `*.scala`. With `--rev`, the files are read
from that git revision instead of the working tree, so before/after
counts of a change come from one command each:

    python3 tools/code_lines.py src/main/scala/graft/streaming --rev HEAD~1
    python3 tools/code_lines.py src/main/scala/graft/streaming

Prints `<count>  <path>` per file, then `<count>  total`.
"""
import argparse
import os
import subprocess
import sys


def code_lines(text):
    count = 0
    in_block = False
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    break
                in_block, i = False, end + 2
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                in_block, i = True, i + 2
            elif line[i] == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            else:
                code = code or not line[i].isspace()
                i += 1
        count += code
    return count


def scala_files(paths, rev):
    for path in paths:
        if rev:
            out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", path],
                                 check=True, capture_output=True, text=True).stdout
            yield from sorted(f for f in out.split() if f.endswith(".scala"))
        elif os.path.isdir(path):
            for root, _, names in sorted(os.walk(path)):
                yield from (os.path.join(root, f) for f in sorted(names) if f.endswith(".scala"))
        else:
            yield path


def read(path, rev):
    if rev:
        return subprocess.run(["git", "show", f"{rev}:{path}"],
                              check=True, capture_output=True, text=True).stdout
    with open(path, encoding="utf-8") as f:
        return f.read()


def main():
    ap = argparse.ArgumentParser(description="Count code lines per Scala file.")
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--rev", help="read the files from this git revision")
    args = ap.parse_args()
    total = 0
    for path in scala_files(args.paths, args.rev):
        n = code_lines(read(path, args.rev))
        total += n
        print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    sys.exit(main())
