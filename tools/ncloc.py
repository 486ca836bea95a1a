#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala (or other C-style) sources.

A line is not counted when, after stripping whitespace, it is blank,
starts with `//`, `/*` or `*`, or lies inside a `/* ... */` block
comment. Everything else counts, including a code line that carries a
trailing comment.

Usage:
    python3 tools/ncloc.py FILE...            # one line per file + total
    python3 tools/ncloc.py --rev REV FILE...  # count the files as of a git revision
"""
import argparse
import subprocess
import sys


def ncloc(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            if "*/" in line:
                in_block = False
            continue
        if not line or line.startswith("//") or line.startswith("*"):
            continue
        if line.startswith("/*"):
            in_block = "*/" not in line[2:]
            continue
        n += 1
    return n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="read the files at this git revision")
    ap.add_argument("files", nargs="+")
    args = ap.parse_args()
    total = 0
    for f in args.files:
        if args.rev:
            text = subprocess.run(["git", "show", f"{args.rev}:{f}"], check=True,
                                  capture_output=True, text=True).stdout
        else:
            with open(f, encoding="utf-8") as fh:
                text = fh.read()
        n = ncloc(text)
        total += n
        print(f"{n:7d} {f}")
    if len(args.files) > 1:
        print(f"{total:7d} total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
