#!/usr/bin/env python3
"""Count repeated code blocks in the main Scala sources.

Usage: python3 tools/dup_blocks.py [--min N] [--top K] [ROOT]

ROOT defaults to src/main. Every *.scala file under it is read in sorted path
order. Blank lines and comment lines (starting with //, /*, * or */ once
leading whitespace is stripped) are dropped, and the rest are compared with
leading and trailing whitespace stripped, so a block pasted at another
indentation still counts as a copy.

A line counts as repeated when it lies in a run of N (default 6) consecutive
kept lines of one file that is identical to a run seen earlier in the scan
(earlier in the same file, without overlap, or in an earlier file). The
script prints that count, the number of kept lines, and the K (default 15)
places with the longest repeated runs, each with the place it copies.
"""

import argparse
import os
import sys


def kept_lines(path):
    out = []
    in_block = False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//") or s.startswith("*"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            out.append((no, s))
    return out


def scan(root, n):
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".scala")
    )
    seen = {}  # window text -> (file, index of first line, first line no)
    repeated = {}  # file -> set of kept-line indexes that repeat
    runs = []  # (length, file, line no, copied file, copied line no)
    total = 0
    for path in files:
        lines = kept_lines(path)
        total += len(lines)
        marks = repeated.setdefault(path, set())
        run_start, run_src = None, None
        for i in range(len(lines) - n + 1):
            key = "\n".join(s for _, s in lines[i:i + n])
            first = seen.get(key)
            if first is not None and (first[0] != path or first[1] + n <= i):
                marks.update(range(i, i + n))
                if run_start is None:
                    run_start, run_src = i, first
            else:
                if run_start is not None:
                    runs.append((i - 1 + n - run_start, path,
                                 lines[run_start][0], run_src[0], run_src[2]))
                    run_start = None
                if first is None:
                    seen[key] = (path, i, lines[i][0])
        if run_start is not None:
            runs.append((len(lines) - run_start, path, lines[run_start][0],
                         run_src[0], run_src[2]))
    count = sum(len(m) for m in repeated.values())
    return count, total, runs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default="src/main")
    ap.add_argument("--min", type=int, default=6, help="block length N")
    ap.add_argument("--top", type=int, default=15, help="sites to list")
    a = ap.parse_args()
    if not os.path.isdir(a.root):
        sys.exit(f"no such directory: {a.root}")
    count, total, runs = scan(a.root, a.min)
    print(f"repeated lines: {count} of {total} non-comment lines "
          f"(blocks of >= {a.min} identical lines)")
    runs.sort(key=lambda r: (-r[0], r[1], r[2]))
    for length, path, line, src, src_line in runs[:a.top]:
        print(f"{length:5d}  {path}:{line}  copies {src}:{src_line}")


if __name__ == "__main__":
    main()
