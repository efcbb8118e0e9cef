#!/usr/bin/env python3
"""List the blocks that differ between two PlanDump or RouteDump files.

Usage: python3 tools/dump_diff.py A B

graft.PlanDump and graft.RouteDump both write one block per query or
request: a header line starting with `== ` (the query's registry entry, or
`== POST <path> <body>`), then the block's body (the optimized plan, or the
status and response body). Blocks are matched by header; a header that occurs
more than once is matched by occurrence.

For each block whose body differs, the script prints `differs:` with the
header and the changed lines (a unified diff without context). For each block
present in one file only, it prints `only in A:` or `only in B:` with the
header. The last line counts blocks compared and blocks differing. Exit code:
0 when the two files hold the same blocks, 1 on any difference.
"""
import difflib
import sys


def blocks(path):
    """Ordered (key, header, body lines); key = (header, occurrence)."""
    out, seen = [], {}
    header, body = None, []
    with open(path, encoding="utf-8") as f:
        for line in f.read().splitlines():
            if line.startswith("== "):
                if header is not None:
                    out.append((header, body))
                header, body = line, []
            elif header is not None:
                body.append(line)
    if header is not None:
        out.append((header, body))
    keyed = []
    for h, b in out:
        seen[h] = seen.get(h, 0) + 1
        keyed.append(((h, seen[h]), h, b))
    return keyed


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a = blocks(argv[1])
    b = {k: body for k, _, body in blocks(argv[2])}
    a_keys = {k for k, _, _ in a}
    differing = 0
    for key, header, body in a:
        if key not in b:
            print(f"only in A: {header}")
            differing += 1
        elif body != b[key]:
            print(f"differs: {header}")
            for d in difflib.unified_diff(body, b[key], "A", "B", n=0, lineterm=""):
                if not d.startswith(("---", "+++", "@@")):
                    print(f"  {d}")
            differing += 1
    for key, header, _ in blocks(argv[2]):
        if key not in a_keys:
            print(f"only in B: {header}")
            differing += 1
    print(f"{len(a_keys | set(b))} blocks, {differing} differing")
    return 1 if differing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
