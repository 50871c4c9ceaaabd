#!/usr/bin/env python3
"""Non-blank Scala line counts for src/main and src/test.

  python3 tools/loc.py              # working tree: per file and totals
  python3 tools/loc.py REV          # the same at a git revision
  python3 tools/loc.py REV1 REV2    # diff: changed files and totals, REV1 -> REV2

Run from anywhere inside the repository. A revision is anything
`git rev-parse` accepts (a commit, a branch, HEAD~1).
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True).stdout


def nonblank(data):
    return sum(1 for line in data.decode("utf-8", "replace").splitlines() if line.strip())


def counts(rev=None):
    """{path: non-blank lines} for every .scala file under ROOTS."""
    if rev is None:
        paths = [os.path.join(d, f) for root in ROOTS for d, _, fs in os.walk(root) for f in fs]
        return {p: nonblank(open(p, "rb").read()) for p in paths if p.endswith(".scala")}
    paths = git("ls-tree", "-r", "--name-only", rev, "--", *ROOTS).decode().split()
    return {p: nonblank(git("show", f"{rev}:{p}")) for p in paths if p.endswith(".scala")}


def totals(c):
    return {root: sum(n for p, n in c.items() if p.startswith(root + "/")) for root in ROOTS}


def show(c):
    for p in sorted(c):
        print(f"{c[p]:7d}  {p}")
    for root, n in totals(c).items():
        print(f"{n:7d}  total {root}")


def diff(a, b):
    for p in sorted(set(a) | set(b)):
        old, new = a.get(p, 0), b.get(p, 0)
        if old != new:
            print(f"{old:7d} -> {new:7d}  {new - old:+6d}  {p}")
    ta, tb = totals(a), totals(b)
    for root in ROOTS:
        print(f"{ta[root]:7d} -> {tb[root]:7d}  {tb[root] - ta[root]:+6d}  total {root}")


def main(argv):
    os.chdir(git("rev-parse", "--show-toplevel").decode().strip())
    if len(argv) > 2 or any(a in ("-h", "--help") for a in argv):
        sys.exit(__doc__)
    if len(argv) == 2:
        diff(counts(argv[0]), counts(argv[1]))
    else:
        show(counts(argv[0] if argv else None))


if __name__ == "__main__":
    main(sys.argv[1:])
