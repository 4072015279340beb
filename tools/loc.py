#!/usr/bin/env python3
"""Net code-line delta of src/main/scala between two git revisions.

A code line is one that is not blank and does not start (after
leading whitespace) with `//`, `/*` or `*`.

usage: tools/loc.py <base-rev> [<rev>]

Prints one line per changed file (base, new, delta) and the total.
With no second revision the working tree is compared, untracked
files included.
"""
import os
import subprocess
import sys
from pathlib import Path

ROOT = "src/main/scala"


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def code_lines(text):
    n = 0
    for line in text.splitlines():
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def files_at(rev):
    if rev is None:
        out = git("ls-files", "--cached", "--others", "--exclude-standard",
                  "--", ROOT)
        return {f for f in out.splitlines() if Path(f).is_file()}
    return set(git("ls-tree", "-r", "--name-only", rev, "--", ROOT)
               .splitlines())


def count(rev, path):
    if rev is None:
        return code_lines(Path(path).read_text(encoding="utf-8"))
    return code_lines(git("show", f"{rev}:{path}"))


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip())
    base, rev = argv[1], (argv[2] if len(argv) == 3 else None)
    # git lists paths relative to the top level
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    old, new = files_at(base), files_at(rev)
    total_old = total_new = 0
    rows = []
    for path in sorted(old | new):
        if not path.endswith(".scala"):
            continue
        a = count(base, path) if path in old else 0
        b = count(rev, path) if path in new else 0
        total_old += a
        total_new += b
        if a != b:
            rows.append((path, a, b))
    for path, a, b in rows:
        print(f"{b - a:+6d}  {a:6d} -> {b:6d}  {path}")
    print(f"{total_new - total_old:+6d}  {total_old:6d} -> {total_new:6d}  "
          f"total ({len(rows)} file(s) changed)")


if __name__ == "__main__":
    main(sys.argv)
