#!/usr/bin/env python3
"""Count copy-pasted code in src/main/scala: repeated 6-line windows.

A code line is one that is not blank and does not start (after
leading whitespace) with `//`, `/*` or `*`; lines are compared with
their indentation stripped. A window is 6 consecutive code lines of a
file, joined; it counts when it holds at least 200 characters and its
text occurs at least twice in src/main/scala (in one file or several).

usage: tools/dups.py [<rev>] [--sites <file>]

Prints, per file, how many of its windows are repeated (most first),
then the number of distinct repeated windows. With no revision the
working tree is scanned, untracked files included.

With --sites <file> (a path under the repository root, such as
src/main/scala/graft/queries/MultimodalQueries.scala) it prints instead
every repeated window that occurs in <file>, in the order of its first
line there: the window's first code line, then one `path:line` per
occurrence, the line being that of the window's first code line.
"""
import collections
import os
import subprocess
import sys
from pathlib import Path

ROOT = "src/main/scala"
WINDOW = 6
MIN_CHARS = 200


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def code_lines(text):
    """(line number, stripped text) of each code line."""
    out = []
    for n, line in enumerate(text.splitlines(), 1):
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            out.append((n, s))
    return out


def sources(rev):
    if rev is None:
        out = git("ls-files", "--cached", "--others", "--exclude-standard",
                  "--", ROOT)
        paths = [f for f in out.splitlines() if Path(f).is_file()]
        read = lambda p: Path(p).read_text(encoding="utf-8")
    else:
        paths = git("ls-tree", "-r", "--name-only", rev, "--",
                    ROOT).splitlines()
        read = lambda p: git("show", f"{rev}:{p}")
    for path in sorted(paths):
        if path.endswith(".scala"):
            yield path, read(path)


def main(argv):
    args = argv[1:]
    sites_of = None
    if "--sites" in args:
        i = args.index("--sites")
        if i + 1 >= len(args):
            sys.exit(__doc__.strip())
        sites_of = args[i + 1]
        del args[i:i + 2]
    if len(args) > 1:
        sys.exit(__doc__.strip())
    rev = args[0] if args else None
    # git lists paths relative to the top level
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    where = collections.defaultdict(list)
    for path, text in sources(rev):
        lines = code_lines(text)
        for i in range(len(lines) - WINDOW + 1):
            window = "\n".join(s for _, s in lines[i:i + WINDOW])
            if len(window) >= MIN_CHARS:
                where[window].append((path, lines[i][0]))
    if sites_of is not None:
        print_sites(where, sites_of)
        return
    repeated = [[p for p, _ in sites] for sites in where.values()
                if len(sites) > 1]
    per_file = collections.Counter(p for paths in repeated for p in paths)
    for path, n in sorted(per_file.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {path}")
    print(f"{len(repeated):6d}  distinct repeated windows "
          f"({sum(per_file.values())} occurrences)")


def print_sites(where, path):
    touching = [(min(n for p, n in sites if p == path), window, sites)
                for window, sites in where.items()
                if len(sites) > 1 and any(p == path for p, _ in sites)]
    for _, window, sites in sorted(touching):
        print(window.split("\n", 1)[0])
        for p, n in sites:
            print(f"  {p}:{n}")
    print(f"{len(touching):6d}  repeated windows in {path}")


if __name__ == "__main__":
    main(sys.argv)
