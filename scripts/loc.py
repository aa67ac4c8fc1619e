#!/usr/bin/env python3
"""Net lines of Scala code in src/main and src/test, working tree vs a revision.

    python3 scripts/loc.py [REV]

REV defaults to HEAD and is read through `git show`, so it needs no checkout.
A code line is a non-blank line that, once stripped, starts with none of
`//`, `/*` or `*`. Physical lines are printed beside the code lines. Only
`*.scala` files count; the test fixtures under src/test/resources do not.
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def count(text):
    lines = text.splitlines()
    code = sum(1 for l in lines
               if l.strip() and not l.strip().startswith(("//", "/*", "*")))
    return code, len(lines)


def git(*args):
    return subprocess.run(["git", *args], cwd=REPO, check=True,
                          stdout=subprocess.PIPE, text=True).stdout


def at_rev(rev, root):
    code = phys = 0
    for path in git("ls-tree", "-r", "--name-only", rev, "--", root).split():
        if path.endswith(".scala"):
            c, p = count(git("show", f"{rev}:{path}"))
            code, phys = code + c, phys + p
    return code, phys


def in_tree(root):
    code = phys = 0
    for d, _, files in os.walk(os.path.join(REPO, root)):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    c, p = count(fh.read())
                code, phys = code + c, phys + p
    return code, phys


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    print(f"{'':<10}{'code ' + rev:>16}{'code tree':>12}{'delta':>8}"
          f"{'phys ' + rev:>16}{'phys tree':>12}{'delta':>8}")
    total = [0, 0, 0, 0]
    for root in ROOTS:
        (rc, rp), (tc, tp) = at_rev(rev, root), in_tree(root)
        total = [a + b for a, b in zip(total, (rc, tc, rp, tp))]
        print(f"{root:<10}{rc:>16,}{tc:>12,}{tc - rc:>+8,}{rp:>16,}{tp:>12,}{tp - rp:>+8,}")
    rc, tc, rp, tp = total
    print(f"{'total':<10}{rc:>16,}{tc:>12,}{tc - rc:>+8,}{rp:>16,}{tp:>12,}{tp - rp:>+8,}")


if __name__ == "__main__":
    main()
