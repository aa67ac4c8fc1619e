#!/usr/bin/env python3
"""Compare two `graft.BenchExtra -plans` dumps, query by query.

    python3 scripts/plan_diff.py DIR_A DIR_B

Each DIR holds one `<query>.txt` per query, the formatted physical plan
`BenchExtra -plans DIR q_a q_b ...` writes. Two dumps of the same plan differ
in run-local names only, so both sides are normalised before the compare:

- expression ids (`#123`, `#123L`) become `#N`;
- `plan_id=123` becomes `plan_id=N`;
- object hashes (`@3c8fdf2f`) become `@H`;
- lambda class names (`$$Lambda$6593/0x00007f2951837408`) become `$$Lambda`;
- warehouse table locations (`file:/any/path/spark-warehouse/`) become
  `file:<warehouse>/`, so two checkouts' bucketed index tables compare equal;
- lambda variable names (`lambda x_13#N`, a session-wide counter) become
  `lambda x_N#N`;
- RDD ids (`SQLExecutionRDD[1326]`) become `SQLExecutionRDD[N]`;
- source line numbers of RDD call sites (`Adjacency.scala:76`) become
  `Adjacency.scala:N`.

Prints one line per query, `identical` or `different` (with the first
differing normalised line of each side), plus a line for a query that only
one side dumped. Exits 1 on any difference, 0 when every plan is identical.

Typical use, a change against its parent on the corpus path:

    sbt "runMain graft.BenchExtra -n 1 -plans /tmp/plans_a q_corpus_clean"   # parent
    sbt "runMain graft.BenchExtra -n 1 -plans /tmp/plans_b q_corpus_clean"   # change
    python3 scripts/plan_diff.py /tmp/plans_a /tmp/plans_b
"""
import os
import re
import sys

RULES = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$\$Lambda\$?[\w$]*/0x[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{1,16}\b"), "@H"),
    (re.compile(r"file:[^\s,\]]*/spark-warehouse/"), "file:<warehouse>/"),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_N#"),
    (re.compile(r"(\w+RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(\.scala):\d+"), r"\1:N"),
]


def normalised(path):
    with open(path) as f:
        lines = f.read().splitlines()
    out = []
    for line in lines:
        for pat, rep in RULES:
            line = pat.sub(rep, line)
        out.append(line)
    return out


def queries(d):
    return {n[:-4] for n in os.listdir(d) if n.endswith(".txt")}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = sys.argv[1], sys.argv[2]
    qa, qb = queries(a), queries(b)
    differ = False
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            print(f"{q}: only in {a if q in qa else b}")
            differ = True
            continue
        la = normalised(os.path.join(a, q + ".txt"))
        lb = normalised(os.path.join(b, q + ".txt"))
        if la == lb:
            print(f"{q}: identical")
            continue
        differ = True
        i = next((i for i, (x, y) in enumerate(zip(la, lb)) if x != y), min(len(la), len(lb)))
        print(f"{q}: different (line {i + 1})")
        print(f"  < {la[i] if i < len(la) else '<end of plan>'}")
        print(f"  > {lb[i] if i < len(lb) else '<end of plan>'}")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
