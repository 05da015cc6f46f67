#!/usr/bin/env python3
"""Compare the physical plans of two `graft.Profile --plans` runs.

  python3 tools/plandiff.py [--diff] DIR_A DIR_B

DIR_A and DIR_B are `plans/<tag>/` directories written by
`graft.Profile --reps 1 --plans <tag> <sfDir>`: one formatted
`explain` per query, `<query>.txt`. Before comparing, the numbers a
run assigns on its own are blanked:

  - expression ids (`user_id#1124L` -> `user_id#L`);
  - exchange ids (`[plan_id=767]`);
  - RDD ids (`MapPartitionsRDD[3262]`);
  - the run-private warehouse directory (`file:/tmp/graft-wh123/...`);
  - JVM object identities that a plan prints for a lambda or a UDAF
    (`Multimodal$$$Lambda$8154/0x00007fbd...@12612d5e`,
    `UdxQueries$GeomMean$@6f684bde`).

Prints each query whose plan differs, or that only one side has, then
one summary line. `--diff` also prints a unified diff of each differing
plan. Exits 1 when any query differs, else 0.
"""
import difflib
import os
import re
import sys

BLANKS = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"\S*graft-wh\d+"), "<warehouse>"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]+\b"), "@"),
]


def normalized(path):
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    for pattern, repl in BLANKS:
        text = pattern.sub(repl, text)
    return text.splitlines()


def plans(d):
    return {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}


def main(argv):
    show = "--diff" in argv
    args = [a for a in argv if a != "--diff"]
    if len(args) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = args
    qa, qb = plans(a), plans(b)
    differ = 0
    for q in sorted(qa | qb):
        if q not in qb or q not in qa:
            print(f"ONLY {a if q in qa else b}: {q}")
            differ += 1
            continue
        la = normalized(os.path.join(a, q + ".txt"))
        lb = normalized(os.path.join(b, q + ".txt"))
        if la != lb:
            print(f"DIFF {q}")
            differ += 1
            if show:
                sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                    la, lb, f"{a}/{q}.txt", f"{b}/{q}.txt", lineterm=""))
    print(f"plandiff: {differ} of {len(qa | qb)} plans differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
