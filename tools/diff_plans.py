#!/usr/bin/env python3
"""Compare two graft.PlanDump output dirs query by query: the formatted
physical plans must be identical once run-specific ids are stripped
(expression ids `#123`, `plan_id=123`, lambda variable counters `x_12`,
JVM lambda object names, Spark application ids, the warehouse dir, the
session's RDD counter `MapPartitionsRDD[201]` and the source line of an
RDD's call site `at localCheckpoint at Pin.scala:50`).
Usage: python3 tools/diff_plans.py DIR_A DIR_B [only_csv] [-v]
         [--suffix-a S] [--suffix-b S]
Files are matched as <query><suffix>.txt (PlanDump's naming; suffixes
default to ""). Prints one line per differing query with its Exchange,
SortMergeJoin and BroadcastHashJoin line counts on both sides (the
differing lines under -v) and a summary; exits 1 if any plan differs
or is missing on one side."""
import argparse
import difflib
import os
import re
import sys

STRIP = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"local-\d+"), "local-"),
    (re.compile(r"local\d{6,}"), "local"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1_"),
    (re.compile(r"Lambda\$[\d/x0-9a-f]*@[0-9a-f]+"), "Lambda"),
    (re.compile(r"file:\S*/spark-warehouse/"), "spark-warehouse/"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(at \w+ at \w+\.scala):\d+"), r"\1:"),
]

# operators whose counts classify a plan change: a shuffle, and the two
# join strategies a size-statistics change flips between
OPERATORS = ["Exchange", "SortMergeJoin", "BroadcastHashJoin"]
OPERATOR_RE = {op: re.compile(r"\b%s\b" % op) for op in OPERATORS}


def normalize(text):
    for pat, rep in STRIP:
        text = pat.sub(rep, text)
    return text.splitlines()


def operator_counts(lines):
    """Lines naming each of OPERATORS, as 'Exchange 3 SortMergeJoin 0 ...'."""
    return " ".join(f"{op} {sum(bool(OPERATOR_RE[op].search(l)) for l in lines)}"
                    for op in OPERATORS)


def plans(d, suffix):
    tail = suffix + ".txt"
    return {f[: -len(tail)]: os.path.join(d, f)
            for f in os.listdir(d) if f.endswith(tail)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("only", nargs="?")
    ap.add_argument("-v", action="store_true", help="print differing lines")
    ap.add_argument("--suffix-a", default="")
    ap.add_argument("--suffix-b", default="")
    args = ap.parse_args()
    pa, pb = plans(args.a, args.suffix_a), plans(args.b, args.suffix_b)
    only = set(args.only.split(",")) if args.only else None
    qs = sorted(q for q in set(pa) | set(pb) if only is None or q in only)
    same, diff, missing = [], [], []
    for q in qs:
        if q not in pa or q not in pb:
            missing.append(q)
            print(f"MISS {q}: only in {args.a if q in pa else args.b}")
            continue
        la = normalize(open(pa[q], encoding="utf-8").read())
        lb = normalize(open(pb[q], encoding="utf-8").read())
        if la == lb:
            same.append(q)
            continue
        diff.append(q)
        d = [l for l in difflib.unified_diff(la, lb, lineterm="", n=0)
             if l[:1] in "+-" and not l.startswith(("+++", "---"))]
        plus = sum(l.startswith("+") for l in d)
        print(f"DIFF {q}: -{len(d) - plus} +{plus} lines "
              f"({len(la)} vs {len(lb)})")
        print(f"    a: {operator_counts(la)}")
        print(f"    b: {operator_counts(lb)}")
        if args.v:
            for l in d:
                print(f"    {l}")
    print(f"\n{len(same)} identical / {len(diff)} differing / "
          f"{len(missing)} missing over {len(qs)} queries")
    if diff:
        print("differing:", ",".join(diff))
    sys.exit(1 if diff or missing else 0)


if __name__ == "__main__":
    main()
