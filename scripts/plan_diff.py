#!/usr/bin/env python3
"""Compare two `graft.ExplainAudit` plan dumps query by query.

Usage:
    python3 scripts/plan_diff.py PARENT_DIR CHANGE_DIR [--diff]

Each directory holds one `<query>.txt` per registered query, written by
`runMain graft.ExplainAudit <sf-dir> <out-dir>` (the formatted physical
plan). Before comparing, every plan is normalized so that two builds of
the same plan compare equal:

    expression ids   name#123 / name#123L      -> name#
    lambda variables lambda x_194              -> lambda x_N
    CSE aliases      _common_expr_152          -> _common_expr_N
    plan ids         [plan_id=123]             -> [plan_id=N]
    RDD ids          MapPartitionsRDD[123]     -> MapPartitionsRDD[N]
    lambda objects   X$$$Lambda$46/0x7fd6a1@1f -> X$$$Lambda
    object hashes    graft.operators.CountMin@7b4cba4c -> ...CountMin@<obj>
    call sites       at Behavior.scala:712     -> at <site>
    scratch paths    /tmp/..., spark-local dirs, checkpoint dirs -> <path>

Prints one line per query whose normalized plan differs (`differs`), or
that only one side has (`only in parent` / `only in change`), then a
summary line `<same>/<total> identical`. `--diff` also prints a unified
diff of each differing plan. Exit status 0 only when every query present
on either side has the same normalized plan on both.

Known noise: the plans named in KNOWN_UNSTABLE can differ between two
dumps of the SAME build, so a difference there is marked
`differs (known unstable: ...)`. Re-dump such a query alone on both
builds with `SPARK_GRAFT_ONLY` before reading it as a change.
"""
import argparse
import difflib
import os
import re
import sys

# Queries whose plan is not stable between two dumps of one build.
KNOWN_UNSTABLE = {
    # Several DISTINCT aggregates: the Expand orders its groups by a
    # hash of expression ids.
    "banding_sweep", "cdc_chunks", "cluster_stability_ari", "schema_drift",
    "cramers_v", "friedman_test", "kendall_w",
    # Scale.twoPhaseRunningSum plans its per-bucket carries as a literal
    # array collected at build time.
    "peak_concurrency", "abc_classification", "spearman_matrix",
}

RULES = [
    (re.compile(r"#\d+L?\b"), "#"),
    # Spark numbers lambda variables from one JVM-wide counter, so the
    # names shift with every lambda an earlier query built.
    (re.compile(r"\blambda ([a-z]+)_\d+"), r"lambda \1_N"),
    # Common-subexpression aliases come from a JVM-wide counter too.
    (re.compile(r"\b_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\$Lambda\$?\d*/0x[0-9a-f]+(?:@[0-9a-f]+)?"), "$Lambda"),
    (re.compile(r"(\b[A-Za-z_][\w$]*(?:\.[\w$]+)+)@[0-9a-f]{4,}\b"), r"\1@<obj>"),
    (re.compile(r"\bat [\w$.]+\.(?:scala|java):\d+"), "at <site>"),
    (re.compile(r"(?:file:)?/tmp/[^\s,\]\)]*"), "<path>"),
    (re.compile(r"(?:file:)?/\S*?(?:spark-local|blockmgr|checkpoint)[^\s,\]\)]*"),
     "<path>"),
]


def normalize(text):
    for pattern, repl in RULES:
        text = pattern.sub(repl, text)
    return text


def load(directory):
    plans = {}
    for name in os.listdir(directory):
        if name.endswith(".txt"):
            with open(os.path.join(directory, name)) as f:
                plans[name[:-len(".txt")]] = normalize(f.read())
    return plans


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir", help="ExplainAudit dump of the parent build")
    ap.add_argument("change_dir", help="ExplainAudit dump of the changed build")
    ap.add_argument("--diff", action="store_true",
                    help="print a unified diff of each differing plan")
    args = ap.parse_args()

    parent, change = load(args.parent_dir), load(args.change_dir)
    names = sorted(set(parent) | set(change))
    same = 0
    for name in names:
        if name not in change:
            print(f"{name} only in parent")
        elif name not in parent:
            print(f"{name} only in change")
        elif parent[name] != change[name]:
            note = (" (known unstable: re-dump alone with SPARK_GRAFT_ONLY)"
                    if name in KNOWN_UNSTABLE else "")
            print(f"{name} differs{note}")
            if args.diff:
                sys.stdout.writelines(difflib.unified_diff(
                    parent[name].splitlines(True), change[name].splitlines(True),
                    f"parent/{name}", f"change/{name}"))
        else:
            same += 1
    print(f"{same}/{len(names)} identical")
    return 0 if same == len(names) else 1


if __name__ == "__main__":
    sys.exit(main())
