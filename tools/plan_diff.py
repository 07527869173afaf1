#!/usr/bin/env python3
"""Diff two `graft.PlansDump` directories after normalizing run-specific text.

    python3 tools/plan_diff.py <dir_a> <dir_b> [--show N]

PlansDump writes one `<query>_<suffix>.txt` per query; files pair up by the
query name (the name up to the last `_<suffix>`), so two dumps made with
different suffixes compare directly. Before comparing, each plan has these
replaced by fixed tokens:

  - expression ids `#<n>` (and `#<n>L`)          -> `#N`
  - lambda classes `$$Lambda$<n>/0x<hex>@<hex>`   -> `$$Lambda`
  - lambda variables `lambda x_<n>`               -> `lambda x_N`
  - checkpointed RDD leaves `<X>RDD[<n>] at <op> at <File>.scala:<line>`
    (ids follow execution order, lines follow source edits) -> `<rdd>`
  - the per-JVM token of `/tmp/graft-index/<token>-<dir hash>` paths
  - `plan_id=<n>`                                -> `plan_id=N`
  - JVM identity renderings `[J@<hex>` (`[[J@`..) -> `<array>`
  - array digests `long[<n>][]...#<hex>`          -> `<array>`

so a plan that differs only in those is reported identical. Prints one line
per differing or unpaired query and, with `--show N`, the first N lines of
each unified diff. Exit status: 0 when every paired plan is identical and no
query is unpaired, 1 otherwise.
"""
import argparse
import difflib
import os
import re
import sys

_RULES = [
    # array renderings first: a digest's `#<hex>` must not read as an id
    (re.compile(r"\[+[A-Z]@[0-9a-f]+"), "<array>"),
    (re.compile(r"\b[a-z]+\[\d+\](?:\[\])*#[0-9a-f]{16}\b"), "<array>"),
    (re.compile(r"\$\$Lambda\$?[\w/$]*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"\b\w*RDD\[\d+\] at \w+ at [\w$.]+:\d+"), "<rdd>"),
    (re.compile(r"/graft-index/[0-9a-f]+-"), "/graft-index/<jvm>-"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"#\d+L?\b"), "#N"),
]


def normalize(text):
    for pattern, token in _RULES:
        text = pattern.sub(token, text)
    return text


def plans(directory):
    out = {}
    for name in sorted(os.listdir(directory)):
        if name.endswith(".txt"):
            stem = name[:-len(".txt")]
            query = stem.rsplit("_", 1)[0] if "_" in stem else stem
            out[query] = os.path.join(directory, name)
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir_a")
    ap.add_argument("dir_b")
    ap.add_argument("--show", type=int, default=0,
                    help="print the first N lines of each differing plan's diff")
    args = ap.parse_args(argv)
    a, b = plans(args.dir_a), plans(args.dir_b)
    same, differ = 0, []
    for query in sorted(set(a) & set(b)):
        with open(a[query]) as fa, open(b[query]) as fb:
            ta, tb = normalize(fa.read()), normalize(fb.read())
        if ta == tb:
            same += 1
            continue
        differ.append(query)
        print(f"[DIFF] {query}")
        if args.show:
            diff = difflib.unified_diff(ta.splitlines(), tb.splitlines(),
                                        a[query], b[query], lineterm="", n=1)
            for i, line in enumerate(diff):
                if i >= args.show:
                    print("  ...")
                    break
                print("  " + line)
    only_a, only_b = sorted(set(a) - set(b)), sorted(set(b) - set(a))
    for query in only_a:
        print(f"[ONLY-A] {query}")
    for query in only_b:
        print(f"[ONLY-B] {query}")
    print(f"{same} identical, {len(differ)} different, "
          f"{len(only_a)} only in {args.dir_a}, {len(only_b)} only in {args.dir_b}")
    return 0 if not (differ or only_a or only_b) else 1


if __name__ == "__main__":
    sys.exit(main())
