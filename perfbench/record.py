#!/usr/bin/env python3
"""Record the benchmark's pinned expectations and its committed traced runs.

    python3 perfbench/record.py select
        Runs one cold pass over all of SparkEntry.queries and pins, in
        perfbench/catalog.json, the query of least time of each query
        module (see SELECTION_RULE), with every query's time in that pass.

    python3 perfbench/record.py catalog
        Runs catalog_cold twice without expectations and pins, in
        perfbench/catalog.json, the fingerprint of every query on which
        both runs agree. Queries that disagree are reported and unpinned.

    python3 perfbench/record.py traced <workload> [--seed N] [--seconds S]
        Runs the workload untraced, then traced, on the same seed and writes
        perfbench/results/<workload>.json: the end-to-end metrics (untraced),
        the per-layer metrics (traced), the tracing overhead (traced minus
        untraced wall_s), the input facts, and self time per span name from
        the traced run's spans, which it copies to
        perfbench/results/<workload>.spans.jsonl.

Run from the repository root.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def bench(workload, seed, seconds, trace, *extra):
    proc = subprocess.run(RUN + ["--workload", workload, "--seed", str(seed), "--seconds",
                                 str(seconds), "--trace", str(trace), *extra],
                          stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} seed {seed} trace {trace} failed (exit {proc.returncode})")
    return json.loads(lines[-2]), json.loads(lines[-1])


SELECTION_RULE = ("per query module, the query of least time (ties by name) in one cold "
                  "pass over all of SparkEntry.queries, in name order, at data_dir")


def pick(walls):
    """Apply SELECTION_RULE to {query: [module, seconds]}."""
    by_module = defaultdict(list)
    for name, (module, wall) in walls.items():
        by_module[module].append((wall, name))
    return sorted(min(qs)[1] for qs in by_module.values())


def record_selection():
    path = os.path.join(HERE, "catalog.json")
    with open(path) as f:
        catalog = json.load(f)
    facts, _ = bench("catalog_cold", 1, 10, 0, "--all-queries")
    walls = facts["facts"]["query_wall_s"]
    catalog["selection"] = {
        "rule": SELECTION_RULE,
        "full_pass_s": facts["end_to_end"]["wall_s"],
        "query_wall_s": {k: [m, round(w, 3)] for k, (m, w) in sorted(walls.items())},
    }
    catalog["queries"] = {name: None for name in pick(walls)}
    with open(path, "w") as f:
        json.dump(catalog, f, indent=1)
        f.write("\n")
    print(f"selected {len(catalog['queries'])} queries; pin them with: record.py catalog")


def record_catalog():
    path = os.path.join(HERE, "catalog.json")
    with open(path) as f:
        catalog = json.load(f)
    runs = [bench("catalog_cold", 1, 10, 0, "--no-expect")[0]["facts"]["fingerprints"]
            for _ in range(2)]
    pinned = {}
    for name in sorted(catalog["queries"]):
        a, b = runs[0].get(name), runs[1].get(name)
        if a is not None and a == b:
            pinned[name] = a
        else:
            print(f"unpinned {name}: {a} vs {b}", file=sys.stderr)
    catalog["queries"] = pinned
    with open(path, "w") as f:
        json.dump(catalog, f, indent=1)
        f.write("\n")
    print(f"pinned {len(pinned)} fingerprints")


def self_times(spans_path):
    """Per span name: count, inclusive seconds, and self seconds (duration
    minus the part covered by its child spans, Spark jobs and enrich calls
    included)."""
    spans = [json.loads(line) for line in open(spans_path)]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_us"], s["end_us"]))
    table = defaultdict(lambda: {"count": 0, "total_s": 0.0, "self_s": 0.0})
    for s in spans:
        covered, cur = 0, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start_us"]), min(b, s["end_us"])
            if b <= a:
                continue
            if cur and a <= cur[1]:
                cur[1] = max(cur[1], b)
            else:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [a, b]
        if cur:
            covered += cur[1] - cur[0]
        name = s["name"].split("/")[0] if s["name"].startswith("query/") else s["name"]
        row = table[name]
        row["count"] += 1
        row["total_s"] += (s["end_us"] - s["start_us"]) / 1e6
        row["self_s"] += (s["end_us"] - s["start_us"] - covered) / 1e6
    return {k: {"count": v["count"], "total_s": round(v["total_s"], 4),
                "self_s": round(v["self_s"], 4)} for k, v in sorted(table.items())}


def record_traced(workload, seed, seconds):
    untraced_facts, untraced = bench(workload, seed, seconds, 0)
    traced_facts, traced = bench(workload, seed, seconds, 1)
    spans = os.path.join(".bench_out", f"{workload}-seed{seed}.spans.jsonl")
    wall0 = untraced["metrics"]["wall_s"]["value"]
    wall1 = traced_facts["end_to_end"]["wall_s"]
    out = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "end_to_end_untraced": untraced["metrics"],
        "per_layer_traced": traced["metrics"],
        "tracing_overhead_s": round(wall1 - wall0, 4),
        "wall_s": {"untraced": wall0, "traced": wall1},
        "span_self_time": self_times(spans),
        "facts_traced": traced_facts["facts"],
    }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    shutil.copy(spans, os.path.join(HERE, "results", f"{workload}.spans.jsonl"))
    with open(os.path.join(HERE, "results", f"{workload}.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"{workload}: tracing overhead {out['tracing_overhead_s']}s")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("what", choices=("select", "catalog", "traced"))
    ap.add_argument("workload", nargs="?")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    args = ap.parse_args()
    if args.what == "select":
        record_selection()
    elif args.what == "catalog":
        record_catalog()
    else:
        record_traced(args.workload, args.seed, args.seconds)


if __name__ == "__main__":
    main()
