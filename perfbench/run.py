#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles
`src/main/scala` and `perfbench/scala` with the Scala compiler shipped in
Spark's jars into `$CARGO_TARGET_DIR` (default `.bench_build`); later runs
reuse the classes while the sources are unchanged.

Each run starts fresh JVMs, each with its own `java.io.tmpdir`,
`SPARK_LOCAL_DIRS` and warehouse under `.bench_runs/`, deleted afterwards.
The workload JVM sets up, runs the workload, checks every output and writes
its numbers. An untraced run first starts one more JVM that only sets up:
`setup_s` is the median of the two cold set-ups, so their mean. This script
prints a line of run facts and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json, with
`--trace 1` the per-layer ones; a traced run also leaves its spans in
`.bench_out/<workload>-seed<n>.spans.jsonl`. Exit code 0 means the outputs
were correct.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import inputs  # noqa: E402

WORKLOADS = ("catalog_cold", "enrich_api")
# The stub API's answer delay: long enough that waiting on the API, not host
# CPU, makes up most of an enrich_api iteration.
STUB_DELAY_MS = 10
SETUP_ONLY_JVMS = 1  # cold set-ups per untraced run besides the workload JVM's
RUN_LIMIT_S = 170  # the whole run, build excluded
FULL_PASS_LIMIT_S = 900  # --all-queries

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """Spark's jars: the directory the program's build.sbt compiles against
    (`unmanagedBase`), else $SPARK_HOME/jars."""
    dirs = []
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in dirs:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return os.path.join(d, "*")
    fail("no Spark jars with a Scala compiler found (build.sbt unmanagedBase or SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no program sources under src/main/scala: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build(root, jars):
    """Compile the program and the benchmark once per source digest."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    target = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(target, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(target, exist_ok=True)
    for stale in glob.glob(os.path.join(target, "classes-*")):
        shutil.rmtree(stale, ignore_errors=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", jars, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, classes)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def tree_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(d, name))
            except OSError:
                pass
    return total


def remove_orphans(runs):
    """Delete run directories left by runs whose process is gone."""
    for path in glob.glob(os.path.join(runs, "*-*")):
        try:
            os.kill(int(path.rsplit("-", 1)[1]), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(path, ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(cfg, classes, jars, run_dir, timeout_s):
    """Start one PerfBench JVM in `run_dir` (its tmpdir, local dirs and
    warehouse live there) and return its result.json, or None and why."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cfg = dict(cfg, run_dir=run_dir)
    cfg_path = os.path.join(run_dir, "run.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    # no more task threads than cores: LocalSessions defaults to local[4]
    env.setdefault("SPARK_GRAFT_CPUS", str(min(4, os.cpu_count() or 1)))
    # A fixed 3 GB heap, whatever the environment asks, so that runs compare.
    # Peak RSS should follow allocation, not host timing: a fixed young
    # generation stops adaptive young sizing, and a GC time target of 50%
    # stops G1 from growing the heap after a burst of pauses (with the default
    # target, one catalog_cold run in three grew it from 1 GB to 1.5 GB).
    cmd = (["java", "-Xmx3g", "-Xmn1g", "-XX:GCTimeRatio=1"] +
           [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dsun.net.httpserver.nodelay=true",
            "-cp", classes + os.pathsep + jars, "perfbench.PerfBench", cfg_path])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)

        def stop(*_):
            proc.kill()
            proc.wait()
            sys.exit(3)
        signal.signal(signal.SIGTERM, stop)
        try:
            code = proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        return None, f"JVM exit {code}"
    with open(result_path) as f:
        return json.load(f), None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--no-expect", action="store_true",
                    help="catalog_cold: do not compare fingerprints (to record them)")
    ap.add_argument("--all-queries", action="store_true",
                    help="catalog_cold: pass over all of SparkEntry.queries without "
                         "expectations (to select the pinned slice)")
    args = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars(root)
    classes = build(root, jars)
    t_start = time.time()

    runs = os.path.join(root, ".bench_runs")
    remove_orphans(runs)
    run_dir = os.path.join(runs, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    limit_s = FULL_PASS_LIMIT_S if args.all_queries else RUN_LIMIT_S
    try:
        cfg = {"workload": args.workload, "trace": bool(args.trace),
               "per_layer": [m["name"] for m in spec["per_layer"]]}
        facts = {"workload": args.workload, "seed": args.seed}
        if args.workload == "catalog_cold":
            with open(os.path.join(HERE, "catalog.json")) as f:
                catalog = json.load(f)
            data = os.path.join(root, catalog["data_dir"])
            cfg.update(data_dir=data, queries=[] if args.all_queries else sorted(catalog["queries"]),
                       expected={} if args.no_expect or args.all_queries else catalog["queries"],
                       warmup_path=os.path.join(data, "lineitem.parquet"))
        else:
            gen_dir = os.path.join(run_dir, "input")
            facts["input"] = inputs.generate(args.seed, gen_dir)
            path = os.path.join(gen_dir, facts["input"]["file"])
            cfg.update(input=path, expected_tsv=os.path.join(gen_dir, "expected.tsv"),
                       template=inputs.TEMPLATE, system_prompt=inputs.SYSTEM_PROMPT,
                       stub_delay_ms=STUB_DELAY_MS, warmup_path=path)
        setups = []
        for k in range(0 if args.trace else SETUP_ONLY_JVMS):
            done, err = run_jvm(dict(cfg, workload="setup"), classes, jars,
                                os.path.join(run_dir, f"setup-{k}"),
                                limit_s - (time.time() - t_start))
            if done is None:
                fail(err, 1)
            setups.append(done["end_to_end"]["setup_s"])
        work_dir = os.path.join(run_dir, "work")
        result, err = run_jvm(cfg, classes, jars, work_dir, limit_s - (time.time() - t_start))
        if result is None:
            fail(err, 1)
        setups.append(result["end_to_end"]["setup_s"])
        result["end_to_end"]["setup_s"] = statistics.median(setups)
        result["facts"]["setup_samples_s"] = setups
        if args.trace:
            result["per_layer"]["storage.tmp_mb"] = \
                tree_bytes(os.path.join(work_dir, "tmp")) / 2 ** 20
            spans = os.path.join(work_dir, "spans.jsonl")
            if os.path.exists(spans):
                out = os.path.join(root, ".bench_out")
                os.makedirs(out, exist_ok=True)
                shutil.copy(spans, os.path.join(out, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    facts.update(result["facts"])
    facts["failures"] = result["failures"]
    print(json.dumps({"facts": facts, "end_to_end": result["end_to_end"]}))
    measured = result["per_layer"] if args.trace else result["end_to_end"]
    metrics = {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
               for m in spec["per_layer" if args.trace else "end_to_end"]}
    correct = result["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
