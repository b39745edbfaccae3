#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload elt_wide --seed 1 --seconds 8 --trace 0

Run it from the repository root. It builds the engine and the benchmark
driver with sbt (offline; cached until a source changes), generates the
workload's inputs from the seed, runs them in one JVM on local[N] with N
the number of processors, checks every output, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` attaches Spark
listeners and reports the per-layer metrics instead. See
perfbench/README.md for the workloads, the metrics and the layer map.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CLASSPATH_CACHE = os.path.join(HERE, "target", "run-classpath.txt")
RUN_LIMIT_S = 170
# A fixed heap keeps GC and peak RSS steady from run to run.
HEAP = "2g"
SETUP_ROUNDS = 3
DATABASE = "ytanalytics"
MART = "yt_facts_stg"
# The read-only test tables of TESTDATA.md. query_mix times its queries on
# the bench scale and checks them against DuckDB on the oracle scale.
SF_DIR = os.path.expanduser("~/testdata/sf0.1")
CHECK_SF_DIR = os.path.expanduser("~/testdata/sf0.01")

# query_mix: short queries are relational or analytic and bound by
# planning and driver overhead; loop queries are iterative graph and IVM
# operators that launch many jobs each.
SHORT_QUERIES = [
    "q04_filter_pushdown", "q06_key_derivation", "q07_union_by_name", "q13_distinct",
    "q18_scalar_funcs", "q22_dedup_exact", "q65_unpivot", "q178_table_checksum",
]
LOOP_QUERIES = ["q199_khop_frontiers", "q259_connected_components"]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    """Every file the engine and BenchMain are built from."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in sorted(os.walk(base)):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """The runtime classpath, building with sbt when a source changed."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    if os.path.exists(CLASSPATH_CACHE):
        with open(CLASSPATH_CACHE) as fh:
            cached_stamp, cp = fh.read().split("\n")[:2]
        if cached_stamp == stamp:
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if "perfbench" in ln and ".jar" in ln]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH_CACHE, "w") as fh:
        fh.write(f"{stamp}\n{cp}\n")
    return cp


# ------------------------------------------------------------ workloads

class Elt:
    """The ELT DAG: extract batches of channel responses, refresh the mart."""

    def __init__(self, channels, batches, step_s, refresh_every, final_refreshes):
        self.channels, self.batches, self.step_s = channels, batches, step_s
        self.refresh_every, self.final_refreshes = refresh_every, final_refreshes

    def plan(self, seed, work):
        chans = gen.channels(seed, self.channels)
        path = os.path.join(work, "batches.jsonl")
        json_bytes = 0
        with open(path, "w") as fh:
            for ts, responses in gen.batches(seed, chans, self.batches, self.step_s):
                json_bytes += sum(len(r.encode()) for r in responses)
                fh.write(json.dumps({"ts_ms": ts, "responses": responses}) + "\n")
        steps = []
        for b in range(self.batches):
            steps.append(f"extract:{b}")
            if self.refresh_every and (b + 1) % self.refresh_every == 0:
                steps.append("refresh")
        steps += ["refresh"] * self.final_refreshes
        self.seed, self.chans, self.json_bytes = seed, chans, json_bytes
        return {"batches_file": path, "steps": steps, "database": DATABASE,
                "lake_dir": os.path.join(work, "lake")}

    def units(self, op):
        return op.get("responses", 0)

    def check(self, result, work):
        """Errors found in the mart; empty when it is exactly as expected."""
        got = oracle.read_mart(os.path.join(work, "warehouse", f"{DATABASE}.db", MART),
                               gen.MART_COLUMNS)
        want = gen.expected_mart(self.seed, self.chans, self.batches, self.step_s)
        err = oracle.compare_mart(got, want)
        return [err] if err else []

    def storage(self, work):
        lake_files, lake_bytes = dir_size(os.path.join(work, "lake"))
        _, wh_bytes = dir_size(os.path.join(work, "warehouse", f"{DATABASE}.db"))
        return {"lake_files": lake_files, "lake_bytes": lake_bytes,
                "bytes_per_input_byte": (lake_bytes + wh_bytes) / self.json_bytes}


class QueryMix:
    """An analyst's seeded stream of short and loop queries."""

    def __init__(self, passes):
        self.passes = passes

    def plan(self, seed, work):
        rng = random.Random(f"query_mix:{seed}")
        stream = []
        for _ in range(self.passes):
            names = SHORT_QUERIES + LOOP_QUERIES
            rng.shuffle(names)
            stream += names
        classes = {q: "light" for q in SHORT_QUERIES}
        classes.update({q: "heavy" for q in LOOP_QUERIES})
        return {"sf_dir": SF_DIR, "check_sf_dir": CHECK_SF_DIR,
                "queries": SHORT_QUERIES + LOOP_QUERIES, "stream": stream,
                "classes": classes, "results_dir": os.path.join(work, "results")}

    def units(self, op):
        return 1

    def check(self, result, work):
        errors = [f"{c['name']}: {c['error']}" for c in result["checks"] if not c["ok"]]
        con = oracle.connect(CHECK_SF_DIR)
        try:
            for c in result["checks"]:
                if c["ok"] and not c["oracle"]:
                    errors.append(f"{c['name']}: no oracle")
                elif c["ok"]:
                    err = oracle.compare_query(con, c["oracle"],
                                               os.path.join(work, "results", c["name"]))
                    if err:
                        errors.append(f"{c['name']}: {err}")
        finally:
            con.close()
        return errors

    def storage(self, work):
        return {"lake_files": 0, "lake_bytes": 0, "bytes_per_input_byte": 0.0}


def workload(name, seconds):
    """The workload at the size `--seconds` asks for. Sizes depend on
    nothing else, so two commits compared at one setting do the same work;
    at 8 each timed region takes roughly 10-15 s on 4 cores."""
    if name == "elt_wide":
        # 24 channels, hourly cycles: extract one batch, then refresh.
        # Most of the work is in the warehouse load and the mart.
        return Elt(channels=24, batches=max(2, round(seconds / 8)), step_s=3600,
                   refresh_every=1, final_refreshes=0)
    if name == "elt_deep":
        # The reference's 7 channels, five-minute batches, one refresh at
        # the end. Most of the work is ingest and lake append.
        return Elt(channels=7, batches=max(11, 2 * seconds), step_s=300,
                   refresh_every=0, final_refreshes=1)
    return QueryMix(passes=max(1, round(seconds / 15)))


WORKLOADS = ("elt_wide", "elt_deep", "query_mix")


def dir_size(path):
    """(files, bytes) of the data files under `path`, hidden files excluded."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


# ------------------------------------------------------------------ run

def jvm_command(cp, work, plan_path):
    opens = [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-XX:+UnlockDiagnosticVMOptions",
             "-XX:GCLockerRetryAllocationCount=64"]
            + opens + ["-cp", cp, "perfbench.BenchMain", plan_path])


def run(args, workload, cp, started):
    cores = os.cpu_count() or 1
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_ROOT)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        plan = workload.plan(args.seed, work)
        plan.update({"workload": args.workload, "cores": cores, "trace": bool(args.trace),
                     "setup_reps": SETUP_ROUNDS, "work_dir": work,
                     "out": os.path.join(work, "result.json")})
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as fh:
            json.dump(plan, fh)
        log_path = os.path.join(work, "jvm.log")
        spawn = time.time()
        with open(log_path, "w") as log:
            try:
                rc = subprocess.run(jvm_command(cp, work, plan_path), stdout=log, stderr=log,
                                    stdin=subprocess.DEVNULL,
                                    timeout=max(10, RUN_LIMIT_S - (time.time() - started))
                                    ).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-6000:])
            fail(f"JVM exited with {rc}", 1)
        with open(plan["out"]) as fh:
            result = json.load(fh)
        jvm_done = time.time()
        errors = workload.check(result, work)
        storage = workload.storage(work)
        print(f"# jvm {jvm_done - spawn:.1f} s, checks {time.time() - jvm_done:.1f} s, "
              f"timed ops {sum(o['wall_s'] for o in result['ops']):.1f} s, "
              f"set-up rounds {', '.join(f'{x:.2f}' for x in result['setup_s'])} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    return result, errors, storage, spawn, cores


def report(args, workload, result, errors, storage, spawn, cores):
    ops = result["ops"]
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o)
    for name, group in sorted(by_name.items()):
        walls = [o["wall_s"] for o in group if o["ok"]]
        spread = ""
        if len(walls) > 1:
            q = statistics.quantiles(walls, n=4)
            spread = f" p25 {q[0]:.3f} p50 {q[1]:.3f} p75 {q[2]:.3f} max {max(walls):.3f} s"
        elif walls:
            spread = f" {walls[0]:.3f} s"
        print(f"# op {name}: attempted {len(group)} failed {sum(not o['ok'] for o in group)}"
              f" n={len(walls)}{spread}")
        for o in group:
            if not o["ok"]:
                print(f"#   failed: {o['error']}")
    for e in errors:
        print(f"# check failed: {e}")
    if args.trace:
        plans = {}
        for q in result["trace"]["query_execs"]:
            plans[q["plan"]] = plans.get(q["plan"], 0) + 1
        print("# query executions by plan: "
              + ", ".join(f"{k} {v}" for k, v in sorted(plans.items())))
        values, units = metrics.per_layer(result, cores, storage), metrics.PER_LAYER_UNITS
    else:
        values = metrics.end_to_end(result, spawn, workload.units)
        units = metrics.END_TO_END_UNITS
    failed = sum(not o["ok"] for o in ops)
    out = {"correct": not errors and failed == 0, "attempted": len(ops), "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}
    print(json.dumps(out))
    return 0 if out["correct"] else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline",
                                       "Pipeline.scala")):
        fail("the engine sources (src/main/scala/graft) are not in this checkout")
    cp = build()
    started = time.time()
    wl = workload(args.workload, args.seconds)
    sys.exit(report(args, wl, *run(args, wl, cp, started)))


if __name__ == "__main__":
    main()
