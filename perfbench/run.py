#!/usr/bin/env python3
"""Lifecycle benchmark for spark-brontes: one command, one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the project's
sources together with the benchmark's own (``perfbench/src``) with the
Scala compiler that ships with the Spark jars the build uses; later runs
reuse the classes while the sources are unchanged. Everything the
benchmark writes lives under ``.bench_build/perfbench``.

A run generates the workload's inputs from the seed (``gen.py``), launches
the measuring JVM (``graft.perfbench.Lifecycle``), checks every entry the
last pass wrote against the registry's DuckDB oracle SQL, and prints as its
last line one JSON object: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
The full record of the run goes to ``.bench_build/perfbench/detail-*.json``.
"""
import argparse
import hashlib
import json
import math
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

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("batch_backfill", "tip_follow")
LAYERS = ("store", "classify", "accounting", "pricing", "inspect", "compose", "stream", "corpus")
LAYER_STATS = (("wall_s", "s"), ("busy_s", "s"), ("wait_s", "s"), ("plan_s", "s"),
               ("tasks", "count"), ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("skew", "ratio"))
# the steps of a batch_backfill pass (Lifecycle.batchSteps), chain then corpus
RANGE_STEPS = ("traces", "calldata", "actions", "headers", "j2_dex_asof", "q1_sandwich",
               "q9_mev_block")
CORPUS_STEPS = ("d2_minhash_lsh", "d10_substring_dedup", "d15_line_dedup")

# times are the measuring JVM's CPU seconds (all threads), see README
END_TO_END = (("setup_s", "s"), ("pass_cpu_s", "s"), ("step_cpu_geomean_s", "s"),
              ("store_mb_per_input_mb", "ratio"))
PER_LAYER = (
    tuple((f"{layer}.{stat}", unit) for layer in LAYERS for stat, unit in LAYER_STATS)
    + tuple((f"range.{step}_s", "s") for step in RANGE_STEPS)
    + tuple((f"corpus.{step}_s", "s") for step in CORPUS_STEPS)
    + (("trace.span_gap_frac", "ratio"),
       ("stream.addBatch_s", "s"), ("stream.queryPlanning_s", "s"),
       ("stream.walCommit_s", "s"), ("stream.input_rows_per_s", "1/s"),
       ("stream.batch_max_s", "s"),
       ("store.bytes_written_mb", "MB"), ("store.files_written", "count"),
       ("exec.stage_skip_ratio", "ratio"), ("mem.storage_resident_mb", "MB"),
       ("trace.drain_s", "s")))

# build.sbt's add-opens list: Spark on JDK 17 outside spark-submit needs it
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
RUN_LIMIT_S = 170  # a run must end within 180 s, builds excepted


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory the project's build compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        fail("no build.sbt naming the Spark jars (unmanagedBase); run from a checkout root")


def sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, cache, jars):
    """Compile once per source tree; returns the classes directory."""
    srcs = sources(root)
    if not any(s.endswith(os.path.join("graft", "SparkEntry.scala")) for s in srcs):
        fail("no project sources under src/main/scala; run from a checkout root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(cache, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in os.listdir(cache) if os.path.isdir(cache) else []:
        if old.startswith("classes-"):  # one build per checkout is kept
            shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(cache, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    res = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        fail("compile failed:\n" + res.stdout[-4000:])
    os.rename(tmp, classes)
    return classes


def run_jvm(root, classes, jars, work, args, limit_s):
    """Run the measuring JVM; on any way out of this function it has ended."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = os.pathsep.join([classes, os.path.join(root, "src", "main", "resources"),
                          os.path.join(jars, "*")])
    # build.sbt's heap rule and the JVM's default collector, as `sbt run` uses
    heap = "-Xmx" + os.environ.get("SPARK_DRIVER_MEM", "8g")
    cmd = ["java", heap, *opens,
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "graft.perfbench.Lifecycle", *args]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            fail(f"measuring JVM exceeded {limit_s:.0f}s")
        finally:  # also when this process is interrupted or terminated
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log_path) as f:
            fail(f"measuring JVM exited with {code}:\n" + f.read()[-4000:])


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else 0.0


def batch_s(b):
    return b["ms"].get("triggerExecution", 0) / 1e3


def step_cpus(p):
    """CPU seconds of a pass's steps: its micro-batches, drop to commit, when
    it streamed, else its actions."""
    return [b["cpu_s"] for b in p["batches"]] or [o["cpu_s"] for o in p["ops"]]


def end_to_end(res, stats, setup_cpu_s):
    passes = res["passes"]
    return {
        "setup_s": setup_cpu_s,
        "pass_cpu_s": median([p["cpu_s"] for p in passes]),
        "step_cpu_geomean_s": median([geomean(step_cpus(p)) for p in passes]),
        "store_mb_per_input_mb":
            median([p["written_bytes"] for p in passes]) / stats["input_bytes"],
    }


def per_layer(res):
    passes = res["passes"]
    out = {f"{layer}.{stat}": res["layers"][layer][stat]
           for layer in LAYERS for stat, _ in LAYER_STATS}

    def op_median(name):
        return median([o["s"] for p in passes for o in p["ops"] if o["name"] == name])

    for step in RANGE_STEPS:
        out[f"range.{step}_s"] = op_median(step)
    for step in CORPUS_STEPS:
        out[f"corpus.{step}_s"] = op_median(step)
    out["trace.span_gap_frac"] = median(
        [1 - sum(o["s"] for o in p["ops"]) / p["wall_s"] for p in passes])
    batches = [b for p in passes for b in p["batches"]]
    for phase in ("addBatch", "queryPlanning", "walCommit"):
        out[f"stream.{phase}_s"] = sum(b["ms"].get(phase, 0) for b in batches) / 1e3 / len(passes)
    out["stream.batch_max_s"] = max((batch_s(b) for b in batches), default=0.0)
    trig = sum(batch_s(b) for b in batches)
    out["stream.input_rows_per_s"] = sum(b["rows"] for b in batches) / trig if trig else 0.0
    out["store.bytes_written_mb"] = median([p["written_bytes"] for p in passes]) / 1e6
    out["store.files_written"] = median([p["written_files"] for p in passes])
    jobs = res["stages_in_jobs"]
    out["exec.stage_skip_ratio"] = 1 - res["stages_run"] / jobs if jobs else 0.0
    out["mem.storage_resident_mb"] = median([p["held_mb"] for p in passes])
    out["trace.drain_s"] = res["drain_s"]
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--blocks", type=int, default=gen.BLOCKS,
                    help=f"input size in blocks (default {gen.BLOCKS}); for sizing sweeps")
    a = ap.parse_args()
    # terminate through SystemExit, so that the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    jars = spark_jars(root)
    if not os.path.isfile(os.path.join(root, "tools", "check.py")):
        fail("no tools/check.py (the oracle comparison); run from a checkout root")
    cache = os.path.join(root, ".bench_build", "perfbench")
    classes = build(root, cache, jars)
    started = time.time()  # the first run in a checkout also builds, untimed

    work = os.path.join(cache, f"work{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0, c0 = time.time(), time.process_time()
        data = os.path.join(work, "data")
        stats = gen.generate(a.seed, data, a.blocks)
        gen_cpu_s = time.process_time() - c0
        limit = RUN_LIMIT_S - (time.time() - started)
        run_jvm(root, classes, jars, work,
                [a.workload, data, work, str(a.seconds), str(a.trace)], limit)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        setup_wall_s = res["setup_end_ms"] / 1e3 - t0
        setup_cpu_s = gen_cpu_s + res["setup_cpu_s"]
        checks = oracle.check(root, data, res["last_out"], res["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = [o for p in res["passes"] for o in p["ops"]]
    # an entry whose action failed also fails its check: count the op once
    errored = {o["name"] for o in res["passes"][-1]["ops"] if o["error"]}
    mismatches = [n for n, (_, err) in checks.items() if err]
    failed = (len(res["setup_errors"]) + sum(1 for o in ops if o["error"])
              + sum(1 for n in mismatches if n not in errored))
    attempted = len(res["setup_errors"]) + len(ops)
    if a.trace:
        values, units = per_layer(res), dict(PER_LAYER)
    else:
        values, units = end_to_end(res, stats, setup_cpu_s), dict(END_TO_END)
    detail = {"args": vars(a), "inputs": stats,
              "setup_wall_s": setup_wall_s, "setup_cpu_s": setup_cpu_s,
              "oracle": {n: {"rows": r, "mismatch": e} for n, (r, e) in checks.items()},
              "ops_failed_frac": failed / attempted, "metrics": values, "run": res}
    detail_path = os.path.join(
        cache, f"detail-{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"workload={a.workload} seed={a.seed} blocks={stats['blocks']} "
          f"traces={stats['traces']} docs={stats['docs']} passes={len(res['passes'])} "
          f"failed={failed}/{attempted} detail={os.path.relpath(detail_path, root)}")
    for name in mismatches:
        print(f"oracle mismatch: {name}: {checks[name][1]}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}},
        separators=(",", ":")))


if __name__ == "__main__":
    main()
