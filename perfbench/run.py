#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the engine, generates
seeded inputs, runs one workload against the engine's public functions in a
single Spark JVM (local[nproc], one closed-loop client), checks every output,
and prints every metric by name and unit.

  python3 perfbench/run.py --workload {ingest,serve,churn} --seed N \
      --seconds S --trace {0,1}

Run from the repository root. With --trace 0 it reports the end-to-end
metrics; with --trace 1 it records spans and Spark counts around each public
call and reports the per-layer metrics. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. The exit code
is 0 only when every check passed and no operation failed.

Each run works in its own scratch root under perfbench/.scratch (Java tmp
dir, Spark local dir, warehouse, checkpoints, generated inputs, stores) and
deletes it on exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True  # leave nothing but the scratch root behind
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("ingest", "serve", "churn")
# set-up repetitions per run; setup_s is their median. A serving-store set-up
# costs ~30 s, and a second one would find the engine's memoized fits of the
# same inputs, so the serving workloads set up once
SETUP_REPS = {"ingest": 5, "serve": 1, "churn": 1}
# untimed warm-up requests before measuring (JIT, codegen of the request
# path); serve's set-up already runs ~30 s of Spark work
WARMUP = {"ingest": 5, "serve": 5, "churn": 1}
# requests measured at least, even past --seconds (at most 30 s past it);
# serve's count takes longer than 15 s, so each serve run's median covers
# the same batch positions however fast the host is
MIN_SAMPLES = {"ingest": 10, "serve": 12, "churn": 10}
RUN_LIMIT_S = 170  # the whole run, build excluded

# what Spark needs opened on JDK 17 when not launched by spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def metric_units(kind):
    """Metric name -> unit, as BENCHMARK.json at the repository root lists
    them under `kind` ("end_to_end" or "per_layer")."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def graft_tmp_state(base="/tmp"):
    """(path, size, mtime) of every entry under the shared build-once caches
    other entry points keep in /tmp/graft-*; a benchmark run must neither
    create nor modify anything there, at any depth."""
    try:
        roots = [os.path.join(base, n) for n in os.listdir(base)
                 if n.startswith("graft-")]
    except OSError:
        return set()
    out = set()
    for root in roots:
        paths = [root]  # a directory or a lock file
        for d, dirs, files in os.walk(root):
            paths += [os.path.join(d, n) for n in dirs + files]
        for p in paths:
            try:
                st = os.lstat(p)
            except OSError:
                continue
            out.add((p, st.st_size, st.st_mtime_ns))
    return out


class Scratch:
    """The run's scratch root; removed on exit, also on a signal."""

    def __init__(self):
        base = os.path.join(HERE, ".scratch")
        self.root = os.path.join(base, "run-%d-%d" % (os.getpid(), time.time_ns()))
        os.makedirs(self.root)
        self.proc = None

    def cleanup(self):
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        shutil.rmtree(self.root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.root))
        except OSError:
            pass


def build():
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")])
    return r.returncode == 0


def run_jvm(scratch, cfg, deadline):
    cfg_path = os.path.join(scratch.root, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(HERE, ".build", "classpath")) as f:
        classpath = f.read().strip()
    tmp = os.path.join(scratch.root, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # a fixed heap, so peak RSS does not follow heap-resizing decisions
    cmd += ["-Xms1536m", "-Xmx1536m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Harness", cfg_path]
    scratch.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = scratch.proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("harness did not finish in time")
        return None
    if scratch.proc.returncode != 0:
        log("harness exited with %d" % scratch.proc.returncode)
        return None
    for line in reversed(out.strip().splitlines()):
        try:
            res = json.loads(line)
        except ValueError:
            continue
        if isinstance(res, dict) and "end_to_end" in res:
            return res
    log("harness printed no result")
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-failure", action="store_true",
                    help="add one engine call that throws (tests the failure count)")
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala"):
        log("run from the repository root: src/main/scala not found")
        return 2
    t_start = time.time()
    if not build():
        log("build failed")
        return 3
    deadline = time.time() + RUN_LIMIT_S
    graft_before = graft_tmp_state()
    scratch = Scratch()

    def on_signal(signum, _frame):
        scratch.cleanup()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    try:
        return measure(a, scratch, deadline, graft_before, t_start)
    finally:
        scratch.cleanup()


def measure(a, scratch, deadline, graft_before, t_start):
    problems = []
    data = os.path.join(scratch.root, "data")
    t0 = time.perf_counter()
    gen.generate(a.seed, data, a.workload)
    gen_s = time.perf_counter() - t0

    cfg = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
           "trace": bool(a.trace), "cores": len(os.sched_getaffinity(0)),
           "scratch": scratch.root, "data": data,
           "setup_reps": SETUP_REPS[a.workload], "warmup": WARMUP[a.workload],
           "min_samples": MIN_SAMPLES[a.workload],
           "max_seconds": a.seconds + 30,
           "plant_failure": a.plant_failure}
    res = run_jvm(scratch, cfg, deadline)
    if res is None:
        return 1
    if graft_tmp_state() != graft_before:
        problems.append("the run created or modified /tmp/graft-* directories")
    problems += res["check_failures"]

    # set-up time is the engine's: input generation stays out of it
    setup = statistics.median(res["build_s"])
    if a.trace:
        got = res.get("per_layer", {})
        units = metric_units("per_layer")
    else:
        got = dict(res["end_to_end"], setup_s=setup)
        units = metric_units("end_to_end")
    missing = sorted(set(units) - set(got))
    if missing:
        problems.append("metrics not reported: " + ", ".join(missing))
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u}
               for n, u in units.items()}

    attempted, failed = res["attempted"], res["failed"]
    correct = not problems
    for p in problems:
        log("check failed: " + p)
    log("set-up times (s): " + " ".join("%.3f" % x for x in res["build_s"]))
    log("request latencies (s): " + " ".join("%.3f" % x for x in res["latencies_s"]))
    print("workload %s  seed %d  trace %d  samples %d  checks %d  "
          "generation %.1f s  wall %.1f s" % (
              a.workload, a.seed, a.trace, res["samples"], res["checks_run"],
              gen_s, time.time() - t_start))
    print("failed_op_share %.6f (%d of %d operations)" % (
        failed / attempted if attempted else 0.0, failed, attempted))
    print("repeat share %.3f (%d of %d measured requests repeat an earlier input)"
          % (res["repeats"] / max(res["samples"], 1), res["repeats"], res["samples"]))
    for n, m in metrics.items():
        print("%-36s %14.6f %s" % (n, m["value"], m["unit"]))
    # what the harness measures beyond BENCHMARK.json's list (churn's write
    # metrics, counts that are 0 on the listed workloads)
    for n in sorted(set(got) - set(units)):
        print("%-36s %14.6f (not listed)" % (n, got[n]))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
