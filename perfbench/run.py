#!/usr/bin/env python3
"""Run one benchmark workload of the SSTable-report engine and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload reports-cli --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source on first use (with the Scala
compiler among the program's jars), runs the workload in one JVM
(perfbench/harness, `perfbench.Main`), checks every output against the
DuckDB oracle, and prints the metrics. The last line of stdout is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics of BENCHMARK.json, or with `--trace 1` the per-layer ones). Lines before it list every metric by name and unit,
including the per-operation ones. Each run's full record is appended to
`.bench_build/perfbench/runs.jsonl`, which `perfbench/compare.py` reads.

Everything the run writes stays under `.bench_build/` in the checkout.
"""
import argparse
import glob
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

sys.dont_write_bytecode = True
import oracle  # noqa: E402  (after the bytecode switch)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSPATH = os.path.join(STATE, "classpath.txt")

RUN_LIMIT_S = 170       # one run, build excluded
BUILD_LIMIT_S = 840     # first run in a checkout: build, then run
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (the program's own
# build passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

WORKLOADS = ("reports-cli", "reports-sstable-files", "compaction-write")

# Per-workload JVM flags. Under C2 the compaction's codec loops keep
# speeding up for ~50 s of work (passes fall from ~3.3 s to ~1.2 s), far
# longer than a run can warm up, so its timed passes would sit on that
# slope and spread by ~30 % between runs. C1 code is ready within the
# warm-up and then flat. The report workloads are planning- and
# scheduling-bound, settle under C2 within one warm-up pass, and run ~30 %
# slower under C1, so they keep the default compilers.
JVM_FLAGS = {"compaction-write": ["-XX:TieredStopAtLevel=1"]}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_dirs():
    return [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HARNESS, "src", "main", "scala")]


def source_stamp():
    """Newest modification time among the sources the build reads."""
    newest = os.path.getmtime(os.path.join(ROOT, "build.sbt"))
    for base in source_dirs() + [os.path.join(ROOT, "src", "main", "resources")]:
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def library_jars():
    """The jars the program compiles and runs against: the directory its
    build.sbt names as `unmanagedBase` (the Spark distribution's jars)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'^unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read(), re.M)
    if not m:
        fail("build.sbt names no unmanagedBase directory")
    base = m.group(1)
    jars = sorted(glob.glob(os.path.join(base, "*.jar")))
    if not jars:
        fail(f"no jars in {base}")
    return jars


def run_bounded(cmd, limit_s, log_path, cwd, env=None):
    """Run cmd in its own process group, output to log_path; kill the group
    if it outlives limit_s. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                             stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=25):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(deadline):
    """Compile the program and the harness from source with the Scala
    compiler that ships among the program's jars, and record the runtime
    classpath. sbt is not used here: it keeps its locks and caches under the
    user's home directory, and a run writes only inside its checkout."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= stamp:
        return
    jars = library_jars()
    compiler = [j for j in jars if re.search(
        r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail("the Scala compiler, library and reflect jars are not among the program's jars")
    classes = os.path.join(STATE, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(STATE, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    sources = sorted(os.path.join(d, f) for base in source_dirs()
                     for d, _, files in os.walk(base) for f in files
                     if f.endswith(".scala"))
    args = os.path.join(STATE, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-d", classes, "-classpath", os.pathsep.join(jars),
                           "-nowarn"] + sources) + "\n")
    log = os.path.join(STATE, "build.log")
    rc = run_bounded(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={tmp}",
                      "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
                      "@" + args],
                     deadline - time.time(), log, ROOT)
    if rc != 0:
        sys.stderr.write(tail(log))
        fail("build failed" if rc is not None else "build timed out")
    resources = os.path.join(ROOT, "src", "main", "resources")
    with open(CLASSPATH, "w") as f:
        f.write(os.pathsep.join([classes, resources] + jars))


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def stamps():
    """Host state at the start of the run, so a contended run shows."""
    s = {"nproc": os.cpu_count(), "heap": HEAP}
    try:
        with open("/proc/pressure/cpu") as f:
            for line in f:
                kind, *kv = line.split()
                for item in kv:
                    k, v = item.split("=")
                    if k.startswith("avg"):
                        s[f"psi_cpu_{kind}_{k}"] = float(v)
    except OSError:
        pass
    try:
        s["loadavg_1m"] = os.getloadavg()[0]
    except OSError:
        pass
    return s


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def metrics_of(res, bench):
    """All metrics of one run: (end_to_end, per_layer, detail) dicts of
    name -> (value, unit)."""
    passes = [p for p in res["passes"] if not p["traced"]]
    traced = [p for p in res["passes"] if p["traced"]]
    ops = list(res["op_oracle"])
    op_med = {o: median([p["ops"][o] for p in passes]) for o in ops}
    e2e = {
        "setup_s": (median([s["total_s"] for s in res["setups"]]), "s"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        "pass_cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "heap_live_peak_mb": (res["heap_live_peak_mb"], "MB"),
    }
    detail = {"passes": (len(passes), "count"),
              "op_geomean_s": (geomean(list(op_med.values())), "s"),
              "slowest_op_s": (median([max(p["ops"].values()) for p in passes]), "s"),
              "fastest_op_s": (median([min(p["ops"].values()) for p in passes]), "s"),
              "rss_peak_mb": (res["rss_peak_mb"], "MB"),
              "setup.warmup_s": (res["warmup_s"], "s")}
    for o in ops:
        xs = [p["ops"][o] for p in passes]
        detail[f"{o}_s"] = (median(xs), "s")
        detail[f"{o}_max_s"] = (max(xs), "s")
    if res["workload"] == "compaction-write":
        detail["out_bytes_per_in_byte"] = (res["out_bytes_per_in_byte"], "B/B")

    layer = {}
    if res["trace"]:
        cores = res["cores"]
        def med(f):
            return median([f(p) for p in traced])
        for k, unit in (("jobs", "count"), ("stages", "count"),
                        ("tasks", "count"), ("task_s", "s"),
                        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
                        ("gc_s", "s"), ("input_mb", "MB")):
            layer[f"spark.{k}"] = (med(lambda p: p["spark"][k]), unit)
        layer["spark.idle_core_s"] = (
            med(lambda p: cores * p["wall_s"] - p["spark"]["task_s"]), "s")
        for o in ops:
            detail[f"{o}.jobs"] = (med(lambda p: p["op_spark"][o]["jobs"]), "count")
            detail[f"{o}.task_s"] = (med(lambda p: p["op_spark"][o]["task_s"]), "s")
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        for k, v in res["layers"].items():
            layer[k] = (v, units.get(k, ""))
        for k in ("session_s", "tier_s", "fixture_s"):
            layer[f"setup.{k}"] = (median([s[k] for s in res["setups"]]), "s")
        layer["setup.warmup_s"] = (res["warmup_s"], "s")
        layer["trace.overhead_frac"] = (
            med(lambda p: p["wall_s"]) / e2e["pass_s"][0] - 1.0, "ratio")
    return e2e, layer, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout of the program: no {need}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    os.makedirs(STATE, exist_ok=True)
    build(start + BUILD_LIMIT_S - RUN_LIMIT_S)

    stamp = stamps()
    steal0, total0 = cpu_jiffies()
    work = os.path.join(STATE, "work-" + args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS.get(args.workload, [])
    # no hsperfdata file under the system temp directory
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    log = os.path.join(STATE, f"jvm-{args.workload}.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    rc = run_bounded(cmd, RUN_LIMIT_S - 10, log, ROOT, env)
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write(tail(log))
        fail("benchmark JVM failed" if rc is not None else "benchmark JVM timed out", 3)
    with open(result_path) as f:
        res = json.load(f)
    steal1, total1 = cpu_jiffies()
    if total1 > total0:
        stamp["steal_frac"] = (steal1 - steal0) / (total1 - total0)

    # oracle, once per run, on this run's tier, after every timed window
    bad = oracle.check(os.path.join(work, "tier"), res["oracle"])
    for q, why in res.get("dump_errors", {}).items():
        bad.setdefault(q, f"could not write result: {why}")
    failures = list(res["failures"])
    attempted = res["attempted"]
    bad_ops = {o for o, qs in res["op_oracle"].items() if any(q in bad for q in qs)}
    for p in res["passes"]:
        for o in bad_ops:
            if not any(f["pass"] == p["pass"] and f["op"] == o for f in failures):
                failures.append({"pass": p["pass"], "op": o, "reason": "oracle mismatch"})
    failed = len(failures)

    e2e, layer, detail = metrics_of(res, bench)
    detail["fail_frac"] = (failed / attempted, "ratio")
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "orders": res["orders"], "time": start,
              "stamp": stamp, "attempted": attempted, "failed": failed,
              "oracle_failures": bad,
              "failures": failures[:20],
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in {**e2e, **layer, **detail}.items()}}
    with open(os.path.join(STATE, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    keep = os.path.join(STATE, "last-" + args.workload)
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for name in ("result.json", "trace.json"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy(os.path.join(work, name), keep)
    shutil.rmtree(work, ignore_errors=True)

    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={stamp['nproc']} heap={HEAP} "
          f"psi_cpu_some_avg10={stamp.get('psi_cpu_some_avg10', 'n/a')} "
          f"steal_frac={stamp.get('steal_frac', float('nan')):.3f}")
    for q, why in bad.items():
        print(f"# ORACLE FAIL {q}: {why}")
    for f in failures[:10]:
        print(f"# FAIL pass {f['pass']} {f['op']}: {f['reason']}")
    shown = {**(layer if args.trace else e2e), **detail}
    for k, (v, u) in shown.items():
        print(f"{k} {v:.6g} {u}")
    declared = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    source = layer if args.trace else e2e
    missing = [m for m in declared if m not in source]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}", 4)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": source[m][0], "unit": source[m][1]}
                    for m in declared}}))


if __name__ == "__main__":
    main()
