#!/usr/bin/env python3
"""The lstorespark benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness with sbt and prepares the checkout once (FixtureCache layouts);
every run then starts one JVM, in which one closed-loop client runs the
workload's keys back to back through `SparkEntry.queries(k)(spark, dir)` +
`.count()`, and checks each key's result against its DuckDB oracle in an
untimed pass. The last line of stdout is the result as one JSON object.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(BENCH, "data", "sf0.1")
HARNESS = os.path.join(BENCH, "harness")

# name -> (key file under perfbench/keys, size of the family-stratified
# draw from it or None for the whole list, seconds one timed pass over the
# keys takes on a 4-core host, untimed warm passes before timing). The draw
# is fixed; the run seed orders the keys. Short keys are still warming up
# (JIT) on their second execution, about 1.5x slower than later ones; the
# iterative keys run long enough to warm up within their first execution.
WORKLOADS = {
    "interactive": ("interactive_pool.txt", 8, 4.0, 1),
    "iterative": ("iterative.txt", None, 10.0, 0),
}
DRAW_SEED = 0

# Sources whose change means a rebuild (and a new prepare).
ENGINE_FILES = ["build.sbt", "project/build.properties", "src/main"]
HARNESS_FILES = ["perfbench/harness/build.sbt",
                 "perfbench/harness/project/build.properties",
                 "perfbench/harness/src"]

# Spark 4 on JDK 17 outside spark-submit: the engine's build.sbt passes
# the same options to its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

HARNESS_TIMEOUT_S = 150


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(paths):
    """md5 over (path, size, mtime) of every file under `paths`."""
    h = hashlib.md5()
    for rel in paths:
        top = os.path.join(ROOT, rel)
        walk = ([(os.path.dirname(top), [], [os.path.basename(top)])]
                if os.path.isfile(top) else os.walk(top))
        for d, dirs, files in walk:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|"
                         f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def call(cmd, log, timeout, **kw):
    """Runs cmd in its own process group with output to `log`; kills the
    whole group if it outlives `timeout`. Returns the exit code."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(stamp):
    """sbt-compiles the engine and the harness once per source stamp and
    records the runtime classpath."""
    cp_file = os.path.join(WORK, f"classpath-{stamp}.txt")
    if not os.path.exists(cp_file):
        log = os.path.join(WORK, "build.log")
        rc = call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   f"-Djava.io.tmpdir={tmp_dir()}", "-J-XX:-UsePerfData",
                   f"-Dperfbench.classpath.out={cp_file}",
                   "harness/compile", "writeClasspath"],
                  log, 800, cwd=HARNESS)
        if rc != 0 or not os.path.exists(cp_file):
            die(f"build failed (exit {rc}); see {log}")
    with open(cp_file) as f:
        return f.read().strip()


def heap():
    return os.environ.get("SPARK_DRIVER_MEM", "3g")


def tmp_dir():
    """java.io.tmpdir of every JVM the benchmark starts, so that they write
    inside the checkout (the engine's FixtureCache lives here too)."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return tmp


def java(cp, args, log, timeout):
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = (["java"] + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xms{heap()}", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp_dir()}",
            "-XX:-UsePerfData", "-cp", cp,
            "perfbench.Harness"] + args)
    return call(cmd, log, timeout, cwd=WORK, env=env)


def prepare(cp, stamp, metrics):
    """Once per source stamp: every key of every workload run once, so the
    FixtureCache layouts they read exist before any run."""
    marker = os.path.join(WORK, f"prepared-{stamp}")
    if os.path.exists(marker):
        return
    keys = os.path.join(WORK, "prepare-keys.txt")
    with open(keys, "w") as f:
        f.write("\n".join(k for w in sorted(WORKLOADS)
                          for k in workload_keys(w, metrics)) + "\n")
    log = os.path.join(WORK, "prepare.log")
    rc = java(cp, ["prepare", "--data", DATA, "--keys", keys], log, 700)
    if rc != 0:
        die(f"prepare failed (exit {rc}); see {log}")
    open(marker, "w").close()


def read_keys(name):
    with open(os.path.join(BENCH, "keys", name)) as f:
        return [k.strip() for k in f
                if k.strip() and not k.lstrip().startswith("#")]


def workload_keys(name, metrics):
    """The workload's keys, in sorted order."""
    key_file, size, _, _ = WORKLOADS[name]
    keys = read_keys(key_file)
    return metrics.draw(keys, size, DRAW_SEED) if size else sorted(keys)


def cpu_jiffies():
    """(steal, total) CPU time of the machine so far, from /proc/stat:
    steal is time the hypervisor ran other guests on this VM's CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                               capture_output=True, text=True,
                               timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for rel in ENGINE_FILES + ["tools/selfcheck.py"]:
        if not os.path.exists(os.path.join(ROOT, rel)):
            die(f"{rel} not found: run from the root of an lstorespark "
                "checkout")
    sys.path.insert(0, BENCH)
    import metrics
    import oracle

    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp(ENGINE_FILES + HARNESS_FILES)
    cp = build(stamp)
    prepare(cp, stamp, metrics)

    # A fixed number of whole timed passes, so that parent and change do
    # the same work; with tracing, each pass is run untraced and traced.
    passes = max(1, round(a.seconds / WORKLOADS[a.workload][2]))
    keys = workload_keys(a.workload, metrics)
    order = metrics.order(keys, a.seed, a.workload, passes)
    if a.trace:
        order = [p for p in order for _ in (0, 1)]
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    out = os.path.join(WORK, "out", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    with open(os.path.join(out, "passes.txt"), "w") as f:
        f.write("".join(" ".join(p) + "\n" for p in order))
    log = os.path.join(WORK, f"{tag}.log")
    cpu0 = cpu_jiffies()
    rc = java(cp, ["run", "--data", DATA, "--passes",
                   os.path.join(out, "passes.txt"), "--warm",
                   str(WORKLOADS[a.workload][3]), "--trace", str(a.trace),
                   "--out", out],
              log, HARNESS_TIMEOUT_S)
    if rc != 0:
        die(f"harness failed (exit {rc}); see {log}")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    steal, total = (y - x for x, y in zip(cpu0, cpu_jiffies()))
    result["steal_frac"] = steal / total if total else 0.0

    # The untimed pass's results against DuckDB.
    con = oracle.connect(DATA)
    bad = {}
    for c in result["check"]:
        sql = result["oracle"].get(c["key"])
        why = c["error"] or (oracle.compare(
            con, sql, os.path.join(out, "check", c["key"]))
            if sql else "no oracle SQL")
        if why:
            bad[c["key"]] = why
            print(f"perfbench: {c['key']} FAILED check: {why}",
                  file=sys.stderr)
    con.close()
    timed_failed = sum(1 for s in result["samples"] if not s["ok"])
    attempted = len(result["samples"]) + len(result["check"])
    failed = timed_failed + len(bad)

    calib = metrics.median(result["calib_s"])
    context = dict(result["context"], seed=a.seed, workload=a.workload,
                   trace=a.trace, seconds=a.seconds, passes=passes,
                   git_commit=git_commit(), source_stamp=stamp,
                   host_calib_s=calib, host_steal_frac=result["steal_frac"],
                   samples=len(result["samples"]),
                   setup_parts=result["setup_parts"],
                   keys=len(keys))
    if a.trace:
        result["fixture_bytes"] = dir_bytes(
            os.path.join(tmp_dir(), "graft_fixture_cache"))
        m = metrics.per_layer(result, int(result["context"]["nproc"]))
    else:
        m = metrics.end_to_end(result)
    missing = [k for k, (v, _) in m.items() if v is None]
    if missing:
        die(f"no value for {missing} ({len(result['samples'])} samples)")
    line = {"correct": not bad and timed_failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}

    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump(dict(line, context=context, failures=bad), f)
    shutil.copy(os.path.join(out, "result.json"),
                os.path.join(runs, f"{tag}.raw.json"))
    if a.trace:
        with open(os.path.join(runs, f"{tag}.spans.json"), "w") as f:
            json.dump(metrics.spans(result), f)
    shutil.rmtree(out, ignore_errors=True)
    # Temp dirs some keys leave behind; the fixture cache stays.
    for e in os.listdir(tmp_dir()):
        if e != "graft_fixture_cache":
            shutil.rmtree(os.path.join(tmp_dir(), e), ignore_errors=True)
    print("context " + json.dumps(context))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
