#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program (the project's `src/main` plus the harness in
`perfbench/src`) with the Scala compiler that ships with the Spark jars
`build.sbt` points at, generates the workload's fixed dataset once,
runs the workload in one JVM with a run-private layout root, Spark local
dir and temp dir, with the queries in an order drawn from the seed,
removes that directory, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics (the span trace is written to
`.bench_build/perfbench/trace-<workload>.json`).

Other modes:
    --selftest            run the harness self-tests
    --src <dir>           build the program from another checkout's src/main
                          (the interleaved comparator uses this)
    --write-reference     rewrite reference.txt from this run's results
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
REFERENCE = os.path.join(HERE, "reference.txt")
# the workloads read one fixed dataset each, so their results can be
# pinned in reference.txt; the seed orders the queries
QUERY_DATA_SEED = 42
SCALE = {"sql_analytics": 0.1, "corpus_queries": 0.01}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
# no hsperfdata files in the system temp dir
JAVA = ["java", "-XX:-UsePerfData"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(src_root):
    """The jar directory build.sbt declares as `unmanagedBase`."""
    sbt = os.path.join(src_root, "build.sbt")
    if not os.path.isfile(sbt):
        die(f"no build.sbt in {src_root}: the benchmark builds the project from source")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        die("build.sbt declares no existing unmanagedBase jar directory")
    return m.group(1)


def sources(top, suffixes):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(suffixes)]
    return sorted(out)


def build(src_root):
    """Compiles src_root's src/main with the harness; returns the classpath.
    Skipped when a build of identical sources exists."""
    main = os.path.join(src_root, "src", "main")
    if not os.path.isdir(main):
        die(f"no src/main in {src_root}")
    jars = spark_jars(src_root)
    files = sources(main, (".scala", ".java")) + sources(os.path.join(HERE, "src"), (".scala",))
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode() if f.startswith(HERE) else os.path.relpath(f, src_root).encode())
        h.update(open(f, "rb").read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    cp = f"{out}:{jars}/*"
    if os.path.isfile(os.path.join(out, ".complete")):
        return cp
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = JAVA + ["-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", f"{jars}/*"] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    res = os.path.join(main, "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: built {len(files)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def query_data(scale):
    """The fixed dataset of the query workloads at `scale`, generated once."""
    gen_hash = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:12]
    d = os.path.join(BUILD, "data", f"sf{scale}-seed{QUERY_DATA_SEED}-{gen_hash}")
    if not os.path.isfile(os.path.join(d, ".complete")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, scale, QUERY_DATA_SEED)
        open(os.path.join(d, ".complete"), "w").close()
    return d


def run_jvm(cp, argv, tmp, timeout_s):
    """Runs the harness JVM with `tmp` as its temp dir; returns (exit
    status, peak RSS in MB)."""
    cmd = JAVA + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    timer = threading.Timer(timeout_s, lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
        proc.returncode = 0  # reaped by wait4 above
    return os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)[kind]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--src", default=ROOT)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-reference", action="store_true")
    a = ap.parse_args()

    cp = build(os.path.abspath(a.src))
    if a.selftest:
        cmd = JAVA + ["-cp", cp, "perfbench.SelfTest"]
        sys.exit(subprocess.run(cmd).returncode)
    if a.workload not in SCALE:
        die(f"--workload must be one of {', '.join(SCALE)}")

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data = query_data(SCALE[a.workload])
        out = os.path.join(run_dir, "result.json")
        trace_out = os.path.join(BUILD, f"trace-{a.workload}.json")
        argv = ["--workload", a.workload, "--data", data, "--work", run_dir,
                "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--reference", REFERENCE, "--out", out,
                "--trace-out", trace_out]
        if a.write_reference:
            argv.append("--write-reference")
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        code, rss_mb = run_jvm(cp, argv, tmp, JVM_TIMEOUT_S)
        if code != 0 or not os.path.isfile(out):
            die(f"workload JVM exited with status {code}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    got = dict(res["metrics"])
    got["jvm.peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    failures = res["failures"]
    metrics = {}
    for m in declared("per_layer" if a.trace else "end_to_end"):
        v = got.get(m["name"])
        if v is None and a.trace:
            # a layer this workload does not exercise
            v = {"value": 0, "unit": m["unit"]}
        if v is None or v["value"] is None or v["unit"] != m["unit"] \
                or not METRIC_NAME.fullmatch(m["name"]):
            failures.append({"what": f"metric {m['name']}", "error": f"missing or malformed: {v}"})
            continue
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    extra = {k: v for k, v in got.items() if k not in metrics}
    if extra:
        print("perfbench: other measurements: " + json.dumps(extra, sort_keys=True), file=sys.stderr)
    for f in failures:
        print(f"perfbench: failure: {f['what']}: {f['error']}", file=sys.stderr)
    attempted = res["attempted"]
    failed = len(failures)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
