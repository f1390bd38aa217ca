#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload spatial_join --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke            # every workload, both modes, tiny sizes
    python3 perfbench/run.py --record-digests   # re-record the query_suite output digests

Run from the repository root. The script compiles the engine's sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
with the Scala compiler shipped in the Spark jar directory that build.sbt
names, caches the classes under .bench_build keyed by a source hash, and
runs one JVM at local[<cpus>]. Everything a run writes (Spark local dirs,
java.io.tmpdir, the engine's fixture root and streaming checkpoints) lives
in a per-run directory under .bench_build that is deleted afterwards.

The last line of standard output is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {name: {"value", "unit"}}}
with every end_to_end metric of BENCHMARK.json when --trace 0 and every
per_layer metric when --trace 1. Metric definitions: perfbench/METRICS.md.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests", "query_suite.tsv")
SHM = "/dev/shm"
# the engine's process-scoped scratch that escapes the redirected dirs
SHM_PREFIX = "graft_"
# a run must end within 180 s, or 900 s when it compiles; leave room to clean up
DEADLINE_S, BUILD_DEADLINE_S = 172, 880
STARTED = time.time()

# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from a checkout of the engine")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    jar_dir = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(os.path.join(jar_dir, j) for j in os.listdir(jar_dir) if j.endswith(".jar"))
    if not jars:
        fail(f"no jars in {jar_dir}")
    return jars


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            fail(f"missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile engine + benchmark once per source hash; returns (classes dir, compiled)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + jars:
        h.update(os.path.relpath(p, ROOT).encode())
        if p.endswith(".scala"):
            h.update(open(p, "rb").read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes, False
    os.makedirs(BUILD, exist_ok=True)
    for old in os.listdir(BUILD):
        if old.startswith("classes-"):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.makedirs(classes)
    cp = ":".join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-classpath", cp, "-d", classes, "-nowarn"] + srcs
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        sys.stderr.write(r.stdout)
        fail("compilation failed")
    open(os.path.join(classes, ".done"), "w").close()
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes, True


def du(path):
    total = 0
    if os.path.isfile(path) or os.path.islink(path):
        return os.lstat(path).st_size
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def shm_entries():
    try:
        return {e for e in os.listdir(SHM) if e.startswith(SHM_PREFIX)}
    except OSError:
        return set()


def spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found")
    return json.load(open(path))


def run_jvm(workload, seed, seconds, trace, smoke=False, record=False, started=STARTED):
    """One JVM run. Returns (BENCHMARK.json, result dict from the JVM, leaked bytes)."""
    bench = spec()
    jars = spark_jars()
    if not os.path.isdir(DATA):
        fail("benchmark data missing")
    classes, compiled = build(jars)
    deadline = started + (BUILD_DEADLINE_S if compiled else DEADLINE_S)
    scratch = os.path.join(BUILD, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    dirs = {k: os.path.join(scratch, k)
            for k in ("tmp", "fixtures", "stream_ckpt", "spark_local", "work")}
    for d in dirs.values():
        os.makedirs(d)
    out = os.path.join(scratch, "result.json")
    env = dict(os.environ,
               SPARK_GRAFT_FIXTURE_ROOT=dirs["fixtures"],
               SPARK_GRAFT_STREAM_CKPT=dirs["stream_ckpt"],
               SPARK_LOCAL_DIRS=dirs["spark_local"])
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={dirs['tmp']}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + ":" + ":".join(jars), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", DATA, "--digests", DIGESTS,
            "--scratch", dirs["work"], "--out", out])
    if smoke:
        cmd.append("--smoke")
    if record:
        cmd.append("--record-digests")
    shm_before = shm_entries()
    proc = subprocess.Popen(cmd, env=env, cwd=dirs["work"], stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        stdout = ""
        try:
            stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(proc)
        sys.stdout.write(stdout)
        # bytes the program left behind: its fixture root and temp files (both
        # redirected into the run directory) plus tmpfs entries it created
        new_shm = [os.path.join(SHM, e) for e in shm_entries() - shm_before]
        leaked = du(dirs["fixtures"]) + du(dirs["tmp"]) + sum(du(p) for p in new_shm)
        result = json.load(open(out)) if proc.returncode == 0 and os.path.isfile(out) else None
    finally:  # also when this script is interrupted
        stop(proc)
        for e in shm_entries() - shm_before:
            shutil.rmtree(os.path.join(SHM, e), ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
    if result is None:
        fail(f"{workload}: JVM exited with {proc.returncode} and no result")
    return bench, result, leaked


def stop(proc):
    """Kill the JVM's process group if it is still running, and reap it."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()


def finish(bench, result, leaked, trace):
    """Attach units from BENCHMARK.json; every listed metric must be present."""
    values = dict(result["metrics"])
    if trace:
        values["sources.scratch_leak_bytes"] = float(leaked)
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    extra = sorted(set(values) - {m["name"] for m in wanted})
    if missing or extra:
        fail(f"metric set mismatch: missing {missing}, unexpected {extra}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    return {"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def smoke():
    """Tiny run of every workload in both modes: every named metric is emitted
    with a unit and every output check of the workload ran."""
    bench = spec()
    ok = True
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            _, result, leaked = run_jvm(w, 1, 1, trace, smoke=True, started=time.time())
            final = finish(bench, result, leaked, trace)
            ran = result["checks_ran"]
            missing = sorted(set(result["checks_expected"]) - set(ran))
            bad = [n for n, m in final["metrics"].items()
                   if not isinstance(m["value"], (int, float)) or not m["unit"]]
            status = "ok" if not missing and not bad and final["correct"] else "FAIL"
            ok &= status == "ok"
            print(f"smoke {w} trace={trace}: {status} metrics={len(final['metrics'])} "
                  f"checks={len(ran)} missing_checks={missing} bad_metrics={bad} "
                  f"attempted={final['attempted']} failed={final['failed']}")
    print(json.dumps({"smoke": "pass" if ok else "fail"}))
    sys.exit(0 if ok else 1)


def main():
    # a terminated run unwinds through run_jvm's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        smoke()
    if a.record_digests:
        run_jvm("query_suite", 1, 1, 0, record=True, started=time.time() + BUILD_DEADLINE_S)
        print(f"recorded {os.path.relpath(DIGESTS, ROOT)}")
        return
    names = [w["name"] for w in spec()["workloads"]]
    if a.workload not in names:
        fail(f"--workload must be one of {names}")
    bench, result, leaked = run_jvm(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(finish(bench, result, leaked, a.trace)))


if __name__ == "__main__":
    main()
