#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The first run compiles the library and
the harness (perfbench/build.sbt) into perfbench/target; later runs reuse
that build while the sources are unchanged. Scratch files live under
.perfbench/work/ and are deleted when the run ends; the full per-run
report (environment, phases, errors, layer detail) and, with --trace 1,
the spans are kept under .perfbench/reports/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    pats = ["src/main/**/*", f"{BENCH}/src/**/*", f"{BENCH}/build.sbt",
            f"{BENCH}/project/build.properties"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(root, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def source_digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH", 2)
    return home


def build(root, digest, state, spark):
    classes = os.path.join(root, BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(root, BENCH, "target", "perfbench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(state, "build.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], log_path,
                  BUILD_TIMEOUT_S, cwd=os.path.join(root, BENCH), env=env)
    if rc != 0 or not os.path.isdir(classes):
        fail(f"build failed (rc={rc}); see {log_path}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def run_proc(cmd, log_path, timeout, **kw):
    """Runs cmd in its own process group; on timeout or any exit of this
    process the whole group is killed and reaped."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True, **kw)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def main():
    # a SIGTERM must unwind through run_proc, which kills and reaps its group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found; run from the repository root", 2)
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; run from the repository root", 2)
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    state = os.path.join(root, ".perfbench")
    reports = os.path.join(state, "reports")
    os.makedirs(reports, exist_ok=True)
    spark = spark_home()
    digest = source_digest(root)
    classes = build(root, digest, state, spark)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(state, "work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(reports, f"{tag}.json")
    spans = os.path.join(reports, f"{tag}-spans.jsonl")
    for f in (out, spans):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["--add-modules=jdk.incubator.vector", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dgraft.index.dir={os.path.join(work, 'index')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(spark, 'jars')}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--spans", spans]
    t0 = time.time()
    try:
        rc = run_proc(cmd, os.path.join(reports, f"{tag}.log"), JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        fail(f"run failed (rc={rc}); see {os.path.join(reports, tag + '.log')}", 4)

    res = json.load(open(out))
    values = res["end_to_end"] if not a.trace else res["layer"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"run did not measure {missing}", 5)
    res["env"]["source_digest"] = digest
    res["env"]["run_wall_s"] = time.time() - t0
    if a.trace:
        # tracing overhead: this traced run's end-to-end values minus the
        # latest untraced run of the same workload and seed
        base = os.path.join(reports, f"{a.workload}-s{a.seed}-t0.json")
        if os.path.exists(base):
            b = json.load(open(base))["end_to_end"]
            res["tracing_overhead"] = {k: res["end_to_end"][k] - b[k] for k in b}
            print("perfbench: tracing overhead " + json.dumps(res["tracing_overhead"]),
                  file=sys.stderr)
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)
    for e in res["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
