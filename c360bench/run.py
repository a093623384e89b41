#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
  python3 c360bench/run.py --workload c360_features --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine with the harness
(`c360bench/harness`, sbt) and writes the seeded corpus; later runs reuse
both while the sources are unchanged. Each run starts one JVM with
`local[<nproc>]`, builds its inputs, runs one closed-loop client over the
workload's operations for `--seconds`, checks every result, and prints one
JSON object as the last line of stdout: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The full run record
(and, traced, the span file) is kept under
`.c360bench/runs/<workload>-s<seed>-c<cpus>-t<trace>/`.

Extra options: `--record 1` records result goldens instead of checking
them; `--corpus-sf 0.001` runs on a smaller corpus (the smoke run);
`--dump DIR` writes the oracled results for `certify.py` and stops.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(ROOT, ".c360bench")
WORKLOADS = ["c360_features", "driver_loops", "scaled_rows"]
CORPUS_SEED = 42
JVM_DEADLINE_S = 170
BUILD_DEADLINE_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

sys.path.insert(0, HERE)
import corpus  # noqa: E402


def fail(msg, code=2):
    print(f"c360bench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every source the build reads (path, size, mtime)."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                st = os.stat(os.path.join(d, f))
                h.update(f"{d}/{f} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    """The Spark install: $SPARK_HOME, else the first `spark-submit` on
    PATH that sits in an install with a `jars` directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    fail("no Spark install found: set SPARK_HOME")


def build():
    classes = os.path.join(HARNESS, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = source_stamp()
    if (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return classes
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    # every JVM the sbt launcher starts, its version probe too
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false"
                       f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "Compile/copyResources"]
    try:
        r = subprocess.run(cmd, cwd=HARNESS, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.isdir(classes):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record", type=int, choices=[0, 1], default=0)
    p.add_argument("--corpus-sf", default="0.1")
    p.add_argument("--cpus", type=int, default=os.cpu_count())
    p.add_argument("--dump", default="")
    a = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the engine's sources (src/main/scala/graft) are not in this "
             "checkout")
    os.makedirs(STATE, exist_ok=True)
    classes = build()
    data = corpus.ensure(os.path.join(STATE, "corpus", f"sf{a.corpus_sf}"),
                         float(a.corpus_sf), CORPUS_SEED)

    key = f"{a.workload}-s{a.seed}-c{a.cpus}-t{a.trace}"
    if a.corpus_sf != "0.1":
        key += f"-sf{a.corpus_sf}"
    run_dir = os.path.join(STATE, "runs", key)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "work", "tmp"))

    # -UsePerfData: no hsperfdata file under /tmp. C1 only: with C2 the
    # JIT kept compiling Spark's planner for minutes, so every timed pass
    # of a run was faster than the one before and a run's median depended
    # on how far its JIT had got; C1 code is steady after the warm pass.
    # C1 alone defaults to a 48 MB code cache, which Spark fills; once
    # full, the JIT flushes and recompiles without end.
    java = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m",
            "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir}/work/tmp",
            f"-Dlog4j2.configurationFile={HARNESS}/log4j2.properties",
            "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        java += ["--add-opens", f"{m}=ALL-UNNAMED"]
    java += ["-cp", f"{classes}:{spark_home()}/jars/*", "c360bench.Main",
             "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", str(a.trace),
             "--corpus", data, "--run-dir", run_dir, "--cpus", str(a.cpus),
             "--goldens", os.path.join(HERE, "goldens.json"),
             "--record", str(a.record),
             "--launch-ms", str(int(time.time() * 1000))]
    if a.dump:
        java += ["--dump", os.path.abspath(a.dump)]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java, stdout=subprocess.PIPE, stderr=log,
                                cwd=run_dir, start_new_session=True,
                                text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {JVM_DEADLINE_S} s; see {log_path}", 3)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if a.dump and proc.returncode == 0:
        return
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed (exit {proc.returncode}); see {log_path}")
    result = json.loads(lines[-1])
    with open(os.path.join(run_dir, "record.json")) as f:
        rec = json.load(f)
    for name in rec["failures"]:
        print(f"c360bench: failed operation {name}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
