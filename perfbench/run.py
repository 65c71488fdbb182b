#!/usr/bin/env python3
"""Build and run the geospark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload sweep --data <scale-factor dir>

Run from the repository root. The first run compiles the engine and the
benchmark with sbt (perfbench/build.sbt) and caches the runtime classpath
under perfbench/target; later runs reuse it until a source file changes.
The benchmark then runs in one JVM (perfbench.Main) and the last line of
stdout is the result JSON. Exits non-zero without a result when the engine
sources are missing, the build fails or the run fails, and non-zero after
the result when an output check failed.

`--workload sweep` is not one of the seeded workloads: it times every
SparkEntry query over an existing scale-factor directory, checks each timed
plan and compares each result with its DuckDB oracle (perfbench/sweep.py).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORKLOADS = ["pip_broadcast", "pip_shuffle_5k", "knn_rings"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
SWEEP_TIMEOUT_S = 3600

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    stamp = os.path.join(TARGET, "build.sha")
    cp_file = os.path.join(TARGET, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", flush=True)
    return cp


def run_java(cp, args, timeout):
    """Run a benchmark main class from the repository root; (stdout, rc)."""
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(TARGET, "artifacts"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout} s")
    return out, proc.returncode


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["sweep"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--data", help="scale-factor directory (sweep only)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found: run from the repository root")

    cp = classpath()
    if a.workload == "sweep":
        if not a.data:
            fail("--workload sweep needs --data <scale-factor dir>")
        sweep_out = os.path.join(TARGET, "sweep_out")
        out, rc = run_java(cp, ["perfbench.Sweep", "--data", a.data,
                                "--out", sweep_out], SWEEP_TIMEOUT_S)
        records = [json.loads(l[len("[sweep] "):]) for l in out.splitlines()
                   if l.startswith("[sweep] {")]
        if rc != 0 or not records:
            sys.stdout.write(out)
            fail(f"sweep failed (exit code {rc})", rc or 2)
        import sweep
        result = sweep.result(records, sweep_out, a.data)
        with open(os.path.join(TARGET, "artifacts", "sweep.json"), "w") as f:
            json.dump({"data": a.data, "queries": records, "result": result}, f)
        print(json.dumps(result), flush=True)
        sys.exit(0 if result["correct"] else 1)

    out, rc = run_java(cp, ["perfbench.Main", "--workload", a.workload,
                            "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", a.trace], RUN_TIMEOUT_S)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write(out)
        fail(f"no result (exit code {rc})", rc or 2)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
