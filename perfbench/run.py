#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the harness and
graft's sources with sbt into $CARGO_TARGET_DIR (default
`.bench_build`); later runs reuse the build while the sources are
unchanged. Each run gets a fresh working directory under the build
directory, removed afterwards; a traced run keeps its spans in
`<build>/traces/`. The last line of standard output is the JSON result;
progress and Spark's log go to standard error. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ["sync_full", "query"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def source_stamp():
    """Hash of every file the build compiles or reads."""
    h = hashlib.sha256()
    files = [os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for top in (GRAFT_SRC, os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(target):
    """Compile graft and the harness into `target`; return the classes dir."""
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp_file = os.path.join(target, "source.sha256")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"building into {target}")
    env = dict(os.environ, PERFBENCH_TARGET=target, PERFBENCH_SPARK_JARS=spark_jars())
    # the build resolves only from local caches, as the root build does
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], HARNESS, 840, env=env,
                     stdout=sys.stderr)[0]
    if code != 0:
        sys.exit(f"build failed ({code})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def java_cmd(classes, work, main_args):
    """A JVM for the harness: Spark's module opens, UTC, temp files in `work`."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + [
        "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}", f"-Dspark.local.dir={work}",
        "-Dspark.ui.enabled=false", "-cp", f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}",
    ] + main_args


def run_child(cmd, cwd, timeout, env=None, stdout=subprocess.PIPE):
    """Run `cmd`; on timeout, error or SIGTERM, kill it and wait for it.
    Returns (exit code or None on timeout, captured stdout)."""
    child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr, text=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = child.communicate(timeout=timeout)
        return child.returncode, out
    except subprocess.TimeoutExpired:
        return None, ""
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        sys.exit(f"graft sources not found under {GRAFT_SRC}: run from a checkout of the repository")

    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(target, exist_ok=True)
    classes = build(target)

    work = os.path.join(target, "runs", f"{a.workload}-seed{a.seed}-pid{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = run_child(java_cmd(classes, work, [
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--expected", os.path.join(HERE, "expected.json"), "--out", work]), work, RUN_TIMEOUT_S)
        if code is None:
            sys.exit(f"run exceeded {RUN_TIMEOUT_S}s")
        spans = os.path.join(work, "spans.jsonl")
        if a.trace == 1 and os.path.exists(spans):
            traces = os.path.join(target, "traces")
            os.makedirs(traces, exist_ok=True)
            dest = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
            shutil.move(spans, dest)
            log(f"spans written to {dest}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1]) if code == 0 and lines else None
    except ValueError:
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"harness exited {code} without a result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
