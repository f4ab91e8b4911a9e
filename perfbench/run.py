#!/usr/bin/env python3
"""Run one benchmark workload of visdomspark and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. The first run builds the program and
the benchmark from source with sbt (offline) into perfbench/target and the
root target/; later runs reuse that build while the sources are unchanged.
The run itself is one JVM (perfbench.Main) at local[nproc]; its last stdout
line is one JSON object with correct/attempted/failed/metrics.
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
WORK = os.path.join(HERE, ".work")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
WORKLOADS = ("extract_dense", "ann_lifecycle")

# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, env=None, cwd=None, stdout=None):
    """Run cmd in its own process group; kill the whole group on timeout.
    Returns (exit code, stdout text or None)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout} s: {cmd[0]}")
        return 124, None
    finally:
        # the whole group goes, also anything the child left behind
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def classpath():
    """Build once per source state; returns the runtime classpath."""
    stamp = os.path.join(WORK, "build", "digest")
    cp_file = os.path.join(WORK, "build", "classpath")
    digest = source_digest()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt not found on PATH")
        sys.exit(2)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and benchmark with sbt")
    code, out = run_group([sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                           "export perfbench/Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, env=env, cwd=HERE, stdout=subprocess.PIPE)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out or "")
        log(f"build failed (exit {code})")
        sys.exit(2)
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def java_cmd(cp, args, tmp):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap and young generation: adaptive sizing would make each
    # JVM's collection pattern, and so its speed, differ from the last
    return (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + opts +
            ["-cp", cp, "perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no visdomspark sources next to {HERE}: run from a full source checkout")
        sys.exit(2)

    cp = classpath()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        if a.selftest:
            args = ["--selftest", "--work", run_dir]
        else:
            args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--work", run_dir]
            if a.trace:
                spans = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}-{os.getpid()}.jsonl")
                args += ["--spans", spans]
        code, out = run_group(java_cmd(cp, args, tmp), RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE)
        lines = [l for l in (out or "").splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        if code != 0 or not lines:
            log(f"benchmark exited with {code}")
            sys.exit(1)
        if a.selftest:
            print(lines[-1])
            return
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            log("malformed result line")
            sys.exit(1)
        print(json.dumps(result), flush=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
