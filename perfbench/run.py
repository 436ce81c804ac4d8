#!/usr/bin/env python3
"""osmiumspark benchmark launcher.

Builds the benchmark (an sbt build in this directory that depends on the
repository's root project) unless its class directories provably hold the
current sources, then runs one workload in a fresh JVM and relays its
result. The last line of standard output is the JSON result object.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 10 --trace 0

sbt compiles into the target/ directories of the root project and of this
directory; the build log, run logs, span files and run records go under
$CARGO_TARGET_DIR (default .bench_build) of the checkout.
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
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# Written into each class directory after a build: the digest of the
# sources the directory was compiled from.
SOURCE_MARK = ".perfbench-source"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild, relative to ROOT."""
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src/main"]
    out = []
    for r in roots:
        p = os.path.join(ROOT, r)
        if os.path.isfile(p):
            out.append(r)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x != "target" and
                             not (x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    out.append(os.path.relpath(os.path.join(d, f), ROOT))
    return sorted(set(out))


def run_group(cmd, cwd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def source_digest():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def read_launch(path):
    """The JVM arguments `sbt launch` wrote, or None."""
    try:
        with open(path) as f:
            args = [l.rstrip("\n") for l in f if l.strip()]
    except OSError:
        return None
    return args if "-cp" in args else None


def class_dirs(args):
    """The directories of the checkout on the classpath: what sbt compiled."""
    cp = args[args.index("-cp") + 1].split(os.pathsep)
    return [p for p in cp if os.path.abspath(p).startswith(ROOT + os.sep)]


def classes_hold(dirs, digest):
    """True if every class directory was compiled from sources with this
    digest and nothing in it changed since (another build rewrites files)."""
    if not dirs:
        return False
    for d in dirs:
        mark = os.path.join(d, SOURCE_MARK)
        try:
            with open(mark) as f:
                if f.read().strip() != digest:
                    return False
            t = os.stat(mark).st_mtime_ns
            for sub, _, files in os.walk(d):
                if sub != d and os.stat(sub).st_mtime_ns > t:
                    return False
                for f in files:
                    if os.stat(os.path.join(sub, f)).st_mtime_ns > t:
                        return False
        except OSError:
            return False
    return True


def build(build_dir):
    """Returns the JVM arguments of a run, compiling first unless the class
    directories provably hold the current sources."""
    digest = source_digest()
    launch = os.path.join(HERE, "target", "launch.txt")
    args = read_launch(launch)
    if args and classes_hold(class_dirs(args), digest):
        return args
    log = os.path.join(build_dir, "logs", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    t0 = time.time()
    with open(log, "w") as lf:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                            cwd=HERE, timeout=BUILD_TIMEOUT_S, stdout=lf, stderr=lf)
    if code != 0:
        fail(f"build failed (exit {code}); see {log}", 1)
    args = read_launch(launch)
    if not args:
        fail(f"build wrote no {launch}; see {log}", 1)
    # written after sbt has finished, so every class file is older
    for d in class_dirs(args):
        if os.path.isdir(d):
            with open(os.path.join(d, SOURCE_MARK), "w") as f:
                f.write(digest + "\n")
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)
    return args


def main():
    # a terminated launcher still unwinds, so run_group kills its child group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write perfbench/reference.json from this run's outputs")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from a checkout of the repository")
    with open(os.path.join(HERE, "workloads.json")) as f:
        if a.workload not in json.load(f)["workloads"]:
            fail(f"unknown workload {a.workload}")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jvm = build(build_dir)
    work = os.path.join(build_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # The root build's heap default is sized for a larger host. Spark's
    # generated-class cache holds 100 classes by default; a workload's
    # queries evict each other's, and a query whose classes were evicted
    # recompiles them and runs them un-JITted: 1.5-1.8x the time and CPU of
    # a run with its classes cached, and how often depends on the seed's
    # query order. A larger cache keeps every query's classes between runs.
    cmd = (["java"] + [x for x in jvm if not x.startswith("-Xmx")] +
           ["-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            "-Dspark.sql.codegen.cache.maxEntries=5000"])
    cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", ROOT,
            "--work", work, "--cores", str(cores)]
    if a.record:
        cmd += ["--record", "1"]
    log = os.path.join(build_dir, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(log, "w") as lf:
        code, out = run_group(cmd, cwd=ROOT, timeout=RUN_TIMEOUT_S, env=env,
                              stdout=subprocess.PIPE, stderr=lf, text=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s; see {log}", 1)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if code != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stdout.write("\n".join(lines[:-1] if result is not None else lines) + "\n")
        fail(f"run failed (exit {code}); see {log}", 1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
