#!/usr/bin/env python3
"""Repository benchmark: two seeded workloads over the graft engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds `src/main` and the
benchmark's own Scala sources (perfbench/scala) with the Scala compiler
shipped in the Spark jars ($SPARK_HOME, else spark-submit's on PATH), into `$CARGO_TARGET_DIR` (default
`.bench_build`); later runs reuse the build while the sources are
unchanged. Each run starts one JVM (local[N], N = usable cores), makes
its inputs from the seed, measures closed-loop passes for `--seconds` of
pass time, checks every pass, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer ones (--trace 1).
The line before it carries the workload's named figures (clone_mb_s,
queries_s, ...). Scratch files live under `.bench_tmp/` and are removed.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["clone_sync", "dedup_media"]
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def sources(repo):
    main = sorted(glob.glob(os.path.join(repo, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"),
                             recursive=True))
    if not main:
        raise BenchError("no src/main/scala sources: run from a repository checkout")
    return main, bench


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else those beside the
    first `bin/spark-submit` on PATH that has them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise BenchError("no Spark distribution: set SPARK_HOME")


def scalac(out, classpath, files):
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        raise BenchError("scalac failed:\n" + r.stdout[-4000:])


def build(repo):
    """Compile once per source state; returns the run classpath."""
    main, bench = sources(repo)
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, repo).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    target = os.path.join(repo, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(target, "perfbench-" + h.hexdigest()[:16])
    jars = os.path.join(spark_jars(), "*")
    cp = f"{out}/main:{out}/bench:{jars}"
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, "perfbench.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, "done")):
            shutil.rmtree(out, ignore_errors=True)
            scalac(os.path.join(out, "main"), jars, main)
            scalac(os.path.join(out, "bench"), f"{out}/main:{jars}", bench)
            open(os.path.join(out, "done"), "w").close()
    return cp


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(cp, root, args):
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={root}/tmp",
            f"-Dderby.stream.error.file={root}/derby.log",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main"] + args)
    os.makedirs(f"{root}/tmp", exist_ok=True)
    with subprocess.Popen(cmd, stdout=subprocess.DEVNULL,
                          stderr=subprocess.PIPE, text=True) as p:
        try:
            _, err = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"JVM exceeded {JVM_TIMEOUT_S} s")
    if p.returncode != 0:
        raise BenchError(f"JVM exited {p.returncode}:\n{err[-4000:]}")


def run_one(repo, cp, workload, seed, seconds, trace):
    root = os.path.join(repo, ".bench_tmp", f"{workload}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        jvm(cp, root, ["run", workload, str(seed), str(seconds),
                       "1" if trace else "0", root, sys.executable, HERE,
                       str(cpus())])
        with open(os.path.join(root, "result.json")) as fh:
            res = json.load(fh)
        verdicts = None
        if workload == "clone_sync":
            verdicts = oracle.compare_queries(os.path.join(root, "evidence"))
            for q, why in sorted(verdicts.items()):
                if why is not None:
                    print(f"[perfbench] oracle mismatch {q}: {why}", file=sys.stderr)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if os.path.exists(root):
        raise BenchError(f"temp root {root} not removed")
    try:
        os.rmdir(os.path.dirname(root))  # only when no other run uses it
    except OSError:
        pass
    return res, verdicts


def metric_block(values, names):
    return {n: {"value": values[n], "unit": u} for n, u in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    repo = os.path.dirname(HERE)
    try:
        cp = build(repo)
        for w in (WORKLOADS if a.workload == "all" else [a.workload]):
            res, verdicts = run_one(repo, cp, w, a.seed, a.seconds, a.trace == 1)
            e2e, detail, layer, attempted, failed, correct = metrics.reduce_run(
                res, verdicts)
            for c in res["checks"]:
                if not c["ok"]:
                    print(f"[perfbench] check {c['name']} failed in pass "
                          f"{c['pass']}: {c['detail']}", file=sys.stderr)
            print(json.dumps({"workload": w, "detail": {
                k: {"value": v, "unit": metrics.DETAIL_UNITS.get(k, "count")}
                for k, v in detail.items()}}))
            block = (metric_block(layer, metrics.per_layer_names()) if a.trace
                     else metric_block(e2e, metrics.END_TO_END))
            print(json.dumps({"correct": correct, "attempted": attempted,
                              "failed": failed, "metrics": block}))
    except BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
