#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and caches the
classpath under .bench_build/, keyed by a hash of the sources. Inputs are
made from --seed into a per-run directory under .bench_run/, deleted at
exit. See perfbench/README.md for the workloads and metrics.

Options for A/B work: --classpath FILE runs a prebuilt harness classpath
(one entry per line, or ':'-joined) instead of building; --engine-classes
DIR swaps the engine classes directory in that classpath, so one harness
build measures a parent and a change.
"""
import argparse
import glob
import hashlib
import json
import os
import runpy
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("relational", "geo_clustered", "geo_random", "llm_dedup")
TABLE_WORKLOADS = ("relational", "llm_dedup")
DEADLINE_S = 170  # the whole run, build excluded
STAGE_REPS = 3
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def source_hash(root):
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties", "src/main/**/*.scala",
            "src/main/**/*.java", "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    for f in sorted({p for pat in pats for p in glob.glob(os.path.join(root, pat), recursive=True)}):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root):
    """Compile engine + harness once per source state; -> classpath entries."""
    out = os.path.join(root, ".bench_build", "perfbench")
    cp_file = os.path.join(out, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().split(os.pathsep)
    os.makedirs(out, exist_ok=True)
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip().split(os.pathsep)


def gen_tables(root, out, seed):
    """The repo's table generator (scripts/gen_sf.py) at sf0.1, seeded."""
    import numpy as np
    real = np.random.default_rng
    np.random.default_rng = lambda _fixed: real(seed)
    argv, stdout = sys.argv, sys.stdout
    try:
        sys.argv, sys.stdout = ["gen_sf.py", "0.1", out], sys.stderr
        runpy.run_path(os.path.join(root, "scripts", "gen_sf.py"), run_name="__main__")
    finally:
        np.random.default_rng, sys.argv, sys.stdout = real, argv, stdout


def stage_tables(src, dst):
    """graft.Bench.stage's layout: tables under 10k rows in one file, the
    others in ~200k-row files, at least 8."""
    import pyarrow.parquet as pq
    for f in sorted(os.listdir(src)):
        t = pq.read_table(os.path.join(src, f))
        files = 1 if t.num_rows < 10000 else max(8, min(64, t.num_rows // 200000))
        step = -(-t.num_rows // files)
        os.makedirs(os.path.join(dst, f))
        for i in range(files):
            pq.write_table(t.slice(i * step, step), os.path.join(dst, f, f"part-{i:05d}.parquet"))


def declared_metrics(root, traced):
    try:
        spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
        return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]
    except (OSError, ValueError, KeyError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--classpath")
    ap.add_argument("--engine-classes")
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "scripts/gen_sf.py"):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"perfbench: run from the repository root ({need} not found)")

    if a.classpath:
        cp = open(a.classpath).read().replace("\n", os.pathsep).strip(os.pathsep).split(os.pathsep)
    else:
        cp = build(root)
    if a.engine_classes:
        engine = os.path.join(root, "target", "scala-2.13", "classes")
        cp = [os.path.abspath(a.engine_classes) if os.path.abspath(e) == engine else e for e in cp]

    run_dir = os.path.join(root, ".bench_run", f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    jvm = None

    def stop(*_):
        raise SystemExit("perfbench: interrupted")
    signal.signal(signal.SIGTERM, stop)
    try:
        t_start = time.time()
        data = os.path.join(run_dir, "data")
        staged = data
        pre_s = 0.0
        if a.workload in TABLE_WORKLOADS:
            gen_tables(root, data, a.seed)
            # staging is the repeated part of set-up: three copies, the
            # median counted, the last one kept
            reps = []
            for i in range(STAGE_REPS):
                if i:
                    shutil.rmtree(staged)
                staged = os.path.join(run_dir, f"staged{i}")
                t = time.time()
                stage_tables(data, staged)
                reps.append(time.time() - t)
            pre_s = time.time() - t_start - sum(reps) + sorted(reps)[len(reps) // 2]
        env = dict(os.environ, GRAFT_SCRATCH=os.path.join(run_dir, "graft_scratch"),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        cmd = ["java", *JVM_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp",
               f"-Dderby.system.home={run_dir}", "-cp", os.pathsep.join(cp), "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--data", staged, "--run", run_dir,
               "--t0", str(int(time.time() * 1000)), "--pre-s", str(pre_s)]
        jvm = subprocess.Popen(cmd, cwd=root, env=env, stdin=subprocess.DEVNULL,
                               stdout=sys.stderr, stderr=sys.stderr)
        rc = jvm.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        jvm = None
        if rc != 0:
            raise SystemExit(f"perfbench: harness exited with {rc}")
        res = json.load(open(os.path.join(run_dir, "result.json")))

        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        if a.workload in TABLE_WORKLOADS:
            sys.path.insert(0, HERE)
            import oracle
            for name, why in oracle.check_refs(root, run_dir, data).items():
                if why is not None:
                    n, f = res["kinds"].get(name, [0, 0])
                    failed += n - f
                    failures.append(f"{name}: reference result disagrees with oracle: {why}")
        correct = failed == 0 and not failures

        res.update(failed=failed, failures=failures, correct=correct,
                   oracle_s=round(time.time() - t_start, 3))
        print(json.dumps(res))
        layer = res["per_layer" if a.trace else "end_to_end"]
        names = declared_metrics(root, a.trace) or list(layer)
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {n: {"value": layer[n]["value"], "unit": layer[n]["unit"]}
                                      for n in names}}))
    finally:
        if jvm is not None:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
