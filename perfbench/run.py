#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Workloads: kline_jdbc, doc_dedup, catalog_llm (see
perfbench/README.md). The first call in a checkout compiles the engine's
sources together with the harness (sbt, offline); later calls reuse the
build while no source file has changed. Each run starts a fresh JVM in a
fresh working directory under perfbench/target/runs/, which is deleted
afterwards, so no Derby, checkpoint, corpus or index state survives a run.

The last line of standard output is the JSON result. Extra modes:
  --workload all         every workload in turn; the last line aggregates
  --overhead             untraced then traced run of one workload with the
                         same seed; prints traced minus untraced per metric
  --record-goldens       rewrite perfbench/goldens/catalog.tsv from a run
                         of catalog_llm
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
GOLDENS = os.path.join(HERE, "goldens", "catalog.tsv")
WORKLOADS = ["kline_jdbc", "doc_dedup", "catalog_llm"]
RUN_TIMEOUT_S = 170
# A fixed-size heap, so G1 does not resize it differently from run to
# run, with the 4 MB regions G1 picks for graft.Bench's 8 GB heap. At
# 2 GB it would pick 1 MB regions; every allocation of half a region or
# more is then humongous, and on the catalog those started a concurrent
# GC cycle about twice a second.
JVM_HEAP = "2g"
JVM_GC = ["-XX:G1HeapRegionSize=4m"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every source and build file's path, size and mtime."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else [
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs]
        for p in sorted(paths):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    print("perfbench: building (sbt compile)", file=sys.stderr)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


def run_jvm(cp, workload, seed, seconds, trace, extra_props=()):
    """One run in a fresh JVM and working directory; returns stdout lines."""
    run_dir = os.path.join(TARGET, "runs", f"{workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *JVM_GC, "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
           *extra_props]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--fixture", FIXTURE,
            "--goldens", GOLDENS]
    if trace:
        cmd += ["--trace-out", os.path.join(HERE, "out", f"trace-{workload}-{seed}.jsonl")]
    log_path = os.path.join(TARGET, f"last-{workload}.log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.run(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                               text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload}: run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log_path) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"{workload}: run failed (exit {p.returncode})")
    return lines


def e2e_values(lines):
    for l in lines:
        if l.startswith("e2e "):
            return json.loads(l[4:])
    return {}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--record-goldens", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    if not os.path.isdir(FIXTURE):
        fail(f"catalog fixture not found at {FIXTURE}")
    if a.workload != "all" and a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)} or all")
    cp = build()

    if a.record_goldens:
        tmp = GOLDENS + ".new"
        if os.path.exists(tmp):
            os.remove(tmp)
        for l in run_jvm(cp, "catalog_llm", a.seed, 0, 0, [f"-Dperfbench.record={tmp}"]):
            print(l)
        os.replace(tmp, GOLDENS)
        return

    if a.overhead:
        off = run_jvm(cp, a.workload, a.seed, a.seconds, 0)
        on = run_jvm(cp, a.workload, a.seed, a.seconds, 1)
        print("\n".join(off[:-1] + on[:-1]))
        v0, v1 = e2e_values(off), e2e_values(on)
        print(f"trace overhead on {a.workload} (traced - untraced):")
        for k in sorted(v0):
            d = v1[k] - v0[k]
            print(f"  {k:24s} {d:+14.4f}  ({100 * d / v0[k]:+.1f}% of {v0[k]:.4f})"
                  if v0[k] else f"  {k:24s} {d:+14.4f}")
        print(on[-1])
        return

    if a.workload == "all":
        agg = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
        for w in WORKLOADS:
            lines = run_jvm(cp, w, a.seed, a.seconds, a.trace)
            print("\n".join(lines[:-1]))
            r = json.loads(lines[-1])
            agg["correct"] &= r["correct"]
            agg["attempted"] += r["attempted"]
            agg["failed"] += r["failed"]
            agg["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
        print(json.dumps(agg))
        return

    print("\n".join(run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)))


if __name__ == "__main__":
    main()
