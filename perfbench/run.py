#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark's Scala workloads from source with sbt (perfbench/build.sbt) and keeps the
classpath under perfbench/.build/; later runs reuse it while no source or
build file changed. Each run then starts one JVM with a pinned
environment, checks the workload's outputs, and prints one JSON object as
the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones (and writes perfbench/.traces/<workload>-<seed>.jsonl).
Every run works in a fresh directory under perfbench/.work/ and removes it
when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen_tables
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORKLOADS = ("claims_ingest", "query_mix")
# pinned run environment: local cores and a fixed heap
CPUS = min(4, os.cpu_count() or 1)
HEAP = "3g"
JVM_TIMEOUT_S = 170
SETUP_ROUNDS = 3
# per-layer metric prefixes each workload measures; the rest (jvm., setup.,
# traced.) every workload measures
LAYERS = {
    "claims_ingest": ("edi.", "streaming.claim_streams.", "operators.cms1500_sink."),
    "query_mix": ("queries.", "catalog_stats."),
}

# build.sbt's JVM flags, needed when the JVM is not launched by sbt: the
# JDK 17 --add-opens list for Spark and the 1 GB code cache
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every input of the build: sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    """Compiles with sbt when any input changed; returns the classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building the engine and the benchmark with sbt ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=logf, text=True, timeout=840)
        logf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.exit(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def java_command(cp, work, main, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + flags +
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args)


def run_jvm(cmd, work, log_path):
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_CPUS": str(CPUS), "SPARK_DRIVER_MEM": HEAP,
                "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")})
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=logf, text=True)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"benchmark JVM did not finish in {JVM_TIMEOUT_S} s (log: {log_path})")
    result = next((l for l in reversed(out.splitlines()) if l.startswith("{")), None)
    if p.returncode != 0 or result is None:
        sys.exit(f"benchmark JVM failed with code {p.returncode} (log: {log_path})")
    return json.loads(result)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("no engine sources next to the benchmark: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    cp = build()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    logs = os.path.join(HERE, ".logs")
    os.makedirs(logs, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--cpus", str(CPUS)]
        stage_s = []
        if a.workload == "query_mix":
            dirs = []
            for i in range(SETUP_ROUNDS):
                t0 = time.perf_counter()
                d = os.path.join(work, f"tables{i}")
                gen_tables.generate(a.seed, d)
                stage_s.append(time.perf_counter() - t0)
                dirs.append(d)
            args += ["--tables", ",".join(dirs)]
        if a.trace:
            args += ["--trace-file", os.path.join(HERE, ".traces", f"{a.workload}-{a.seed}.jsonl")]
        res = run_jvm(java_command(cp, work, "graft.perfbench.Main", args), work,
                      os.path.join(logs, f"{a.workload}-{a.seed}.log"))
        problems = list(res["problems"])
        metrics = res["metrics"]
        if stage_s and "setup_s" in metrics:
            # the tables are generated outside the JVM, once per set-up round
            metrics["setup_s"] += statistics.median(stage_s)
        if a.workload == "query_mix":
            problems += oracle.compare(os.path.join(work, "mix_out"),
                                       os.path.join(work, f"tables{SETUP_ROUNDS - 1}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        log(f"CHECK FAILED: {p}")
    if a.trace:
        # a layer that only another workload exercises reads 0 here
        for m in wanted:
            if m["name"].startswith(tuple(p for w, ps in LAYERS.items() if w != a.workload for p in ps)):
                metrics.setdefault(m["name"], 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        sys.exit(f"the run did not measure {missing}")
    out = {"correct": not problems, "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}}
    print(json.dumps(out))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
