#!/usr/bin/env python3
"""Benchmark runner for the graft library (Mortar two-level query and the
operator surface).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--slots <task slots>]

Run from the root of a checkout. The first run builds the library and the
JVM side of the benchmark from source with sbt (offline); later runs reuse
the build while the sources are unchanged. Inputs are generated from the
seed under `.bench_build/perfbench/`, one JVM runs the workload in a closed
loop, and the last line of stdout is the JSON result. `--workload all` runs
every workload in turn. Everything else the run leaves (raw samples,
environment, per-query breakdown) goes to `.bench_build/perfbench/results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["mortar_read", "wide_store_lookup", "mortar_ingest", "operator_mix"]
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
SBT_CLASSPATH = os.path.join(HERE, "target", "runtime-classpath.txt")
JAR_CLASSPATH = os.path.join(BUILD, "classpath.txt")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
STAMP = os.path.join(BUILD, "build.stamp")
SETUP_REPS = {"mortar_read": 1, "wide_store_lookup": 1, "mortar_ingest": 1, "operator_mix": 3}
MAX_STEADY_S = 90
RUN_LIMIT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Files the build depends on: the library and the benchmark's JVM side."""
    out = []
    for top in ("src/main", "project", "perfbench/src", "perfbench/project"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]  # sbt outputs
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".sbt", ".properties"))]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def package(path):
    """A class directory as a jar: class-data archives accept only jars."""
    jar = os.path.join(BUILD, "jars", hashlib.sha256(path.encode()).hexdigest()[:16] + ".jar")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, files in os.walk(path):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), path))
    return jar


def build():
    """Compile with sbt unless the classpath was built from these sources,
    then record a class-data archive from a short run on a tiny store, so
    every run starts its JVM from the archive."""
    digest = source_digest()
    if os.path.exists(STAMP) and os.path.exists(JAR_CLASSPATH):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    print("perfbench: building with sbt", file=sys.stderr)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if p.returncode != 0 or not os.path.exists(SBT_CLASSPATH):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(os.path.join(BUILD, "jars"), ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "jars"))
    with open(SBT_CLASSPATH) as f:
        cp = [package(x) if os.path.isdir(x) else x for x in f.read().strip().split(os.pathsep)]
    with open(JAR_CLASSPATH, "w") as f:
        f.write(os.pathsep.join(cp))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    gen.generate("mortar_read", 0, os.path.join(work, "input"),
                 dict(streams=6, readings=2100, ops=12))
    try:
        run_jvm(work, "mortar_read", 0, 0, os.cpu_count(), [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    except subprocess.TimeoutExpired:
        pass  # runs then start without the archive
    shutil.rmtree(work, ignore_errors=True)
    with open(STAMP, "w") as f:
        f.write(digest)


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def run_jvm(work, workload, seconds, trace, slots, jvm_opts=()):
    """Run one workload whose inputs are under `work`/input in a fresh JVM;
    returns (exit code, result path, log path)."""
    scratch, out, log = (os.path.join(work, x) for x in ("tmp", "result.json", "jvm.log"))
    os.makedirs(scratch, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    with open(JAR_CLASSPATH) as f:
        cp = f.read().strip()
    if os.path.exists(ARCHIVE) and not jvm_opts:
        jvm_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [java, *jvm_opts, "-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=256m",
           "-XX:-UsePerfData",
           f"-XX:ActiveProcessorCount={slots}", *opens,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}",
           f"-Dspark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')}",
           f"-Dspark.hadoop.hadoop.tmp.dir={scratch}",
           "-Dspark.driver.host=localhost",
           "-cp", cp, "perfbench.Main",
           "--spec", os.path.join(work, "input", "spec.json"), "--out", out,
           "--work", os.path.join(work, "store"), "--seconds", str(seconds),
           "--max-seconds", str(MAX_STEADY_S), "--trace", str(trace), "--slots", str(slots),
           "--setup-reps", str(SETUP_REPS.get(workload, 1)),
           "--digests", os.path.join(HERE, "operator_digests.json")]
    with open(log, "w") as f:
        p = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                           timeout=RUN_LIMIT_S)
    return p.returncode, out, log


def run_one(workload, seed, seconds, trace, slots):
    work = os.path.join(BUILD, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t = time.time()
        gen.generate(workload, seed, os.path.join(work, "input"))
        gen_s = time.time() - t
        code, out, log = run_jvm(work, workload, seconds, trace, slots)
        if code != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"{workload}: JVM exited with {code}")
        with open(out) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        fail(f"{workload}: run exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e, report = metrics.end_to_end(res)
    failed = sum(not o["ok"] for o in res["ops"])
    env = dict(res["env"], nproc=os.cpu_count(), seed=seed, workload=workload, trace=trace,
               git_commit=git_commit(), source_digest=source_digest(), gen_s=round(gen_s, 3))
    if trace:
        values, units = metrics.per_layer(res), metrics.PER_LAYER
    else:
        values, units = e2e, metrics.END_TO_END
    line = {"correct": failed == 0, "attempted": len(res["ops"]), "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units}}

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    stem = f"{workload}-seed{seed}-trace{trace}-slots{slots}"
    with open(os.path.join(BUILD, "results", stem + ".json"), "w") as f:
        json.dump(dict(env=env, result=line, report=report, per_query=metrics.per_query(res),
                       failures=[o["detail"] for o in res["ops"] if not o["ok"]][:20],
                       raw=res), f)

    print(f"# {workload} seed={seed} slots={slots} nproc={env['nproc']} "
          f"heap={env['heap_max_mb']}MB jdk={env['jdk']} spark={env['spark']} "
          f"commit={env['git_commit'] or 'n/a'} source={env['source_digest'][:12]}")
    for k, v in line["metrics"].items():
        print(f"#   {k} = {v['value']:.6g} {v['unit']}")
    print(f"#   latency_tail_ms is p{report['tail_percentile']} of {report['tail_samples']} ops"
          f"; failed_op_share = {report['failed_op_share']:.6g}"
          f"; space_amplification = {report['space_amplification'] or 'n/a'}")
    if trace:
        print(f"#   tracing overhead: traced/untraced op latency = {values['trace.overhead_ratio']:.4g}")
    for d in [o["detail"] for o in res["ops"] if not o["ok"]][:5]:
        print(f"#   failed: {d}")
    return line


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--slots", type=int, default=os.cpu_count(),
                    help="Spark task slots (local[N]); results at different slot counts "
                         "are not comparable")
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no library sources at {ROOT} (run from the root of a checkout)")
    build()
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        line = run_one(w, a.seed, a.seconds, a.trace, a.slots)
        print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
