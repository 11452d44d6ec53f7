#!/usr/bin/env python3
"""Medallion-round and dashboard benchmark for the graft engine.

Builds the engine (src/main) and the benchmark (perfbench/src) with the
Scala compiler that ships in the Spark distribution, runs one workload in a
fresh JVM, and prints its metrics. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list.

  python3 perfbench/run.py --workload daily_increment --seed 1 --seconds 5 --trace 0
  python3 perfbench/run.py --all --seed 1 --seconds 45 --out perfbench/results/traced_seed1.json

Run from the repository root. Build output and scratch data go under
.bench_build/ in the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, ".bench_build", "perfbench")
WORKLOADS = ["daily_increment", "bulk_backfill", "dashboard_reads"]
# A run's JVM must finish inside the 180 s a run is given.
JVM_TIMEOUT_S = 170
MAX_CORES = 4

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BenchError("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources(root, exts):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(exts)]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, log):
    """Compile `srcs` into `out` unless its stamp matches the inputs."""
    stamp = os.path.join(out + ".stamp")
    key = digest(srcs, ":".join(classpath))
    if os.path.exists(stamp) and open(stamp).read() == key:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in classpath if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = out + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", out, "-classpath", ":".join(classpath)] + srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "@" + args_file]
    with open(log, "a") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise BenchError(f"compile failed for {out} (see {log})")
    with open(stamp, "w") as f:
        f.write(key)


def build():
    """Engine classes, then benchmark classes; returns the run classpath."""
    jars = spark_jars()
    prog_src = sources(os.path.join(REPO, "src", "main", "scala"), (".scala", ".java"))
    bench_src = sources(os.path.join(HERE, "src"), (".scala",))
    if not prog_src:
        raise BenchError("no engine sources under src/main/scala")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    open(log, "w").close()
    prog = os.path.join(BUILD, "engine")
    bench = os.path.join(BUILD, "bench")
    scalac(prog_src, prog, jars, log)
    resources = os.path.join(REPO, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, prog, dirs_exist_ok=True)
    scalac(bench_src, bench, [prog] + jars, log)
    return [bench, prog] + jars


def machine():
    """Cores and heap for this machine: at most MAX_CORES, and a quarter
    of physical memory clamped to [1, 4] GiB."""
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count() or 1
    cores = max(1, min(cpus, MAX_CORES))
    mem_kb = 4 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = max(1024, min(4096, mem_kb // 4 // 1024)) // 256 * 256
    return cores, heap_mb, mem_kb // 1024, cpus


def run_jvm(classpath, workload, seed, seconds, trace):
    cores, heap_mb, mem_mb, cpus = machine()
    work = os.path.join(REPO, ".bench_build", "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap_mb}m", f"-Xms{heap_mb}m", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={cores}", f"-Djava.io.tmpdir={work}/tmp",
            # the engine's own codegen class-cache size (build.sbt)
            "-Dspark.sql.codegen.cache.maxEntries=4096"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), "perfbench.Bench",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", work, "--cores", str(cores)])
    log = os.path.join(BUILD, f"{workload}.log")
    try:
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, text=True, cwd=work)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                raise BenchError(f"{workload}: JVM timed out after {JVM_TIMEOUT_S} s (see {log})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if p.returncode != 0 or not lines:
        raise BenchError(f"{workload}: JVM exited {p.returncode} without a result (see {log})")
    res = json.loads(lines[-1][len("RESULT "):])
    res["env"].update({"nproc": str(cpus), "mem_total_mb": str(mem_mb),
                       "workload": workload, "seconds": str(seconds)})
    return res


def declared():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        b = json.load(f)
    return [m["name"] for m in b["end_to_end"]], [m["name"] for m in b["per_layer"]]


def report(res):
    """Human-readable lines: every metric the run measured, with unit and
    sample count, and the output-check verdict."""
    env = res["env"]
    print(f"# {env['workload']} seed={env['seed']} trace={env['trace']} "
          f"cores={env['cores']} heap_mb={env['heap_mb']} jdk={env['jdk']} spark={env['spark']}")
    for n, m in res["metrics"].items():
        print(f"  {n:34s} {m['value']:>16.6g} {m['unit']:6s} n={m['n']}")
    print(f"  correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    for note in res["notes"]:
        print(f"  note: {note}")


def strict(res, names):
    return {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {n: {"value": res["metrics"][n]["value"], "unit": res["metrics"][n]["unit"]}
                        for n in names}}


def run_all(classpath, seed, seconds, out):
    """Every workload untraced then traced; the traced record carries the
    tracing overhead (traced minus untraced round_s.p50)."""
    record = {"seed": seed, "seconds": seconds, "workloads": {}}
    for w in WORKLOADS:
        plain = run_jvm(classpath, w, seed, seconds, False)
        report(plain)
        traced = run_jvm(classpath, w, seed, seconds, True)
        report(traced)
        over = traced["metrics"]["round_s.p50"]["value"] - plain["metrics"]["round_s.p50"]["value"]
        print(f"  tracing overhead (traced - untraced round_s.p50): {over:+.4f} s")
        record["workloads"][w] = {
            "env": traced["env"], "correct": plain["correct"] and traced["correct"],
            "untraced": {"attempted": plain["attempted"], "failed": plain["failed"],
                         "notes": plain["notes"], "metrics": plain["metrics"]},
            "traced": {"attempted": traced["attempted"], "failed": traced["failed"],
                       "notes": traced["notes"], "metrics": traced["metrics"],
                       "detail": traced["detail"]},
            "tracing_overhead_s": over,
        }
    if out:
        with open(out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=False)
            f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="every workload, untraced and traced")
    ap.add_argument("--out", help="with --all: write the combined record here")
    a = ap.parse_args()
    try:
        e2e, layer = declared()
        classpath = build()
        if a.all:
            run_all(classpath, a.seed, a.seconds, a.out)
            return 0
        if not a.workload:
            ap.error("--workload or --all is required")
        res = run_jvm(classpath, a.workload, a.seed, a.seconds, a.trace == 1)
        names = layer if a.trace else e2e
        missing = [n for n in names if n not in res["metrics"]]
        if missing:
            raise BenchError(f"metrics missing from the run: {missing}")
        report(res)
        keep = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        with open(keep, "w") as f:
            json.dump(res, f, indent=1)
        print(json.dumps(strict(res, names)))
        return 0
    except (BenchError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
