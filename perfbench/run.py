#!/usr/bin/env python3
"""Run one workload of the graft table-format benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the library
(src/main/scala) together with the benchmark (perfbench/src) with the Scala
compiler shipped in the Spark distribution, into .bench_build/; later runs
reuse the classes while the sources are unchanged. Each run starts one JVM
with local[nproc] Spark, works in its own directory under .bench_work/
(removed afterwards), writes traced spans to .bench_out/, and prints the
result JSON as the last line of stdout.
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
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_small_commits", "pruned_reads")
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of a Spark distribution that ships a Scala compiler: SPARK_HOME,
    else the distribution of a `spark-submit` on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found at {lib}: run from a source checkout")
    files = []
    for base in (lib, os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(jars):
    """Compiles library + benchmark once per source state; returns the class dir."""
    srcs = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    res_files = sorted(glob.glob(os.path.join(res, "**", "*"), recursive=True))
    digest = hashlib.sha256()
    for f in srcs + [r for r in res_files if os.path.isfile(r)]:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    build_root = os.path.join(ROOT, ".bench_build")
    out = os.path.join(build_root, "classes-" + digest.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    shutil.rmtree(build_root, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    args_file = os.path.join(build_root, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs (sf0.001 sizes) for the smoke test")
    a = p.parse_args()

    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(ROOT, ".bench_out")
    jvm = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss4m", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work}/derby.log",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for o in JDK17_OPENS:
        jvm += ["--add-opens", f"{o}=ALL-UNNAMED"]
    if a.workload == "pruned_reads":
        jvm.append(f"-Dgraft.meta.uri=jdbc:derby:{work}/meta;create=true")
    jvm += ["-cp", classes + os.pathsep + jars, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out_dir]
    if a.smoke:
        jvm.append("--smoke")

    log = os.path.join(work, "jvm.log")
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(jvm, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
                return 1
        lines = [l for l in stdout.splitlines() if l.strip()]
        result = None
        if proc.returncode == 0 and lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            with open(log) as fh:
                tail = fh.readlines()[-60:]
            sys.stderr.write("".join(tail))
            print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
            return 1
        for l in lines[:-1]:
            if l.startswith("PERFBENCH_REPORT "):
                print(l)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
