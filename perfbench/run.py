#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload match_valuation --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; the line before it is a report
with every metric, its unit and its sample count. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

WORKLOADS = ("match_valuation", "vaep_train", "corpus_curation", "stream_ingest")
BUILD = ".bench_build"
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (as in the repo's build.sbt).
ADD_OPENS = [
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
    """$SPARK_HOME/jars, or else the jar directory build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open("build.sbt").read() if os.path.exists("build.sbt") else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        fail(f"no Spark jars in '{jars}'; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    """The program's sources and the benchmark's own, relative to the checkout."""
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not prog:
        fail("no program sources under src/main/scala; run from the root of a checkout")
    bench = sorted(glob.glob(os.path.join(os.path.relpath(HERE), "src/**/*.scala"), recursive=True))
    return prog + bench


def java_cmd(run_dir, main_args, jar, extra=(), main="graft.perfbench.Main"):
    return (["java", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads", "-Xmx3g", "-Xss8m",
             f"-Djava.io.tmpdir={run_dir}/tmp", *extra]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", os.pathsep.join([jar, spark_jars()]), main,
               "--dir", run_dir, *main_args])


def run_jvm(cmd, log_path, timeout=JVM_TIMEOUT_S):
    """Runs one benchmark JVM; returns its exit code and standard output."""
    run_dir = cmd[cmd.index("--dir") + 1]
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True)
            try:
                out, _ = p.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run exceeded {timeout} s; log in {log_path}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return p.returncode, out


def build():
    """Compiles program + benchmark into .bench_build/perfbench.jar, unless
    the sources are unchanged since the last build, and records the classes
    one tiny run loads in a class-data-sharing archive, so each measured
    JVM maps them instead of reading them from some 300 jars."""
    srcs = sources()
    resources = [f for f in sorted(glob.glob("src/main/resources/**/*", recursive=True)) if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in srcs + resources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "build.sha256")
    jar = os.path.join(BUILD, "perfbench.jar")
    archive = os.path.join(BUILD, "perfbench.jsa")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return jar, archive
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    jars = spark_jars()
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                        "-classpath", jars, "-d", classes, "-nowarn", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    subprocess.run(["jar", "cf", jar, "-C", classes, "."]
                   + (["-C", "src/main/resources", "."] if resources else []), check=True)
    rc, _ = run_jvm(java_cmd(os.path.abspath(os.path.join(BUILD, "train")),
                             ["--workload", "match_valuation", "--seed", "0", "--seconds", "0",
                              "--scale", "tiny"], jar, [f"-XX:ArchiveClassesAtExit={archive}"]),
                    os.path.join(BUILD, "train.log"))
    if rc != 0 or not os.path.exists(archive):
        fail(f"class-data-sharing training run failed; log in {BUILD}/train.log")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar, archive


def record(a, jar, archive):
    """Records the result digests of seeds a.record (FIRST-LAST) for
    a.workload at a.scale and a.cores in expected.json."""
    log_path = os.path.join(BUILD, "record.log")
    rc, out = run_jvm(java_cmd(os.path.abspath(os.path.join(BUILD, f"record-{os.getpid()}")),
                               ["--workload", a.workload, "--seeds", a.record, "--cores", str(a.cores),
                                "--scale", a.scale], jar, [f"-XX:SharedArchiveFile={archive}"],
                               main="graft.perfbench.Record"), log_path, timeout=None)
    if rc != 0:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"JVM exited with {rc}")
    path = os.path.join(HERE, "expected.json")
    with open(path) as fh:
        expected = json.load(fh)
    key = f"{a.scale}-local{a.cores}"
    table = expected.setdefault(a.workload, {}).setdefault(key, {})
    for line in out.splitlines():
        if not line.startswith('{"seed"'):
            continue
        r = json.loads(line)
        if r["problems"]:
            fail(f"seed {r['seed']} failed its checks: {r['problems']}")
        table[str(r["seed"])] = r["digest"]
        print(f"{a.workload} {key} seed {r['seed']}: {r['digest']}", flush=True)
    expected[a.workload][key] = dict(sorted(table.items(), key=lambda kv: int(kv[0])))
    with open(path, "w") as fh:
        json.dump(expected, fh, indent=2)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark local[N] (default: min(4, cores))")
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--record", metavar="FIRST-LAST",
                    help="instead of measuring, record the result digests of these seeds in expected.json")
    a = ap.parse_args()
    if a.record is None and (a.seed is None or a.seconds is None):
        ap.error("--seed and --seconds are required")

    jar, archive = build()
    if a.record:
        record(a, jar, archive)
        return
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores), "--scale", a.scale,
            "--expected", os.path.join(HERE, "expected.json")]
    if a.trace:
        args += ["--trace-out", os.path.abspath(os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.jsonl"))]
    log_path = os.path.join(BUILD, "last-run.log")
    rc, out = run_jvm(java_cmd(os.path.abspath(os.path.join(BUILD, f"run-{os.getpid()}")), args, jar,
                               [f"-XX:SharedArchiveFile={archive}"]), log_path)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"JVM exited with {rc}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
