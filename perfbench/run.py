#!/usr/bin/env python3
"""graft benchmark: two closed-loop workloads over graft's public entry
points, one client each (a single driver thread on
GraftSession.local(cores = all cores)). See perfbench/README.md.

    python3 perfbench/run.py --workload etl_txn --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles graft and the harness
from source into .bench_build/ (about a minute); later runs reuse the build
while no source file changes. The last line of stdout is the result:
{"correct", "attempted", "failed", "metrics"}; the line before it records
the core count, Spark version and Spark confs of the run.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import ledger  # noqa: E402

BUILD = ".bench_build"
WORKLOADS = ["etl_txn", "store_ingest"]
# Output digests of the default seed; any other seed is checked by the
# invariants alone.
DEFAULT_SEED = 1
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark jars with a Scala compiler under %s (set SPARK_HOME)" % jars)
    return os.path.join(jars, "*")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        fail("no graft sources under src/main/scala; run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(jars):
    """Compile graft and the harness into one jar keyed by a hash of every
    source file."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    jar = os.path.join(BUILD, "graftbench-%s.jar" % h.hexdigest()[:16])
    if os.path.exists(jar):
        return jar
    for old in glob.glob(os.path.join(BUILD, "graftbench-*")):
        os.remove(old)
    out = os.path.join(BUILD, "classes")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", jars] + files
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    base = jar[:-len(".jar")]
    shutil.make_archive(base, "zip", out)  # a jar is a zip; CDS archives only jar classes
    os.rename(base + ".zip", jar)
    shutil.rmtree(out)
    return jar


def run_jvm(jar, jars, args, log):
    """Run graftbench.Main with `args`, in its own process group so a
    timeout stops every thread and child it started. The first run of a
    build and workload dumps the classes it loaded into a class-data-sharing
    archive; later runs map it instead of loading those classes from the
    jars again, which takes about 7 s off the first set-up."""
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    jsa = "%s-%s.jsa" % (jar[:-len(".jar")], args[0])
    cds = "-XX:SharedArchiveFile=" if os.path.exists(jsa) else "-XX:ArchiveClassesAtExit="
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss16m", cds + jsa]
           + ["--add-opens=%s=ALL-UNNAMED" % p for p in JVM_OPENS]
           + ["-Djava.io.tmpdir=" + tmp, "-Duser.language=en", "-Duser.country=US",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.local.dir=" + os.path.join(tmp, "spark"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
              "-cp", jar + os.pathsep + jars, "graftbench.Main"] + args)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("harness exited with %s (log: %s)" % (code, log))


def selftest(jar, jars):
    """Unit tests of the statistics, then each workload at a small scale:
    its checks must pass on a clean op and fail on a damaged one."""
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    if not unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful():
        fail("unit tests failed")
    work = os.path.abspath(os.path.join(BUILD, "work", "selftest"))
    out = os.path.join(BUILD, "selftest.json")
    run_jvm(jar, jars, ["selftest", work, out], os.path.join(BUILD, "selftest.log"))
    shutil.rmtree(work, ignore_errors=True)
    with open(out) as f:
        res = json.load(f)
    ok = True
    for w in WORKLOADS:
        r = res[w]
        good = not r["clean_failures"] and bool(r["corrupt_failures"])
        ok &= good
        print("%-13s clean=%s damaged=%s %s" % (w, r["clean_failures"] or "ok",
              r["corrupt_failures"], "PASS" if good else "FAIL"))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    with open("BENCHMARK.json") as f:
        catalogue = json.load(f)
    if a.seconds is None:
        a.seconds = catalogue["run_seconds"]
    jars = spark_jars()
    jar = build(jars)
    if a.selftest:
        selftest(jar, jars)

    tag = "%s-%d-%d" % (a.workload, a.seed, a.trace)
    work = os.path.abspath(os.path.join(BUILD, "work", a.workload))
    raw_path = os.path.join(BUILD, "runs", tag + ".json")
    os.makedirs(os.path.dirname(raw_path), exist_ok=True)
    t0 = time.time()
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, raw_path]
    run_jvm(jar, jars, args, os.path.join(BUILD, "runs", tag + ".log"))
    shutil.rmtree(work, ignore_errors=True)
    with open(raw_path) as f:
        raw = json.load(f)
    with open(os.path.join(HERE, "digests.json")) as f:
        digests = json.load(f)
    expected = digests.get(a.workload) if a.seed == DEFAULT_SEED else None
    result = ledger.summarize(raw, catalogue, a.trace == 1, expected)
    env = {k: raw[k] for k in ("workload", "seed", "cores", "spark_version",
                               "jvm_max_heap_mb", "spark_confs")}
    env.update({"ops": len(raw["ops"]), "sql_execs_per_op": sorted({op["sql_execs"] for op in raw["ops"]}),
                "digests": sorted({op["digest"] for op in raw["ops"]}),
                "failures": [f for op in raw["ops"] for f in op["failures"]] + raw["warmup_failures"],
                "wall_s": round(time.time() - t0, 1)})
    print(json.dumps({"env": env}, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
