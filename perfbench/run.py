#!/usr/bin/env python3
"""Run one perfbench workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the benchmark and the program from source
with sbt (perfbench/build.sbt depends on the build in the parent directory),
packs the compiled classes into jars in the build directory
($CARGO_TARGET_DIR, else .bench_build) under a digest of every source file,
so a cached build always runs the sources it was built from, and records a
class-data archive (AppCDS) of the classes a set-up loads. Each run waits
briefly for a quiet host, then starts one JVM with that archive, which
prints a full record line and, as the last line of standard output, the
result JSON. The record line is also saved under <build dir>/results/ for
perfbench/compare.py.

analyst-mix reads tables that analyst.py generates from the seed before the
JVM starts, and its query outputs are checked against DuckDB after the JVM
ends.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import analyst  # noqa: E402 — the benchmark's own module, beside this file

WORKLOADS = ("medallion-replay", "table-commits", "analyst-mix")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 150
# On a shared virtual machine the host now and then takes a fifth of the CPU
# time for minutes, which stretches every latency of a run by up to 1.9x.
# A run waits, at most QUIET_WAIT_S, for a second in which the host takes
# under QUIET_STEAL of it.
QUIET_STEAL = 0.05
QUIET_WAIT_S = 15
# A fixed heap and young generation under the parallel collector: peak RSS
# then tracks retained memory instead of the collector's heap sizing.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC"]
# Spark on JDK 17 needs these when a session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_files():
    """Every file the build reads: the program's build and main sources,
    and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def classpath(bdir):
    for needed in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"no program to build: {needed} is missing next to perfbench/")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    key = digest.hexdigest()[:16]
    cached = os.path.join(bdir, f"build-{key}")
    stamp = os.path.join(cached, "classpath.txt")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(bdir, exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        errors = [l for l in proc.stdout.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[:40]) + "\n")
        fail("build failed")
    # sbt compiles into target/ directories that the next build of other
    # sources overwrites: the cache keeps its own jar of every class
    # directory of this checkout and points the classpath at the jars
    shutil.rmtree(cached, ignore_errors=True)
    os.makedirs(cached)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        real = os.path.realpath(entry)
        if os.path.isdir(real) and real.startswith(os.path.realpath(ROOT) + os.sep):
            jar = shutil.make_archive(os.path.join(cached, f"classes{i}"), "zip", real)
            entry = jar[:-len(".zip")] + ".jar"
            os.replace(jar, entry)
        entries.append(entry)
    cp = os.pathsep.join(entries)
    # the class-data archive: one set-up, recorded at exit
    work = os.path.join(cached, "train")
    proc = subprocess.run(
        java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={archive(cp)}"])
        + ["--setup-only", "1", "--work", work],
        cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
        timeout=RUN_TIMEOUT_S, stdin=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(archive(cp)):
        sys.stderr.write(proc.stderr[-4000:])
        fail("class-data archive not written")
    with open(stamp + ".tmp", "w") as fh:
        fh.write(cp + "\n")
    os.replace(stamp + ".tmp", stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def archive(cp):
    """The class-data archive beside the jars of classpath `cp`."""
    return os.path.join(os.path.dirname(cp.split(os.pathsep)[0]), "classes.jsa")


def java_cmd(cp, work, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            *JVM_OPTS, *extra, f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main"]


def steal_ticks():
    """(steal, total) CPU ticks of the whole machine since boot."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return (f[7] if len(f) > 7 else 0), sum(f)


def wait_for_quiet_host():
    """Seconds waited, and the steal share of the last one-second window."""
    t0 = time.time()
    while True:
        s0, n0 = steal_ticks()
        time.sleep(1)
        s1, n1 = steal_ticks()
        share = (s1 - s0) / max(1, n1 - n0)
        if share < QUIET_STEAL or time.time() - t0 >= QUIET_WAIT_S:
            return time.time() - t0, share


def check_queries(work, record, result):
    """Compare analyst-mix outputs with DuckDB; a query whose output differs
    fails every one of its timed runs."""
    t0 = time.time()
    bad = analyst.check(os.path.join(work, "data"), os.path.join(work, "out"))
    print(f"[perfbench] outputs checked in {time.time() - t0:.1f} s", file=sys.stderr)
    for name, why in bad.items():
        print(f"[perfbench] check failed: {name}: {why}", file=sys.stderr)
    failed = [o for o in record["ops"] if o["kind"] in bad and o["ok"]]
    for o in failed:
        o["ok"] = False
    record["failures"] += [f"{n}: {w}" for n, w in bad.items()]
    result["failed"] += len(failed)
    result["correct"] = result["correct"] and not bad
    record["metrics"]["ops_failed_ratio"]["value"] = result["failed"] / result["attempted"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    bdir = build_dir()
    cp = classpath(bdir)
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    cmd = java_cmd(cp, work, ["-Xshare:on", f"-XX:SharedArchiveFile={archive(cp)}"]) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work]
    if a.workload == "analyst-mix":
        t0 = time.time()
        analyst.generate(a.seed, os.path.join(work, "data"))
        print(f"[perfbench] tables generated in {time.time() - t0:.1f} s", file=sys.stderr)
    waited, steal = wait_for_quiet_host()
    t0 = time.time()
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S, stdin=subprocess.DEVNULL)
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            sys.stderr.write(proc.stdout[-4000:])
            fail(f"run failed (exit {proc.returncode})")
        record, result = json.loads(lines[-2]), json.loads(lines[-1])
        record["machine"].update(quiet_wait_s=waited, steal_share_before=steal)
        print(f"[perfbench] JVM ran {time.time() - t0:.1f} s", file=sys.stderr)
        if a.workload == "analyst-mix":
            check_queries(work, record, result)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}.json"
    lines = [json.dumps(record, separators=(",", ":")), json.dumps(result, separators=(",", ":"))]
    with open(os.path.join(results, name), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(lines[0])
    print(lines[1])


if __name__ == "__main__":
    main()
