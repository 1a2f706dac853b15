#!/usr/bin/env python3
"""Repo benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. On first use it compiles the engine's
sources together with the harness in perfbench/ (sbt, offline) and
generates the query tables; both are cached under .bench_build/. It then
starts one JVM for the run, prints every metric by name with its unit,
and ends with one JSON line: {"correct", "attempted", "failed", "metrics"}.
Each run is also recorded, with host-noise figures (loadavg, CPU used by
other processes, iowait), under .bench_build/perfbench/runs/ for
perfbench/compare.py.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("query-light", "query-heavy", "tdc-ingest")
# Scale of the generated query tables (lineitem = 6e6 * SF rows). The
# expected fingerprints in expected/fingerprints.json are taken at it.
SF = 0.01
DATA_SEED = 42
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def newest_mtime(paths):
    m = 0.0
    for top in paths:
        if os.path.isfile(top):
            m = max(m, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                m = max(m, os.path.getmtime(os.path.join(d, f)))
    return m


def build():
    """Compile engine + harness unless the classpath is newer than both."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        fail("no engine sources (src/main/scala) next to perfbench/")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    sources = [engine, os.path.join(HERE, "src", "main"),
               os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    if os.path.exists(cp_file) and \
            os.path.getmtime(cp_file) > newest_mtime(sources):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME unset and spark-submit not on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    log("building engine + harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "writeClasspath"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {r.returncode})")
    log(f"built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


def tables():
    d = os.path.join(WORK, f"data-sf{SF}-seed{DATA_SEED}")
    if not os.path.isdir(d):
        tmp = tempfile.mkdtemp(dir=WORK, prefix="data-tmp")
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"),
                        tmp, "--sf", str(SF), "--seed", str(DATA_SEED)],
                       check=True, stdout=sys.stderr)
        os.rename(tmp, d)
    return d


def cpu_jiffies():
    """(busy, iowait, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait = v[:5]
    steal = v[7] if len(v) > 7 else 0
    return user + nice + system, iowait + steal, sum(v)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(cp, argv, work):
    """Run the harness JVM with scratch directory `work`; returns (exit
    code, own CPU seconds)."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    p = subprocess.Popen([java] + JVM_OPTS + ["-Djava.io.tmpdir=" + work,
                                             "-cp", cp, "perfbench.Main"]
                         + argv + ["--work", work, "--traces",
                                   os.path.join(WORK, "traces")],
                         cwd=work, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_utime + ru.ru_stime
            if time.time() > deadline:
                log(f"run exceeded {RUN_TIMEOUT_S} s")
                return -1, 0.0
            time.sleep(0.05)
    finally:
        if p.returncode is None:
            p.kill()
            p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", default=os.path.join(WORK, "runs"),
                    help="directory for this run's record")
    ap.add_argument("--make-fingerprints", action="store_true",
                    help="rewrite expected/fingerprints.json from this "
                         "checkout instead of running a workload")
    a = ap.parse_args()
    if not a.make_fingerprints and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    cp = build()
    os.makedirs(WORK, exist_ok=True)
    data = tables()
    # per-run scratch (checkpoints, Spark local dirs), removed afterwards
    work = tempfile.mkdtemp(dir=WORK, prefix="run-")
    try:
        if a.make_fingerprints:
            code, _ = run_jvm(cp, ["--mode", "fingerprints", "--data", data,
                                   "--out", os.path.join(
                                       HERE, "expected", "fingerprints.json")],
                              work)
            sys.exit(code)
        out = os.path.join(work, "result.json")
        load0 = loadavg()
        busy0, stall0, total0 = cpu_jiffies()
        code, own_cpu_s = run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--out", out, "--expected",
            os.path.join(HERE, "expected", "fingerprints.json")], work)
        busy1, stall1, total1 = cpu_jiffies()
        try:
            res = json.load(open(out)) if code == 0 else None
        except (OSError, ValueError):
            res = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        fail(f"run produced no result (exit {code})")

    hz = os.sysconf("SC_CLK_TCK")
    span = max(1, total1 - total0)
    host = {
        "loadavg": load0, "loadavg_end": loadavg(),
        "ext_cpu_frac": max(0.0, (busy1 - busy0) - own_cpu_s * hz) / span,
        "iowait_frac": (stall1 - stall0) / span,
    }
    for section in ("e2e", "report") + (("layer",) if a.trace else ()):
        for k, m in res[section].items():
            v = m["value"]
            print(f"{k:40s} {'n/a' if v is None else f'{v:16.4f}':>16s} "
                  f"{m['unit']}")
    print(f"{'host.ext_cpu_frac':40s} {host['ext_cpu_frac']:>16.4f} ratio")
    print(f"{'host.iowait_frac':40s} {host['iowait_frac']:>16.4f} ratio")

    os.makedirs(a.record, exist_ok=True)
    rec = dict(workload=a.workload, seed=a.seed, seconds=a.seconds,
               trace=a.trace, time=time.time(), host=host,
               **{k: res[k] for k in ("correct", "attempted", "failed", "e2e",
                                      "report", "layer", "samples_ms",
                                      "cpus")})
    name = f"{int(time.time() * 1000)}-{a.workload}-s{a.seed}-t{a.trace}.json"
    with open(os.path.join(a.record, name), "w") as f:
        json.dump(rec, f)
    print(json.dumps({k: res[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
