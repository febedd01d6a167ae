#!/usr/bin/env python3
"""Benchmark runner for the graft query library.

Run from the root of a checkout:

    python3 perfbench/run.py --workload sql --seed 1 --seconds 5 --trace 0

Workloads are `sql` and `curation` (see BENCHMARK.json). The
script compiles the library (src/main/scala) and the harness
(perfbench/src) with the Scala compiler shipped in Spark's jars, generates
the fixture tables once, then runs the harness in one JVM. Build outputs,
data and scratch space live under `.bench_build/` in the checkout. The last
stdout line is the result JSON; diagnostics go to stderr.

    python3 perfbench/run.py --selftest                 # harness arithmetic
    python3 perfbench/run.py --record-golden OUT --seed N
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
GOLDEN = os.path.join(HERE, "golden.tsv")
DATA_SF = "0.01"
DATA_SEED = "42"
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """Spark's jars: under SPARK_HOME, else under the Spark installation of a
    spark-submit on PATH whose jars include the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    sys.exit("perfbench: no Spark installation with a Scala compiler in its jars (set SPARK_HOME)")


def cpu_ticks():
    """(steal, busy, total) CPU ticks of the machine so far, from
    /proc/stat; None where there is no such file."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    t += [0] * (8 - len(t))
    return t[7], sum(t) - t[3] - t[4], sum(t)


def log_contention(ticks0, ticks1, own_cpu_s):
    """Log how much CPU went to other work while the harness ran: steal (the
    hypervisor ran other guests) and busy time not spent by the harness.
    Either one slows a run on a shared machine."""
    if not (ticks0 and ticks1 and ticks1[2] > ticks0[2]):
        return
    hz = os.sysconf("SC_CLK_TCK")
    total = ticks1[2] - ticks0[2]
    others = (ticks1[1] - ticks0[1]) - own_cpu_s * hz
    log("CPU during the run: steal %.1f%%, used by other processes %.1f%%" %
        (100.0 * (ticks1[0] - ticks0[0]) / total, 100.0 * max(0.0, others) / total))


def run_logged(cmd, timeout):
    """Run cmd in its own process group, stdout captured; kill the whole
    group if it outlives `timeout`, and always wait for it to end."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=None, cwd=ROOT,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        sys.exit("perfbench: %s timed out after %d s" % (cmd[-1], timeout))
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def compile_into(out_dir, srcs, classpath, tmp):
    if os.path.exists(os.path.join(out_dir, ".ok")):
        return
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    args_file = os.path.join(out_dir, ".sources")
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs) + "\n")
    log("compiling %d files into %s" % (len(srcs), os.path.relpath(out_dir, ROOT)))
    t0 = time.time()
    rc, out = run_logged(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
                          "-cp", classpath, "scala.tools.nsc.Main", "-nowarn",
                          "-d", out_dir, "-classpath", classpath, "@" + args_file], 600)
    sys.stderr.write(out)
    if rc != 0:
        sys.exit("perfbench: compilation failed (exit %d)" % rc)
    open(os.path.join(out_dir, ".ok"), "w").close()
    log("compiled in %.1f s" % (time.time() - t0))


def prune(prefix, keep):
    for d in glob.glob(os.path.join(BUILD, prefix + "*")):
        if os.path.abspath(d) != os.path.abspath(keep):
            shutil.rmtree(d, ignore_errors=True)


def java_cmd(classpath, work, main_args):
    # C1 only: with C2 on, rounds kept getting faster for over a minute and
    # C2's profile-driven choices made whole runs differ by 15-20 % on an
    # idle 4-vCPU host; C1 code is final within the cold round. C1 alone
    # gets a 48 MB code cache by default, which Spark outgrows (rounds then
    # slow down as code is flushed), so it gets tiered mode's 240 MB.
    return (["java"] + ADD_OPENS +
            ["-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dperfbench.work=" + work,
             "-Dperfbench.traces=" + os.path.join(BUILD, "traces"),
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, "graft.perfbench.Main"] + main_args)


def build():
    """Compile the library and the harness, and generate the fixture data,
    each only when its inputs changed. Returns (classpath, data dir)."""
    main_srcs = sources(MAIN_SRC)
    if not main_srcs:
        sys.exit("perfbench: run from a checkout of the repository (no src/main/scala sources)")
    jars = spark_jars()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    main_out = os.path.join(BUILD, "main-" + digest(main_srcs))
    compile_into(main_out, main_srcs, jars, tmp)
    prune("main-", main_out)
    bench_srcs = sources(BENCH_SRC)
    bench_out = os.path.join(BUILD, "bench-" + digest(bench_srcs, main_out))
    compile_into(bench_out, bench_srcs, main_out + os.pathsep + jars, tmp)
    prune("bench-", bench_out)
    classpath = os.pathsep.join([bench_out, main_out, jars])

    gen = os.path.join(BENCH_SRC, "graft", "perfbench", "DataGen.scala")
    data = os.path.join(BUILD, "data-sf%s-seed%s-%s" % (DATA_SF, DATA_SEED, digest([gen])))
    if not os.path.exists(os.path.join(data, ".ok")):
        shutil.rmtree(data, ignore_errors=True)
        work = os.path.join(BUILD, "work-datagen")
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        log("generating fixture tables at sf%s" % DATA_SF)
        cmd = java_cmd(classpath, work, [])
        cmd[cmd.index("graft.perfbench.Main")] = "graft.perfbench.DataGen"
        rc, out = run_logged(cmd + [data, DATA_SF, DATA_SEED], 600)
        sys.stderr.write(out)
        shutil.rmtree(work, ignore_errors=True)
        if rc != 0:
            sys.exit("perfbench: data generation failed (exit %d)" % rc)
        open(os.path.join(data, ".ok"), "w").close()
    prune("data-", data)
    return classpath, data


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=["sql", "curation"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-golden", metavar="OUT")
    a = ap.parse_args()
    if not (a.selftest or a.record_golden or a.workload):
        ap.error("one of --workload, --selftest, --record-golden is required")

    if a.workload and not os.path.exists(GOLDEN):
        sys.exit("perfbench: no golden checksums at %s" % GOLDEN)
    classpath, data = build()
    for stale in glob.glob(os.path.join(BUILD, "run-*")):
        if not os.path.exists("/proc/" + stale.rsplit("-", 1)[1]):
            shutil.rmtree(stale, ignore_errors=True)  # left by a killed run
    work = os.path.join(BUILD, "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            main_args = ["--selftest"]
        elif a.record_golden:
            main_args = ["--record-golden", os.path.abspath(a.record_golden),
                         "--seed", str(a.seed), "--data", data]
        else:
            main_args = ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--data", data, "--golden", GOLDEN]
        # recording runs every query of the six modules once, past the
        # time limit of a benchmark run
        ticks0, own0 = cpu_ticks(), os.times()
        rc, out = run_logged(java_cmd(classpath, work, main_args),
                             900 if a.record_golden else JVM_TIMEOUT_S)
        own1 = os.times()
        log_contention(ticks0, cpu_ticks(), (own1.children_user + own1.children_system) -
                       (own0.children_user + own0.children_system))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = lines.pop() if (a.workload and lines) else None
    for line in lines:
        sys.stderr.write(line + "\n")
    if rc != 0:
        sys.exit("perfbench: harness exited with %d" % rc)
    if result is not None:
        parsed = json.loads(result)
        assert set(parsed) == {"correct", "attempted", "failed", "metrics"}, parsed.keys()
        print(json.dumps(parsed), flush=True)


if __name__ == "__main__":
    main()
