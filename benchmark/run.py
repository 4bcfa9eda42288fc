#!/usr/bin/env python3
"""Build and run the graft engine benchmark.

    python3 benchmark/run.py --workload bi_dashboard --seed 1 --seconds 6 --trace 0
    python3 benchmark/run.py --selftest

Run from the root of a checkout. The first run compiles the engine's
sources together with the benchmark's (sbt, offline) into
`benchmark/target`, and caches the classpath under `.bench_build`; later
runs reuse it until a source file changes. Every run then starts one JVM
that generates its inputs from the seed, sets up, measures for the given
seconds, checks every answer, and prints a JSON result as its last line.
Nothing is read or written outside the checkout except the JDK, the
Spark jars and sbt's own caches.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main")
WORKLOADS = ("bi_dashboard", "snapshot_dml")
JVM_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build compiles, so an edit forces a rebuild."""
    h = hashlib.sha256()
    inputs = [ENGINE, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile if needed and return the runtime classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    log("building the engine and the benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise SystemExit(f"build failed with code {proc.returncode}")
    cp = [l for l in proc.stdout.splitlines() if l.startswith("/") and "classes" in l]
    if not cp:
        raise SystemExit("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1], stamp


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def meminfo(keys=("Dirty", "Writeback")):
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            if k in keys:
                out[k + "_kb"] = int(v.split()[0])
    return out


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(ENGINE, "scala", "graft")):
        log(f"no engine sources under {ENGINE}: run from a full checkout")
        return 2

    classpath, stamp = build()
    work = os.path.join(BUILD, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", classpath, "graftbench.Main", "--work", work]
    if a.selftest:
        java.append("--selftest")
    else:
        java += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace)]

    env_before = {"loadavg_before": loadavg(), **meminfo()}
    steal_before = steal_s()
    proc = subprocess.Popen(java, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"the run exceeded {JVM_TIMEOUT_S} s and was stopped")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.selftest:
        sys.stdout.write(out)
        return proc.returncode
    if proc.returncode != 0:
        log(f"the benchmark JVM exited with code {proc.returncode}")
        return proc.returncode or 1

    result = json.loads(out.strip().splitlines()[-1])
    detail = result.pop("detail")
    detail["env"] = {
        **env_before, "loadavg_after": loadavg(),
        "cpu_steal_s": round(steal_s() - steal_before, 2),
        "nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
        "git_commit": git_commit(), "source_sha256": stamp,
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
