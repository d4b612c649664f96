#!/usr/bin/env python3
"""graft benchmark runner.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark program (graftbench.Main) from source (sbt, offline) into
graftbench/target; later runs reuse the build while the sources are
unchanged. The program runs one workload in one JVM on local[nproc] and
prints a run record; this script checks it and prints, as the last line of
stdout, one JSON object with the keys correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1).

See graftbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(HERE, "src", "main")
WORKLOADS = ["refresh_under_writes", "curation_admission"]
CDS_ARCHIVE = os.path.join(WORK, "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# One JVM per run, with a fixed 3 GiB heap and the JVM's default collector.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xss4m"]

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("run.py: " + msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    # the class archive must be made with the flags the runs use
    h.update(" ".join(JVM_FLAGS).encode())
    return h.hexdigest()


def run_child(cmd, cwd, timeout, env=None):
    """Runs cmd in its own process group, returning its exit code and stdout;
    kills the group on timeout or when this script is terminated."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)

    def terminate(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, terminate)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build():
    """Compiles engine + benchmark once per source digest, then archives
    the classes a short run loads (a JVM class-data archive, which cuts
    each later JVM's start-up); returns the classpath."""
    digest = source_digest()
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    if shutil.which("sbt") is None:
        raise SystemExit("run.py: sbt is not on PATH")
    log("building engine and benchmark from source (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, env=env)
    lines = [l.strip() for l in (out or "").splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out or "")
        raise SystemExit("run.py: build failed")
    classpath = lines[-1]
    if "graftbench" not in classpath:
        sys.stderr.write(out)
        raise SystemExit("run.py: could not read the classpath from sbt")
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    archive_classes(classpath)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath


def archive_classes(classpath):
    """Runs refresh_under_writes for 1 s to record the classes it loads
    (Spark, the streaming source, reads and commits) in CDS_ARCHIVE. The
    archive only speeds up class loading; a run without it measures the
    same work."""
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    log("archiving the classes of a short run")
    try:
        run_program(classpath, "refresh_under_writes", 0, 1, False,
                    jvm_flags=["-XX:ArchiveClassesAtExit=" + CDS_ARCHIVE])
    except SystemExit as e:
        log("class archive run failed (%s); runs start without it" % e)
    if not os.path.exists(CDS_ARCHIVE):
        log("no class archive written; runs start without it")


def run_program(classpath, workload, seed, seconds, trace, fault_every=0, jvm_flags=None):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    argfile = os.path.join(WORK, "jvm.args")
    with open(argfile, "w") as fh:
        fh.write("-cp\n" + classpath.replace("\\", "\\\\") + "\n")
    if jvm_flags is None:
        jvm_flags = ["-XX:SharedArchiveFile=" + CDS_ARCHIVE] if os.path.exists(CDS_ARCHIVE) else []
    cmd = ["java"] + jvm_flags + JVM_FLAGS + ["-Djava.io.tmpdir=" + tmp]
    for o in ADD_OPENS:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["@" + argfile, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work-dir", run_dir]
    if fault_every:
        cmd += ["--fault-every", str(fault_every)]
    try:
        code, out = run_child(cmd, ROOT, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("run.py: benchmark program exceeded %d s" % RUN_TIMEOUT_S)
    record = None
    for line in out.splitlines():
        if line.startswith("GRAFTBENCH_RESULT "):
            record = json.loads(line[len("GRAFTBENCH_RESULT "):])
        else:
            print(line, file=sys.stderr)
    if code != 0 or record is None:
        raise SystemExit("run.py: benchmark program failed (exit %d)" % code)
    # keep the last traced run's spans beside the work dir for inspection
    for f in os.listdir(run_dir):
        if f.startswith("spans-"):
            shutil.copy(os.path.join(run_dir, f), os.path.join(WORK, f))
    shutil.rmtree(run_dir, ignore_errors=True)
    return record


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this mode, if it is present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def result_line(record, trace):
    metrics = record["per_layer" if trace else "end_to_end"]
    for name, m in metrics.items():
        v = m["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            raise SystemExit("run.py: metric %s has no finite value" % name)
    want = declared_metrics(trace)
    if want is not None and sorted(want) != sorted(metrics):
        raise SystemExit("run.py: metrics %s differ from BENCHMARK.json %s"
                         % (sorted(metrics), sorted(want)))
    return {"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
            "failed": int(record["failed"]), "metrics": metrics}


def selftest(classpath):
    """A thrown operation must count as failed and must never be timed.

    Runs curation_admission with every second wave throwing at its start (a
    would-be near-zero sample), and refresh_under_writes with every second
    batch callback and every second commit throwing. Each run must report
    failures and a wrong result, and no failed operation may have been
    timed: timed + failed must equal attempted. Every wave curation timed
    must also have taken at least half its median wave, in wall and in CPU
    time: a thrown wave timed by mistake would read a few milliseconds.
    """
    problems = []
    runs = [(wl, run_program(classpath, wl, 1, 8, False, fault_every=2))
            for wl in ("curation_admission", "refresh_under_writes")]
    for wl, f in runs:
        if f["failed"] == 0 or f["correct"]:
            problems.append("%s: injected faults were not counted as failed" % wl)
        if f["timed"] + f["failed"] != f["attempted"]:
            problems.append("%s: %d timed + %d failed != %d attempted: a failure was timed"
                            % (wl, f["timed"], f["failed"], f["attempted"]))
        log("selftest: %s: failed=%d timed=%d attempted=%d (error_rate %.3f)"
            % (wl, f["failed"], f["timed"], f["attempted"], f["failed"] / f["attempted"]))
    for note, what in (("wave_ms", "wall"), ("wave_cpu_ms", "CPU")):
        waves = [float(x) for x in runs[0][1]["notes"].get(note, "").split(",") if x]
        if not waves:
            problems.append("curation_admission timed no wave")
        elif min(waves) < 0.5 * statistics.median(waves):
            problems.append("curation_admission timed a wave of %.0f ms %s time against a median "
                            "of %.0f ms: a failure was timed"
                            % (min(waves), what, statistics.median(waves)))
        log("selftest: curation_admission timed waves (ms %s time): %s"
            % (what, ", ".join("%.0f" % w for w in waves)))
    if problems:
        raise SystemExit("run.py: selftest FAILED: " + "; ".join(problems))
    log("selftest passed")


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log("engine sources not found under %s: run from a full checkout" % ENGINE_SRC)
        return 2
    os.makedirs(WORK, exist_ok=True)
    classpath = build()
    if a.selftest:
        selftest(classpath)
        return 0
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    if a.seconds < 1:
        ap.error("--seconds must be positive")
    record = run_program(classpath, a.workload, a.seed, a.seconds, a.trace == 1)
    line = result_line(record, a.trace == 1)
    log("workload=%s seed=%d seconds=%d trace=%d" % (a.workload, a.seed, a.seconds, a.trace))
    sys.stdout.write(json.dumps(line) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
