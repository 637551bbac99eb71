#!/usr/bin/env python3
"""Run one workload of the lake benchmark and print its result line.

    python3 perfbench/run.py --workload lake_ops --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The first call builds the
program and the benchmark from source (sbt, offline) and generates the input
fixtures under .bench_build/; later calls reuse both while the sources are
unchanged. The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics (plus tracing overhead) with --trace 1.
Every run also writes a full record (machine, load, heap, commit, seed,
sample counts) to .bench_build/results/, and traced runs their spans to
.bench_build/traces/. Exits non-zero when an output check fails.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

WORKLOADS = ("lake_ops", "lake_analytics", "contended_commits")
BUILD = ".bench_build"
FIXTURE_SOURCE = "perfbench/src/main/scala/perfbench/Fixtures.scala"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 300
PREPARE_TIMEOUT_S = 400

# Spark 4 on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = ["src/main", "perfbench/src", "project", "perfbench/project"]
    files = ["build.sbt", "perfbench/build.sbt"]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    return [f for f in files if os.path.isfile(f)]


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_proc(cmd, timeout, log_path, cwd=None, env=None, capture=False):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    with open(log_path, "ab") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE if capture else logf,
                             stderr=logf, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"[perfbench] {cmd[0]} timed out after {timeout} s (log: {log_path})")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, (out.decode() if capture else "")


def build(stamp):
    """Compile the program and the benchmark; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if (os.path.exists(cp_file) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    log("building program and benchmark (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    code, _ = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       BUILD_TIMEOUT_S, os.path.abspath(os.path.join(BUILD, "build.log")),
                       cwd="perfbench", env=env)
    if code != 0:
        raise SystemExit(f"[perfbench] build failed (log: {BUILD}/build.log)")
    with open("perfbench/target/runtime-classpath.txt") as fh:
        cp = fh.read().strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, work, main_args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, "perfbench.Main"] + main_args)


def prepare(cp, cpus):
    data = os.path.join(BUILD, "data")
    marker = os.path.join(data, "READY")
    with open(FIXTURE_SOURCE, "rb") as fh:
        want = hashlib.sha256(fh.read()).hexdigest()[:16]
    if os.path.exists(marker) and open(marker).read().strip() == want:
        return data
    log("generating input fixtures")
    t0 = time.time()
    work = os.path.abspath(os.path.join(BUILD, "prepare"))
    os.makedirs(work, exist_ok=True)
    code, _ = run_proc(java_cmd(cp, work, ["prepare", "--data", os.path.abspath(data),
                                           "--work", work, "--cpus", str(cpus)]),
                       PREPARE_TIMEOUT_S, os.path.abspath(os.path.join(BUILD, "prepare.log")))
    if code != 0:
        raise SystemExit(f"[perfbench] fixture generation failed (log: {BUILD}/prepare.log)")
    with open(marker, "w") as fh:
        fh.write(want)
    subprocess.run(["rm", "-rf", work], check=False)
    log(f"fixtures ready in {time.time() - t0:.1f} s")
    return data


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala/graft")
            and os.path.isfile("perfbench/build.sbt")):
        log("run from the root of a checkout: the program sources (build.sbt, src/main/scala) "
            "are not here")
        return 2

    os.makedirs(BUILD, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    stamp = source_stamp()
    cp = build(stamp)
    data = prepare(cp, cpus)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.abspath(os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}"))
    subprocess.run(["rm", "-rf", work], check=False)
    os.makedirs(work)
    for d in ("logs", "results", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", os.path.abspath(data), "--work", work,
            "--cpus", str(cpus)]
    if a.trace:
        args += ["--spans", os.path.abspath(os.path.join(BUILD, "traces", f"{tag}.jsonl"))]
    t0 = time.time()
    try:
        code, out = run_proc(java_cmd(cp, work, args), RUN_TIMEOUT_S,
                             os.path.abspath(os.path.join(BUILD, "logs", f"{tag}.log")), capture=True)
    finally:
        subprocess.run(["rm", "-rf", work], check=False)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if not lines:
        log(f"the benchmark JVM exited with {code} without a result (log: {BUILD}/logs/{tag}.log)")
        return 1
    res = json.loads(lines[-1][len("RESULT "):])
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cpus, "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "heap_max_mb": res.get("heap_max_mb"), "git_commit": git_commit(), "source_stamp": stamp,
        "wall_s": round(time.time() - t0, 3),
        **{k: res.get(k) for k in ("samples", "kinds", "latency", "setup_runs_s", "measured_s",
                                   "failures")},
        "result": {k: res[k] for k in ("correct", "attempted", "failed", "metrics")},
    }
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    info = {k: record[k] for k in ("nproc", "loadavg_start", "loadavg_end", "heap_max_mb",
                                   "git_commit", "source_stamp", "seed", "samples")}
    print("info " + json.dumps(info))
    for f in res.get("failures") or []:
        log(f"check failed: {f}")
    print(json.dumps(record["result"]))
    return 0 if res["correct"] and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
