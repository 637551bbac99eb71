#!/usr/bin/env python3
"""Run workloads over several seeds and summarize each metric's spread.

    python3 perfbench/sweep.py --workloads lake_ops,contended_commits --seeds 1-10 \
        --seconds 15 [--trace 1] [--out perfbench/baseline/NAME.json]

Runs perfbench/run.py once per (workload, seed), in that order, from the root
of a checkout. For every metric it reports the median, the quartiles (as
Python's statistics.quantiles(values, n=4) gives them) and the spread
(q3 - q1) / median, and writes all of it, with every run's full record, to
--out when given.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def summarize(values):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def machine():
    """CPU count and model, memory and kernel of the machine the sweep ran on."""
    info = {"cpus": len(os.sched_getaffinity(0)), "kernel": os.uname().release}
    try:
        with open("/proc/cpuinfo") as fh:
            info["cpu_model"] = next((l.split(":", 1)[1].strip() for l in fh
                                      if l.startswith("model name")), None)
        with open("/proc/meminfo") as fh:
            info["mem_gb"] = round(int(fh.readline().split()[1]) / 1048576, 1)
    except OSError:
        pass
    return info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    report = {"seconds": a.seconds, "trace": a.trace, "machine": machine(), "workloads": {}}
    ok = True
    for w in a.workloads.split(","):
        runs, metrics = [], {}
        for seed in seeds_of(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed",
                                str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
                               capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                ok = False
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            tag = f"{w}-seed{seed}-trace{a.trace}"
            with open(os.path.join(".bench_build", "results", f"{tag}.json")) as fh:
                runs.append(json.load(fh))
            for k, v in res["metrics"].items():
                metrics.setdefault(k, {"unit": v["unit"], "values": []})["values"].append(v["value"])
            print(f"{w} seed {seed}: {wall:.1f} s wall, attempted {res['attempted']}, "
                  f"failed {res['failed']}, correct {res['correct']}", file=sys.stderr)
        summary = {k: dict(summarize(m["values"]), unit=m["unit"]) for k, m in metrics.items()}
        report["workloads"][w] = {"metrics": summary, "runs": runs}
        for k, s in summary.items():
            sp = "-" if s["spread"] is None else f"{s['spread']:.3f}"
            print(f"{w:18s} {k:40s} median {s['median']:14.4f} {s['unit']:9s} spread {sp}")
    if a.out:
        os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
