#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py [--workloads a,b] [--seeds 1-10] [--trace 0|1]
                               [--out FILE]

Runs perfbench/run.py once per (workload, seed), in order, with
BENCHMARK.json's run_seconds. For every metric it prints the median, the
quartiles (statistics.quantiles, n=4) and the spread (q3 - q1) / median,
and flags an end-to-end spread above a third of the metric's bound. Every
run's result line and the summary go to --out as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "sweep.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs, summary, bad = [], {}, 0
    for w in a.workloads.split(","):
        vals = {}
        for s in seeds(a.seeds):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                 "--trace", str(a.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            report = json.loads(lines[-2]).get("report") if len(lines) > 1 else None
            runs.append({"workload": w, "seed": s, "exit": p.returncode, "result": res,
                         "report": report})
            if p.returncode != 0 or res is None:
                bad += 1
                print(f"{w} seed {s}: exit {p.returncode}", flush=True)
                continue
            for k, m in res["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
            print(f"{w} seed {s}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        summary[w] = {}
        for k, v in vals.items():
            if len(v) < 2:
                continue
            st = summarize(v)
            summary[w][k] = st
            b = bounds.get(k)
            flag = ""
            if a.trace == 0 and b and k != "setup_s" and st["spread"] is not None:
                flag = " OVER BOUND" if st["spread"] > b else (
                    " over a third of bound" if st["spread"] > b / 3 else "")
            print(f"  {w} {k}: median {st['median']:.4g} q1 {st['q1']:.4g} "
                  f"q3 {st['q3']:.4g} spread {st['spread']:.3f}"
                  + (f" (bound {b})" if b else "") + flag, flush=True)
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], stderr=subprocess.PIPE, text=True).stderr
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    host = {"cpus": len(os.sched_getaffinity(0)), "mem_gb": round(mem_gb, 1),
            "java": java.splitlines()[0] if java else None}
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as fh:
        json.dump({"host": host, "run_seconds": bench["run_seconds"],
                   "seeds": a.seeds, "trace": a.trace, "summary": summary,
                   "runs": runs}, fh, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
