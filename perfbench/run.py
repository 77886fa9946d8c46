#!/usr/bin/env python3
"""Run one benchmark workload from a fresh JVM and print its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) into perfbench/target; later runs reuse
the build while the sources are unchanged. Generated inputs are cached in
.perfbench_data/ keyed by (station set, rows, seed, generator version);
scratch, Spark temp files and traces go to .perfbench_work/.

The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics of BENCHMARK.json with --trace 0,
its per-layer metrics with --trace 1. The line before it is a fuller
report (sample counts, percentile used, generation time, fail ratio). The
exit code is 0 only if every unit of work ran and was correct; a run that
cannot start prints no result line.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CACHE = os.path.join(ROOT, ".perfbench_data")
GEN_VERSION = 1          # must match graft.perfbench.Gen.version
HEAP_GB = 4              # harness JVM heap
SETUPS = 2               # set-ups per run; setup_s is their median
CACHE_CAP = 4 << 30      # generated inputs kept on disk, least recent evicted
DEADLINE_S = 170         # a run, build excluded, must end well inside 180 s
BUILD_TIMEOUT_S = 840

# bytes per line, for the disk preflight (413: ~8-byte names; 10k: ~26)
WORKLOADS = {
    "brc_text": {"kind": "413", "rows": 10_000_000, "line_bytes": 15},
    "brc_text_10k": {"kind": "10k", "rows": 10_000_000, "line_bytes": 33},
    "suite": {"spec": "suite.json",
              "probe": {"kind": "413", "rows": 1_000_000, "line_bytes": 15}},
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class Refused(Exception):
    """The run cannot start; no result line is printed."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


# ---- build -----------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true"),
        "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false",
        f"-Djava.io.tmpdir={WORK}/tmp",
        f"-Dsbt.global.base={WORK}/sbt-global"])
    return env


def build():
    """Compile program + harness if the sources changed; return the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                       "SparkEntry.scala")):
        raise Refused(f"program sources not found under {ROOT}/src/main; "
                      "run from the root of a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise Refused("sbt and java must be on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(HERE, "target", "perfbench-classpath")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            old_stamp, cp = fh.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    log("building program and harness (sbt compile)")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(p.stdout[-4000:])
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and ":" in l]
    if p.returncode != 0 or not lines:
        raise Refused(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def java_cmd(cp, main, heap_gb, args):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # fixed heap and young generation: with adaptive sizing the peak RSS
    # followed the GC's growth decisions and spread 30% between runs
    return (["java", f"-Xmx{heap_gb}g", f"-Xms{heap_gb}g", "-Xmn1g",
             "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={WORK}",
             f"-Dgraft.fixtures.dir={ROOT}/fixtures",
             f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
             "-cp", cp, main] + [str(a) for a in args])


# ---- inputs ----------------------------------------------------------------

def mem_available_bytes():
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    return 0


def preflight(need_disk):
    free = shutil.disk_usage(ROOT).free
    if free < need_disk + (1 << 30):
        raise Refused(f"needs {need_disk / 2**30:.1f} GiB of disk plus 1 GiB "
                      f"headroom, {free / 2**30:.1f} GiB free at {ROOT}")
    need_mem = (HEAP_GB + 1) << 30
    avail = mem_available_bytes()
    if avail < need_mem:
        raise Refused(f"needs {need_mem / 2**30:.0f} GiB of free memory for a "
                      f"{HEAP_GB} GiB heap, {avail / 2**30:.1f} GiB available")


def read_manifest(d):
    with open(os.path.join(d, "manifest")) as fh:
        return dict(l.rstrip("\n").split("=", 1) for l in fh if "=" in l)


def cached_ok(d):
    try:
        m = read_manifest(d)
        size = os.path.getsize(os.path.join(d, "measurements.txt"))
        return (int(m["generator_version"]) == GEN_VERSION
                and size == int(m["bytes"])
                and os.path.isfile(os.path.join(d, "tallies.tsv")))
    except (OSError, KeyError, ValueError):
        return False


def evict(keep_bytes):
    """Drop least recently used inputs until `keep_bytes` more would fit."""
    if not os.path.isdir(CACHE):
        return
    entries = []
    for e in os.listdir(CACHE):
        d = os.path.join(CACHE, e)
        size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        entries.append((os.path.getmtime(d), size, d))
    total = sum(s for _, s, _ in entries)
    for _, size, d in sorted(entries):
        if total + keep_bytes <= CACHE_CAP:
            break
        shutil.rmtree(d, ignore_errors=True)
        total -= size


def brc_input(cp, spec, seed):
    """Generated input dir for (station set, rows, seed); returns (dir, gen_s)."""
    key = f"{spec['kind']}-r{spec['rows']}-s{seed}-g{GEN_VERSION}"
    d = os.path.join(CACHE, key)
    if cached_ok(d):
        os.utime(d)
        return d, 0.0
    shutil.rmtree(d, ignore_errors=True)
    est = spec["rows"] * spec["line_bytes"]
    preflight(est)
    evict(est)
    t0 = time.time()
    subprocess.run(java_cmd(cp, "graft.perfbench.Gen", 1, [
        "--kind", spec["kind"], "--rows", spec["rows"], "--seed", seed,
        "--out", d, "--threads", cpus()]), check=True, timeout=DEADLINE_S,
        stdout=sys.stderr)
    if not cached_ok(d):
        raise Refused(f"generator left an incomplete input at {d}")
    return d, time.time() - t0


# ---- run -------------------------------------------------------------------

def harness(cp, args, deadline):
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    if os.path.exists(out):
        os.remove(out)
    spawn_ms = int(time.time() * 1000)
    cmd = java_cmd(cp, "graft.perfbench.Harness", HEAP_GB,
                   args + ["--spawn-ms", spawn_ms, "--out", out,
                           "--work", WORK, "--cpus", cpus()])
    remaining = deadline - time.time()
    if remaining <= 5:
        raise Refused("out of time before the harness could start")
    p = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=remaining)
    if p.returncode != 0 or not os.path.isfile(out):
        raise Refused(f"harness exited {p.returncode} without a result")
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    return res


def load_metric_specs():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    # a previous run's Spark scratch (set-up probes exit without cleanup)
    for d in ("spark-local", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    try:
        e2e_specs, layer_specs = load_metric_specs()
        cp = build()
        deadline = time.time() + DEADLINE_S
        w = WORKLOADS[a.workload]
        gen_s = 0.0
        common = ["--workload", a.workload, "--seed", a.seed,
                  "--seconds", a.seconds, "--trace", a.trace]
        if "kind" in w:
            inp, gen_s = brc_input(cp, w, a.seed)
            common += ["--input", inp]
        else:
            common += ["--input", os.path.join(HERE, w["spec"])]
            if a.trace:
                probe, gen_s = brc_input(cp, w["probe"], a.seed)
                common += ["--probe", probe]
        preflight(0)
        setups = [harness(cp, common + ["--setup-only", 1], deadline)["setup_s"]
                  for _ in range(SETUPS - 1)]
        res = harness(cp, common, deadline)
        setups.append(res["setup_s"])
    except Refused as e:
        log(f"refused: {e}")
        return 2
    except subprocess.TimeoutExpired as e:
        log(f"timed out: {e}")
        return 2
    except subprocess.CalledProcessError as e:
        log(f"failed: {e}")
        return 2

    res["setup_s"] = statistics.median(setups)
    if a.trace:
        values, specs = res["layers"], layer_specs
    else:
        values, specs = res, e2e_specs
    missing = [s["name"] for s in specs if values.get(s["name"]) is None]
    if missing:
        log(f"harness did not report {missing}")
        return 2
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]}
               for s in specs}
    attempted, failed = int(res["attempted"]), int(res["failed"])
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "fail_ratio": failed / max(1, attempted),
        "failures": res["failures"],
        "setup_samples_s": setups, "gen_s": gen_s,
        "passes": res["passes"], "pass_samples_s": res["pass_samples_s"],
        "query_samples": res["query_samples"],
        "query_hi_pct": res["query_hi_pct"],
        "input_rows_per_pass": res["input_rows_per_pass"],
        "input_bytes": res.get("input_bytes"),
        "split_bytes": res.get("split_bytes"),
        "wall_s": time.time() - t_start,
    }
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 and attempted > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
