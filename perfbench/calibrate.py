#!/usr/bin/env python3
"""Capture and confirm the suite workload's expected values.

    python3 perfbench/calibrate.py [--spec perfbench/suite.json] [--write]

Runs every query of the spec's list once in a fresh session (graft.perfbench
Harness, calibrate mode) and records its row count and order-insensitive
fingerprint, taken twice. Where SparkEntry has DuckDB oracle SQL for a
query, the Spark result is compared with the oracle's as a multiset of rows
over the spec's tables; a query whose result disagrees, or whose
fingerprint differs between the two takes, is reported. With --write the
confirmed values are stored in the spec: rows and fingerprint for queries
DuckDB confirmed and whose fingerprint is stable, rows only for the others
("oracle" says which). Needs the duckdb Python package; the benchmark run
itself does not.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys

import run


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "tzinfo") and getattr(v, "tzinfo", None) is not None:
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def rows_of(con, sql):
    cur = con.execute(sql)
    cols = [d[0].lower() for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def oracle_equal(con, dump_dir, name, sql):
    got_cols, got = rows_of(con, f"SELECT * FROM read_parquet('{dump_dir}/{name}/*.parquet')")
    exp_cols, exp = rows_of(con, sql)
    if got_cols != exp_cols:
        return f"columns {got_cols} vs oracle {exp_cols}"
    if got != exp:
        bad = next((g, e) for g, e in zip(got + [None] * len(exp), exp + [None] * len(got))
                   if g != e)
        return f"{len(got)} rows vs oracle {len(exp)}; first difference {bad}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--spec", default=os.path.join(run.HERE, "suite.json"))
    ap.add_argument("--write", action="store_true")
    a = ap.parse_args()
    import duckdb

    with open(a.spec) as fh:
        spec = json.load(fh)
    cp = run.build()
    dump = os.path.join(run.WORK, "calibrate")
    shutil.rmtree(dump, ignore_errors=True)
    out = os.path.join(run.WORK, "calibrate.json")
    subprocess.run(run.java_cmd(cp, "graft.perfbench.Harness", run.HEAP_GB, [
        "--mode", "calibrate", "--workload", "suite", "--seconds", 0,
        "--input", os.path.abspath(a.spec), "--dump", dump, "--out", out,
        "--work", run.WORK, "--cpus", run.cpus()]),
        cwd=run.ROOT, check=True, stdout=sys.stderr)
    with open(out) as fh:
        cal = json.load(fh)

    sf = os.path.join(os.path.dirname(os.path.abspath(a.spec)), spec["sf_dir"])
    con = duckdb.connect()
    for t in spec["tables"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    problems = 0
    for q in spec["queries"]:
        c = cal[q["name"]]
        if "error" in c or "streaming" in c:
            print(f"{q['name']}: {c.get('error', 'streaming, not a batch query')}")
            problems += 1
            continue
        stable = len(set(c["fingerprints"])) == 1
        verdict = None
        if "oracle_sql" in c:
            try:
                verdict = oracle_equal(con, dump, q["name"], c["oracle_sql"])
            except duckdb.Error as e:
                verdict = f"oracle SQL failed: {e}"
        confirmed = "oracle_sql" in c and verdict is None
        print(f"{q['name']}: rows {c['rows']} cold {c['cold_s']:.2f}s warm {c['warm_s']:.2f}s "
              f"fingerprint {'stable' if stable else 'UNSTABLE'} "
              f"oracle {'confirmed' if confirmed else verdict or 'none'}")
        if verdict is not None:
            problems += 1
            continue
        q["rows"] = c["rows"]
        q["fingerprint"] = c["fingerprints"][0] if stable and confirmed else None
        q["oracle"] = confirmed
    if a.write and problems == 0:
        with open(a.spec, "w") as fh:
            json.dump(spec, fh, indent=1)
            fh.write("\n")
        print(f"wrote {a.spec}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
