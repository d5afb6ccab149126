#!/usr/bin/env python3
"""The repo's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload pipeline --seed 1 --selftest

Builds the program from source (perfbench/build.py), runs the workload in
one Spark session at local[nproc] (graft.bench.Main), brackets the run with a
host-capacity probe, checks every output (query results against their DuckDB
oracle SQL here), and prints the metrics by name and unit. The last stdout
line is {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Metric names and units
are the ones BENCHMARK.json declares; see perfbench/README.md for what each
one measures. --selftest corrupts one output row per check and exits 0 only
if every check then fails.
"""
import argparse
import glob
import hashlib
import json
import math
import multiprocessing as mp
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("pipeline", "queries")
JVM_BUDGET_S = 170  # a run must end within 180 s once the build is done
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ host probe

def _burn(seconds):
    deadline = time.monotonic() + seconds
    payload, n = b"probe" * 16, 0
    while time.monotonic() < deadline:
        for _ in range(1000):
            payload = hashlib.md5(payload).digest()
        n += 1000
    return n


def host_probe(workers, seconds=0.25):
    """Aggregate md5 Mops/s over `workers` processes: the host's deliverable
    CPU right now. Reported next to the run to explain outliers; not a gate."""
    t0 = time.monotonic()
    with mp.get_context("fork").Pool(workers) as pool:
        total = sum(pool.map(_burn, [seconds] * workers))
        pool.close()
        pool.join()
    return total / (time.monotonic() - t0) / 1e6


# --------------------------------------------------------- oracle checks

def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def _corrupt(rows):
    """The same result with one cell of one row changed (or a row added)."""
    rows = [list(r) for r in rows]
    if not rows:
        return [("corrupt",)]
    v = rows[0][0]
    rows[0][0] = (not v) if isinstance(v, bool) else \
        v + 1 if isinstance(v, (int, float)) else f"{v}x"
    return rows


def oracle_checks(work, dump, corrupt=False):
    """Each dumped query result against its oracle SQL run in DuckDB over the
    same input parquet (the column-name-sorted, full-precision value compare
    of the repo's oracle gate). With `corrupt`, one row of each result is
    changed first, so every check must fail."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work / 'duckdb-tmp'}'")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS FROM read_parquet('{work}/input/{t}.parquet/*.parquet')")
    oracle = json.loads((work / "oracle_sql.json").read_text())
    out = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{dump}/{name}/*.parquet"))
        if not files:
            out[name] = False
            continue
        srel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        srows = srel.fetchall()
        if corrupt:
            srows = _corrupt(srows)
        try:
            drel = con.sql(sql)
            out[name] = _canon(srows, list(srel.columns)) == \
                _canon(drel.fetchall(), list(drel.columns))
        except Exception as e:  # an oracle that errors is a failed check
            log(f"oracle {name}: {e}")
            out[name] = False
        if not out[name] and not corrupt:
            log(f"oracle mismatch: {name}")
    return out


# ------------------------------------------------------------------- main

def declared():
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def run_jvm(classes, jars, work, args, nproc, mode, budget):
    result = work / "result.json"
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "graft.bench.Main", args.workload,
              str(args.seed), str(args.seconds), str(args.trace), str(work), str(nproc),
              str(result), mode])
    with open(work / "jvm.log", "w") as jl:
        p = subprocess.Popen(cmd, stdout=jl, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        raise SystemExit(f"[perfbench] benchmark JVM failed ({rc}):\n{tail}")
    return json.loads(result.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()

    try:
        classes, jars = build.build()
        e2e_units, layer_units = declared()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        raise SystemExit(f"[perfbench] {e}")
    t0 = time.monotonic()
    nproc = len(os.sched_getaffinity(0))
    mode = "selftest" if args.selftest else "run"
    work = build.OUT / "work" / f"{args.workload}-{args.seed}-{args.trace}-{mode}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    before = host_probe(nproc)
    rep = run_jvm(classes, jars, work, args, nproc, mode, JVM_BUDGET_S - (time.monotonic() - t0))
    queries = args.workload == "queries"
    oracle = oracle_checks(work, rep["out"]) if queries else {}
    if args.selftest:
        bad_oracle = oracle_checks(work, rep["out"], corrupt=True) if queries else {}
        cases = rep["selftest"] + [{"check": f"oracle.{q}", "fails_on_corruption": not ok}
                                   for q, ok in bad_oracle.items()]
        for c in cases:
            print(f"selftest {c['check']}: {'fails on corruption' if c['fails_on_corruption'] else 'STILL PASSES'}")
        ok = rep["clean_checks_pass"] and all(oracle.values()) and all(
            c["fails_on_corruption"] for c in cases)
        print(json.dumps({"selftest_ok": ok, "cases": len(cases)}))
        sys.exit(0 if ok else 1)
    after = host_probe(nproc)

    # a query whose result disagrees with its oracle failed on every pass
    passes = rep["attempted"] // max(1, len(oracle)) if oracle else 0
    failed = rep["failed"] + passes * sum(not ok for ok in oracle.values())
    attempted = rep["attempted"]
    checks = {**rep["checks"], **{f"oracle.{q}": ok for q, ok in oracle.items()}}
    correct = failed == 0 and all(checks.values())

    if args.trace:
        values, units = rep["per_layer"], layer_units
    else:
        # ok_frac counts the oracle checks too, so it is computed here
        values = dict(rep["metrics"], ok_frac=1.0 - failed / attempted)
        units = e2e_units
    if set(values) != set(units):
        raise SystemExit(f"[perfbench] metrics {sorted(set(values) ^ set(units))} "
                         "differ from BENCHMARK.json")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    report = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
              "host_probe_mops": {"before": before, "after": after},
              "checks": checks, "detail": rep.get("detail"), "spans": rep.get("spans"),
              "metrics": metrics}
    (work / "report.json").write_text(json.dumps(report, indent=1))
    print(f"workload {args.workload} seed {args.seed} local[{nproc}] "
          f"host probe {before:.1f} -> {after:.1f} Mops/s (md5, {nproc} procs)")
    print(f"checks: {sum(checks.values())}/{len(checks)} pass"
          + "".join(f"\n  FAILED {k}" for k, v in checks.items() if not v))
    if rep.get("spans"):
        print(f"spans: {rep['spans']}")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
