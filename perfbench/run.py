#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload catalog-short --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run compiles the repository's
`src/main/scala` together with this benchmark's Scala sources (plain
scalac from the Spark distribution's jars) and caches the classes under
`.bench_build/perfbench/`, keyed by content. The catalog workloads read
`perfbench/corpus/`, a byte copy of the sf0.01 test corpus (TESTDATA.md)
that `tools/check.py` and the DuckDB oracles are run against.

Workloads (one client, one op in flight, on `local[4]`):
  catalog-short  rounds over 12 of the catalog queries whose frozen
                 reference time is under 1 s, in seeded order, sf0.01 corpus
  catalog-long   the same over 6 of the other queries (not in BENCHMARK.json:
                 its runs do not fit the benchmark's time budget; ledger.py
                 runs it)
  etl-cycles     consecutive Pipeline.run() cycles over seeded fixture JSON

The last stdout line is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The line before it is the full report (every metric, host noise, gate).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
# The sf0.01 test corpus, the scale the DuckDB oracles are written for. At
# sf0.1 some oracles are quadratic in DuckDB and one takes minutes, longer
# than a whole run.
CORPUS = os.path.join(HERE, "corpus")

# sample: how many queries a run times — the middle query of each of that
# many equal strata of the frozen list, which is sorted by reference time.
# uncalled: prefixes of the per-layer metrics the workload never calls; they
# read 0 there, and any other per-layer metric the JVM omits fails the run.
WORKLOADS = {
    "catalog-short": {"sample": 12, "uncalled": ("etl.",)},
    "catalog-long": {"sample": 6, "uncalled": ("etl.",)},
    "etl-cycles": {"warm_cycles": 5, "uncalled": ("catalog.", "tables.")},
}

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build(jars):
    """Compile the repository and the benchmark into a content-keyed dir."""
    repo_src = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not repo_src:
        fail(f"no repository sources under {ROOT}/src/main/scala")
    bench_src = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    out = os.path.join(WORK, "classes-" + digest(repo_src + bench_src))
    if os.path.exists(os.path.join(out, "BUILT")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + repo_src + bench_src
    # run from the output dir: scalac's default classpath includes "."
    r = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, "BUILT"), "w").close()
    return out


def strata_medians(items, k):
    """The middle item of each of k equal strata of `items`."""
    n = len(items)
    return [items[(i * n // k + (i + 1) * n // k) // 2] for i in range(k)]


def cpu_sample():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    return {"ticks": vals, "loadavg": " ".join(load), "self": os.times()}


def host_noise(before, after, child_cpu_s):
    """Load average, steal and CPU used by other processes over the run.
    Recorded beside the metrics to spot a noisy sample; never applied to them."""
    hz = os.sysconf("SC_CLK_TCK")
    d = [b - a for a, b in zip(before["ticks"], after["ticks"])]
    total = sum(d[:8]) or 1
    busy = total - d[3] - d[4] - d[7]  # minus idle, iowait and steal
    own = child_cpu_s + sum(after["self"][:2]) - sum(before["self"][:2])
    return {"loadavg_before": before["loadavg"], "loadavg_after": after["loadavg"],
            "steal_frac": round(d[7] / total, 5),
            "other_cpu_s": round(max(0.0, busy / hz - own), 3)}


def value_digest(rows, cols):
    """Order-sensitive, type-sensitive hash of a result, columns by name."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256(repr([cols[i] for i in idx]).encode())
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float) and v == 0.0:
                v = 0.0  # -0.0 and 0.0 compare equal
            vals.append((type(v).__name__, repr(v)))
        h.update(repr(vals).encode())
    return h.hexdigest(), len(rows)


def materialize_ctes(sql):
    """Evaluate every CTE once. DuckDB 1.0 inlines a CTE at each reference,
    so an oracle whose CTEs chain through two references each (the k-center
    coreset) re-evaluates exponentially and runs for minutes; materializing
    gives the same rows in a fraction of a second. A named WINDOW clause
    shares the `name AS (` form, so SQL with one is left as written."""
    if re.search(r"\bWINDOW\b", sql, re.I):
        return sql
    return re.sub(r"(\w+)\s+AS\s+\(", r"\1 AS MATERIALIZED (", sql)


def catalog_gate(sf_dir, gate_dir, gate):
    """DuckDB oracle compare of each query's single-file output; returns the
    set of queries that failed and a short reason for each."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_common import connect
    con = connect(sf_dir)
    con.execute(f"SET temp_directory='{gate_dir}/duckdb.tmp'")
    bad = {}
    for g in gate:
        name = g["name"]
        if not g["ok"]:
            bad[name] = "spark: " + (g["error"] or "")[:200]
            continue
        if not g["oracle_sql"]:
            bad[name] = "no oracle SQL"
            continue
        files = glob.glob(os.path.join(gate_dir, name, "*.parquet"))
        try:
            mine = con.sql(f"SELECT * FROM '{files[0]}'")
            ref = con.sql(materialize_ctes(g["oracle_sql"]))
            a = value_digest(mine.fetchall(), mine.columns)
            b = value_digest(ref.fetchall(), ref.columns)
        except Exception as e:
            bad[name] = "oracle: " + str(e).splitlines()[0][:200]
            continue
        if a != b:
            bad[name] = f"mismatch: {a[1]} rows vs oracle {b[1]}"
    return bad


def etl_gate(wh, expected, run_ids):
    """Per-table row counts and exactly one Success etl_runs row per cycle."""
    import duckdb
    con = duckdb.connect()
    bad = {}
    for table, n in expected.items():
        got = con.sql(f"SELECT count(*) FROM '{wh}/{table}/*.parquet'").fetchone()[0]
        if got != n:
            bad[table] = f"{got} rows, expected {n}"
    runs = dict(con.sql(f"SELECT run_id, status FROM '{wh}/etl_runs/*.parquet'").fetchall())
    n_runs = con.sql(f"SELECT count(*) FROM '{wh}/etl_runs/*.parquet'").fetchone()[0]
    for rid in run_ids:
        if runs.get(rid) != "Success":
            bad[f"etl_runs:{rid}"] = f"status {runs.get(rid)}"
    if n_runs != len(run_ids):
        bad["etl_runs"] = f"{n_runs} rows for {len(run_ids)} cycles"
    return bad


def op_walls(ops):
    """Wall times per op name, in run order, rounded to the millisecond."""
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(round(o["wall_s"], 3))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    with open(os.path.join(HERE, "queries.json")) as f:
        lists = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    jars = spark_jars()
    classes = build(jars)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
            "cores": CORES, "scratch_dir": os.path.join(run_dir, "spark")}
    if args.workload == "etl-cycles":
        sys.path.insert(0, HERE)
        import gen_fixtures
        fixtures = os.path.join(run_dir, "fixtures")
        expected = gen_fixtures.generate(fixtures, args.seed)
        plan.update(fixtures_dir=fixtures, warehouse_dir=os.path.join(run_dir, "warehouse"),
                    warm_cycles=w["warm_cycles"],
                    clock_start="2026-01-01T00:00:00Z")
    else:
        names = [q for q, _ in lists[args.workload]]
        plan.update(data_dir=CORPUS, gate_dir=os.path.join(run_dir, "gate"),
                    queries=strata_medians(names, w["sample"]), seed=args.seed,
                    listed=[q for k in ("catalog-short", "catalog-long") for q, _ in lists[k]])

    plan_file = os.path.join(run_dir, "plan.json")
    result_file = os.path.join(run_dir, "result.json")
    # A fixed heap and young generation (-Xms = -Xmx, -Xmn): with G1 resizing
    # either, peak RSS spread 16-32% between runs of the same queries; with
    # both fixed, 2%.
    # -XX:-UsePerfData: the JVM would otherwise write its perf-data file to
    # the system temp directory, outside the checkout.
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-Xss8m", "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                                      os.path.join(jars, "*")]),
              "perfbench.Main", plan_file, result_file])
    before = cpu_sample()
    kids0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    plan["t0_us"] = time.time_ns() // 1000
    with open(plan_file, "w") as f:
        json.dump(plan, f)
    # SPARK_LOCAL_DIRS would override spark.local.dir and put shuffle files
    # outside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        rc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=log,
                            stderr=subprocess.STDOUT).returncode
    kids = resource.getrusage(resource.RUSAGE_CHILDREN)
    after = cpu_sample()
    if rc != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited {rc}:\n{tail}")
    with open(result_file) as f:
        res = json.load(f)

    ops = res["ops"]
    if args.workload == "etl-cycles":
        bad = etl_gate(plan["warehouse_dir"], expected, res["run_ids"])
        failed = sum(1 for o in ops if not o["ok"]) + (len(ops) if bad else 0)
    else:
        bad = catalog_gate(plan["data_dir"], plan["gate_dir"], res["gate"])
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
    failed = min(failed, len(ops))
    walls = [o["wall_s"] for o in ops]
    if len(walls) < 2:
        fail(f"only {len(walls)} ops completed in {args.seconds} s")
    e2e = {"setup_s": res["setup_s"], "op_s.p50": statistics.median(walls),
           "op_s.p90": statistics.quantiles(walls, n=10, method="inclusive")[8],
           "ops_per_s": len(ops) / res["loop_s"], "rss_peak_mb": res["rss_peak_mb"]}
    report = {"workload": args.workload, "seed": args.seed, "ops": len(ops),
              "failed_frac": failed / len(ops), "end_to_end": e2e,
              "host": host_noise(before, after, kids.ru_utime + kids.ru_stime
                                 - kids0.ru_utime - kids0.ru_stime),
              "gate_failures": bad, "op_errors": [o for o in ops if not o["ok"]][:5],
              "op_walls": op_walls(ops)}
    if args.trace:
        layers = res["layers"]
        report["layers"] = layers
        missing = [m["name"] for m in spec["per_layer"]
                   if m["name"] not in layers and not m["name"].startswith(w["uncalled"])]
        if missing:
            fail("per-layer metrics missing from the traced run: " + ", ".join(missing))
        metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print("report " + json.dumps(report))
    print(json.dumps({"correct": not bad and failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
