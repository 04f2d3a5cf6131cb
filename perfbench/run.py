#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness if needed (build.py), runs the workload's
queries in one JVM (src/PerfBench.scala), checks every query's result against
its DuckDB oracle (`SparkEntry.oracleSql`), and prints two JSON lines: the
run's stamp (code fingerprint, seed, query order, host noise), then the
result with the metrics named in BENCHMARK.json, `end_to_end` ones with
`--trace 0` and `per_layer` ones with `--trace 1`. Run records and traced
runs' span files are kept under `<build dir>/results/` (see trace_report.py).
"""
import argparse
import hashlib
import json
import os
import pathlib
import random
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 165
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
MIN_PASSES = 3
# a timed pass counts only if the host stole at most STEAL_MAX of the CPU
# time during it; up to MAX_EXTRA passes replace those that do not count,
# each only if it ends by EXTRA_UNTIL_S after JVM start
STEAL_MAX, MAX_EXTRA, EXTRA_UNTIL_S = 0.02, 2, 75
TAIL_BEYOND = 10


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def verify_inputs(data):
    sums = data / "SHA256SUMS"
    if not sums.is_file():
        fail(f"input tables not found under {data}")
    for line in sums.read_text().splitlines():
        digest, name = line.split()
        p = data / name
        if not p.is_file() or hashlib.sha256(p.read_bytes()).hexdigest() != digest:
            fail(f"input table {p} is missing or differs from SHA256SUMS")


def run_jvm(classpath, props, run_dir):
    conf = run_dir / "run.properties"
    conf.write_text("".join(f"{k}={v}\n" for k, v in props.items()))
    (run_dir / "tmp").mkdir()
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(classpath), "perfbench.PerfBench", str(conf)])
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not (run_dir / "result.json").is_file():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        fail(f"benchmark JVM ended with {code}:\n{tail}")
    return json.loads((run_dir / "result.json").read_text())


def corrupt_one_value(con, table):
    """Changes one value of the expected table: the smoke test's proof that
    a wrong expected value fails the check."""
    cols = con.execute(f"DESCRIBE {table}").fetchall()
    for name, typ, *_ in cols:
        t = typ.upper()
        if t in ("VARCHAR",):
            new = f'"{name}" || \'#\''
        elif any(k in t for k in ("INT", "DOUBLE", "FLOAT", "DECIMAL")):
            new = f'"{name}" + 1'
        else:
            continue
        con.execute(f'UPDATE {table} SET "{name}" = {new} '
                    f"WHERE rowid = (SELECT min(rowid) FROM {table})")
        return
    raise RuntimeError(f"no value to corrupt in {table}")


def check(order, oracle, errors, run_dir, data, corrupt):
    """The tools/compare.py rule evaluated inside DuckDB: columns matched by
    sorted name, then the two row multisets compared with exact value
    equality. Returns {query: reason} for every query that fails."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data / t}.parquet')")
    bad = {}
    for q in order:
        if q in errors:
            bad[q] = f"dump failed: {errors[q]}"
            continue
        if not oracle.get(q):
            bad[q] = "no oracle"
            continue
        try:
            con.execute("CREATE OR REPLACE TEMP TABLE got AS SELECT * FROM "
                        f"read_parquet('{run_dir / 'check' / q}/*.parquet')")
            con.execute("CREATE OR REPLACE TEMP TABLE exp AS " + oracle[q].strip().rstrip(";"))
            if q == corrupt:
                corrupt_one_value(con, "exp")
            gcols = sorted(r[0] for r in con.execute("DESCRIBE got").fetchall())
            ecols = sorted(r[0] for r in con.execute("DESCRIBE exp").fetchall())
            if gcols != ecols:
                bad[q] = f"columns {gcols} vs oracle {ecols}"
                continue
            cols = ", ".join(f'"{c}"' for c in gcols)
            n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
            n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
            if n_got != n_exp:
                bad[q] = f"rows {n_got} vs oracle {n_exp}"
                continue
            diff = con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM got "
                               f"EXCEPT ALL SELECT {cols} FROM exp)").fetchone()[0]
            if diff:
                bad[q] = f"{diff}/{n_got} rows differ"
        except Exception as e:  # an oracle or read error fails the query
            bad[q] = f"check error: {e}"
    con.close()
    return bad


def counted(timed, k):
    """Indices of the timed passes the metrics are taken from: those during
    which the host stole at most STEAL_MAX of the CPU time, or, if fewer
    than k were, the k with the least steal."""
    low = [i for i, p in enumerate(timed) if p["steal"] <= STEAL_MAX]
    if len(low) >= k:
        return low
    return sorted(sorted(range(len(timed)), key=lambda i: timed[i]["steal"])[:k])


def tail(samples):
    """The highest percentile with at least TAIL_BEYOND samples beyond it;
    with fewer than 4 * TAIL_BEYOND samples, a quarter of them beyond it."""
    s = sorted(samples)
    k = len(s) - 1 - min(TAIL_BEYOND, len(s) // 4)
    return s[k], 100.0 * (k + 1) / len(s)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", default="sf0.1", help="input tables under perfbench/data")
    ap.add_argument("--corrupt-oracle", metavar="QUERY",
                    help="change one expected value of QUERY (smoke test)")
    ap.add_argument("--quick", action="store_true",
                    help="one warm pass and one timed pass (smoke test)")
    a = ap.parse_args()

    workloads = json.loads((HERE / "workloads.json").read_text())
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {', '.join(workloads)}")
    spec = workloads[a.workload]
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    data = HERE / "data" / a.data
    verify_inputs(data)
    try:
        fingerprint = build.code_fingerprint()
        classpath = build.build()
    except build.BuildError as e:
        fail(str(e))

    order = list(spec["queries"])
    random.Random(a.seed).shuffle(order)
    query_sources = sorted(p.name for p in (build.PROGRAM_SRC / "scala" / "graft" / "queries")
                           .glob("*.scala"))
    runs = build.build_root() / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    run_dir = runs / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir()
    try:
        res = run_jvm(classpath, {
            "data": data, "out": run_dir, "cores": len(os.sched_getaffinity(0)),
            "seconds": a.seconds, "trace": a.trace, "order": ",".join(order),
            "probes": ",".join(spec["probes"]) if a.trace else "",
            "query_sources": ",".join(query_sources),
            "warm_passes": 1 if a.quick else spec["warm_passes"],
            "min_passes": 1 if a.quick else MIN_PASSES,
            "steal_max": STEAL_MAX, "max_extra": 0 if a.quick else MAX_EXTRA,
            "extra_until_s": EXTRA_UNTIL_S}, run_dir)
        t0 = time.monotonic()
        bad = check(order, res["oracle"], res["check_errors"], run_dir, data,
                    a.corrupt_oracle)
        oracle_s = time.monotonic() - t0
        trace_file = run_dir / "trace.jsonl"
        stamp = f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}-{os.getpid()}"
        results = build.build_root() / "results"
        results.mkdir(exist_ok=True)
        if trace_file.is_file():
            shutil.move(str(trace_file), results / f"{stamp}.trace.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = res["timed"]
    counted_idx = counted(timed, 1 if a.quick else MIN_PASSES)
    used = [timed[i] for i in counted_idx]
    samples = [q["seconds"] for p in used for q in p["queries"]]
    failed_runs = sum(not q["ok"] for p in timed + res["traced"] for q in p["queries"])
    attempted = sum(len(p["queries"]) for p in timed + res["traced"]) + len(order)
    failed = failed_runs + len(bad)
    pass_s = statistics.median(p["seconds"] for p in used)
    tail_s, tail_pct = tail(samples)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if a.trace == 0:
        values = {
            "setup_s": res["setup_s"],
            "pass_s": pass_s,
            "query_p50_s": statistics.median(samples),
            "query_tail_s": tail_s,
            "ok_frac": 1 - failed / attempted,
        }
        names = [m["name"] for m in bench["end_to_end"]]
    else:
        layers = res["layers"]
        values = {k: statistics.median(p[k] for p in layers) for k in layers[0]}
        # a probe runs on the workload that lists it and reads 0 elsewhere
        for w in workloads.values():
            for p in w["probes"]:
                values[f"op.{p}_s"] = values[f"op.{p}.jobs"] = 0
        values.update(res["probes"])
        values["trace.overhead_s"] = values["trace.pass_s"] - pass_s
        values["fail_frac"] = failed / attempted
        values["peak_rss_mb"] = res["peak_rss_mb"]
        values["host.steal_frac"] = res["host_steal_frac"]
        values["host.load1"] = res["host_load1"]
        names = [m["name"] for m in bench["per_layer"]]
    missing = [n for n in names if n not in values]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")
    meta = {
        "workload": a.workload, "trace": a.trace, "data": a.data,
        "code_fingerprint": fingerprint, "seed": a.seed, "order": order,
        "host": {"steal_frac": res["host_steal_frac"], "load1": res["host_load1"]},
        "session_s": res["session_s"],
        "warm_passes_s": [p["seconds"] for p in res["warm"]],
        "timed_passes_s": [p["seconds"] for p in timed],
        "timed_passes_steal": [p["steal"] for p in timed],
        "counted_passes": counted_idx,
        "timed_query_s": {q: [x["seconds"] for p in used for x in p["queries"] if x["name"] == q]
                          for q in order},
        "traced_passes_s": [p["seconds"] for p in res["traced"]],
        "probes_s": res["probes_s"],
        "check_s": {"dump": res["check_dump_s"], "oracle": oracle_s},
        "query_tail": {"percentile": round(tail_pct, 1), "samples": len(samples)},
        "check_failures": bad,
    }
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {n: {"value": values[n], "unit": units[n]} for n in names}}
    (results / f"{stamp}.json").write_text(json.dumps({"stamp": meta, "result": out}, indent=1))
    for q, why in bad.items():
        print(f"perfbench: check failed for {q}: {why}", file=sys.stderr)
    print(json.dumps({"stamp": meta}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
