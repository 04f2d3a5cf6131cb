#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the sf0.001 tables.

  python3 perfbench/smoke.py

Checks that
  1. every workload runs one short pass, untraced and traced, and its output
     check passes;
  2. every metric named in BENCHMARK.json is printed with its unit
     (end_to_end ones untraced, per_layer ones traced);
  3. a deliberately wrong expected value makes the output check fail;
  4. in a directory holding only BENCHMARK.json and the benchmark's own
     files, the benchmark exits non-zero without printing a result.
Exits non-zero on the first failure.
"""
import json
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def run(args, cwd=ROOT):
    cmd = [sys.executable, "perfbench/run.py", "--seed", "1", "--seconds", "1",
           "--data", "sf0.001", "--quick"] + args
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    return r.returncode, (json.loads(lines[-1]) if lines else None), r.stderr


def expect(ok, what):
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        sys.exit(1)


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = json.loads((HERE / "workloads.json").read_text())
    for w in (x["name"] for x in bench["workloads"]):
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            code, res, err = run(["--workload", w, "--trace", str(trace)])
            expect(code == 0 and res is not None, f"{w} trace {trace}: exit 0 with a result"
                   + ("" if code == 0 else f"\n{err[-2000:]}"))
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{w} trace {trace}: output check passes")
            printed = res["metrics"]
            wanted = {m["name"]: m["unit"] for m in bench[group]}
            expect(set(printed) == set(wanted), f"{w} trace {trace}: every {group} metric printed")
            expect(all(printed[n]["unit"] == u and isinstance(printed[n]["value"], (int, float))
                       for n, u in wanted.items()), f"{w} trace {trace}: values with units")

    w = bench["workloads"][0]["name"]
    query = workloads[w]["queries"][0]
    code, res, _ = run(["--workload", w, "--trace", "0", "--corrupt-oracle", query])
    expect(code == 0 and res is not None and not res["correct"] and res["failed"] >= 1,
           f"a wrong expected value for {query} fails the check")

    bare = build.build_root() / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    cmd = bench["command"] + ["--workload", w, "--seed", "1", "--seconds", "1", "--trace", "0"]
    r = subprocess.run(cmd, cwd=bare, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=180)
    shutil.rmtree(bare)
    expect(r.returncode != 0 and not r.stdout.strip(),
           "without the program's sources: non-zero exit, no result")


if __name__ == "__main__":
    main()
