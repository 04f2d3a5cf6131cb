#!/usr/bin/env python3
"""Prints each layer's self time per workload from traced benchmark runs.

  python3 perfbench/trace_report.py [RESULTS_DIR]

RESULTS_DIR defaults to the build directory's `results/`, where run.py keeps
one record per run (`<stamp>.json`) and, for traced runs, the span file
(`<stamp>.trace.jsonl`). Spans nest run -> pass -> query -> {construct,
materialize} -> job and run -> probe -> job. A span's self time is its
duration minus the union of its children's intervals; jobs are leaves and
are shown per launching module. Only the traced passes are summed, divided
by their number, so the figures read as seconds per pass.

Tracing overhead is printed two ways: inside each traced run (traced pass_s
minus the same run's untraced passes) and across runs (median traced pass_s
minus the median pass_s of the untraced runs of the same code and queries).
"""
import collections
import json
import pathlib
import statistics
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402


def union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def layer_self_times(spans):
    """{layer: self seconds summed over the traced passes}, and the pass count."""
    by_id = {s["id"]: s for s in spans}
    children = collections.defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)

    def traced(s):
        while s["kind"] != "pass":
            if s["parent"] not in by_id:
                return False
            s = by_id[s["parent"]]
        return s.get("pass_kind") == "traced"

    out = collections.Counter()
    passes = 0
    for s in spans:
        if s["kind"] in ("run", "probe") or not traced(s):
            continue
        passes += s["kind"] == "pass"
        kids = [(c["start_ms"], max(c["start_ms"], c["end_ms"])) for c in children[s["id"]]]
        own = max(0.0, s["end_ms"] - s["start_ms"] - union_ms(kids)) / 1000
        layer = f"job:{s['module']}" if s["kind"] == "job" else s["kind"]
        out[layer] += own
    return out, passes


def key(stamp):
    """Runs compare when workload, code and query set match."""
    return stamp["workload"], stamp["code_fingerprint"], tuple(sorted(stamp["order"]))


def main():
    results = pathlib.Path(sys.argv[1]) if len(sys.argv) > 1 else build.build_root() / "results"
    records = {}
    for f in sorted(results.glob("*.json")):
        records[f.name[:-len(".json")]] = json.loads(f.read_text())
    if not records:
        sys.exit(f"no run records under {results}")
    untraced = collections.defaultdict(list)
    for r in records.values():
        st, m = r["stamp"], r["result"]["metrics"]
        if st["trace"] == 0 and "pass_s" in m:
            untraced[key(st)].append(m["pass_s"]["value"])

    by_workload = collections.defaultdict(list)
    for stamp, r in records.items():
        trace = results / f"{stamp}.trace.jsonl"
        if r["stamp"]["trace"] == 1 and trace.is_file():
            spans = [json.loads(line) for line in trace.read_text().splitlines()]
            by_workload[r["stamp"]["workload"]].append((r, spans))
    if not by_workload:
        sys.exit(f"no traced runs under {results}")

    for workload, runs in sorted(by_workload.items()):
        total, passes = collections.Counter(), 0
        for _, spans in runs:
            t, n = layer_self_times(spans)
            total.update(t)
            passes += n
        print(f"== {workload}: {len(runs)} traced run(s), {passes} traced pass(es)")
        print(f"  {'layer':32s} {'self s/pass':>12s}")
        for layer, secs in sorted(total.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:32s} {secs / max(passes, 1):12.3f}")
        for r, _ in runs:
            st, m = r["stamp"], r["result"]["metrics"]
            traced_s = m["trace.pass_s"]["value"]
            line = (f"  seed {st['seed']}: traced pass_s {traced_s:.3f}, overhead within "
                    f"the run {m['trace.overhead_s']['value']:+.3f} s")
            base = untraced.get(key(st))
            if base:
                line += (f", vs {len(base)} untraced run(s) "
                         f"{traced_s - statistics.median(base):+.3f} s")
            print(line)


if __name__ == "__main__":
    main()
