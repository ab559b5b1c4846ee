#!/usr/bin/env python3
"""Fast self-check of the benchmark harness on the sf0.001 inputs.

Usage (from the repository root):
    python3 perfbench/selfcheck.py

Runs the `selfcheck` workload (q01_agg and d17_lifecycle_groups on
sf0.001) three times through run.py and fails unless
  - an untraced run is correct and prints exactly the end-to-end metrics,
    each a number with its unit;
  - a traced run is correct and prints exactly the per-layer metrics;
  - a run against a reference with one planted wrong digest reports
    correct=false with a failed op;
  - BENCHMARK.json, when present in the working directory, lists the same
    metric names and units as run.py prints.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402


def run_once(trace, reference=None):
    cmd = [sys.executable, os.path.join(bench.HERE, "run.py"), "--workload", "selfcheck",
           "--seed", "1", "--seconds", "0", "--trace", str(trace)]
    if reference:
        cmd += ["--reference", reference]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
    if r.returncode != 0:
        sys.exit(f"selfcheck: run.py exited {r.returncode}\n{r.stderr[-2000:]}")
    return json.loads(r.stdout.strip().split("\n")[-1])


def expect(cond, msg):
    if not cond:
        sys.exit(f"selfcheck FAILED: {msg}")
    print(f"ok: {msg}", flush=True)


def check_metrics(res, spec, label):
    got = res["metrics"]
    expect(list(got) == [n for n, u in spec], f"{label} metric names are exactly the listed ones")
    for n, u in spec:
        m = got[n]
        expect(isinstance(m.get("value"), (int, float)) and m.get("unit") == u,
               f"{label} {n} is a number in {u}")


def main():
    e2e = bench.END_TO_END
    layers = [(n, u) for n, u, _ in bench.LAYER_METRICS]
    if os.path.isfile("BENCHMARK.json"):
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
        expect([(m["name"], m["unit"]) for m in spec["end_to_end"]] == e2e,
               "BENCHMARK.json end_to_end matches run.py")
        expect([(m["name"], m["unit"]) for m in spec["per_layer"]] == layers,
               "BENCHMARK.json per_layer matches run.py")

    res = run_once(0)
    expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 4,
           "untraced run is correct")
    check_metrics(res, e2e, "end-to-end")

    res = run_once(1)
    expect(res["correct"] and res["failed"] == 0, "traced run is correct")
    check_metrics(res, layers, "per-layer")

    with open(os.path.join(bench.HERE, "reference.json")) as f:
        ref = json.load(f)
    d = ref["sf0.001"]["q01_agg"]
    d["digest"] = str(int(d["digest"]) + 1)
    planted = os.path.join(os.getcwd(), ".bench_build", "perfbench", "planted-reference.json")
    with open(planted, "w") as f:
        json.dump(ref, f)
    res = run_once(0, planted)
    os.remove(planted)
    expect(not res["correct"] and res["failed"] >= 1,
           "a planted wrong reference digest fails the run")
    print("selfcheck passed")


if __name__ == "__main__":
    main()
