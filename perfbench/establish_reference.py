#!/usr/bin/env python3
"""Re-establish perfbench/reference.json: the oracle-verified output digests
the benchmark checks every op against.

Usage (from the repository root):
    python3 perfbench/establish_reference.py [tier ...]

For each input tier (default: every tier a workload uses) this
  1. runs graft.Verify on the pinned inputs for the keys the workloads
     check, writing each verified result as parquet plus the oracle SQL;
  2. runs tools/check_keys.py, which compares every result with its DuckDB
     oracle, and stops unless every key passes;
  3. digests each verified result with the harness's own digest (row count
     plus the sum of xxhash64 over all columns) and records it.

A benchmark run then fails any op whose production-plan output digest
differs from the recorded one. Only needed when the pinned inputs change
or a key's output legitimately changes (and the oracle agrees).
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

# Keys whose digests each tier needs: those of every workload on it.
TIER_KEYS = {}
for _tier, _keys in bench.WORKLOADS.values():
    for _k in _keys or bench.STATE_REFS:
        if _k not in TIER_KEYS.setdefault(_tier, []):
            TIER_KEYS[_tier].append(_k)


def java_cmd(cp, opts, heap, tmp, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, f"-Xmx{heap}"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args


def main():
    root = bench.checkout_root()
    tiers = sys.argv[1:] or list(TIER_KEYS)
    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    (cp, opts), _ = bench.build(root, base)
    heap = bench.heap_size()
    ref_path = os.path.join(bench.HERE, "reference.json")
    ref = {}
    if os.path.isfile(ref_path):
        with open(ref_path) as f:
            ref = json.load(f)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(bench.nproc()))
    for tier in tiers:
        data = bench.verify_inputs(tier)
        keys = TIER_KEYS[tier]
        work = os.path.join(base, f"reference-{tier}")
        shutil.rmtree(work, ignore_errors=True)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        out = os.path.join(work, "verify")
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        print(f"== {tier}: graft.Verify for {len(keys)} keys", flush=True)
        subprocess.run(java_cmd(cp, opts, heap, tmp, "graft.Verify", [data, out] + keys),
                       env=env, cwd=work, check=True)
        print(f"== {tier}: DuckDB oracle compare", flush=True)
        subprocess.run([sys.executable, os.path.join(root, "tools", "check_keys.py"),
                        data, out] + keys, check=True)
        print(f"== {tier}: digests", flush=True)
        doc_path = os.path.join(work, "digests.json")
        paths = ",".join(f"{k}:{os.path.join(out, k)}" for k in keys)
        subprocess.run(java_cmd(cp, opts, heap, tmp, "graft.perfbench.Main",
                                ["mode=digest", "launch_ms=0", f"work={work}",
                                 f"out={doc_path}", f"data={data}", f"paths={paths}"]),
                       env=env, cwd=work, check=True)
        with open(doc_path) as f:
            doc = json.load(f)
        ref[tier] = {k: doc[k] for k in keys}
        shutil.rmtree(work, ignore_errors=True)
    with open(ref_path, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {ref_path}")


if __name__ == "__main__":
    main()
