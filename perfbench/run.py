#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

What a run does:
  1. builds the engine and the harness from the checkout's sources with
     sbt (skipped when a build of the same sources is cached under
     .bench_build/perfbench);
  2. checks the pinned seed-42 input tables under perfbench/data against
     their sha256 sums;
  3. runs the host probe loop, then set-up-only JVMs and one measuring
     harness JVM: set-up, a cold pass and a fixed number of warm passes of
     the workload's ops (--seconds over the workload's nominal warm-pass
     time, at least two), every op's output digest compared with the
     oracle-verified reference in perfbench/reference.json;
  4. prints the host probe line and, last, the result:
     {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
     With --trace 0 the metrics are the end-to-end ones, with --trace 1
     the per-layer ones (BENCHMARK.json lists both). The full record of
     the run (every pass, op, digest, plan fingerprint, the harness JVM's
     log and, when traced, the span tree) is kept in
     .bench_build/perfbench/last/<workload>/.

The seed orders the ops (see Workloads.ordered); the input data is fixed,
because the reference digests are tied to it.
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
BENCH = os.path.basename(HERE)
DATA = os.path.join(HERE, "data")

ETL_KEYS = [
    "q01_agg", "q02_filter_project", "q03_join_agg", "q04_broadcast_join",
    "q05_dedup_key", "q06_regex_extract", "q07_parse_dollars",
    "q08_multi_date", "q09_null_prune", "q10_pivot", "q11_coalesce_fill",
    "q12_window_topn", "q13_conditional_agg", "q14_semi_anti",
    "q15_string_normalize", "q16_type_coercion", "q17_json_extract",
    "q18_runtime_parse", "q19_etl_pipeline", "q20_map_consolidate",
    "q21_suffix_merge"]
CHAIN_KEYS = ["x19_curation_lifecycle", "d17_lifecycle_groups",
              "e16_postings_lifecycle", "s10_stream_takedown"]
STATE_OPS = [
    "groups_base", "groups_append1", "groups_delete", "groups_append2",
    "groups_resolve", "postings_base", "postings_append1", "postings_delete",
    "postings_append2", "postings_query", "postings_compact",
    "postings_query_compacted"]
# The per-batch publishing ops of a warm pass (the cold pass builds the
# base versions and nothing else).
STATE_PUBLISH = ["groups_append1", "groups_delete", "groups_append2",
                 "postings_append1", "postings_delete", "postings_append2",
                 "postings_compact"]
STATE_QUERIES = ["postings_query", "postings_query_compacted"]
# Reference keys the state workload's outputs are checked against.
STATE_REFS = ["d17_lifecycle_groups", "e16_postings_lifecycle"]

# Workload -> (input tier, a directory under perfbench/data; the catalog
# keys a pass runs, or None for the persisted-state lifecycle; nominal
# warm-pass seconds on a 4-core host). A run makes --seconds over the
# nominal time warm passes, at least two, so the number of passes, and with
# it what warm_pass_s is taken over, does not depend on host speed.
WORKLOADS = {
    "etl_sf001": ("sf0.01", ETL_KEYS, 7.5),
    "state_sf001": ("sf0.01", None, 13.0),
    # run by hand, not one of the benchmark's workloads (see README.md)
    "chain_sf001": ("sf0.01", CHAIN_KEYS, 30.0),
    # the harness self-check (selfcheck.py)
    "selfcheck": ("sf0.001", ["q01_agg", "d17_lifecycle_groups"], 5.0),
}
MIN_WARM = 2
# Set-ups per run: the measuring JVM's own and set-up-only JVMs launched
# before it; setup_s is their median.
SETUPS = 2

# The repository's canonical host probe (tools/heavy5.sh): a fixed single-thread
# Python loop whose time tells host drift apart from a code change.
PROBE = ("import time\nt0=time.time(); s=0\n"
         "for i in range(20000000): s+=i*i\nprint(time.time()-t0)")

BUILD_TIMEOUT_S = 840
# A run (everything after the build) must end within 180 s.
RUN_DEADLINE_S = 170


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def checkout_root():
    root = os.getcwd()
    needed = ["build.sbt", os.path.join("src", "main", "scala", "graft", "Queries.scala"),
              os.path.join(BENCH, "build.sbt")]
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        raise BenchError(f"not a graft checkout (missing {', '.join(missing)}); "
                         "run from the repository root")
    return root


def source_stamp(root):
    """Hash of every file the build reads, so a cached build is reused only
    for identical sources."""
    h = hashlib.sha256()
    tops = [("build.sbt", None), ("project", ".properties"),
            (os.path.join("src", "main"), None),
            (os.path.join(BENCH, "build.sbt"), None),
            (os.path.join(BENCH, "project"), ".properties"),
            (os.path.join(BENCH, "src"), None)]
    for top, suffix in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            if suffix and not f.endswith(suffix):
                continue
            if os.sep + "target" + os.sep in f:
                continue
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile with sbt unless a build of these exact sources is cached.
    Returns (classpath, jvm options)."""
    stamp = source_stamp(root)
    launch = os.path.join(work, "launch.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.isfile(launch) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return read_launch(launch), stamp
    log("building engine and harness with sbt (first run in this checkout)")
    t0 = time.time()
    build_log = os.path.join(work, "build.log")
    with open(build_log, "w") as out:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=os.path.join(root, BENCH), stdout=out,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"sbt build timed out after {BUILD_TIMEOUT_S} s")
        except FileNotFoundError:
            raise BenchError("sbt not found on PATH")
    if r.returncode != 0:
        raise BenchError(f"sbt build failed (exit {r.returncode}); see {build_log}")
    shutil.copyfile(os.path.join(root, BENCH, "target", "launch.txt"), launch)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f} s")
    return read_launch(launch), stamp


def read_launch(path):
    with open(path) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    return lines[0], lines[1:]


def verify_inputs(tier):
    """sha256 of every pinned input table of the tier, before each run."""
    sums = {}
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            sums[name] = digest
    tier_files = {n: d for n, d in sums.items() if n.startswith(tier + "/")}
    if not tier_files:
        raise BenchError(f"no pinned inputs for tier {tier}")
    for name, digest in sorted(tier_files.items()):
        with open(os.path.join(DATA, name), "rb") as f:
            got = hashlib.sha256(f.read()).hexdigest()
        if got != digest:
            raise BenchError(f"input {name} does not match its sha256")
    return os.path.join(DATA, tier)


def heap_size():
    """The Tier-1 driver heap: half of RAM in whole GiB, clamped to 2..8."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        g = int(total / 1024 ** 3 / 2)
    except (ValueError, OSError):
        g = 2
    return f"{min(8, max(2, g))}g"


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def probe():
    r = subprocess.run([sys.executable, "-c", PROBE], capture_output=True,
                       text=True, timeout=120)
    return float(r.stdout.strip())


def code_identity(root, stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + stamp[:16]


def launch_jvm(cp, opts, heap, env, work, args, log_name, deadline):
    """Run the harness JVM; returns its result document."""
    out = os.path.join(work, log_name + ".json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    t0 = time.time()
    launch_ms = int(t0 * 1000)
    cmd = ([java, f"-Xmx{heap}"] + opts + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                            "graft.perfbench.Main",
                                            f"launch_ms={launch_ms}", f"work={work}",
                                            f"out={out}"] + args)
    with open(os.path.join(work, log_name + ".log"), "w") as lf:
        proc = subprocess.Popen(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness JVM ({log_name}) timed out")
    if rc != 0 or not os.path.isfile(out):
        raise BenchError(f"harness JVM ({log_name}) exited {rc}; see {lf.name}")
    with open(out) as f:
        doc = json.load(f)
    doc["jvm_wall_s"] = time.time() - t0
    return doc


def load_reference(path):
    with open(path) as f:
        return json.load(f)


def check_ops(doc, ref_tier):
    """(attempted, failed, mismatches): every op of every pass counts once;
    an op fails if it raised or any of its outputs differs from the
    reference (row count and digest)."""
    attempted = failed = 0
    mismatches = []
    for p in doc["passes"]:
        for op in p["ops"]:
            attempted += 1
            bad = "error" in op
            if bad:
                mismatches.append((p["pass"], op["name"], op["error"]))
            for c in op.get("checks", []):
                want = ref_tier.get(c["ref"])
                if want is None or want["rows"] != c["rows"] or want["digest"] != c["digest"]:
                    bad = True
                    mismatches.append((p["pass"], op["name"],
                                       f"{c['ref']}: got {c['rows']} rows / {c['digest']}, "
                                       f"want {want}"))
            failed += bad
    return attempted, failed, mismatches


def med(xs):
    return statistics.median(xs) if xs else 0.0


def warm_pass(passes):
    """The sum over a pass's ops of each op's fastest wall over the warm
    passes. A host stall during one op of one pass, or the JIT still
    settling in the first warm pass, leaves the op's time from another
    pass; graft.Bench likewise keeps the faster of its two timed passes."""
    warm = [p for p in passes if p["kind"] == "warm"]
    names = [o["name"] for o in warm[0]["ops"]]
    return sum(min(o["wall_s"] for p in warm for o in p["ops"] if o["name"] == n)
               for n in names)


def end_to_end(doc, setups):
    return {
        "setup_s": (med(setups), "s"),
        "warm_pass_s": (warm_pass(doc["passes"]), "s"),
        "heap_live_peak_mb": (doc["heap_live_peak_mb"], "MB"),
    }


END_TO_END = [("setup_s", "s"), ("warm_pass_s", "s"), ("heap_live_peak_mb", "MB")]

# Per-layer metrics: (name, unit, better). All but the last group are
# medians over the traced warm passes of a --trace 1 run.
LAYER_METRICS = [
    # Sessions
    ("session_start_s", "s", "lower"),
    # The first pass in the fresh JVM (one sample per run, so per layer)
    ("cold_pass_s", "s", "lower"),
    # Queries / graft.operators: plan construction, incl. eager cuts and folds
    ("build_s", "s", "lower"), ("build_jobs", "count", "lower"),
    # Catalyst (QueryExecution.tracker phases)
    ("plan_analysis_s", "s", "lower"), ("plan_optimize_s", "s", "lower"),
    ("plan_physical_s", "s", "lower"), ("query_executions", "count", "lower"),
    # Scheduler
    ("jobs", "count", "lower"), ("stages", "count", "lower"),
    ("stages_skipped_frac", "frac", "higher"), ("tasks", "count", "lower"),
    ("job_active_s", "s", "lower"), ("driver_only_s", "s", "lower"),
    # Execution (tasks, incl. graft.functions kernels)
    ("task_run_s", "s", "lower"), ("task_cpu_s", "s", "lower"),
    ("task_gc_s", "s", "lower"), ("core_busy_frac", "frac", "higher"),
    # graft.sources scan and exchange
    ("input_mb", "MB", "lower"), ("input_rows", "count", "lower"),
    ("shuffle_write_mb", "MB", "lower"), ("shuffle_read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("schema_jobs", "count", "lower"), ("schema_s", "s", "lower"),
    # graft.Checkpoints cuts and driver folds
    ("cut_jobs", "count", "lower"), ("cut_s", "s", "lower"),
    ("fold_jobs", "count", "lower"), ("fold_s", "s", "lower"),
    # graft.streaming micro-batches
    ("micro_batches", "count", "lower"), ("batch_planning_s", "s", "lower"),
    ("batch_add_s", "s", "lower"), ("batch_wal_commit_s", "s", "lower"),
    ("state_store_commit_s", "s", "lower"), ("stream_state_rows", "count", "lower"),
    # Span self time per level of the trace tree
    ("self.pass_s", "s", "lower"), ("self.op_s", "s", "lower"),
    ("self.build_s", "s", "lower"), ("self.execute_s", "s", "lower"),
    ("self.batch_s", "s", "lower"), ("self.job_s", "s", "lower"),
    ("self.stage_s", "s", "lower"),
    # Persisted state
    ("write_jobs", "count", "lower"), ("write_s", "s", "lower"),
    ("state_bytes_written_mb", "MB", "lower"), ("groups_state_mb", "MB", "lower"),
    ("postings_state_mb", "MB", "lower"), ("postings_live_frac", "frac", "higher"),
    ("state_bytes_per_input_byte", "ratio", "lower"),
] + [(f"op.{o}_s", "s", "lower") for o in STATE_OPS] + [
    ("state_write_s", "s", "lower"), ("state_query_s", "s", "lower"),
] + [(f"key.{k}.warm_s", "s", "lower") for k in ETL_KEYS] + [
    # The run itself
    ("trace_overhead_s", "s", "lower"), ("failed_frac", "frac", "lower"),
    ("op_wall_coverage_min", "frac", "higher"), ("plan_flips", "count", "lower"),
]
# Metrics derived here; every other name that is not an op.* or key.*
# time is read straight from the traced passes' layer records.
DERIVED = {"session_start_s", "cold_pass_s", "state_write_s", "state_query_s", "trace_overhead_s",
           "failed_frac", "op_wall_coverage_min", "plan_flips"}
RECORDED = [n for n, _, _ in LAYER_METRICS
            if n not in DERIVED and not n.startswith(("op.", "key."))]


def per_layer(doc, attempted, failed):
    passes = doc["passes"]
    traced = [p for p in passes if p["traced"] and p["kind"] == "warm"]
    # The first warm pass only settles the JIT (see Main.scala).
    untraced = [p for p in passes if not p["traced"] and p["kind"] == "warm" and p["pass"] > 1]
    if not traced or not untraced:
        raise BenchError("traced run needs a traced and an untraced warm pass")

    def op_median(name):
        # Base-building ops run only in the (traced) cold pass.
        for ps in (traced, [p for p in passes if p["traced"] and p["kind"] == "cold"]):
            vals = [o["wall_s"] for p in ps for o in p["ops"] if o["name"] == name]
            if vals:
                return med(vals)
        return 0.0

    ops_run = {o["name"] for p in traced for o in p["ops"]}
    v = {"session_start_s": doc["session_start_s"], "cold_pass_s": passes[0]["wall_s"]}
    for name in RECORDED:
        v[name] = med([p["layers"].get(name, 0.0) for p in traced])
    for o in STATE_OPS:
        v[f"op.{o}_s"] = op_median(o)
    for k in ETL_KEYS:
        v[f"key.{k}.warm_s"] = op_median(k)
    v["state_write_s"] = sum(op_median(o) for o in STATE_PUBLISH)
    v["state_query_s"] = med([op_median(o) for o in STATE_QUERIES if o in ops_run])
    v["trace_overhead_s"] = (med([p["wall_s"] for p in traced])
                             - med([p["wall_s"] for p in untraced]))
    v["failed_frac"] = failed / attempted if attempted else 0.0
    # Build + execute over each op's wall, worst op of the traced passes.
    cov = [(o["build_s"] + o["exec_s"]) / o["wall_s"]
           for p in traced for o in p["ops"] if o["wall_s"] > 0]
    v["op_wall_coverage_min"] = min(cov) if cov else 0.0
    fps = {}
    for p in passes:
        for o in p["ops"]:
            if "plan_fp" in o:
                fps.setdefault(o["name"], set()).add(o["plan_fp"])
    flips = sorted(k for k, s in fps.items() if len(s) > 1)
    for k in flips:
        log(f"plan flip (AQE borderline decision, not a failure): {k} {sorted(fps[k])}")
    v["plan_flips"] = len(flips)
    return {n: (v[n], u) for n, u, _ in LAYER_METRICS}


def run(args):
    root = checkout_root()
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; one of "
                         + ", ".join(w for w in WORKLOADS if w != "selfcheck"))
    base = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(base, exist_ok=True)
    (cp, opts), stamp = build(root, base)
    tier, keys, nominal = WORKLOADS[args.workload]
    warm = max(MIN_WARM, round(args.seconds / nominal))
    data_dir = verify_inputs(tier)
    ref = load_reference(args.reference or os.path.join(HERE, "reference.json"))
    if tier not in ref:
        raise BenchError(f"reference.json has no digests for tier {tier}")

    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = nproc()
    heap = heap_size()
    env = dict(os.environ)
    for k in ("SPARK_GRAFT_CONF", "SPARK_GRAFT_BROADCAST_CAP", "SPARK_GRAFT_CC_EDGE_CAP",
              "SPARK_GRAFT_SF_DIR"):
        env.pop(k, None)
    env.update({"SPARK_GRAFT_CPUS": str(cpus), "SPARK_DRIVER_MEM": heap,
                "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")})
    try:
        deadline = time.time() + RUN_DEADLINE_S
        probe_before = probe()
        setup_docs = [launch_jvm(cp, opts, heap, env, work, ["mode=setup", f"data={data_dir}"],
                                 f"setup{i}", deadline) for i in range(1, SETUPS)]
        setups = [d["setup_s"] for d in setup_docs]
        doc = launch_jvm(cp, opts, heap, env, work,
                         ["mode=run", f"data={data_dir}", f"workload={args.workload}",
                          f"seed={args.seed}", f"warm={warm}",
                          f"trace={args.trace}", f"spans={os.path.join(work, 'spans.jsonl')}"]
                         + ([f"keys={','.join(keys)}"] if keys else []),
                         "harness", deadline)
        attempted, failed, mismatches = check_ops(doc, ref[tier])
        for m in mismatches:
            log(f"pass {m[0]} op {m[1]} FAILED: {m[2]}")
        setups.append(doc["setup_s"])
        metrics = (per_layer(doc, attempted, failed) if args.trace
                   else end_to_end(doc, setups))
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "tier": tier, "code": code_identity(root, stamp),
            "env": {"nproc": cpus, "heap": heap, "java": doc["java_version"],
                    "spark": doc["spark_version"], "spark_cores": doc["cores"]},
            "host_probe_s": probe_before,
            "setups_s": setups,
            "jvm_wall_s": [d["jvm_wall_s"] for d in setup_docs + [doc]],
            "heap_probe_s": doc["heap_probe_s"],
            "attempted": attempted, "failed": failed,
            "mismatches": [list(m) for m in mismatches],
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "passes": doc["passes"],
        }
        last = os.path.join(base, "last", args.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        with open(os.path.join(last, "report.json"), "w") as f:
            json.dump(record, f, indent=1)
        shutil.copyfile(os.path.join(work, "harness.log"), os.path.join(last, "harness.log"))
        if args.trace:
            shutil.copyfile(os.path.join(work, "spans.jsonl"), os.path.join(last, "spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"host_probe_s": probe_before,
                      "env": record["env"], "code": record["code"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": record["metrics"]}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--reference", help="reference digests (default perfbench/reference.json)")
    args = ap.parse_args()
    try:
        run(args)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)


if __name__ == "__main__":
    main()
