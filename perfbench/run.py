#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ccgp_etl --seed 1 --seconds 30 --trace 0

Builds the engine and the harness from source (once per source state),
makes the seed's corpus, runs the workload's query panel in one JVM (one
client, closed loop, `noop` sink), checks every panel query's output
against its DuckDB oracle with `scripts/check.py`, and prints one JSON
object as the last line of standard output. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones from a traced
run. The full record of the run, spans included, is written to
perfbench/work/results/.

--corpus DIR runs on an existing corpus (for example the fixed sf0.1
testdata) instead of generating one from the seed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")

# Why each workload exists, and why its timed panel is a subset of the
# full one: perfbench/DESIGN.md. `panel` is what a run times; `full` is
# the whole workload, run with --full (it takes minutes, not seconds).
WORKLOADS = {
    "ccgp_etl": {
        "panel": [
            "f1_coord_clean", "f3_date_clean", "j3_substring_linkage",
            "j12_reconcile_both", "a1_project_summary", "s15_scd2_merge",
            "j31_interval_native", "s1_xlsx_roundtrip", "s18_snapshot_roundtrip"],
        "full": [
            "s5_scan_filter_project", "f1_coord_clean", "f3_date_clean",
            "j2_dim_lookup", "j3_substring_linkage", "j3b_linkage_tiered",
            "j6_positional_pairing", "j12_reconcile_both", "a1_project_summary",
            "a3_group_proportion", "s10a_merge_set", "s15_scd2_merge",
            "q1_pricing_summary", "q9_product_profit", "q18_large_orders",
            "w7_ntile_pctrank", "j26_asof_native", "j31_interval_native",
            "s1_xlsx_roundtrip", "s18_snapshot_roundtrip", "s20_incremental_agg",
            "s23_orc_roundtrip"],
        "partitions": None,  # = task threads
    },
    "iterative_wide": {
        "panel": ["ext_sssp", "ext_dedup_components"],
        "full": [
            "ext_hits", "ext_pagerank", "ext_msf", "ext_sssp", "ext_cc_star",
            "ext_ktruss", "ext_label_prop", "ext_dedup_components",
            "ev15_ab_lift_ci"],
        "partitions": 32,  # the production shuffle width
    },
    "text_cascade": {
        "panel": ["ext_text_filter", "ext_budget_lang"],
        "full": [
            "ext_text_repetition", "ext_profile_table", "ext_text_filter",
            "ext_sim_pq", "ext_dedup_minhash_lsh", "ext_dedup_ngram_jaccard",
            "ext_bm25_topk", "ext_phrase_search", "ext_budget_lang",
            "ext_text_stats", "ext_tfidf_topk", "ext_skipgrams"],
        "partitions": None,
    },
}

SETUP_SAMPLES = 2      # JVM launches per run whose set-up time is sampled
HEAP = "4g"
JVM_TIMEOUT_S = 150    # keeps a run under three minutes
FULL_TIMEOUT_S = 3600
LAYER_METRICS = [
    ("queries.build_s", "s"), ("queries.build_jobs", "count"),
    ("plans.analysis_s", "s"), ("plans.optimization_s", "s"),
    ("plans.planning_s", "s"),
    ("driver.jobs", "count"), ("driver.stages", "count"), ("driver.only_s", "s"),
    ("exchange.shuffle_write_bytes", "bytes"), ("exchange.shuffle_read_bytes", "bytes"),
    ("exchange.tasks", "count"),
    ("scan.input_bytes", "bytes"), ("scan.tasks", "count"),
    ("compute.run_s", "s"), ("compute.cpu_s", "s"), ("compute.gc_s", "s"),
    ("compute.spill_bytes", "bytes"), ("compute.busy_cores", "cores"),
    ("output.run_s", "s"), ("output.rows", "count"),
    ("io.bytes_written", "bytes"), ("io.scratch_bytes_left", "bytes"),
    ("trace.overhead_s", "s"),
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def task_threads():
    return min(len(os.sched_getaffinity(0)), 4)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def source_digest():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt once per source state; returns
    the java command prefix (JVM options and classpath)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if not (os.path.exists(launch) and os.path.exists(stamp)
            and open(stamp).read() == digest):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800).returncode
        if rc != 0 or not os.path.exists(launch):
            fail(f"build failed (exit {rc}); see {log}")
        with open(stamp, "w") as f:
            f.write(digest)
    with open(launch) as f:
        lines = f.read().splitlines()
    return ["java", *lines[1:], f"-Xmx{HEAP}", "-cp", lines[0]]


def corpus_for(seed):
    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import corpus
    d = os.path.join(WORK, "corpus", f"seed-{seed}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        shutil.rmtree(d, ignore_errors=True)
        corpus.generate(d, seed)
    return d


def reset(d):
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)


def harness(java, env, log, timeout, **kv):
    """Runs the harness JVM; returns (launch epoch seconds, result dict)."""
    result = os.path.join(WORK, "harness.json")
    if os.path.exists(result):
        os.remove(result)
    args = [f"{k}={v}" for k, v in kv.items()] + [f"result={result}"]
    t0 = time.time()
    with open(log, "a") as out:
        proc = subprocess.Popen([*java, "perfbench.Harness", *args], env=env,
                                stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out after {timeout} s; see {log}")
    if rc != 0 or not os.path.exists(result):
        fail(f"harness exited {rc}; see {log}")
    with open(result) as f:
        return t0, json.load(f)


def oracle_check(corpus_dir, check_dir, timeout):
    """Runs scripts/check.py; returns ({query: PASS|FAIL|WEAK}, output)."""
    try:
        p = subprocess.run([sys.executable, os.path.join(REPO, "scripts", "check.py"),
                            corpus_dir, check_dir], capture_output=True, text=True,
                           stdin=subprocess.DEVNULL, timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"oracle check timed out after {timeout} s")
    status = {}
    for line in p.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL", "WEAK") and rest:
            status[rest.split()[0].rstrip(":")] = word
    return status, p.stdout + p.stderr


def output_rows(check_dir, panel):
    """Rows each panel query wrote in the check pass (parquet footers)."""
    import pyarrow.parquet as pq
    return {q: sum(pq.ParquetFile(f).metadata.num_rows
                   for f in glob.glob(os.path.join(check_dir, q, "*.parquet")))
            for q in panel}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """Highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11  # index of the sample with exactly ten above it
    return {"percentile": round(100.0 * (k + 1) / n, 1), "value": sorted(xs)[k]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corpus", help="existing corpus directory instead of the seed's")
    ap.add_argument("--full", action="store_true",
                    help="run the workload's full query list instead of its timed panel")
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("scripts", "check.py"), os.path.join("src", "main")):
        if not os.path.exists(os.path.join(REPO, need)):
            fail(f"engine sources not found: {os.path.join(REPO, need)} is missing")

    wl = WORKLOADS[a.workload]
    panel = wl["full"] if a.full else wl["panel"]
    timeout = FULL_TIMEOUT_S if a.full else JVM_TIMEOUT_S
    os.makedirs(WORK, exist_ok=True)
    java = build()
    corpus_dir = os.path.abspath(a.corpus) if a.corpus else corpus_for(a.seed)
    storage = os.path.join(WORK, "storage")
    check_dir = os.path.join(WORK, "check")
    for d in (storage, check_dir):
        reset(d)
    for sub in ("local", "scratch", "tmp"):
        os.makedirs(os.path.join(storage, sub))
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(storage, "local"),
               SPARK_GRAFT_SCRATCH=os.path.join(storage, "scratch"))
    # the JVM's own temporary files stay inside the storage directory too
    java = [java[0], f"-Djava.io.tmpdir={os.path.join(storage, 'tmp')}", *java[1:]]
    cpus = task_threads()
    partitions = wl["partitions"] or cpus
    log = os.path.join(WORK, "harness.log")
    open(log, "w").close()
    host = {
        "nproc": len(os.sched_getaffinity(0)), "task_threads": cpus,
        "shuffle_partitions": partitions, "heap": HEAP,
        "corpus": corpus_dir, "seed": None if a.corpus else a.seed,
        "storage": storage, "storage_free_bytes": shutil.disk_usage(WORK).free,
        "loadavg_before": loadavg(),
    }

    common = dict(corpus=corpus_dir, cpus=cpus, partitions=partitions)
    setups = []
    for _ in range(SETUP_SAMPLES - 1):
        t0, r = harness(java, env, log, timeout, mode="setup", **common)
        setups.append(r["ready_ms"] / 1000.0 - t0)
    t0, r = harness(java, env, log, timeout, mode="run", seconds=a.seconds,
                    trace=a.trace, panel=",".join(panel),
                    scratch=os.path.join(storage, "scratch"), check=check_dir,
                    **common)
    setups.append(r["ready_ms"] / 1000.0 - t0)
    status, check_out = oracle_check(corpus_dir, check_dir, timeout)
    host["loadavg_after"] = loadavg()

    mismatched = sorted(q for q in panel
                        if status.get(q) != "PASS" or q in r["check_errors"])
    attempted = r["attempted"] + len(panel)
    failed = r["failed"] + len(mismatched)
    passes = r["passes"]
    rows = output_rows(check_dir, panel)
    warm_s = [p["wall_s"] for p in passes[2:] if not p["traced"]]

    if a.trace:
        traced = [p for p in passes[2:] if p["traced"]]
        layers = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
        layers["io.scratch_bytes_left"] = median([p["scratch_bytes_left"] for p in traced])
        layers["output.rows"] = sum(rows.values())
        layers["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(warm_s)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS}
    else:
        metrics = {
            "setup_s": {"value": median(setups), "unit": "s"},
            "cold_pass_s": {"value": passes[0]["wall_s"], "unit": "s"},
            "warm_pass_s": {"value": median(warm_s), "unit": "s"},
            "ok_frac": {"value": 1.0 - failed / attempted, "unit": "ratio"},
        }

    record = {
        "workload": a.workload, "trace": a.trace, "seconds": a.seconds,
        "host": host, "panel": panel, "setup_samples_s": setups,
        "warm_pass_samples": len(warm_s), "warm_pass_tail_s": tail(warm_s),
        "failed_frac": failed / attempted, "peak_rss_mb": r["peak_rss_mb"],
        "errors": r["errors"],
        "check_errors": r["check_errors"], "oracle_mismatch": mismatched,
        "output_rows": rows,
        "oracle_check_output": check_out, "metrics": metrics,
        "passes": passes, "spans": r["spans"],
    }
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{a.workload}-seed{'corpus' if a.corpus else a.seed}-trace{a.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f)
    print(json.dumps({k: record[k] for k in (
        "workload", "host", "setup_samples_s", "warm_pass_samples",
        "warm_pass_tail_s", "failed_frac", "peak_rss_mb", "oracle_mismatch")}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
