#!/usr/bin/env python3
"""graft benchmark: seeded workloads driven from outside the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload tuplemr_sf0.1 --seed 1 --seconds 35 --trace 0

One run = build graft and the benchmark client from source (cached under
.bench_build/ by a hash of the sources), generate the inputs with
tools/gen_testdata.py's gen() at the workload's scale factor with SEED set
to --seed (cached by scale factor, seed and generator source), run one
JVM with one closed-loop client at local[<cores>], check every output, and
print the metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end_to_end metrics of BENCHMARK.json, --trace 1 the per_layer ones. The
lines before it name every end-to-end metric that applies to the
workload (README.md lists them), the host canaries and every failed
operation.

Outputs, per run, under .bench_build/perfbench/<workload>-s<seed>-t<trace>/:
result.json (client record), summary.json (all metrics and checks) and,
on a traced run, trace.jsonl (listener events), spans.jsonl and layers.json.

Exit codes: 0 = ran (correct may still be false), 1 = the client failed or
timed out, 2 = the checkout lacks graft's sources or the toolchain.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True   # imports tools/ modules; leave no caches there
T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_BUDGET_S = 175        # a run must end within 180 s ...
FIRST_BUDGET_S = 890      # ... except the one that builds

PANGOOL = ["q_agg_groupby", "q_grep", "q_wordcount", "q_topical_wordcount",
           "q_wordcount_stopwords", "q_secondary_sort", "q_topn_per_group",
           "q_topn_scalable", "q_rollup", "q_join_reduce_side",
           "q_join_broadcast", "q_cogroup", "q_cogroup_multi", "q_moving_avg",
           "q_normalize", "q_topic_fingerprint", "q_topic_fp_bits",
           "q_nb_train", "q_nb_classify", "q_distinct", "q_set_ops",
           "q_semi_join", "q_anti_join", "q_lag_delta"]
# Six of TPC-H q2..q22, one per join shape, so that a run of the
# tuplemr_sf0.1 workload fits the benchmark's time budget: 3-way join +
# top-k (q3), snowflake (q5), fact-fact shuffle join (q12), anti join +
# count distinct (q16), HAVING + multi-join (q18), EXISTS/NOT EXISTS (q21).
TPCH = [f"q_tpch_q{i}" for i in (3, 5, 12, 16, 18, 21)]
CURATE = ["q_quality_filter", "q_dedup_exact", "q_dedup_minhash",
          "q_dedup_cluster", "q_dedup_containment", "q_dedup_keep_best",
          "q_decontaminate", "q_curate_pipeline", "q_training_batches",
          "q_ann_ivfpq", "q_ann_refined", "q_semdedup"]

WORKLOADS = {
    "tuplemr_sf0.1": {"kind": "queries", "sf": 0.1, "heap": "3g",
                      "queries": PANGOOL + TPCH},
    "curate_sf1": {"kind": "queries", "sf": 1.0, "heap": "6g",
                   "queries": CURATE},
    "ingest_sf0.1": {"kind": "ingest", "sf": 0.1, "heap": "3g"},
}
WARM_SF = 0.001
COMMITS = {"create", "append", "merge", "forget", "compact", "vacuum"}
READS = {"read", "read_at"}

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def die(code, msg):
    log(msg)
    sys.exit(code)


def remaining(budget):
    return budget - (time.monotonic() - T_START)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def digest(data):
    return hashlib.sha256(data).hexdigest()[:12]


def build():
    """Compile graft + the client with sbt when the sources changed; returns
    the runtime classpath and whether this run built."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    if shutil.which("sbt") is None:
        die(2, "sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building graft and the benchmark client (sbt compile)")
    # own process group: sbt is a script that starts a JVM, and a timeout
    # must stop both
    p = subprocess.Popen(
        ["sbt", "-batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=max(60, remaining(FIRST_BUDGET_S) - 120))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        die(1, "build timed out")
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(stdout)
    lines = [l for l in stdout.splitlines() if "sbt-target" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(1, "build failed; see .bench_build/build.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


# ---------------------------------------------------------------- inputs

def gen_data(sf, seed):
    """tools/gen_testdata.gen() in-process with SEED overridden; cached by
    scale factor, seed and the generator's source."""
    d = os.path.join(BUILD, "data", data_key(sf, seed))
    if os.path.exists(os.path.join(d, ".complete")):
        return d
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_testdata
    gen_testdata.SEED = seed
    shutil.rmtree(d, ignore_errors=True)
    stdout = sys.stdout
    sys.stdout = sys.stderr          # gen() reports on stdout
    try:
        gen_testdata.gen(sf, d)
    finally:
        sys.stdout = stdout
    open(os.path.join(d, ".complete"), "w").close()
    evict(os.path.join(BUILD, "data"), keep=24)
    return d


def data_key(sf, seed):
    with open(os.path.join(ROOT, "tools", "gen_testdata.py"), "rb") as fh:
        return f"sf{sf:g}-s{seed}-{digest(fh.read())}"


def evict(parent, keep):
    dirs = sorted((os.path.join(parent, x) for x in os.listdir(parent)),
                  key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------- client

def cpu_times():
    """Aggregate (busy, steal, total) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None
    steal = f[7] if len(f) > 7 else 0
    return sum(f) - f[3] - f[4], steal, sum(f)


def run_client(cp, w, data, warm, out, args, cores, budget):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # fixed heap and young-generation sizes, so that peak_rss_mb follows
    # what the program retains, not when the collector chose to resize
    cmd += [f"-Xms{w['heap']}", f"-Xmx{w['heap']}", "-Xmn512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--kind", w["kind"], "--data", data, "--warm", warm, "--out", out,
            "--cores", str(cores), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--seed", str(args.seed)]
    if w["kind"] == "queries":
        cmd += ["--queries", ",".join(w["queries"])]
    with open(os.path.join(out, "client.log"), "w") as fh:
        p = subprocess.Popen(cmd, cwd=out, stdin=subprocess.DEVNULL,
                             stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, remaining(budget) - 15))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(1, f"client timed out; see {out}/client.log")
    if rc != 0 or not os.path.exists(os.path.join(out, "result.json")):
        die(1, f"client exited {rc}; see {out}/client.log")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- correctness

def check_output(job):
    """One query output against DuckDB running SparkEntry.oracleSql on the
    same inputs, compared with tools/parity.py's canonicalization;
    rows-only queries (no oracle SQL) must return rows. Returns the error
    or None. The oracle side is cached per input and oracle SQL text."""
    name, output, sql, data, cache = job
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import parity
    con = duckdb.connect()
    con.sql("SET memory_limit='1GB'")
    con.sql("SET threads=1")
    con.sql(f"SET temp_directory='{os.path.join(BUILD, 'duckdb-tmp')}'")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    rel = con.sql(f"SELECT * FROM '{output}/*.parquet'")
    cols, rows = parity.canon(rel)
    rows = [list(r) for r in rows]
    if sql is None:
        return None if rows else "rows-only query returned no rows"
    path = os.path.join(cache, f"{name}-{digest(sql.encode())}.json")
    if os.path.exists(path):
        with open(path) as fh:
            exp = json.load(fh)
    else:
        orel = con.sql(sql)
        ocols, orows = parity.canon(orel)
        exp = {"cols": ocols, "rows": [list(r) for r in orows],
               "decimal": parity.decimal_cols(orel)}
        with open(path + ".tmp", "w") as fh:
            json.dump(exp, fh)
        os.replace(path + ".tmp", path)
    dec = sorted(set(parity.decimal_cols(rel)) | set(exp["decimal"]))
    if dec:
        return f"decimal output columns {dec}"
    if cols != exp["cols"]:
        return f"columns {cols} != oracle {exp['cols']}"
    if rows != exp["rows"]:
        return f"{len(rows)} rows differ from the oracle's {len(exp['rows'])}"
    return None


def check_queries(result, data, out, sf, seed, workers):
    """Checks every query output (check_output), in parallel once the
    client has exited; marks failing operations in place."""
    from concurrent.futures import ProcessPoolExecutor
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    cache = os.path.join(BUILD, "oracle", data_key(sf, seed))
    os.makedirs(cache, exist_ok=True)
    ops = [o for p in result["passes"] for o in p["ops"]
           if not o.get("error") and o.get("output")]
    jobs = [(o["name"], o["output"], oracle.get(o["name"]), data, cache) for o in ops]
    with ProcessPoolExecutor(max_workers=workers) as pool:
        for o, err in zip(ops, pool.map(check_output, jobs)):
            if err:
                o["error"] = err


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(xs):
    """The highest whole percentile with at least 10 samples beyond it (at
    least the median): returns (value, percentile, samples)."""
    n = len(xs)
    pct = max(50, math.floor(100 * (1 - 10 / n))) if n else 50
    return quantile(xs, pct / 100), pct, n


def top_level(ops):
    # "append" records are the landing stream's commits, nested in a trigger
    return [o for o in ops if o["name"] != "append"]


def end_to_end(w, result, sf):
    """The named end-to-end metrics that apply to this workload, over the
    run's passes (on a traced run, its one traced pass)."""
    plain = result["passes"]
    ops = [o for p in plain for o in p["ops"]]
    m = {"setup_s": result["setup"]["total_s"],
         "wall_s": statistics.median(sum(o["dur_s"] for o in top_level(p["ops"]))
                                     for p in plain),
         "peak_rss_mb": result["rss_hwm_kb"] / 1024.0}
    notes = {}
    if w["kind"] == "queries":
        lat = [o["dur_s"] for o in ops]
        m["query_p50_s"] = statistics.median(lat)
        m["query_tail_s"], pct, n = tail(lat)
        notes["query_tail_s"] = f"p{pct} of {n} samples"
        if "q_curate_pipeline" in w["queries"]:
            cur = [o["dur_s"] for o in ops if o["name"] == "q_curate_pipeline"]
            m["docs_per_s"] = int(50_000 * sf) / statistics.median(cur)
        m["op_p50_s"], m["op_tail_s"] = m["query_p50_s"], m["query_tail_s"]
    else:
        trig = [o["dur_s"] for o in ops if o["kind"] == "trigger"]
        m["trigger_p50_s"] = statistics.median(trig)
        m["trigger_tail_s"], pct, n = tail(trig)
        notes["trigger_tail_s"] = f"p{pct} of {n} samples"
        m["rows_per_s"] = statistics.median(
            p["arriving_docs"] / sum(o["dur_s"] for o in p["ops"] if o["kind"] == "trigger")
            for p in plain)
        m["commit_p50_s"] = statistics.median(o["dur_s"] for o in ops if o["kind"] in COMMITS)
        m["read_p50_s"] = statistics.median(o["dur_s"] for o in ops if o["kind"] in READS)
        m["space_amp"] = statistics.median(p["space_amp"] for p in plain)
        m["op_p50_s"], m["op_tail_s"] = m["trigger_p50_s"], m["trigger_tail_s"]
    return m, notes


def untraced_wall(workload, seed):
    """wall_s of the untraced run of the same workload and seed in this
    checkout, or None."""
    path = os.path.join(BUILD, "perfbench", f"{workload}-s{seed}-t0", "summary.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)["named"]["wall_s"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        die(2, f"unknown workload {args.workload}; have {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    for need in ("BENCHMARK.json", "src/main/scala/graft/SparkEntry.scala",
                 "tools/gen_testdata.py", "tools/parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(2, f"run from the root of a graft checkout: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    cp, built = build()
    budget = FIRST_BUDGET_S if built else RUN_BUDGET_S
    data = gen_data(w["sf"], args.seed)
    warm = gen_data(WARM_SF, args.seed)
    out = os.path.join(BUILD, "perfbench", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

    log(f"inputs ready at {time.monotonic() - T_START:.1f} s")
    before = cpu_times()
    result = run_client(cp, w, data, warm, out, args, cores, budget)
    after = cpu_times()
    if before and after and after[2] > before[2]:
        # share of the host's CPU time taken from this machine by others
        result["canary"]["steal_pct"] = 100.0 * (after[1] - before[1]) / (after[2] - before[2])
    log(f"client done at {time.monotonic() - T_START:.1f} s")
    if w["kind"] == "queries":
        check_queries(result, data, out, w["sf"], args.seed, cores)
        log(f"outputs checked at {time.monotonic() - T_START:.1f} s")

    all_ops = [o for p in result["passes"] for o in p["ops"]]
    failures = [f"{o['name']}: {o['error']}" for o in all_ops if o.get("error")]
    attempted, failed = len(all_ops), len(failures)
    named, notes = end_to_end(w, result, w["sf"])
    named["failed_ratio"] = failed / attempted
    canary = result["canary"]

    if args.trace:
        import layers
        metrics_all, extra = layers.per_layer(result, out, cores,
                                              untraced_wall(args.workload, args.seed))
        wanted = spec["per_layer"]
    else:
        metrics_all, extra = named, {}
        wanted = spec["end_to_end"]
    metrics = {m["name"]: {"value": metrics_all[m["name"]], "unit": m["unit"]}
               for m in wanted}

    print(f"workload {args.workload}  seed {args.seed}  local[{cores}]  "
          f"passes {len(result['passes'])}{' (traced)' if args.trace else ''}  "
          f"operations {attempted}")
    for k, v in named.items():
        if k not in ("op_p50_s", "op_tail_s"):
            print(f"  {k:<16} {v:.6g}" + (f"  ({notes[k]})" if k in notes else ""))
    for k in ("cpu", "spark"):
        print(f"  host.canary_{k}_s  start {canary[k + '_start_s']:.4f}"
              f"  end {canary[k + '_end_s']:.4f}")
    if "steal_pct" in canary:
        print(f"  host.steal_pct  {canary['steal_pct']:.2f}")
    if args.trace:
        for k, v in metrics_all.items():
            print(f"  {k:<28} {v:.6g}")
    for k, v in extra.items():
        print(f"  {k}: {v}")
    for f in failures:
        print(f"  FAILED {f}")
    with open(os.path.join(out, "summary.json"), "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "cores": cores,
                   "named": named, "notes": notes, "canary": canary,
                   "metrics": metrics_all, "failures": failures}, fh, indent=1)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
