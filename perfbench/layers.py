"""Per-layer metrics and spans of a traced run.

The client records the operations (start, build time, duration) and, on
the traced pass, every scheduler / query-execution / streaming listener
event (trace.jsonl). One closed-loop client means operation windows never
overlap, so each event belongs to the operation whose window holds its
timestamp. Spans nest run -> operation -> build | execute -> job -> stage;
self time is a span's duration minus the union of its children's.
"""
import json
import os
import statistics

LAYOUT_KINDS = {"create": "layout.create_s", "append": "layout.append_s",
                "merge": "layout.merge_s", "forget": "layout.forget_s",
                "compact": "layout.compact_s", "vacuum": "layout.vacuum_s",
                "read": "layout.read_s", "read_at": "layout.read_at_s"}
STREAM_PHASES = {"addBatch": "streaming.add_batch_s",
                 "queryPlanning": "streaming.query_planning_s",
                 "getBatch": "streaming.get_batch_s",
                 "walCommit": "streaming.wal_commit_s"}


def union(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def clip(iv, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in iv if e > lo and s < hi]


def load_events(out):
    path = os.path.join(out, "trace.jsonl")
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def per_layer(result, out, cores, untraced_wall):
    """Returns (metrics, notes): every per-layer metric by name, and why a
    metric is unavailable where it is. `untraced_wall`
    is wall_s of an untraced run of the same workload (None if there is
    none), for trace.overhead_s."""
    traced = result["passes"][0]
    ops = [o for o in traced["ops"] if o["name"] != "append"]
    events = load_events(out)
    by = {}
    for e in events:
        by.setdefault(e["ev"], []).append(e)

    jobs = {}
    for e in by.get("job_start", []):
        jobs[e["job"]] = {"start": e["t"], "end": e["t"], "stages": e["stages"]}
    for e in by.get("job_end", []):
        if e["job"] in jobs:
            jobs[e["job"]]["end"] = e["t"]
    tasks = [t for t in by.get("task", []) if "run" in t]
    stages = by.get("stage", [])
    sqls = by.get("sql", [])
    job_iv = [(j["start"], j["end"]) for j in jobs.values()]

    m = {}
    m["session.start_s"] = result["setup"]["start_s"]
    m["session.warmup_s"] = result["setup"]["warmup_s"]

    # operators: the public call that builds the DataFrame
    m["operators.build_s"] = sum(o.get("build_s", 0.0) for o in ops)
    builds = [(o["start_ms"], o["start_ms"] + 1e3 * o["build_s"]) for o in ops if "build_s" in o]
    m["operators.build_jobs"] = sum(
        1 for j in jobs.values() if any(s <= j["start"] <= e for s, e in builds))
    m["operators.barriers"] = sum(o.get("barriers", 0) for o in ops)

    # Catalyst planning, from QueryExecution.tracker
    def phase(name):
        return sum(q["phases"][name]["end"] - q["phases"][name]["start"]
                   for q in sqls if name in q["phases"]) / 1e3
    m["plan.analysis_s"] = phase("analysis")
    m["plan.optimizer_s"] = phase("optimization")
    m["plan.physical_s"] = phase("planning")
    m["plan.exchanges"] = sum(q["exchanges"] for q in sqls)

    # scheduling
    m["sched.jobs"] = len(jobs)
    m["sched.stages"] = len(stages)
    m["sched.tasks"] = len(tasks)
    gap = 0.0
    for o in ops:
        lo, hi = o["start_ms"], o["start_ms"] + 1e3 * o["dur_s"]
        gap += (hi - lo) - union(clip(job_iv, lo, hi))
    m["sched.driver_gap_s"] = gap / 1e3
    m["sched.task_overhead_s"] = sum(t["dur"] - t["run"] for t in tasks) / 1e3

    # task execution
    run_s = sum(t["run"] for t in tasks) / 1e3
    m["task.run_s"] = run_s
    m["task.cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
    m["task.gc_s"] = sum(t["gc"] for t in tasks) / 1e3
    job_wall = union(job_iv) / 1e3
    m["task.slot_util"] = run_s / (cores * job_wall) if job_wall else 0.0
    per_stage = {}
    for t in tasks:
        per_stage.setdefault(t["stage"], []).append(t["dur"])
    skews = [max(d) / max(1.0, statistics.median(d))
             for d in per_stage.values() if len(d) >= 2 and max(d) >= 100]
    m["task.skew"] = max(skews) if skews else 1.0

    # shuffle and scan
    m["shuffle.write_bytes"] = sum(t["sh_write"] for t in tasks)
    m["shuffle.read_bytes"] = sum(t["sh_read"] for t in tasks)
    m["shuffle.fetch_wait_s"] = sum(t["fetch_wait"] for t in tasks) / 1e3
    m["shuffle.spill_bytes"] = sum(t["spill"] for t in tasks)
    m["scan.bytes"] = sum(t["in_bytes"] for t in tasks)
    m["scan.rows"] = sum(t["in_rows"] for t in tasks)
    written = sum(t["out_rows"] for t in tasks)
    m["scan.rows_per_result"] = m["scan.rows"] / max(1, written)

    # Layout (ingest only; zero elsewhere)
    for name in LAYOUT_KINDS.values():
        m[name] = 0.0
    for o in traced["ops"]:
        if o["kind"] in LAYOUT_KINDS:
            m[LAYOUT_KINDS[o["kind"]]] += o["dur_s"]
    m["layout.files_written"] = sum(o.get("files_written", 0) for o in traced["ops"])
    m["layout.bytes_written"] = sum(o.get("bytes_written", 0) for o in traced["ops"])
    live = traced.get("live_bytes", 0)
    m["layout.write_amp"] = m["layout.bytes_written"] / live if live else 0.0
    m["layout.files_live"] = traced.get("files_live", 0)

    # streaming, from StreamingQueryProgress
    progress = traced.get("stream_progress", [])
    m["streaming.index_build_s"] = traced.get("index_build_s", 0.0)
    for key, name in STREAM_PHASES.items():
        m[name] = sum(p["duration"].get(key, 0) for p in progress) / 1e3
    m["streaming.state_rows"] = max([p["state_rows"] for p in progress] or [0])

    m["storage.peak_exec_mem_bytes"] = max([t["peak_mem"] for t in tasks] or [0])
    m["storage.persisted_bytes"] = max([o.get("persisted_bytes", 0) for o in ops] or [0])

    self_s = write_spans(out, ops, jobs, stages)
    for kind in ("operation", "build", "execute", "job", "stage"):
        m[f"self.{kind}_s"] = self_s.get(kind, 0.0)
    extra = {}
    if untraced_wall is None:
        m["trace.overhead_s"] = 0.0
        extra["trace.overhead_s"] = "unavailable: no untraced run of this workload and seed here yet"
    else:
        m["trace.overhead_s"] = sum(o["dur_s"] for o in ops) - untraced_wall
    return m, extra


def write_spans(out, ops, jobs, stages):
    """Writes spans.jsonl (name, start, end, parent, run id; ms since
    epoch) and layers.json; returns the self seconds per span kind."""
    run_id = os.path.basename(out)
    spans = []
    stage_times = {s["stage"]: (s["submit"], s["done"]) for s in stages
                   if s["submit"] >= 0 and s["done"] >= 0}

    def add(name, kind, start, end, parent):
        spans.append({"id": len(spans), "name": name, "kind": kind, "start": start,
                      "end": end, "parent": parent, "run_id": run_id})
        return len(spans) - 1

    root = add("run", "run", min(o["start_ms"] for o in ops),
               max(o["start_ms"] + 1e3 * o["dur_s"] for o in ops), None)
    windows = []
    for o in ops:
        lo, hi = o["start_ms"], o["start_ms"] + 1e3 * o["dur_s"]
        op_id = add(o["name"], "operation", lo, hi, root)
        if "build_s" in o:
            mid = lo + 1e3 * o["build_s"]
            windows.append((lo, mid, add("build", "build", lo, mid, op_id)))
            windows.append((mid, hi, add("execute", "execute", mid, hi, op_id)))
        else:
            windows.append((lo, hi, op_id))
    for jid, j in sorted(jobs.items()):
        parent = next((sid for lo, hi, sid in windows if lo <= j["start"] <= hi), root)
        job_span = add(f"job {jid}", "job", j["start"], j["end"], parent)
        for s in j["stages"]:
            if s in stage_times:
                add(f"stage {s}", "stage", *stage_times[s], job_span)

    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    self_s = {}
    for s in spans:
        own = (s["end"] - s["start"]) - union(clip(children.get(s["id"], []), s["start"], s["end"]))
        self_s[s["kind"]] = self_s.get(s["kind"], 0.0) + own / 1e3
    with open(os.path.join(out, "spans.jsonl"), "w") as fh:
        for s in spans:
            fh.write(json.dumps(s) + "\n")
    with open(os.path.join(out, "layers.json"), "w") as fh:
        json.dump({f"self.{k}_s": v for k, v in self_s.items()}, fh, indent=1)
    return self_s
