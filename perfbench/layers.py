"""Per-layer metrics and self times from a traced run's spans.

`spans.jsonl` (written by `perfbench.Harness` with trace=1) holds one
JSON object per line:

- `span`: client spans (setup, jvm, session, warmup, request, build,
  execute, verify, stream_run) with id, parent, req, start_ns, end_ns;
- `job`: one per Spark job, parented to the client span that submitted
  it, with stage/task counts and summed task metrics;
- `qe`: one per action's QueryExecution, and one per request for the
  Dataset the builder returned (its analysis runs inside the build
  span), with the planning phases and rule counts of that
  QueryExecution's own `QueryPlanningTracker`;
- `batch`: one per micro-batch progress event, parented to its
  stream_run span.
"""

import json
import statistics


def union_length(intervals):
    """Total length covered by the union of `(start, end)` intervals.

    Overlapping and nested intervals (AQE submits jobs while others run)
    count once, so `wall - union_length(jobs within wall)` is never
    negative.
    """
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo, hi):
    """Intervals cut to the window `[lo, hi]`; those outside it vanish."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def driver_only(wall_start, wall_end, job_intervals):
    """Wall time of a span not covered by any of its jobs."""
    return (wall_end - wall_start) - union_length(clipped(job_intervals, wall_start, wall_end))


def load(path):
    rows = {"span": [], "job": [], "qe": [], "batch": []}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                rows[r["kind"]].append(r)
    return rows


def _pass_of(req):
    """Pass (or repetition) index of a request id `p3:TaskA` / `r2`."""
    if not req:
        return -1
    return int(req[1:].split(":")[0])


def derive(spans_path, result, cpus):
    """Per-layer metrics (per warm pass or repetition) plus a per-query
    table of layer figures and span self times."""
    rows = load(spans_path)
    spans = {s["id"]: s for s in rows["span"]}
    for s in spans.values():
        if not s["end_ns"]:
            s["end_ns"] = s["start_ns"]
    jobs = rows["job"]
    for j in jobs:
        if not j["end_ns"]:
            parent = spans.get(j["parent"])
            j["end_ns"] = parent["end_ns"] if parent else j["start_ns"]
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append(s)
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["parent"], []).append(j)

    def warm(req):
        return _pass_of(req) >= 1

    stream = "stream" in result
    if stream:
        n_warm = max(1, sum(1 for r in result["stream"] if r["rep"] >= 1))
    else:
        n_warm = max(1, len({r["pass"] for r in result["runs"] if r["pass"] >= 1}))

    m = {k: 0.0 for k in METRICS}
    for k in ("jvm_start_s", "session_build_s", "warmup_s"):
        m[k] = result["setup"][k]

    # per-query table, keyed by query name (stream: by repetition)
    per_query = {}
    query_of = {} if stream else {r["req"]: r["query"] for r in result["runs"]}

    def q_entry(req):
        return per_query.setdefault(query_of.get(req, req), {})

    def bump(d, k, v):
        d[k] = d.get(k, 0.0) + v

    # planning records belong to the client span their analysis started in
    leaf_spans = [s for s in spans.values() if s["name"] in ("build", "execute", "stream_run", "warmup")]

    # a built Dataset that the builder itself also ran an action on is
    # recorded twice: keep the record with the most phases
    qes = {}
    for qe in rows["qe"]:
        prev = qes.get(qe["sql_execution"])
        if prev is None or len(qe["phases"]) > len(prev["phases"]):
            qes[qe["sql_execution"]] = qe
    for qe in qes.values():
        ph = qe["phases"]
        if "analysis" not in ph:
            continue
        t = ph["analysis"]["start_ns"]
        owner = next((s for s in leaf_spans if s["start_ns"] <= t <= s["end_ns"]), None)
        if owner is None or not warm(owner["req"]):
            continue
        for phase, key in (("analysis", "analysis_s"), ("optimization", "optimization_s"),
                           ("planning", "planning_s")):
            if phase in ph:
                d = (ph[phase]["end_ns"] - ph[phase]["start_ns"]) / 1e9
                m[key] += d
                bump(q_entry(owner["req"]), key, d)
        m["graft_rules_effective"] += qe["graft_rules_effective"]
        bump(q_entry(owner["req"]), "graft_rules_effective", qe["graft_rules_effective"])

    job_fields = (("executor_run_s", "executor_run_ms", 1e3), ("executor_cpu_s", "executor_cpu_ns", 1e9),
                  ("gc_s", "gc_ms", 1e3), ("shuffle_write_mb", "shuffle_write_b", 1048576.0),
                  ("shuffle_read_mb", "shuffle_read_b", 1048576.0), ("spill_mb", "spill_b", 1048576.0),
                  ("output_mb", "output_b", 1048576.0))
    exec_wall = 0.0
    exec_run = 0.0
    for j in jobs:
        if not warm(j["req"]):
            continue
        parent = spans.get(j["parent"], {})
        qe_ = q_entry(j["req"])
        m["jobs"] += 1
        m["stages"] += j["stages"]
        m["tasks"] += j["tasks"]
        m["output_rows"] += j["output_rows"]
        bump(qe_, "jobs", 1)
        if parent.get("name") == "build":
            m["build_jobs"] += 1
            bump(qe_, "build_jobs", 1)
        if parent.get("name") in ("execute", "stream_run"):
            exec_run += j["executor_run_ms"] / 1e3
        for key, src, div in job_fields:
            m[key] += j[src] / div
            bump(qe_, key, j[src] / div)

    for s in spans.values():
        if not warm(s["req"]):
            continue
        dur = (s["end_ns"] - s["start_ns"]) / 1e9
        if s["name"] == "build":
            m["build_s"] += dur
        if s["name"] in ("execute", "stream_run"):
            ivs = [(j["start_ns"], j["end_ns"]) for j in jobs_of.get(s["id"], [])]
            union = union_length(clipped(ivs, s["start_ns"], s["end_ns"])) / 1e9
            m["job_union_s"] += union
            m["driver_only_s"] += dur - union
            bump(q_entry(s["req"]), "driver_only_s", dur - union)
            exec_wall += dur
        # self time: own wall minus the union of child spans and jobs
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        kids += [(j["start_ns"], j["end_ns"]) for j in jobs_of.get(s["id"], [])]
        own = driver_only(s["start_ns"], s["end_ns"], kids) / 1e9
        bump(q_entry(s["req"]), f"self_{s['name']}_s", own)
    m["core_utilization"] = exec_run / (exec_wall * cpus) if exec_wall > 0 else 0.0

    if stream:
        warm_batches = [b for b in rows["batch"] if warm(b["req"]) and b["rows"] > 0]
        m["micro_batches"] = len(warm_batches)
        for key, name in (("stream_latest_offset_s", "latestOffset"), ("stream_get_batch_s", "getBatch"),
                          ("stream_query_planning_s", "queryPlanning"), ("stream_add_batch_s", "addBatch"),
                          ("stream_wal_commit_s", "walCommit"), ("stream_commit_offsets_s", "commitOffsets")):
            m[key] = sum(b["durations_ms"].get(name, 0) for b in warm_batches) / 1e3
        m["state_commit_s"] = sum(b["state_commit_ms"] for b in warm_batches) / 1e3
        m["state_rows_updated"] = sum(b["state_rows_updated"] for b in warm_batches)
        # state size is a level, not a flow: take each repetition's peak
        by_rep = {}
        for b in warm_batches:
            r = by_rep.setdefault(b["req"], [0, 0])
            r[0] = max(r[0], b["state_rows_total"])
            r[1] = max(r[1], b["state_memory_b"])
        m["state_rows_total"] = sum(r[0] for r in by_rep.values())
        m["state_memory_mb"] = sum(r[1] for r in by_rep.values()) / 1048576.0
        m["codegen_compiles"] = result["stream"][0]["codegen_compiles"]
    else:
        runs = [r for r in result["runs"] if r["pass"] >= 1]
        m["codegen_compiles"] = sum(r["codegen_compiles"] for r in result["runs"] if r["pass"] == 0)
        m["output_files"] = sum(r["output_files"] for r in runs)
        cold = {r["query"]: r["latency_s"] for r in result["runs"] if r["pass"] == 0}
        for q, first in cold.items():
            w = statistics.median(r["latency_s"] for r in runs if r["query"] == q)
            m["cold_extra_s"] += first - w
            per_query.setdefault(q, {})["cold_extra_s"] = first - w
        for r in runs:
            bump(per_query.setdefault(r["query"], {}), "latency_s", r["latency_s"])

    # flows are reported per warm pass (or repetition); levels as they are
    for k in METRICS:
        if k not in LEVELS:
            m[k] /= n_warm
    for q in per_query.values():
        for k in q:
            if k != "cold_extra_s":
                q[k] /= n_warm
    return m, per_query


# layer -> its metrics; every traced run reports all of them, 0 where a
# layer does not apply to the workload
LAYERS = {
    "setup": ["jvm_start_s", "session_build_s", "warmup_s"],
    "builder": ["build_s", "build_jobs", "cold_extra_s"],
    "catalyst": ["analysis_s", "optimization_s", "planning_s", "graft_rules_effective"],
    "scheduling": ["jobs", "stages", "tasks", "job_union_s", "driver_only_s"],
    "execution": ["executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                  "spill_mb", "core_utilization", "codegen_compiles"],
    "sink": ["output_rows", "output_mb", "output_files"],
    "streaming": ["micro_batches", "stream_latest_offset_s", "stream_get_batch_s",
                  "stream_query_planning_s", "stream_add_batch_s", "stream_wal_commit_s",
                  "stream_commit_offsets_s", "state_commit_s", "state_rows_total",
                  "state_rows_updated", "state_memory_mb"],
}
METRICS = [k for ks in LAYERS.values() for k in ks]
LEVELS = {"jvm_start_s", "session_build_s", "warmup_s", "cold_extra_s", "core_utilization",
          "codegen_compiles"}


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name == "core_utilization":
        return "ratio"
    return "count"
