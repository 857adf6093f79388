#!/usr/bin/env python3
"""Layer-attributed benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
driver (`perfbench/build.sbt`, sbt offline); later runs reuse the build.
Each run starts one fresh JVM (`perfbench.Harness`) that sets up a
`local[nproc]` session, drives the workload from one client thread for
`--seconds` of warm time (and at least 6 warm latency samples), then
runs an untimed verification pass. This script checks every result
against the DuckDB oracle (`SparkEntry.oracleSql`) in the canonical form
of `tools/selfcheck.py` and prints, as its last stdout line, one JSON
object: `correct`, `attempted`, `failed` and the end-to-end metrics
(trace 0) or the per-layer metrics (trace 1).

Workloads, over the project's testdata tables (copies in
`perfbench/testdata/`):
  reference_tasks  TaskA..H, WordCount, Pi via TaskRunner.resolve and
                   Csv.writeKv, sf0.1 tables, seed-drawn order per pass
  llm_pipeline     five dedup/similarity/text queries, noop sink,
                   sf0.01 tables, seed-drawn order per pass
  stream_upsert    the first 48 hours of the sf0.1 events, cut into
                   seed-drawn file slices and streamed through
                   EventStreams.upsertWindowCounts (AvailableNow)

Everything the run writes stays under `.bench_build/`, `.bench_data/`
and `.bench_out/` in the working directory (plus sbt's `target/` dirs).
"""

import argparse
import glob
import hashlib
import json
import os
import random
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402

# workload -> (scale factor, hours of events kept; None keeps all tables)
WORKLOADS = {"reference_tasks": (0.1, None), "llm_pipeline": (0.01, None),
             "stream_upsert": (0.1, 48)}
E2E = {"setup_s": "s", "first_call_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
       "pass_s": "s", "rows_per_s": "1/s", "peak_live_mb": "MB"}
STREAM_FILES = 64
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 70
TESTDATA = os.path.join(HERE, "testdata")
BUILD_DIR = os.path.join(REPO, ".bench_build")
DATA_DIR = os.path.join(REPO, ".bench_data")
OUT_DIR = os.path.join(REPO, ".bench_out")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sha_files(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------- build

def source_stamp():
    srcs = glob.glob(os.path.join(REPO, "src/main/**/*.scala"), recursive=True)
    srcs += glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
    srcs += [os.path.join(d, f) for d in (REPO, HERE) for f in ("build.sbt", "project/build.properties")]
    return sha_files(srcs)


def build():
    """Compile engine + driver with sbt when the sources changed; return
    the runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src/main/scala/graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    stamp = source_stamp()
    cp_file, stamp_file = os.path.join(BUILD_DIR, "classpath.txt"), os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(BUILD_DIR, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={BUILD_DIR}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("perfbench: building engine + driver with sbt")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if l.startswith("/") and "scala-2.13/classes" in l]
    if p.returncode != 0 or not cps:
        log(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


# ----------------------------------------------------------------- data

def tables(sf, hours=None):
    """The testdata tables for `sf`, after checking them against
    `testdata/SHA256SUMS`; with `hours`, a dir made once per checkout
    that holds only the events of the first `hours` hours."""
    src = os.path.join(TESTDATA, f"sf{sf}")
    sums = {}
    for line in open(os.path.join(TESTDATA, "SHA256SUMS")):
        h, name = line.split()
        sums[name] = h
    names = sorted(n for n in sums if n.startswith(f"sf{sf}/"))
    for n in names:
        with open(os.path.join(TESTDATA, n), "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != sums[n]:
                raise SystemExit(f"perfbench: {n} differs from testdata/SHA256SUMS")
    stamp = hashlib.sha256("".join(sums[n] for n in names).encode()).hexdigest()
    if not hours:
        return src, stamp
    d = os.path.join(DATA_DIR, f"sf{sf}-events{hours}h")
    marker = os.path.join(d, ".done")
    if not (os.path.exists(marker) and open(marker).read() == stamp):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        shutil.rmtree(d, ignore_errors=True)
        ev = pq.read_table(os.path.join(src, "events.parquet"))
        end = pc.add(pc.min(ev["ts"]), pa.scalar(hours * 3_600_000_000, pa.duration("us")))
        os.makedirs(d)
        pq.write_table(ev.filter(pc.less(ev["ts"], end)), os.path.join(d, "events.parquet"))
        with open(marker, "w") as f:
            f.write(stamp)
    return d, stamp


def stream_input(data_dir, seed, work):
    """`events` sorted by ts, cut into STREAM_FILES files at seed-drawn
    boundaries, rows shuffled inside each file. Files get increasing
    mtimes so the file source reads them in ts order and no row falls
    behind the watermark."""
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    ev = pq.read_table(os.path.join(data_dir, "events.parquet")).sort_by("ts")
    n = ev.num_rows
    cuts = [0] + sorted(rng.sample(range(1, n), STREAM_FILES - 1)) + [n]
    out = os.path.join(work, "stream_in", "events.parquet")
    os.makedirs(out)
    t0 = 1_700_000_000
    for i in range(STREAM_FILES):
        part = ev.slice(cuts[i], cuts[i + 1] - cuts[i])
        order = list(range(part.num_rows))
        rng.shuffle(order)
        path = os.path.join(out, f"part-{i:05d}.parquet")
        pq.write_table(part.take(order), path)
        os.utime(path, (t0 + i, t0 + i))


# ------------------------------------------------------------ host state

def foreign_jvms():
    me = os.getpid()
    pids = []
    for p in glob.glob("/proc/[0-9]*"):
        pid = int(p.rsplit("/", 1)[1])
        try:
            with open(f"{p}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0]
            with open(f"{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if argv0.endswith(b"java") and ppid != me and pid != me:
            pids.append(pid)
    return pids


def wait_for_foreign_jvms(limit_s=20.0):
    """Like graft.Bench: wait for other JVMs to exit before timing."""
    t0 = time.time()
    pids = foreign_jvms()
    while pids and time.time() - t0 < limit_s:
        time.sleep(2)
        pids = foreign_jvms()
    return time.time() - t0, pids


def cpu_sample():
    """(busy, steal) jiffies over all cpus, and this process tree's own."""
    with open("/proc/stat") as f:
        c = [int(x) for x in f.readline().split()[1:]]
    steal = c[7] if len(c) > 7 else 0
    busy = c[0] + c[1] + c[2] + c[5] + c[6] + steal
    own = sum(resource.getrusage(w).ru_utime + resource.getrusage(w).ru_stime
              for w in (resource.RUSAGE_SELF, resource.RUSAGE_CHILDREN))
    return busy, steal, own


def bench_confs():
    """`.config(k, v)` pairs of graft.Bench's session builder."""
    src = open(os.path.join(REPO, "src/main/scala/graft/Bench.scala")).read()
    body = src[src.index("SparkSession.builder()"):src.index(".getOrCreate()")]
    confs = {}
    for k, v in re.findall(r'\.config\("([^"]+)",\s*([^)]+)\)', body):
        confs[k] = v.strip().strip('"')
    m = re.search(r'\.master\(s?"([^"]+)"\)', body)
    if m:
        confs["spark.master"] = m.group(1)
    return confs


def conf_drift(effective, cpus):
    """Bench confs the benchmark session does not match (`cpus` → nproc)."""
    drift = {}
    for k, v in bench_confs().items():
        want = re.sub(r"\$?cpus", str(cpus), v)
        if effective.get(k) != want:
            drift[k] = {"bench": want, "perfbench": effective.get(k)}
    return drift


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---------------------------------------------------------- verification

def oracle_con(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def mismatch(got, want):
    """`tools/selfcheck.py`'s comparison of two canonical frames: same
    columns, same row count, no int/float kind drift, exact values.
    Returns None when they match, else the reason."""
    import pandas as pd
    if list(got.columns) != list(want.columns):
        return f"columns differ: spark={list(got.columns)} oracle={list(want.columns)}"
    if len(got) != len(want):
        return f"row count differs: spark={len(got)} oracle={len(want)}"
    drift = [(c, str(got[c].dtype), str(want[c].dtype)) for c in got.columns
             if {got[c].dtype.kind, want[c].dtype.kind} in ({"i", "f"}, {"u", "f"})]
    if drift:
        return f"dtype drift (int/float hash hazard): {drift}"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
    except AssertionError as e:
        return " | ".join(str(e).split("\n")[0:3])
    return None


def verify(checks, data_dir, data_stamp, stream):
    """Compare each result dir with the oracle in `selfcheck.canon` form;
    the canonical oracle frames are cached per data dir and query.
    Returns (rows per query, failures)."""
    import pandas as pd
    sys.path.insert(0, os.path.join(REPO, "tools"))
    from selfcheck import canon
    con = oracle_con(data_dir)
    cache_dir = os.path.join(DATA_DIR, "oracle")
    os.makedirs(cache_dir, exist_ok=True)
    rows, failures = {}, []
    for c in checks:
        q, sql = c["query"], c["oracle"]
        if not sql:
            failures.append(f"{q}: no oracle SQL")
            continue
        key = hashlib.sha256(f"{data_dir}\0{data_stamp}\0{q}\0{sql}".encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{q}-{key}.pkl")
        if os.path.exists(cached):
            want = pd.read_pickle(cached)
        else:
            want = canon(con.execute(sql).df())
            want.to_pickle(cached)
        files = os.path.join(c["dir"], "**", "*.parquet")
        if not glob.glob(files, recursive=True):
            failures.append(f"{q}: no result files")
            continue
        if stream:
            # the merged table is partitioned by window; compare the
            # oracle's columns
            cols = ", ".join(f'"{n}"' for n in want.columns)
            try:
                got = con.execute(f"SELECT {cols} FROM read_parquet('{files}', "
                                  "hive_partitioning=true)").df()
            except Exception as e:  # noqa: BLE001 - a missing column is a wrong result
                failures.append(f"{q}: result unreadable: {e}")
                continue
        else:
            got = pd.read_parquet(c["dir"])
        got = canon(got)
        rows[q] = len(got)
        why = mismatch(got, want)
        if why:
            failures.append(f"{q}: {why}")
    return rows, failures


# ---------------------------------------------------------------- metrics

def tail(values):
    """Tail latency, its percentile and the sample count.

    The tail is the highest percentile with at least 10 samples beyond
    it. Below 100 samples that percentile is under p90, so the run
    reports p90 (linear interpolation) instead: a run's warm phase holds
    6 to 10 samples, and the maximum of so few moves with every hiccup
    of one request.
    """
    v = sorted(values)
    n = len(v)
    if n >= 100:
        return v[n - 11], 100.0 * (n - 10) / n, n
    k = 0.9 * (n - 1)
    i = int(k)
    return v[i] + (k - i) * (v[min(i + 1, n - 1)] - v[i]), 90.0, n


def e2e(result, setup_s, rows_per_pass):
    if "stream" in result:
        reps = result["stream"]
        warm = [r for r in reps if r["rep"] >= 1]
        # steady-state micro-batches: the first of each repetition starts
        # the query and is counted in pass_s and first_call_s instead
        lat = [b["duration_s"] for r in warm for b in r["batches"][1:]]
        first = reps[0]["wall_s"]
        pass_s = statistics.median(r["wall_s"] for r in warm)
        rows_per_s = sum(r["rows"] for r in warm) / sum(r["wall_s"] for r in warm)
    else:
        runs = result["runs"]
        warm = [r for r in runs if r["pass"] >= 1]
        lat = [r["latency_s"] for r in warm]
        first = sum(r["latency_s"] for r in runs if r["pass"] == 0)
        passes = {}
        for r in warm:
            passes[r["pass"]] = passes.get(r["pass"], 0.0) + r["latency_s"]
        pass_s = statistics.median(passes.values())
        rows_per_s = rows_per_pass / pass_s
    t, pct, n = tail(lat)
    vals = {"setup_s": setup_s, "first_call_s": first, "latency_p50_s": statistics.median(lat),
            "latency_tail_s": t, "pass_s": pass_s, "rows_per_s": rows_per_s,
            "peak_live_mb": max(result["live_mb"])}
    return vals, {"tail_percentile": pct, "latency_samples": n, "peak_rss_mb": result["peak_rss_mb"]}


# -------------------------------------------------------------------- run

def java_cmd(cp, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    flags = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # fixed heap size, so no run pays for growing the heap; memory is
    # reported as the live set (`peak_live_mb`), which the heap size
    # does not pin
    flags += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
              "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
              "-Dlog4j2.level=ERROR"]
    return [java] + flags + ["-cp", cp, "perfbench.Harness"]


def launch(cp, work, args):
    """One fresh JVM; returns its raw record."""
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    launch_ms = int(time.time() * 1000)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(java_cmd(cp, work) + args + [str(launch_ms)], cwd=work, env=env,
                             stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        log(open(os.path.join(work, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: benchmark JVM failed ({rc})")
    return json.load(open(os.path.join(work, "result.json")))


def run_once(cp, workload, seed, seconds, trace):
    """One JVM run plus verification; returns its record, the number of
    operations it attempted and its work dir."""
    data_dir, data_stamp = tables(*WORKLOADS[workload])
    work = os.path.join(OUT_DIR, f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if workload == "stream_upsert":
        stream_input(data_dir, seed, work)

    b0, st0, own0 = cpu_sample()
    w0 = time.time()
    result = launch(cp, work, [workload, str(seed), str(seconds), str(trace), data_dir, work])
    wall = time.time() - w0
    b1, st1, own1 = cpu_sample()
    capacity = wall * 100.0 * (os.cpu_count() or 1)

    checks = result["verify"]
    rows, failures = verify(checks, data_dir, data_stamp, workload == "stream_upsert")
    for f in failures:
        log("perfbench: WRONG RESULT", f)
    setup = result["setup"]
    setup_s = setup["jvm_start_s"] + setup["session_build_s"] + setup["warmup_s"]
    vals, extra = e2e(result, setup_s, sum(rows.values()))
    stamp = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "git_head": git_head(), "source_stamp": source_stamp(), "nproc": os.cpu_count() or 1,
        "host": os.uname().nodename, "jvm_flags": result["jvm_flags"], "confs": result["confs"],
        "bench_conf_drift": conf_drift(result["confs"], result["cpus"]),
        "foreign_cpu_share": max(0.0, (b1 - b0) - (own1 - own0) * 100.0) / capacity,
        "steal_share": (st1 - st0) / capacity,
        "data_dir": os.path.relpath(data_dir, REPO), **extra,
    }
    record = {"stamp": stamp, "e2e": vals, "setup": setup, "rows": rows, "failures": failures}
    if trace:
        record["layers"], record["per_query"] = layers.derive(
            os.path.join(work, "spans.jsonl"), result, result["cpus"])
    attempted = len(result.get("runs", [])) + len(result.get("stream", [])) + len(checks)
    return record, attempted, work


def save(record, work):
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1)


def untraced_key(stamp):
    """What an untraced run must share with a traced one for its
    figures to serve as the traced run's baseline."""
    return {k: stamp[k] for k in ("source_stamp", "seconds", "nproc", "host")}


def main():
    ap = argparse.ArgumentParser(description="Layer-attributed benchmark of the graft engine")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    waited, contended = wait_for_foreign_jvms()
    record, attempted, work = run_once(cp, a.workload, a.seed, a.seconds, a.trace)
    stamp, failures = record["stamp"], list(record["failures"])
    stamp.update(foreign_jvm_wait_s=round(waited, 1), contended_jvms=contended)
    if stamp["bench_conf_drift"]:
        log("perfbench: session config differs from graft.Bench:", json.dumps(stamp["bench_conf_drift"]))

    # untraced e2e values of this code on this host, for tracing overhead
    history = os.path.join(OUT_DIR, f"untraced-{a.workload}.jsonl")
    key = untraced_key(stamp)
    if a.trace:
        past = [h["e2e"] for h in map(json.loads, open(history) if os.path.exists(history) else [])
                if h.get("key") == key]
        if not past:
            log("perfbench: no untraced run of this code yet; running one for the tracing overhead")
            base, n, base_work = run_once(cp, a.workload, a.seed, a.seconds, 0)
            save(base, base_work)
            attempted += n
            failures += base["failures"]
            with open(history, "a") as f:
                f.write(json.dumps({"key": key, "e2e": base["e2e"]}) + "\n")
            past = [base["e2e"]]
        record["trace_overhead"] = {
            k: v - statistics.median(p[k] for p in past) for k, v in record["e2e"].items()}
        record["trace_overhead_baseline_runs"] = len(past)
        print("trace_overhead " + json.dumps(record["trace_overhead"]))
        metrics = {k: {"value": record["layers"][k], "unit": layers.unit(k)} for k in layers.METRICS}
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"key": key, "e2e": record["e2e"]}) + "\n")
        metrics = {k: {"value": record["e2e"][k], "unit": u} for k, u in E2E.items()}
    save(record, work)
    print("stamp " + json.dumps({k: v for k, v in stamp.items() if k not in ("confs", "jvm_flags")}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
