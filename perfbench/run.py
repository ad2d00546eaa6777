#!/usr/bin/env python3
"""Repository benchmark: the streaming chain and the query registry,
timed end to end (--trace 0) or layer by layer (--trace 1).

Usage, from the repository root:
  python3 perfbench/run.py --workload chain_saturated --seed 1 --seconds 12 --trace 0

It builds the program from source (perfbench/build.sh), prepares the
registry data once (ScaleGen x100 of perfbench/data/base, checksummed),
runs the benchmark JVM (graft.perfbench.Main) in a fresh run directory
that is removed at exit, checks the outputs and prints one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
A traced run also writes its spans to .bench_trace/. See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

CORES = 4
WORKLOADS = ["chain_saturated", "registry_sf01"]
END_TO_END = [("setup_s", "s"), ("throughput_per_s", "1/s"),
              ("latency_p50_ms", "ms"), ("latency_geomean_ms", "ms")]
STREAM_STAGES = {"silver": "graft_silver", "gold": "graft_gold", "serve": "graft_serve"}
SPAN_LAYERS = ["gen", "silver", "gold", "serve", "registry", "catalyst",
               "action", "scheduler", "executor"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    pass


# ---------------------------------------------------------------- running

def spark_home():
    """$SPARK_HOME, else the first installation on PATH whose spark-submit
    sits next to a jars directory (wrappers such as pyenv shims do not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
            if os.path.isdir(os.path.join(home, "jars")):
                return home
    raise Failure("Spark not found: set SPARK_HOME")


class Runner:
    """Starts JVMs in their own process group and kills them on timeout or
    when this process is told to stop."""

    def __init__(self, root, deadline):
        self.root = root
        self.deadline = deadline
        self.proc = None
        self.spark_home = spark_home()
        self.jars = os.path.join(self.spark_home, "jars")
        self.classpath = os.path.join(root, ".bench_build", "classes") + os.pathsep + \
            os.path.join(self.jars, "*")

    def java(self, run_dir, main, args, log_name):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xmx3g", "-Xss16m", f"-Djava.io.tmpdir={tmp}",
               f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
               f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", self.classpath, main] + args
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
        with open(os.path.join(run_dir, log_name), "w") as out:
            self.proc = subprocess.Popen(cmd, cwd=self.root, stdout=out,
                                         stderr=subprocess.STDOUT, env=env,
                                         start_new_session=True)
            try:
                rc = self.proc.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                self.kill()
                raise Failure(f"{main} ran past the time limit")
            finally:
                self.proc = None
        if rc != 0:
            with open(os.path.join(run_dir, log_name)) as f:
                tail = f.read()[-3000:]
            raise Failure(f"{main} exited {rc}:\n{tail}")

    def kill(self):
        p = self.proc
        if p is not None and p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def build(root, runner):
    runner.proc = subprocess.Popen(["bash", os.path.join("perfbench", "build.sh")], cwd=root,
                                   stdout=sys.stderr, stderr=sys.stderr,
                                   env=dict(os.environ, SPARK_HOME=runner.spark_home),
                                   start_new_session=True)
    try:
        rc = runner.proc.wait(timeout=max(1.0, runner.deadline - time.time()))
    except subprocess.TimeoutExpired:
        runner.kill()
        raise Failure("build ran past the time limit")
    finally:
        runner.proc = None
    if rc != 0:
        raise Failure("build failed")


def warm_file_cache(paths):
    """Reads every file under `paths` once, so the timed JVM loads its
    classes and data from memory whatever the page cache held before."""
    files = []
    for top in paths:
        if os.path.isfile(top):
            files.append(top)
        for base, _, names in os.walk(top):
            files += [os.path.join(base, n) for n in names]
    for f in files:
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                while fh.read(1 << 20):
                    pass


def listing(d):
    out = []
    for base, _, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            out.append([os.path.relpath(p, d), os.path.getsize(p)])
    return sorted(out)


def registry_data(root, runner, run_dir):
    """The registry data, generated once per checkout by
    graft.tools.ScaleGen and checked against the recorded content
    checksums before first use; later runs check the file listing."""
    data = os.path.join(root, ".bench_data", "sf01")
    stamp = data + ".verified.json"
    if os.path.exists(stamp) and os.path.isdir(data):
        with open(stamp) as f:
            if json.load(f) == listing(data):
                return data
    shutil.rmtree(data, ignore_errors=True)
    base = os.path.join(HERE, "data", "base")
    log("generating registry data")
    sums = os.path.join(run_dir, "checksums.json")
    runner.java(run_dir, "graft.perfbench.Main",
                ["--workload", "generate", "--seed", "0", "--seconds", "0",
                 "--run-dir", run_dir, "--base-dir", base, "--data-dir", data,
                 "--t0-ms", "0", "--out", sums], "generate.log")
    with open(sums) as f:
        got = json.load(f)["tables"]
    with open(os.path.join(HERE, "expected", "data_sf01.json")) as f:
        want = json.load(f)["tables"]
    if got != want:
        raise Failure(f"registry data checksum mismatch: {got} != {want}")
    with open(stamp, "w") as f:
        json.dump(listing(data), f)
    return data


# ---------------------------------------------------------------- metrics

def setup_s(raw):
    s = raw["setup"]
    return (s["session_ms"] + s["prep_ms"]) / 1000.0


def chain_samples(raw):
    commits = {p["batch"]: p["ts"] + p["dur"].get("triggerExecution", 0)
               for p in raw["progress"] if p["query"] == "graft_serve" and p["rows"] > 0}
    lat = stats.serve_latencies(raw["serve_rows"], commits, raw["warm_serve_batch"])
    m0, m1 = raw["window"]
    return lat, raw["unique_events"] / ((m1 - m0) / 1000.0)


def chain_outcome(raw):
    c = raw["checks"]
    bad_reads = sum(1 for r in raw["reads"] if not r[2])
    lost = abs(c["silver_rows"] - c["expected_silver_rows"])
    failed = lost + c["groups_mismatched"] + \
        abs(c["served_groups"] - c["expected_groups"]) + bad_reads
    attempted = raw["unique_events"] + len(raw["reads"])
    notes = [] if failed == 0 else [f"chain invariants: {c}, failed reads {bad_reads}"]
    return attempted, failed, notes


def registry_outcome(raw, expected):
    runs = raw["runs"]
    bad = []
    for r in runs:
        if r["error"]:
            bad.append(f"{r['query']} (pass {r['pass']}): {r['error']}")
        elif r["fingerprint"] != expected[r["query"]]:
            bad.append(f"{r['query']} (pass {r['pass']}): fingerprint "
                       f"{r['fingerprint']} != {expected[r['query']]}")
    ok = [r for r in runs if not r["error"] and r["fingerprint"] == expected[r["query"]]]
    never = sorted(set(expected) - {r["query"] for r in runs})
    if never:
        bad.append(f"never ran: {', '.join(never)}")
    return ok, len(runs) + len(never), len(runs) - len(ok) + len(never), bad


def end_to_end(raw, samples_ms, throughput):
    """The end-to-end metrics, and whether the median had the samples the
    ten-beyond rule asks for (a run with failures may fall short)."""
    try:
        p50, n50 = stats.percentile(samples_ms, 0.5)
        enough = True
    except stats.TooFewSamples as e:
        log(f"latency p50 below the sample rule: {e}")
        p50, n50, enough = stats.loose_percentile(samples_ms, 0.5), len(samples_ms), False
    vals = {"setup_s": setup_s(raw), "throughput_per_s": throughput,
            "latency_p50_ms": p50, "latency_geomean_ms": stats.geomean(samples_ms)}
    try:
        p90, n90 = stats.percentile(samples_ms, 0.9)
        log(f"latency p90 {p90:.1f} ms (n={n90})")
    except stats.TooFewSamples as e:
        log(f"latency p90 not reported: {e}")
    log(f"samples: latency n={n50}; set-up {raw['setup']['prep_ms']:.0f} ms "
        f"after a {raw['setup']['session_ms']:.0f} ms session start")
    return vals, enough


# ---------------------------------------------------------------- layers

def trigger_spans(raw, m0, m1):
    names = {v: k for k, v in STREAM_STAGES.items()}
    out = []
    for p in raw.get("progress", []):
        layer = names.get(p["query"])
        s = p["ts"]
        e = s + p["dur"].get("triggerExecution", 0)
        if layer and e > m0 and s < m1:
            out.append({"id": f"t{p['id']}:{p['batch']}", "layer": layer,
                        "name": f"trigger {p['batch']}", "start": s, "end": e,
                        "query_id": p["id"], "batch": p["batch"], "rows": p["rows"]})
    return out


def batch_key(desc):
    """(query id, batch id) named by a micro-batch's job description."""
    q = re.search(r"\bid = ([0-9a-f-]{36})", desc)
    b = re.search(r"\bbatch = (\d+)", desc)
    return (q.group(1), b.group(1)) if q and b else None


def span_tree(raw, m0, m1):
    """All spans of the window with resolved parents ('root' is the
    workload span)."""
    spans = {}
    for sid, parent, layer, name, s, e, attrs in raw.get("spans", []):
        if e < m0 or s > m1:
            continue
        spans[sid] = {"id": sid, "parent": parent or None, "layer": layer,
                      "name": name, "start": s, "end": e, "attrs": attrs}
    triggers = {}
    for t in trigger_spans(raw, m0, m1):
        t["parent"] = "root"
        spans[t["id"]] = t
        triggers[(t["query_id"], str(t["batch"]))] = t["id"]

    by_exec = {}
    for s in spans.values():
        if s["layer"] == "action":
            by_exec[str(s["attrs"]["execution"])] = s["id"]
    jobs = {}

    def from_props(a):
        if a.get("perfbench.span") and int(a["perfbench.span"]) in spans:
            return int(a["perfbench.span"])
        key = (a.get("sql.streaming.queryId"), a.get("streaming.sql.batchId"))
        return triggers.get(key)

    def containing(s, layers):
        best = None
        for c in spans.values():
            if c["layer"] in layers and c["start"] <= s["start"] and c["end"] >= s["end"] \
                    and c["id"] != s["id"]:
                if best is None or c["end"] - c["start"] < best["end"] - best["start"]:
                    best = c
        return best["id"] if best else None

    for s in spans.values():
        if s["layer"] == "scheduler":
            jobs[s["attrs"]["job"]] = s["id"]
            a = s["attrs"]
            s["parent"] = by_exec.get(a.get("spark.sql.execution.id")) or from_props(a)
    for s in spans.values():
        a = s.get("attrs") or {}
        if s["layer"] == "executor":
            s["parent"] = jobs.get(a.get("job"))
        elif s["layer"] == "action":
            kids = [j for j in spans.values() if j["layer"] == "scheduler"
                    and j["attrs"].get("spark.sql.execution.id") == str(a["execution"])]
            if kids:
                s["parent"] = from_props(kids[0]["attrs"])
            else:
                # a micro-batch's own execution runs no job of its own; its
                # description names the query and batch
                s["batch_key"] = batch_key(a.get("desc", ""))
                s["parent"] = triggers.get(s["batch_key"])
            s["parent"] = s["parent"] or containing(s, ("registry", "gen", "serve", "silver", "gold"))
    for s in spans.values():
        a = s.get("attrs") or {}
        if s["layer"] in ("silver", "gold") and s["name"] in ("merge", "fold"):
            # the sink call runs inside its micro-batch's execution
            key = (a.get("sql.streaming.queryId"), a.get("streaming.sql.batchId"))
            outer = [x for x in spans.values() if x.get("batch_key") == key]
            s["parent"] = max(outer, key=lambda x: x["end"] - x["start"])["id"] \
                if outer else from_props(a)
        elif s["layer"] == "catalyst":
            act = by_exec.get(str(a.get("execution")))
            if act and spans[act]["start"] <= s["start"] and spans[act]["end"] >= s["end"]:
                s["parent"] = act
            else:
                s["parent"] = (spans[act]["parent"] if act else None) or \
                    containing(s, ("registry", "serve", "silver", "gold", "gen"))
    for s in spans.values():
        if s.get("parent") not in spans:
            s["parent"] = "root"
    return spans


def self_times(spans, m0, m1):
    children = {}
    for s in spans.values():
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    per_layer = {layer: 0.0 for layer in SPAN_LAYERS}
    for s in spans.values():
        s0, s1 = max(s["start"], m0), min(s["end"], m1)
        if s1 > s0:
            per_layer[s["layer"]] += stats.self_time((s0, s1), children.get(s["id"], []))
    root_self = stats.self_time((m0, m1), children.get("root", []))
    return per_layer, root_self


def layer_metrics(raw, throughput):
    m0, m1 = raw["window"]
    wall = m1 - m0
    spans = span_tree(raw, m0, m1)
    per_layer, root_self = self_times(spans, m0, m1)
    out = {"trace.coverage": 1.0 - root_self / wall,
           "jvm.peak_rss_mb": raw["vmhwm_kb"] / 1024.0,
           "trace.spans": len(spans),
           "trace.throughput_per_s": throughput,
           "self.unattributed_ms": root_self}
    for layer in SPAN_LAYERS:
        out[f"self.{layer}_ms"] = per_layer[layer]

    # streaming stages, from listener progress
    prog = [p for p in raw.get("progress", [])
            if p["ts"] + p["dur"].get("triggerExecution", 0) > m0 and p["ts"] < m1]
    trig = trigger_spans(raw, m0, m1)
    for stage, qname in STREAM_STAGES.items():
        rows = [p for p in prog if p["query"] == qname]
        busy = [p for p in rows if p["rows"] > 0]
        ivs = [(t["start"], t["end"]) for t in trig if t["layer"] == stage]
        d = lambda k: float(sum(p["dur"].get(k, 0) for p in rows))  # noqa: E731
        out[f"{stage}.triggers"] = len(busy)
        out[f"{stage}.busy_share"] = stats.union_length(ivs, m0, m1) / wall
        out[f"{stage}.trigger_ms_p50"] = stats.loose_percentile(
            [p["dur"].get("triggerExecution", 0) for p in busy], 0.5)
        out[f"{stage}.latest_offset_ms"] = d("latestOffset")
        out[f"{stage}.add_batch_ms"] = d("addBatch")
        if stage != "silver":
            out[f"{stage}.empty_trigger_share"] = (len(rows) - len(busy)) / len(rows) if rows else 0.0
        if stage != "serve":
            out[f"{stage}.rows_in"] = sum(p["rows"] for p in rows)
        if stage == "silver":
            out["silver.query_planning_ms"] = d("queryPlanning")
            out["silver.wal_commit_ms"] = d("walCommit")
            out["silver.state_rows"] = rows[-1]["state_rows"] if rows else 0
            out["silver.state_mem_bytes"] = rows[-1]["state_mem"] if rows else 0
            out["silver.dropped_by_watermark"] = sum(p["dropped"] for p in rows)
            busy_s = sum(p["dur"].get("triggerExecution", 0) for p in busy) / 1000.0
            out["silver.events_per_s"] = out["silver.rows_in"] / busy_s if busy_s else 0.0
    span_sum = lambda layer, name: sum(  # noqa: E731
        s["end"] - s["start"] for s in spans.values() if s["layer"] == layer and s["name"] == name)
    out["silver.merge_ms"] = span_sum("silver", "merge")
    out["gold.fold_ms"] = span_sum("gold", "fold")
    pushes = raw.get("pushes", [])
    silver_done = [(p["ts"] + p["dur"].get("triggerExecution", 0), p["rows"])
                   for p in prog if p["query"] == "graft_silver"]
    gold_done = [(p["ts"] + p["dur"].get("triggerExecution", 0), p["rows"])
                 for p in prog if p["query"] == "graft_gold"]
    out["silver.backlog_events_max"] = stats.backlog_max(
        [(p[1], p[2]) for p in pushes], silver_done) if pushes else 0
    files = raw.get("files", {})
    out["gold.backlog_rows_max"] = stats.backlog_max(
        [(t, n) for t, n in files.get("silver_file_rows", []) if t >= m0],
        gold_done) if files else 0
    out["silver.files_written"] = files.get("silver_files", 0)
    out["gold.change_files_written"] = files.get("gold_change_files", 0)
    out["serve.log_files"] = files.get("serve_log_files", 0)
    reads = raw.get("reads", [])
    read_ids = {s["id"] for s in spans.values() if s["layer"] == "serve" and s["name"] == "read"}
    job_spans = [s for s in spans.values() if s["layer"] == "scheduler"]

    def under(s, ids):
        while s and s["id"] not in ids:
            s = spans.get(s["parent"])
        return s is not None
    out["serve.read_jobs"] = sum(1 for j in job_spans if under(j, read_ids))
    out["serve.read_p50_ms"] = stats.loose_percentile([r[1] for r in reads], 0.5)
    out["serve.read_p90_ms"] = stats.loose_percentile([r[1] for r in reads], 0.9)
    out["gen.events_sent"] = int(sum(p[2] for p in pushes))

    # registry, catalyst, scheduler, executor, exchange
    runs = raw.get("runs", [])
    reg_ids = {s["id"] for s in spans.values() if s["layer"] == "registry"}
    actions = [s for s in spans.values() if s["layer"] == "action"]
    out["registry.build_ms"] = float(sum(r["build_ms"] for r in runs))
    out["registry.actions"] = sum(1 for a in actions if under(a, reg_ids))
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = float(sum(
            s["end"] - s["start"] for s in spans.values()
            if s["layer"] == "catalyst" and s["name"] == phase))
    job_ivs = [(j["start"], j["end"]) for j in job_spans]
    out["sched.jobs"] = len(job_spans)
    out["sched.stages"] = sum(1 for s in spans.values() if s["layer"] == "executor")
    tasks = raw.get("tasks", [])
    out["sched.tasks"] = len(tasks)
    out["sched.job_wall_ms"] = sum(e - s for s, e in job_ivs)
    if runs:
        out["sched.driver_gap_ms"] = sum(
            stats.driver_gap(s["start"], s["end"],
                             [(j["start"], j["end"]) for j in job_spans if under(j, {s["id"]})])
            for s in spans.values() if s["layer"] == "registry")
    else:
        out["sched.driver_gap_ms"] = stats.driver_gap(m0, m1, job_ivs)
    tsum = lambda k: float(sum(t[k] for t in tasks))  # noqa: E731
    out["task.run_ms"] = tsum("run_ms")
    out["task.cpu_ms"] = tsum("cpu_ns") / 1e6
    out["task.gc_ms"] = tsum("gc_ms")
    out["task.deser_ms"] = tsum("deser_ms")
    out["task.peak_exec_mem_mb"] = max([t["peak_mem"] for t in tasks], default=0) / 2**20
    out["task.slot_util"] = out["task.run_ms"] / (wall * CORES)
    out["shuffle.write_bytes"] = tsum("shuffle_write")
    out["shuffle.read_bytes"] = tsum("shuffle_read")
    out["scan.input_bytes"] = tsum("input")
    out["spill.disk_bytes"] = tsum("spill_disk")
    return out, spans


# ---------------------------------------------------------------- main

def per_layer_names():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        log("no program sources under src/main/scala: run from the repository root")
        return 2
    # the first run in a checkout builds the program and the registry data
    prepared = os.path.exists(os.path.join(root, ".bench_build", "stamp")) and \
        os.path.exists(os.path.join(root, ".bench_data", "sf01.verified.json"))
    deadline = started + (170 if prepared else 880)
    run_dir = os.path.join(root, ".bench_run", f"{args.workload}-{os.getpid()}")
    try:
        runner = Runner(root, deadline)
    except Failure as e:
        log(str(e))
        return 3

    def on_signal(signum, _frame):
        runner.kill()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)

    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        build(root, runner)
        data = registry_data(root, runner, run_dir)
        registry = args.workload.startswith("registry")
        jvm = ["--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--run-dir", run_dir, "--out", os.path.join(run_dir, "raw.json")]
        expected = None
        if registry:
            with open(os.path.join(HERE, "expected", "registry_sf01.json")) as f:
                expected = json.load(f)["queries"]
            jvm += ["--data-dir", data, "--base-dir", os.path.join(HERE, "data", "base"),
                    "--queries", ",".join(sorted(expected))]
        java_home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("java"))))
        warm_file_cache([os.path.join(java_home, "lib", "modules"), runner.jars,
                         os.path.join(root, ".bench_build", "classes"), HERE] +
                        ([data] if registry else []))
        jvm += ["--t0-ms", repr(time.time() * 1000.0)]
        runner.java(run_dir, "graft.perfbench.Main", jvm, "jvm.log")
        with open(os.path.join(run_dir, "raw.json")) as f:
            raw = json.load(f)
    except Failure as e:
        log(str(e))
        return 3
    finally:
        runner.kill()
        shutil.rmtree(run_dir, ignore_errors=True)

    if registry:
        ok, attempted, failed, notes = registry_outcome(raw, expected)
        times = [r["total_ms"] for r in ok]
        throughput = len(times) / (sum(times) / 1000.0) if times else 0.0
        samples = times
        log(f"query_total_s={sum(times) / 1000.0:.3f} over {len(times)} executions, "
            f"{len(set(r['query'] for r in ok))} queries")
    else:
        attempted, failed, notes = chain_outcome(raw)
        samples, throughput = chain_samples(raw)
    if raw.get("fatal"):
        notes.append(f"fatal: {raw['fatal']}")
    for n in notes:
        log(n)
    correct = failed == 0 and not raw.get("fatal")
    log(f"failed_share={failed / max(attempted, 1):.6f} ({failed}/{attempted})")
    if not samples:
        log("no successful operation to time")
        return 4
    if args.trace == 0:
        vals, enough = end_to_end(raw, samples, throughput)
        correct = correct and enough
        units = dict(END_TO_END)
    else:
        vals, spans = layer_metrics(raw, throughput)
        units = dict(per_layer_names())
        vals = {k: vals[k] for k in units}
        trace_dir = os.path.join(root, ".bench_trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"metrics": vals, "spans": list(spans.values()),
                       "runs": raw.get("runs", []), "progress": raw.get("progress", [])}, f)
        log(f"trace coverage {vals['trace.coverage']:.3f}; spans in .bench_trace/")
    metrics = {k: {"value": float(vals[k]), "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": correct, "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
