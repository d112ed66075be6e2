#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 7 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (``perfbench/harness``, an sbt build of its own) and caches the
classpath under ``perfbench/harness/target``; later runs reuse it while
the sources are unchanged. Inputs are generated from ``--seed`` under
``.perfbench/``; artifacts (full metrics, spans) land in
``.perfbench/out/``. The last stdout line is the result JSON.
"""
import argparse
import datetime
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402
import sampler  # noqa: E402

WORKLOADS = ("batch_mix", "stream_live", "cow_upsert")
MODULES = ["Relational", "Normalize", "Analytics", "Windows", "Similarity", "TextOps",
           "Corpus", "Multimodal", "Ranking", "Mining", "Stats", "Behavior", "Series",
           "RowLevelOps", "PipelineOps", "StreamOps", "FileSources", "WritePath"]

# Workload settings. The batch panel is a fixed draw (PANEL_SEED): --seed
# varies the generated data; a per-seed query sample would swing throughput
# by the sample's cost mix alone.
PANEL_SEED = 0
MIX_PER_MODULE = 1
MIX_SF = 0.01
MIX_WARM_PASSES = 2   # after the cold pass: the first timed run is the fourth
STREAM_FILES_PER_S = 1.5
STREAM_WARM_FILES = 10       # input of each run-to-completion warm-up query
STREAM_LIVE_WARM_FILES = 6   # then four seconds of the live schedule
STREAM_DRAIN_S = 20
COW_STATEMENTS = 600      # a run executes fewer than 100
COW_WARM_STATEMENTS = 14   # MERGE times still fall over the first few
COW_OPTIMIZE_TARGET_BYTES = 1 << 20   # about half the table: a few files stay live
OP_TIMEOUT_S = 60
JVM_DEADLINE_S = 150     # from launch; with inputs and checks, a run ends inside 180 s
BUILD_DEADLINE_S = 850
# Gauge readings: [time_ms, kernel ms, /proc/stat cpu fields...]; the
# kernel's median reading on the 4-vCPU Xeon VM the benchmark was defined
# on (only ratios between runs matter).
TICK_KERNEL, TICK_CPU = 1, 2
REF_KERNEL_MS = 4.7
HEAP = "3g"
YOUNG = "768m"

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


class Unrunnable(Exception):
    """The checkout cannot run the benchmark (no engine, failed build)."""


# ---- build ---------------------------------------------------------------

def _source_files(root):
    harness = os.path.join(root, "perfbench", "harness")
    roots = [os.path.join(root, "src", "main"), os.path.join(harness, "src")]
    files = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties"),
             os.path.join(harness, "build.sbt"), os.path.join(harness, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    return sorted(f for f in files if os.path.isfile(f))


def ensure_build(root):
    """Compile engine + harness once per source state; return (classpath,
    registry)."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main")):
        raise Unrunnable("no engine sources (build.sbt, src/main) in " + root)
    h = hashlib.sha256()
    for f in _source_files(root):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    harness = os.path.join(root, "perfbench", "harness")
    stamp = os.path.join(harness, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            st = json.load(f)
        if st.get("hash") == digest:
            return st["classpath"], st["registry"]
    log("building engine and harness (sbt) ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # The offline defaults the repository's test command uses.
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos] + opts
        env["SBT_OPTS"] = " ".join(opts)
    elif "-Dsbt.offline=true" not in env["SBT_OPTS"]:
        env["SBT_OPTS"] += " -Dsbt.offline=true"
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=harness, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=BUILD_DEADLINE_S)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise Unrunnable("sbt build failed")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    reg_path = os.path.join(harness, "target", "registry.json")
    r = subprocess.run(java_cmd(classpath, os.path.join(harness, "target")) +
                       ["registry", reg_path], stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=120)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise Unrunnable("registry dump failed")
    with open(reg_path) as f:
        registry = json.load(f)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": classpath, "registry": registry}, f)
    return classpath, registry


def java_cmd(classpath, tmp):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # A fixed heap and young generation keep the resident set from
    # following the collector's sizing decisions run to run.
    return (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG,
             "-Djava.io.tmpdir=" + tmp] + opens +
            ["-cp", classpath, "graft.perfbench.Main"])


# ---- run -----------------------------------------------------------------

def make_plan(args, root, work, registry):
    cores = os.cpu_count() or 4
    fixture = os.path.join(work, "fixture")
    if args.workload == "batch_mix":
        gen.make_fixture(fixture, args.seed, MIX_SF)
    elif args.workload == "cow_upsert":
        gen.make_fixture(fixture, args.seed, 0.1, tables=["events"])
    plan = {"workload": args.workload, "work": work, "fixture": fixture, "cores": cores,
            "seconds": args.seconds, "trace": bool(args.trace), "op_timeout_s": OP_TIMEOUT_S,
            "drain_s": STREAM_DRAIN_S}
    if args.workload == "batch_mix":
        plan["queries"] = sampler.mix_panel(registry, PANEL_SEED, MIX_PER_MODULE)
        plan["warm_passes"] = MIX_WARM_PASSES
    elif args.workload == "stream_live":
        live = os.path.join(work, "stream_live")
        os.makedirs(live)
        # One warm-up query per core, each on files of its own stream seed
        # (none the live stream's).
        warm = [os.path.join(work, "stream_warm", str(k)) for k in range(cores)]
        for k, d in enumerate(warm):
            os.makedirs(d)
            for i in range(STREAM_WARM_FILES):
                gen.write_stream_file(args.seed + 1_000_003 + k, i, d, "%06d.parquet" % i)
        plan["stream"] = {"warm_dirs": warm, "live_dir": live}
    else:
        stmts = os.path.join(work, "statements.json")
        base_rows = pq.read_metadata(os.path.join(fixture, "events.parquet")).num_rows
        gen.write_cow_statements(stmts, args.seed, COW_STATEMENTS, base_rows)
        plan["cow"] = {"statements": stmts, "base_files": gen.COW_BASE_FILES,
                       "base_rows": base_rows, "warm_statements": COW_WARM_STATEMENTS,
                       "min_statements": len(gen.COW_CYCLE) + 1,
                       "optimize_target_bytes": COW_OPTIMIZE_TARGET_BYTES}
    return plan


def generate_stream(args, work, jvm, deadline):
    """The open-loop generator: file i is due at t0 + i/rate; it is written
    under a temporary name and renamed into the replay directory. The
    first ``STREAM_LIVE_WARM_FILES`` warm the running query up; the
    ``stream.timed`` marker goes down when the first timed file is due."""
    ready = os.path.join(work, "stream.ready")
    while not os.path.exists(ready):
        if jvm.poll() is not None or time.time() > deadline:
            return None
        time.sleep(0.02)
    live = os.path.join(work, "stream_live")
    warm = STREAM_LIVE_WARM_FILES
    n = warm + int(args.seconds * STREAM_FILES_PER_S)
    tables = [gen.stream_file(args.seed, i) for i in range(n)]
    t0 = time.time() * 1000 + 200
    due, done = [], []
    for i, t in enumerate(tables):
        d = t0 + i * 1000.0 / STREAM_FILES_PER_S
        wait = d / 1000 - time.time()
        if wait > 0:
            time.sleep(wait)
        if i == warm:
            with open(os.path.join(work, "stream.timed"), "w") as f:
                f.write(repr(d))
        tmp = os.path.join(live, ".%06d.tmp" % i)
        gen.write_parquet(t, tmp)
        os.rename(tmp, os.path.join(live, "%06d.parquet" % i))
        due.append(d)
        done.append(time.time() * 1000)
    with open(os.path.join(work, "gen.done"), "w") as f:
        f.write(str(n))
    return {"due_ms": due, "done_ms": done, "warm": warm}


SHM = "/dev/shm"


def _shm_entries():
    """The engine's tmpfs scratch entries (``StreamOps.scratchDir``)."""
    try:
        return {e for e in os.listdir(SHM) if e.startswith("graft_")}
    except OSError:
        return set()


def _cpu_ticks():
    """The aggregate ``cpu`` line of /proc/stat (user ... steal ...)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def run_jvm(args, classpath, plan, work):
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    shm_before = _shm_entries()
    cpu_before = _cpu_ticks()
    launch_ms = time.time() * 1000
    deadline = time.time() + JVM_DEADLINE_S
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        jvm = subprocess.Popen(java_cmd(classpath, tmp) + ["run", plan_path],
                               stdin=subprocess.DEVNULL, stdout=jlog, stderr=jlog)
        try:
            stream = generate_stream(args, work, jvm, deadline) \
                if args.workload == "stream_live" else None
            jvm.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            log("harness JVM passed the run deadline; killing it")
        finally:
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
            for e in _shm_entries() - shm_before:
                shutil.rmtree(os.path.join(SHM, e), ignore_errors=True)
    out_path = os.path.join(work, "jvm_out.json")
    if not os.path.exists(out_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        return None
    with open(out_path) as f:
        out = json.load(f)
    out["launch_ms"] = launch_ms
    out["launch_cpu"] = cpu_before
    out["stream_gen"] = stream
    # Host contention while the JVM ran: the share of CPU time the
    # hypervisor gave to others (steal), next to the gauge's timings.
    total = [b - a for a, b in zip(cpu_before, _cpu_ticks())]
    out["gauge"]["steal_share"] = total[7] / sum(total) if len(total) > 7 and sum(total) else 0.0
    return out


# ---- metrics -------------------------------------------------------------

def _parse_ts(s):
    return datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp() * 1000


def stream_batches(out):
    """Micro-batches from progress: offsets, end time, phases, state."""
    res = []
    for p in out["progress"]:
        j = json.loads(p)
        if j["id"] != out["stream_query_id"]:
            continue        # a warm-up query
        src = j["sources"][0]
        start = int(src["startOffset"]) if src.get("startOffset") not in (None, "null") else 0
        end = int(src["endOffset"]) if src.get("endOffset") not in (None, "null") else start
        dur = j.get("durationMs", {})
        begin = _parse_ts(j["timestamp"])
        res.append({"id": j["batchId"], "start_off": start, "end_off": end, "begin_ms": begin,
                    "end_ms": begin + dur.get("triggerExecution", 0), "rows": j["numInputRows"],
                    "dur": dur, "state": j.get("stateOperators", []),
                    "watermark_ms": _parse_ts(j.get("eventTime", {}).get("watermark",
                                                                         "1970-01-01T00:00:00.000Z"))})
    return sorted(res, key=lambda b: b["id"])


def end_to_end(w, out, timed, batches, adjusted=True):
    """End-to-end metrics over the given timed ops (or micro-batches).

    Timings are host-adjusted by default, from the harness's readings
    before every op and at the end of the window (between micro-batches on
    the stream), in two steps that run no engine code:

    * steal-free: each op, file latency or trigger is shortened by the
      hypervisor's share of the VM's runnable CPU time over its own
      interval (``metrics.steal_free``); set-up by that share from launch
      to the first reading;
    * at reference speed: scaled by ``REF_KERNEL_MS`` ÷ the median time
      of the fixed CPU kernel over the window's readings.

    On the shared 4-vCPU VM the benchmark was defined on, the steal share
    moved from under 1% to over 20% between runs and the kernel's time by
    ~10%, and whole runs slowed with them. ``adjusted=False`` gives the
    timings as measured."""
    readings = out.get("gauge_ticks", [])
    ticks = [(t[0], t[TICK_CPU:]) for t in readings]
    window = [t[TICK_KERNEL] for t in readings
              if out["timed_start_ms"] <= t[0] <= out["timed_end_ms"]]
    speed = REF_KERNEL_MS / M.median(window) if adjusted and window else 1.0

    def took(ms, start, end):
        return M.steal_free(ms, ticks, start, end) * speed if adjusted else ms
    m = {}
    setup_ms = (out["session_ready_ms"] - out["launch_ms"]) + \
        (out["setup_done_ms"] - out["gauge_done_ms"])
    if adjusted and ticks and out.get("launch_cpu"):
        since_launch = [(out["launch_ms"], out["launch_cpu"]), ticks[0]]
        setup_ms = M.steal_free(setup_ms, since_launch, out["launch_ms"], ticks[0][0]) * speed
    m["setup_s"] = setup_ms / 1000.0
    m["peak_rss_mb"] = out["vm_hwm_kb"] / 1024.0
    if w == "stream_live":
        g = out["stream_gen"] or {"due_ms": [], "warm": 0}
        covered = M.file_latencies(
            g["due_ms"], [(b["start_off"], b["end_off"], b["end_ms"]) for b in batches])
        lat = [took(x, due, due + x) for x, due in
               list(zip(covered, g["due_ms"]))[g["warm"]:] if x is not None]
        busy = sum(took(b["dur"].get("triggerExecution", 0), b["begin_ms"], b["end_ms"])
                   for b in batches)
        files = sum(b["end_off"] - b["start_off"] for b in batches)
        m["latency_ms"] = M.median(lat) if lat else float("nan")
        m["throughput_per_s"] = files / (busy / 1000.0) if busy else float("nan")
    else:
        walls = {o["id"]: took(o["end_ms"] - o["start_ms"], o["start_ms"], o["end_ms"])
                 for o in timed}
        if w == "batch_mix":
            # Each panel query once: its median over the timed passes;
            # then the geometric mean over the panel.
            per_query = {}
            for o in timed:
                if o["ok"]:
                    per_query.setdefault(o["name"], []).append(walls[o["id"]])
            medians = [M.median(v) for v in per_query.values()]
            m["latency_ms"] = M.geomean(medians)
            # Panel queries per second of their medians: a partial last
            # round does not tilt it towards the queries that ran twice.
            busy, done = sum(medians), len(medians)
            lat = [x for v in per_query.values() for x in v]
        else:
            # Each statement kind's median, so the kinds a window happens
            # to end on do not tilt the figures: latency over the write
            # kinds users wait on, throughput over one cycle of the mix.
            per_kind = {}
            for o in timed:
                if o["ok"]:
                    per_kind.setdefault(o["kind"], []).append(walls[o["id"]])
            kind_ms = {k: M.median(v) for k, v in per_kind.items()}
            m["latency_ms"] = M.geomean([kind_ms[k] for k in COW_WRITES if k in kind_ms])
            lat = [x for k in COW_WRITES for x in per_kind.get(k, [])]
            busy = sum(kind_ms.get(k, float("nan")) for k in gen.COW_CYCLE)
            done = len(gen.COW_CYCLE)
        m["throughput_per_s"] = done / (busy / 1000.0) if busy else float("nan")
    m["_latencies"] = lat
    return m


def _finite(v):
    """A metric with no samples (every op failed) reads 0; the result
    line then carries correct=false."""
    return v if v == v else 0.0


def named_metrics(w, e2e, timed, batches, failed_share):
    """The end-to-end figures under the workload-specific names the
    README maps them to."""
    m = {"setup_s": e2e["setup_s"], "peak_rss_mb": e2e["peak_rss_mb"],
         "failed_share": failed_share}
    if w == "batch_mix":
        m["query_geomean_ms"], m["queries_per_s"] = e2e["latency_ms"], e2e["throughput_per_s"]
    elif w == "stream_live":
        m["stream_latency_p50_ms"] = e2e["latency_ms"]
        busy = sum(b["dur"].get("triggerExecution", 0) for b in batches if b["phase"] == "untraced")
        rows = sum(b["rows"] for b in batches if b["phase"] == "untraced")
        m["stream_capacity_rows_per_s"] = rows / (busy / 1000.0) if busy else float("nan")
    else:
        m["cow_write_geomean_ms"] = e2e["latency_ms"]
        m["cow_read_p50_ms"] = M.median([o["end_ms"] - o["start_ms"] for o in timed
                                         if o["ok"] and o["kind"] in ("point", "range")])
    return m


def per_layer(w, out, traced, batches, e2e_untraced, e2e_traced):
    """Per-layer metrics from the traced half of a traced run."""
    cores = out["cores"]
    jobs_by_op, stages_by_op = {}, {}
    for j in out["jobs"]:
        jobs_by_op.setdefault(j["op"], []).append(j)
    for s in out["stages"]:
        stages_by_op.setdefault(s["op"], []).append(s)
    totals = out["task_totals"]
    if w == "stream_live":
        units = [{"id": "batch-%d" % b["id"], "start_ms": b["begin_ms"], "end_ms": b["end_ms"]}
                 for b in batches if b["phase"] == "traced"]
    else:
        units = traced
    n = max(len(units), 1)

    def per_unit(key):
        return sum(totals.get(u["id"], {}).get(key, 0) for u in units) / n

    lm = {}
    builds = [o["built_ms"] - o["start_ms"] for o in traced if o.get("built_ms")]
    execs = [o["end_ms"] - o["built_ms"] for o in traced if o.get("built_ms")]
    lm["operators.build_ms"] = sum(builds) / len(builds) if builds else 0.0
    lm["operators.exec_ms"] = sum(execs) / len(execs) if execs else 0.0
    reg = out.get("registry", {})
    for mod in MODULES:
        ws = [o["end_ms"] - o["start_ms"] for o in traced
              if o["kind"] == "query" and reg.get(o["name"], {}).get("module") == mod]
        lm["operators.%s.wall_ms" % mod] = sum(ws) / len(ws) if ws else 0.0
    # Catalyst phases and AQE re-plans, attributed by time to the op whose
    # interval holds them (ops run one at a time).
    spans = [(u["start_ms"], u["end_ms"]) for u in units]

    def inside(t):
        return any(s <= t <= e for s, e in spans)
    phase = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for p in out["plannings"]:
        if inside(p.get("analysis_start_ms", p["end_ms"])):
            for k in phase:
                if k + "_start_ms" in p:
                    phase[k] += p[k + "_end_ms"] - p[k + "_start_ms"]
    for k, v in phase.items():
        lm["plans.%s_ms" % k] = v / n
    lm["plans.aqe_updates"] = sum(x["aqe_updates"] for x in out["executions"]
                                  if inside(x["start_ms"])) / n
    lm["exec.jobs"] = sum(len(jobs_by_op.get(u["id"], [])) for u in units) / n
    lm["exec.stages"] = sum(len(stages_by_op.get(u["id"], [])) for u in units) / n
    lm["exec.tasks"] = per_unit("tasks")
    lm["exec.driver_gap_ms"] = sum(M.driver_gap(u["start_ms"], u["end_ms"], [
        (j["start_ms"], j["end_ms"]) for j in jobs_by_op.get(u["id"], []) if j["end_ms"] > 0])
        for u in units) / n
    lm["exec.task_run_ms"] = per_unit("run_ms")
    lm["exec.task_cpu_ms"] = per_unit("cpu_ms")
    lm["exec.task_launch_ms"] = per_unit("launch_ms")
    lm["exec.gc_ms"] = per_unit("gc_ms")
    lm["exec.peak_tasks"] = max([totals.get(u["id"], {}).get("peak_tasks", 0) for u in units] or [0])
    wall = sum(u["end_ms"] - u["start_ms"] for u in units)
    lm["exec.core_busy_share"] = per_unit("duration_ms") * n / (cores * wall) if wall else 0.0
    lm["shuffle.read_bytes"] = per_unit("shuffle_read_bytes")
    lm["shuffle.write_bytes"] = per_unit("shuffle_write_bytes")
    lm["shuffle.fetch_wait_ms"] = per_unit("fetch_wait_ms")
    lm["shuffle.spill_bytes"] = per_unit("spill_bytes")
    lm["sources.input_bytes"] = per_unit("input_bytes")
    lm["sources.input_records"] = per_unit("input_records")

    tb = [b for b in batches if b["phase"] == "traced"]
    data = [b for b in tb if b["end_off"] > b["start_off"]] or [{"dur": {}, "rows": 0, "state": []}]
    nb = max(len(data), 1)

    def dur(k):
        return sum(b["dur"].get(k, 0) for b in data) / nb

    def state(k, custom=False):
        vals = [sum((s.get("customMetrics", {}) if custom else s).get(k, 0) for s in b["state"])
                for b in data]
        return sum(vals) / nb
    lm["sources.latest_offset_ms"] = dur("latestOffset")
    lm["sources.get_batch_ms"] = dur("getBatch")
    lm["streaming.batches"] = float(len(tb))
    lm["streaming.rows_per_batch"] = sum(b["rows"] for b in data) / nb
    lm["streaming.query_planning_ms"] = dur("queryPlanning")
    lm["streaming.add_batch_ms"] = dur("addBatch")
    lm["streaming.trigger_ms"] = dur("triggerExecution")
    if tb:
        span = tb[-1]["end_ms"] - tb[0]["begin_ms"]
        busy = sum(b["dur"].get("triggerExecution", 0) for b in tb)
        lm["streaming.idle_share"] = max(0.0, 1 - busy / span) if span > 0 else 0.0
    else:
        lm["streaming.idle_share"] = 0.0
    g = out.get("stream_gen") or {}
    if g and tb:
        # Backlog: files renamed into place but not yet admitted, sampled
        # at each traced batch start.
        lm["streaming.backlog_files_max"] = float(max(
            sum(1 for d in g["done_ms"] if d <= b["begin_ms"]) - b["start_off"] for b in tb))
        late = [d - u for d, u in zip(g["done_ms"], g["due_ms"])]
        lm["streaming.gen_late_ms"] = M.median(late)
    else:
        lm["streaming.backlog_files_max"] = 0.0
        lm["streaming.gen_late_ms"] = 0.0
    lm["state.rows_total"] = state("numRowsTotal")
    lm["state.memory_bytes"] = state("memoryUsedBytes")
    lm["state.commit_ms"] = state("commitTimeMs")
    lm["state.updates_ms"] = state("allUpdatesTimeMs")
    lm["state.removals_ms"] = state("allRemovalsTimeMs")
    lm["state.rows_dropped_by_watermark"] = state("numRowsDroppedByWatermark")
    lm["state.rocksdb_flush_ms"] = state("rocksdbCommitFlushLatency", custom=True)
    lm["state.rocksdb_checkpoint_ms"] = state("rocksdbCommitCheckpointLatency", custom=True)
    lm["hadoop.wal_commit_ms"] = dur("walCommit")
    lm["hadoop.commit_offsets_ms"] = dur("commitOffsets")

    def kind_mean(kinds):
        ws = [o["end_ms"] - o["start_ms"] for o in traced if o["kind"] in kinds]
        return sum(ws) / len(ws) if ws else 0.0
    lm["cow.merge_ms"] = kind_mean({"merge"})
    lm["cow.delete_ms"] = kind_mean({"delete"})
    lm["cow.insert_ms"] = kind_mean({"insert"})
    lm["cow.read_ms"] = kind_mean({"point", "range"})
    lm["cow.maintenance_ms"] = kind_mean({"maintenance"})
    writes = [o for o in traced if o["kind"] in ("merge", "delete", "insert")]
    plan_ms = [min([j["start_ms"] for j in jobs_by_op.get(o["id"], [])] or [o["end_ms"]]) - o["start_ms"]
               for o in writes]
    lm["cow.rewrite_plan_ms"] = sum(plan_ms) / len(plan_ms) if plan_ms else 0.0
    flog = out.get("cow_file_log", [])
    nf = max(len(flog), 1)
    lm["cow.files_added"] = sum(e["added"] for e in flog) / nf
    lm["cow.files_removed"] = sum(e["removed"] for e in flog) / nf
    lm["cow.live_files"] = float(flog[-1]["live"]) if flog else 0.0
    lm["cow.manifests"] = float(flog[-1]["manifests"]) if flog else 0.0
    lm["cow.bytes_written"] = sum(e["bytes_added"] for e in flog) / nf
    stmt_bytes = out.get("cow_change_bytes", {})
    submitted = sum(stmt_bytes.get(str(e["stmt"]), 0) for e in flog if str(e["stmt"]) in stmt_bytes)
    lm["cow.write_amp"] = sum(e["bytes_added"] for e in flog) / submitted if submitted else 0.0
    lm["cow.conflict_retries"] = 0.0
    reads = [o for o in traced if o["kind"] in ("point", "range")]
    lm["cow.read_files_scanned"] = (sum(totals.get(o["id"], {}).get("tasks", 0) for o in reads) /
                                    len(reads)) if reads else 0.0
    lm["cow.dv_skipped_rows"] = 0.0
    gs, ge = out["gauge"]["start"], out["gauge"]["end"]
    lm["host.gauge_cpu_ms"] = (gs["cpu_ms"] + ge["cpu_ms"]) / 2
    lm["host.gauge_job_ms"] = (gs["job_ms"] + ge["job_ms"]) / 2
    lm["host.drift"] = ge["cpu_ms"] / gs["cpu_ms"] if gs["cpu_ms"] else 0.0
    lm["host.steal_share"] = out["gauge"]["steal_share"]
    u, t = e2e_untraced.get("latency_ms"), e2e_traced.get("latency_ms")
    lm["trace.overhead_share"] = t / u - 1 if u and t and u == u and t == t else 0.0
    return lm


def spans_of(w, out, ops, batches):
    """Spans: op -> operators.build / plans / operators.exec -> job -> stage;
    micro-batch -> durationMs phases; statement -> job."""
    spans = []
    op_span = {}
    for o in ops:
        sid = "s-" + o["id"]
        op_span[o["id"]] = sid
        spans.append({"id": sid, "name": "op." + o["kind"], "op": o["id"], "parent": None,
                      "start_ms": o["start_ms"], "end_ms": o["end_ms"], "label": o["name"]})
        if o.get("built_ms"):
            spans.append({"id": sid + "-b", "name": "operators.build", "op": o["id"], "parent": sid,
                          "start_ms": o["start_ms"], "end_ms": o["built_ms"]})
            spans.append({"id": sid + "-e", "name": "operators.exec", "op": o["id"], "parent": sid,
                          "start_ms": o["built_ms"], "end_ms": o["end_ms"]})
    for b in batches:
        sid = "s-batch-%d" % b["id"]
        op_span["batch-%d" % b["id"]] = sid
        spans.append({"id": sid, "name": "micro_batch", "op": "batch-%d" % b["id"], "parent": None,
                      "start_ms": b["begin_ms"], "end_ms": b["end_ms"]})
        t = b["begin_ms"]
        for k in ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch",
                  "commitOffsets"):
            if k in b["dur"]:
                spans.append({"id": sid + "-" + k, "name": "streaming." + k, "parent": sid,
                              "op": "batch-%d" % b["id"], "start_ms": t,
                              "end_ms": t + b["dur"][k]})
                t += b["dur"][k]
    plan_parent = {}
    for p in out["plannings"]:
        start = p.get("analysis_start_ms")
        if start is None:
            continue
        for o in ops:
            if o["start_ms"] <= start <= o["end_ms"]:
                parent = op_span[o["id"]]
                if o.get("built_ms"):
                    parent += "-b" if start <= o["built_ms"] else "-e"
                i = plan_parent.setdefault(parent, 0)
                plan_parent[parent] = i + 1
                spans.append({"id": "%s-p%d" % (parent, i), "name": "plans", "op": o["id"],
                              "parent": parent, "start_ms": start,
                              "end_ms": p.get("planning_end_ms", p["end_ms"])})
                break
    for j in out["jobs"]:
        parent = op_span.get(j["op"])
        if parent is None or j["end_ms"] <= 0:
            continue
        o = next((x for x in ops if x["id"] == j["op"]), None)
        if o is not None and o.get("built_ms"):
            parent += "-b" if j["start_ms"] < o["built_ms"] else "-e"
        elif j["op"].startswith("batch-"):
            parent += "-addBatch"
        spans.append({"id": "job-%d" % j["id"], "name": "job", "op": j["op"], "parent": parent,
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    for s in out["stages"]:
        if s["completed_ms"] > 0 and s["submitted_ms"] > 0:
            spans.append({"id": "stage-%d" % s["id"], "name": "stage", "op": s["op"],
                          "parent": "job-%d" % s["job"], "start_ms": s["submitted_ms"],
                          "end_ms": s["completed_ms"]})
    ids = {s["id"] for s in spans}
    for s in spans:
        if s["parent"] is not None and s["parent"] not in ids:
            s["parent"] = None
    return spans


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    try:
        classpath, registry = ensure_build(root)
    except Unrunnable as e:
        log(str(e))
        return 2
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "run-%s-%d-%d" % (args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, root, work, classpath, registry)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, root, work, classpath, registry):
    plan = make_plan(args, root, work, registry)
    out = run_jvm(args, classpath, plan, work)
    if out is None or out.get("fatal"):
        log("the harness JVM failed: %s" % (out or {}).get("fatal", "no output"))
        return 1
    out["cores"] = plan["cores"]
    out["registry"] = registry
    w = args.workload
    ops = out["ops"]
    timed = [o for o in ops if o["phase"] in ("untraced", "traced")]
    batches = stream_batches(out) if w == "stream_live" else []
    for b in batches:   # the harness's halves: untraced, traced
        half = int((b["begin_ms"] - out["timed_start_ms"]) // (args.seconds * 500))
        b["phase"] = "warm" if b["begin_ms"] < out["timed_start_ms"] else \
            "traced" if args.trace and half == 1 else "untraced"

    # Output checks (untimed) and failure accounting.
    failures = [(o["name"] if w == "batch_mix" else o["id"] + ":" + o["kind"], o["error"])
                for o in ops if not o["ok"]]
    attempted = len(ops)
    if w == "batch_mix":
        failures += checks.check_batch(root, plan["fixture"], os.path.join(work, "check"),
                                       plan["queries"], registry)
    elif w == "stream_live":
        g = out["stream_gen"]
        if g is None:
            failures.append(("generator", "the stream never became ready"))
            attempted = max(attempted, 1)
        else:
            attempted = len(g["due_ms"])
            lat = M.file_latencies(g["due_ms"], [(b["start_off"], b["end_off"], b["end_ms"])
                                                  for b in batches])
            failures += [("file-%06d" % i, "never committed") for i, x in enumerate(lat) if x is None]
            if out.get("stream_error"):
                failures.append(("stream", out["stream_error"]))
            wm = max((b["watermark_ms"] for b in batches), default=0)
            failures += checks.check_stream(out["stream_rows"], out["stream_batch_rows"],
                                            int(wm) * 1000)
    else:
        with open(plan["cow"]["statements"]) as f:
            stmts = json.load(f)
        results = {int(o["name"].split("-")[1]): o["result"] for o in ops
                   if o["kind"] in ("point", "range") and o["ok"]}
        failures += checks.check_cow(os.path.join(plan["fixture"], "events.parquet"), stmts,
                                     out["cow_executed"], results, os.path.join(work, "cow_final"))
        out["cow_change_bytes"] = {str(i + 1): s.get("change_bytes", 0)
                                   for i, s in enumerate(stmts[:out["cow_executed"]])}
    failed = min(len({name for name, _ in failures}), attempted)
    for name, msg in failures[:40]:
        log("FAILED %s: %s" % (name, msg))

    untraced = [o for o in timed if o["phase"] == "untraced"]
    traced_ops = [o for o in timed if o["phase"] == "traced"]
    e2e = end_to_end(w, out, untraced, [b for b in batches if b["phase"] == "untraced"])
    artifact = {"workload": w, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
                "cores": plan["cores"], "attempted": attempted, "failed": failed,
                "failures": failures, "panel": plan.get("queries"),
                "samples": M.summary(e2e["_latencies"]),
                "named": named_metrics(w, e2e, untraced, batches, failed / attempted),
                "gauge": out["gauge"], "gauge_ticks": out.get("gauge_ticks", [])}
    if args.trace:
        e2e_t = end_to_end(w, out, traced_ops, [b for b in batches if b["phase"] == "traced"])
        lm = per_layer(w, out, traced_ops, batches, e2e, e2e_t)
        spans = spans_of(w, out, [o for o in timed if o["phase"] == "traced"],
                         [b for b in batches if b["phase"] == "traced"])
        artifact["per_layer"] = lm
        artifact["self_ms"] = M.self_times(spans)
        result = {k: {"value": _finite(v), "unit": unit_of(k)} for k, v in lm.items()}
    else:
        raw = end_to_end(w, out, untraced, [b for b in batches if b["phase"] == "untraced"],
                         adjusted=False)
        result = {k: {"value": _finite(e2e[k]), "unit": UNITS[k]} for k in E2E}
        artifact["end_to_end"] = {k: e2e[k] for k in E2E}
        artifact["end_to_end_raw"] = {k: raw[k] for k in E2E}
    outdir = os.path.join(root, ".perfbench", "out")
    os.makedirs(outdir, exist_ok=True)
    stem = os.path.join(outdir, "%s-seed%d-trace%d" % (w, args.seed, args.trace))
    with open(stem + ".json", "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))
    return 0


COW_WRITES = ("merge", "delete", "insert")
E2E = ["setup_s", "latency_ms", "throughput_per_s", "peak_rss_mb"]
UNITS = {"setup_s": "s", "latency_ms": "ms", "throughput_per_s": "1/s", "peak_rss_mb": "MB"}


def unit_of(name):
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_share", ".drift", "_amp")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
