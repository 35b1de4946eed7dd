#!/usr/bin/env python3
"""Benchmark of the graft replicator and its query registry.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark's JVM side from source into .bench_build/ and makes the registry
tables and their DuckDB answers there; later runs reuse them. The last line
of standard output is the run's result as one JSON object. See README.md.
"""
import argparse
import collections
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from bench import cdcgen, oracle, regdata, stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
JVM_DIR = os.path.join(HERE, "jvm")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")

# --- registry workloads ------------------------------------------------------
SF = 0.1
DATA_SEED = 20260          # the tables are fixed; --seed orders the queries
# one query per layer the registry exercises: a join chain (operators,
# plans), TopKPerKey, a native-kernel ANN scan (functions), and probes of the
# two persisted index kinds (index) whose builds set-up pays
REGISTRY_BATCH = ["q3_revenue_topn", "topk_native", "sim_topk_ivf_probed"]
REGISTRY_SERVE = ["sim_ivf_probe_served", "sim_pq_probe_served"]
# tables read once per set-up repetition (the set-up's "table loads")
SETUP_TABLES = ["lineitem", "orders", "customer", "events", "documents", "embeddings"]
SECONDS_PER_ROUND = 2      # the timed window is seconds // 2 whole rounds, at least 2

# --- CDC workloads -----------------------------------------------------------
TAIL_RATE = 200            # entries per second, fixed
TAIL_SEGMENT_MS = 100      # one segment per 100 ms: 20 entries
TAIL_WARMUP_S = 3          # published before the timed window opens
TAIL_DOCS = 1000           # documents per collection in the initial snapshot
BULK_DOCS = 2500
BULK_SEGMENT = 12000       # entries per closed-loop segment
BULK_WARMUP = 2            # closed-loop segments before the timed ones
BULK_SECONDS_PER_SEGMENT = 1.5   # timed segments: one per 1.5 s of --seconds (3 at 5 s)
BULK_STALE = 500           # orphans (and stale live rows) per collection
HISTORY = 200              # entries in the feed before the initial sync
TAIL_PERCENTILE = 90
SETUP_REPS = 3             # set-up repetitions per run; setup_s is their median

HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

WORKLOADS = ["cdc_tail", "cdc_bulk", "registry"]
END_TO_END = {"setup_s": "s", "cpu_ms_per_op": "ms"}
PER_LAYER = {
    "run.throughput_per_s": "1/s",
    "replicator.commit_lag_ms_p50": "ms", "queries.geomean_ms": "ms",
    "replicator.batch_ms_p50": "ms", "replicator.add_batch_ms_p50": "ms",
    "replicator.plan_ms_p50": "ms", "replicator.checkpoint_ms_p50": "ms",
    "replicator.jobs_per_batch": "count", "replicator.tasks_per_batch": "count",
    "replicator.gap_ms_p50": "ms",
    "sources.latest_offset_ms_p50": "ms", "sources.get_batch_ms_p50": "ms",
    "sources.backlog_events_max": "count", "sources.read_ms_per_kevent": "ms",
    "changelog.decode_ms_per_kevent": "ms",
    "sink.apply_ms_per_kevent": "ms", "sink.round_trips_per_kevent": "count",
    "sink.connections_per_batch": "count", "sink.commits_per_batch": "count",
    "sink.schema_sync_ms": "ms", "sink.snapshot_ms": "ms", "sink.orphan_delete_ms": "ms",
    "operators.jobs": "count", "operators.tasks": "count", "operators.gap_ms": "ms",
    "operators.shuffle_write_bytes": "bytes", "operators.shuffle_read_bytes": "bytes",
    "operators.partition_skew_max": "ratio", "operators.input_bytes": "bytes",
    "operators.spill_bytes": "bytes", "operators.leaked_rdds": "count",
    "plans.topk_spills": "count", "index.jobs_per_probe": "count",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
}
for _q in REGISTRY_BATCH + REGISTRY_SERVE:
    PER_LAYER[f"queries.{_q}_ms"] = "ms"


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


# --------------------------------------------------------------------- build
def _source_hash():
    h = hashlib.sha256()
    files = [os.path.join(JVM_DIR, "build.sbt"), os.path.join(JVM_DIR, "project", "build.properties")]
    for base in (PROGRAM_SRC, PROGRAM_RES, os.path.join(JVM_DIR, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program's sources with the benchmark's JVM side (once per
    source state); returns the runtime classpath and the source hash."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = os.path.join(BUILD, "classpath.json")
        h = _source_hash()
        if os.path.exists(stamp):
            with open(stamp) as f:
                s = json.load(f)
            if s["hash"] == h:
                return s["classpath"], h
        log("building (sbt) ...")
        cmd = ["sbt", "--batch", f"-Dsbt.global.base={BUILD}/sbt-global",
               "-Dsbt.server.autostart=false", "compile", "printClasspath"]
        p = subprocess.run(cmd, cwd=JVM_DIR, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        if p.returncode != 0:
            log("build failed:\n" + p.stdout[-4000:])
            sys.exit(3)
        cp = [ln[3:] for ln in p.stdout.splitlines() if ln.startswith("CP ")]
        with open(stamp + ".tmp", "w") as f:
            json.dump({"hash": h, "classpath": cp}, f)
        os.replace(stamp + ".tmp", stamp)
        return cp, h


def start_jvm(cp, conf, run_dir):
    conf_path = os.path.join(run_dir, "conf.json")
    with open(conf_path, "w") as f:
        json.dump(conf, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", *ADD_OPENS, f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={run_dir}",
           f"-Dderby.stream.error.file={run_dir}/derby.log",
           "-cp", ":".join(cp), "graft.perfbench.Main", conf_path]
    out = open(os.path.join(run_dir, "jvm.log"), "w")
    return subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)


def finish_jvm(p, run_dir, timeout):
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
    if p.returncode != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            log("program run failed:\n" + f.read()[-6000:])
        sys.exit(4)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ registry
def oracle_answers(cp, src_hash, run_dir, data_dir):
    """DuckDB answers for every registry query (cached under .bench_build)."""
    queries = REGISTRY_BATCH + REGISTRY_SERVE
    sql_path = os.path.join(BUILD, "oracle", f"sql-{src_hash[:20]}.json")
    if not os.path.exists(sql_path):
        os.makedirs(os.path.dirname(sql_path), exist_ok=True)
        d = os.path.join(run_dir, "oracle_sql")
        os.makedirs(d)
        conf = {"workload": "oracle_sql", "queries": queries,
                "result": os.path.join(d, "result.json")}
        sql = finish_jvm(start_jvm(cp, conf, d), d, JVM_TIMEOUT_S)["sql"]
        with open(sql_path + ".tmp", "w") as f:
            json.dump(sql, f)
        os.replace(sql_path + ".tmp", sql_path)
    with open(sql_path) as f:
        sql = json.load(f)
    return oracle.expected(os.path.join(BUILD, "oracle", "answers"), data_dir, sql)


def run_registry(a, cp, src_hash, run_dir):
    queries = REGISTRY_BATCH + REGISTRY_SERVE
    data = regdata.ensure(os.path.join(BUILD, "data"), SF, DATA_SEED)
    want = oracle_answers(cp, src_hash, run_dir, data)
    results_dir = os.path.join(run_dir, "results")
    conf = {"workload": a.workload, "trace": a.trace == 1, "seed": a.seed,
            "cores": nproc(), "run_dir": run_dir, "data": data,
            "queries": queries, "serve_queries": REGISTRY_SERVE, "tables": SETUP_TABLES,
            "setup_reps": SETUP_REPS, "rounds": max(2, a.seconds // SECONDS_PER_ROUND),
            "results_dir": results_dir, "result": os.path.join(run_dir, "result.json")}
    r = finish_jvm(start_jvm(cp, conf, run_dir), run_dir, JVM_TIMEOUT_S)
    bad = oracle.check(data, results_dir, {q: want[q] for q in queries})
    for q, why in r["errors"].items():
        bad.setdefault(q, why)
    for q, why in sorted(bad.items()):
        log(f"FAILED {q}: {why}")
    meds = {q: stats.median(ts) for q, ts in r["times_ms"].items() if ts}
    n_exec = sum(len(ts) for ts in r["times_ms"].values())
    cpu = [stats.median(xs) for xs in r["cpu_ms"].values() if xs]
    e2e = {
        # the median set-up repetition: the table loads and the index builds
        "setup_s": stats.median([rep["loads"] + sum(rep["builds"].values())
                                 for rep in r["setup_reps"]]) / 1000,
        # per query, the median CPU time of its executions; their mean
        "cpu_ms_per_op": sum(cpu) / max(1, len(cpu)),
    }
    throughput = n_exec / (r["loop_ms"] / 1000)
    geomean = stats.geomean(list(meds.values())) if meds else 0.0
    layers = None
    if a.trace:
        layers = registry_layers(r, queries)
        layers["queries.geomean_ms"] = geomean
        layers["run.throughput_per_s"] = throughput
    reps = ", ".join(f"{x['loads']:.0f} + {sum(x['builds'].values()):.0f}" for x in r["setup_reps"])
    print(f"session start: {r['session_ms'] / 1000:.2f} s; set-up repetitions (loads + builds): "
          f"{reps} ms; first pass: {sum(r['cold_ms'].values()) / 1000:.2f} s; rounds: {r['rounds']} over "
          f"{len(queries)} queries in {r['loop_ms'] / 1000:.1f} s; geomean {geomean:.1f} ms; "
          f"{throughput:.3f} queries/s")
    return len(queries), len(bad), not bad, e2e, layers, r


def registry_layers(r, queries):
    per_q = {q: [e for e in r["execs"] if e["query"] == q] for q in queries}

    def per_query_sum(key):
        return sum(stats.median([e[key] for e in ex]) for ex in per_q.values() if ex)

    m = zero_layers()
    m.update({
        "operators.jobs": per_query_sum("jobs"), "operators.tasks": per_query_sum("tasks"),
        "operators.gap_ms": per_query_sum("gap_ms"),
        "operators.shuffle_write_bytes": per_query_sum("shuffle_write"),
        "operators.shuffle_read_bytes": per_query_sum("shuffle_read"),
        "operators.partition_skew_max": max([e["skew"] for e in r["execs"]] or [0.0]),
        "operators.input_bytes": per_query_sum("input"),
        "operators.spill_bytes": per_query_sum("spill"),
        "operators.leaked_rdds": per_query_sum("leaked"),
        "plans.topk_spills": per_query_sum("topk_spills"),
        "index.jobs_per_probe": sum(stats.median([e["jobs"] for e in per_q[q]])
                                    for q in REGISTRY_SERVE if per_q[q]) / len(REGISTRY_SERVE),
        "jvm.gc_ms": r["gc_ms"], "jvm.heap_peak_mb": r["heap_peak_mb"],
    })
    for q, ts in r["times_ms"].items():
        if ts:
            m[f"queries.{q}_ms"] = stats.median(ts)
    return m


def zero_layers():
    """Every per-layer metric; one a workload does not exercise reads 0."""
    return {k: 0.0 for k in PER_LAYER}


# ----------------------------------------------------------------------- CDC
class Progress:
    """Reads the JVM's per-micro-batch lines as they are appended."""

    def __init__(self, path):
        self.path, self.pos, self.batches, self.error = path, 0, [], None

    def poll(self):
        try:
            if os.path.getsize(self.path) <= self.pos:
                return
        except FileNotFoundError:
            return
        with open(self.path, "rb") as f:
            f.seek(self.pos)
            chunk = f.read()
        end = chunk.rfind(b"\n")
        if end < 0:
            return
        self.pos += end + 1
        for line in chunk[:end].decode().splitlines():
            j = json.loads(line)
            if j.get("terminated"):
                self.error = j.get("error") or "the stream stopped"
            else:
                self.batches.append(j)

    def covered(self):
        return max((b["last"] for b in self.batches if b["last"]), default="")


def wait_for(pred, timeout, what, prog=None):
    deadline = time.time() + timeout
    while not pred():
        if prog is not None:
            prog.poll()
            if prog.error:
                raise RuntimeError(f"replication stream failed: {prog.error}")
        if time.time() > deadline:
            raise RuntimeError(f"timed out waiting for {what}")
        time.sleep(0.002)


def seg_name(k):
    return f"seg-{k:08d}.json"


def publish(seg_dir, k, text):
    """Write under a hidden name, then rename into place: the stream only
    ever sees whole segments."""
    hidden = os.path.join(seg_dir, "." + seg_name(k) + ".tmp")
    with open(hidden, "w") as f:
        f.write(text)
    os.rename(hidden, os.path.join(seg_dir, seg_name(k)))
    return time.time()


Segment = collections.namedtuple("Segment", "name due published entries timed")


def publish_open_loop(gen, seg_dir, prog, seconds):
    """One segment every TAIL_SEGMENT_MS on a fixed schedule, whatever the
    program does: TAIL_WARMUP_S of warm-up, then `seconds` timed."""
    per = TAIL_RATE * TAIL_SEGMENT_MS // 1000
    start = time.time() + 0.3
    timed_from, end = start + TAIL_WARMUP_S, start + TAIL_WARMUP_S + seconds
    segs, k = [], 1
    while True:
        due = start + (k - 1) * TAIL_SEGMENT_MS / 1000
        if due >= end:
            return segs
        text = gen.segment(per)
        time.sleep(max(0.0, due - time.time()))
        segs.append(Segment(seg_name(k), due, publish(seg_dir, k, text), per, due >= timed_from))
        prog.poll()
        k += 1


def publish_closed_loop(gen, seg_dir, prog, seconds):
    """One BULK_SEGMENT-entry segment at a time, each after the previous one
    committed: BULK_WARMUP segments, then a fixed number set by `seconds`."""
    total = BULK_WARMUP + max(1, round(seconds / BULK_SECONDS_PER_SEGMENT))
    segs = []
    text = gen.segment(BULK_SEGMENT)
    for k in range(1, total + 1):
        t = publish(seg_dir, k, text)
        segs.append(Segment(seg_name(k), t, t, BULK_SEGMENT, k > BULK_WARMUP))
        if k < total:
            text = gen.segment(BULK_SEGMENT)   # made while the batch runs
        wait_for(lambda: prog.covered() >= seg_name(k), 60, "a batch commit", prog)
    return segs


def run_cdc(a, cp, run_dir):
    bulk = a.workload == "cdc_bulk"
    gen = cdcgen.Generator(a.seed, BULK_DOCS if bulk else TAIL_DOCS)
    seg_dir = os.path.join(run_dir, "segments")
    os.makedirs(seg_dir)
    history = gen.segment(HISTORY)
    with open(os.path.join(seg_dir, seg_name(0)), "w") as f:
        f.write(history)
    dumps = {}
    for c in cdcgen.COLLECTIONS:
        dumps[c] = os.path.join(run_dir, f"dump-{c}.jsonl")
        with open(dumps[c], "w") as f:
            f.write("\n".join(gen.dump(c)) + "\n")
    snapshot_rows = sum(len(gen.model.docs[c]) for c in cdcgen.COLLECTIONS)
    p = lambda n: os.path.join(run_dir, n)  # noqa: E731
    conf = {"workload": a.workload, "trace": a.trace == 1,
            "cores": max(1, nproc() - 2), "setup_reps": 1 + SETUP_REPS, "run_dir": run_dir,
            "config_yaml": cdcgen.config_yaml("jdbc:derby:memory:bench"),
            "dumps": dumps, "dump_schema": cdcgen.DUMP_SCHEMA, "segments": seg_dir,
            "checkpoint": p("checkpoint"), "progress": p("progress.jsonl"),
            "ready": p("ready.json"), "stop": p("stop"), "sink_dump": p("sink.jsonl"),
            "timeout_s": 150, "result": p("result.json")}
    if bulk:
        with open(p("stale.json"), "w") as f:
            json.dump(gen.stale_rows(BULK_STALE), f)
        conf["stale"] = p("stale.json")
    jvm = start_jvm(cp, conf, run_dir)
    prog = Progress(conf["progress"])
    try:
        wait_for(lambda: os.path.exists(conf["ready"]) or jvm.poll() is not None, 120,
                 "the initial sync")
        if jvm.poll() is not None:
            finish_jvm(jvm, run_dir, 1)
        with open(conf["ready"]) as f:
            ready = json.load(f)
        segs = publish_closed_loop(gen, seg_dir, prog, a.seconds) if bulk \
            else publish_open_loop(gen, seg_dir, prog, a.seconds)
        wait_for(lambda: prog.covered() >= segs[-1].name, 60, "the last commit", prog)
    except BaseException:
        open(conf["stop"], "w").close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        raise
    open(conf["stop"], "w").close()
    r = finish_jvm(jvm, run_dir, 60)
    prog.poll()

    # commit of every segment: the first batch covering it
    batches = sorted(prog.batches, key=lambda b: b["batch"])
    commit, i = {}, 0
    for b in batches:
        while i < len(segs) and b["last"] and segs[i].name <= b["last"]:
            commit[segs[i].name] = b
            i += 1
    timed = [s for s in segs if s.timed]
    samples = []
    for s in timed:
        lag = commit[s.name]["end_ms"] - (s.published if bulk else s.due) * 1000
        samples += [(lag, commit[s.name]["batch"])] * s.entries
    # throughput and CPU over the batches after the one that took the last
    # warm-up segment, up to the one that took the last segment
    warm = commit[[s for s in segs if not s.timed][-1].name]
    last = commit[segs[-1].name]
    window_events = sum(s.entries for s in timed if commit[s.name]["batch"] > warm["batch"])
    window_s = (last["end_ms"] - warm["end_ms"]) / 1000
    if bulk:   # closed loop: from the first timed publication to the last commit
        window_events = sum(s.entries for s in timed)
        window_s = last["end_ms"] / 1000 - timed[0].published
    cpu_ms = (last["cpu_ns"] - warm["cpu_ns"]) / 1e6
    loop_events = sum(s.entries for s in segs)
    tail = stats.tail(samples, TAIL_PERCENTILE)
    late = [s.published - s.due for s in segs]
    print(f"generator: {len(segs)} segments, {loop_events} entries; late by "
          f"p50 {stats.median(late) * 1000:.2f} ms, max {max(late) * 1000:.2f} ms")
    print(f"micro-batches in the timed window: {len({b for _, b in samples})}; p{TAIL_PERCENTILE} lag "
          + (f"{tail:.1f} ms" if tail is not None else "not supported by this sample"))

    # checks against the generator's model
    ok, failures = check_sink(gen, conf["sink_dump"])
    last_ts = gen.ts
    offsets = [int(b["offset"]) for b in batches if b["offset"] is not None]
    offset_ok = r["offset"] == str(last_ts) and offsets == sorted(offsets)
    if not offset_ok:
        log(f"stored offset {r['offset']} (history {offsets[:3]}...) vs last published {last_ts}")
    if r["dead_letters"]:
        log(f"{r['dead_letters']} dead letters")
    if r["stream_error"]:
        log(f"stream error: {r['stream_error']}")
    attempted = HISTORY + loop_events
    failed = r["dead_letters"] + failures
    correct = ok and offset_ok and not r["dead_letters"] and not r["stream_error"]
    reps = r["setup_reps"][1:]   # the first one warms the JVM
    sync_ms = stats.median([rep["sync_ms"] for rep in reps])
    e2e = {
        # the median set-up repetition: the sink bootstrap, then the
        # from-scratch Replicator.run until the tail has started
        "setup_s": stats.median([rep["bootstrap_ms"] + rep["sync_ms"] for rep in reps]) / 1000,
        "cpu_ms_per_op": cpu_ms / window_events,
    }
    lag = stats.median([x for x, _ in samples])
    print(f"session start: {r['session_ms'] / 1000:.2f} s; initial sync: {snapshot_rows} documents "
          f"in {sync_ms / 1000:.2f} s ({snapshot_rows / (sync_ms / 1000):.0f} rows/s, median of "
          f"{len(reps)}: {', '.join(str(round(x['bootstrap_ms'] + x['sync_ms'])) for x in reps)} ms); commit lag p50 {lag:.1f} ms; {window_events / window_s:.1f} events/s")
    layers = None
    if a.trace:
        layers = cdc_layers(r, batches, timed, commit, warm, window_events,
                            HISTORY + loop_events)
        layers["replicator.commit_lag_ms_p50"] = lag
        layers["run.throughput_per_s"] = window_events / window_s
    return attempted, failed, correct, e2e, layers, r


def check_sink(gen, dump_path):
    """Every sink row equals the model's projection; nothing else is there."""
    sink = {c: {} for c in cdcgen.COLLECTIONS}
    with open(dump_path) as f:
        for line in f:
            j = json.loads(line)
            sink[j["table"]][j["row"]["_id"]] = j["row"]
    bad = 0
    for c in cdcgen.COLLECTIONS:
        for key in set(sink[c]) | set(gen.model.docs[c]):
            want, got = gen.model.project(c, key), sink[c].get(key)
            if want is None or got is None:
                same = want is None and got is None
            else:
                same = all(cdcgen.parse_sink_value(col, got[col]) == v for col, v in want.items())
            if not same:
                bad += 1
                if bad <= 5:
                    log(f"sink {c}/{key}: got {got}, want {want}")
    return bad == 0, bad


def cdc_layers(r, batches, segs, commit, warm, loop_events, all_events):
    """Per-layer figures over the timed batches: those after `warm`, the batch
    that took the last warm-up segment, up to the one that took the last."""
    last = max(commit[s.name]["batch"] for s in segs)
    timed = [b for b in batches if warm["batch"] < b["batch"] <= last]
    lay = r["layers"]
    per_batch = {b["batch"]: b for b in lay["batches"]}
    tb = [per_batch[b["batch"]] for b in timed if b["batch"] in per_batch]

    def p50(key):
        return stats.median([b["durations"].get(key, 0) for b in timed]) if timed else 0.0

    # backlog: entries published before a batch started that no earlier batch took
    backlog, taken = 0, 0
    for b in timed:
        published = sum(s.entries for s in segs if s.published * 1000 <= b["start_ms"])
        backlog = max(backlog, published - taken)
        taken = sum(s.entries for s in segs if commit[s.name]["batch"] <= b["batch"])
    jd = lambda k: timed[-1]["jdbc"][k] - warm["jdbc"][k] if timed else 0  # noqa: E731
    nb = max(1, len(timed))
    kev = loop_events / 1000
    m = zero_layers()
    m.update({
        "replicator.batch_ms_p50": p50("triggerExecution"),
        "replicator.add_batch_ms_p50": p50("addBatch"),
        "replicator.plan_ms_p50": p50("queryPlanning"),
        "replicator.checkpoint_ms_p50":
            stats.median([b["durations"].get("walCommit", 0) + b["durations"].get("commitOffsets", 0)
                          for b in timed]) if timed else 0.0,
        "replicator.jobs_per_batch": sum(b["jobs"] for b in tb) / nb,
        "replicator.tasks_per_batch": sum(b["tasks"] for b in tb) / nb,
        "replicator.gap_ms_p50": stats.median([b["gap_ms"] for b in tb]) if tb else 0.0,
        "sources.latest_offset_ms_p50": p50("latestOffset"),
        "sources.get_batch_ms_p50": p50("getBatch"),
        "sources.backlog_events_max": backlog,
        "sources.read_ms_per_kevent": lay["read_ms"] / (all_events / 1000),
        "changelog.decode_ms_per_kevent": lay["decode_ms"] / (all_events / 1000),
        "sink.apply_ms_per_kevent": lay["apply_ms"] / (all_events / 1000),
        "sink.round_trips_per_kevent": jd("round_trips") / kev,
        "sink.connections_per_batch": jd("connections") / nb,
        "sink.commits_per_batch": jd("commits") / nb,
        "sink.schema_sync_ms": lay["schema_sync_ms"], "sink.snapshot_ms": lay["snapshot_ms"],
        "sink.orphan_delete_ms": lay["orphan_delete_ms"],
        "operators.jobs": sum(b["jobs"] for b in tb) / kev,
        "operators.tasks": sum(b["tasks"] for b in tb) / kev,
        "operators.gap_ms": sum(b["gap_ms"] for b in tb) / kev,
        "operators.shuffle_write_bytes": sum(b["shuffle_write"] for b in tb) / kev,
        "operators.shuffle_read_bytes": sum(b["shuffle_read"] for b in tb) / kev,
        "operators.partition_skew_max": max([b["skew"] for b in tb] or [0.0]),
        "operators.input_bytes": sum(b["input"] for b in tb) / kev,
        "operators.spill_bytes": sum(b["spill"] for b in tb) / kev,
        "operators.leaked_rdds": r.get("leaked_rdds", 0),
        "jvm.gc_ms": r["gc_ms"], "jvm.heap_peak_mb": r["heap_peak_mb"],
    })
    return m


# ---------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "Replicator.scala")):
        log(f"the program's sources are missing under {PROGRAM_SRC}; "
            "run from the root of a full checkout")
        sys.exit(2)
    cp, src_hash = build()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload.startswith("cdc_"):
        attempted, failed, correct, e2e, layers, raw = run_cdc(a, cp, run_dir)
    else:
        attempted, failed, correct, e2e, layers, raw = run_registry(a, cp, src_hash, run_dir)
    if correct:   # a run that fails a check keeps its directory for inspection
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        log(f"kept {os.path.relpath(run_dir, ROOT)}")
    metrics = layers if a.trace else e2e
    units = PER_LAYER if a.trace else END_TO_END
    if a.trace:
        art = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(art), exist_ok=True)
        raw.pop("execs", None)
        with open(art, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "metrics": layers,
                       "end_to_end_traced": e2e, "raw": raw}, f, indent=1)
        print(f"traced artifact: {os.path.relpath(art, ROOT)}")
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
                      "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
