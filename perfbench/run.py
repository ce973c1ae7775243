#!/usr/bin/env python3
"""The repository benchmark: one command, four legs, every run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program and
the harness (perfbench/harness, an sbt build of its own that depends on the
checkout's build) into sbt's usual target directories; later runs reuse the
build while the sources are unchanged. Everything a run writes goes under
`.bench_build/perfbench/`.

Each run starts two processes: the system under test (graft.perfbench.Server:
Spark local[nproc] running the batch suite, the log pipeline, then the real
ServiceShell over loopback) and the load generator (graft.perfbench.Gen, a
separate JVM with the JDK WebSocket client). A run goes through four legs:

  live_tail       open loop: four NEXT consumers, one hot key, one
                  bounds-marked segment per key per tick, stepping through a
                  ladder of aggregate rates; frames timed from due time.
  replay_catchup  closed loop: four consumers reconnect with seeded
                  ordinal / timestamp / datetime seeks and drain each log.
  log_pipeline    GraftLog source -> EventStreamPipeline.enrich -> GraftLog
                  sink (four warm-up micro-batches, then 100k rows in 10
                  micro-batches), then the watermarked correlateStreams join
                  over a shifted twin log (10k pairs, 5 micro-batches); both
                  rates are medians over the measured micro-batches.
  batch_suite     a fixed slice of SparkEntry.queries: a warm-up pass that
                  checks each result against perfbench/fingerprints.json,
                  then a timed pass (noop write, one query at a time; the
                  short queries run twice and count their faster run).

The two workloads differ in the message mix (JSON-heavy or protobuf-text
heavy) and in which suite slice they run. --seed picks the message bodies,
their order, the A3 edge cases and the replay seeks; the suite tables are
fixed so that fingerprints stay valid.

Every frame, pipeline row, join pair and query result is checked; any
violation makes `correct` false and the exit code 1. With --trace 1 the
listeners and spans are on, the per-layer metrics are printed, and the span
dump, the per-layer map and the tracing overhead against the median of the
untraced runs of the workload in this checkout are written under
.bench_build/perfbench/trace/.

Developer option: --record-fingerprints writes this run's suite results into
perfbench/fingerprints.json (only after a DuckDB-oracle-green check, see
perfbench/README.md).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # keep the benchmark's own directory clean

import gen_tables  # noqa: E402

P99_LIMIT_MS = 1000.0
SUITE_SEED, SUITE_SCALE = 42, 1
EPOCH_MS = 1704067200000  # 2024-01-01T00:00:00Z

# Traffic shape. Neither the reference nor FIXTURES.md gives per-key shares,
# body mixes or rates, so these are stipulated (perfbench/README.md lists
# each with its basis and what runs showed about its effect).
# Key shares follow Zipf's law with exponent 1 over four keys (1 : 1/2 : 1/3
# : 1/4), so key 0 is the hot key.
LIVE_SHARES = [0.48, 0.24, 0.16, 0.12]
# Aggregate offered rates (msgs/s) and each step's share of the live leg's
# time. The base step is the lowest rate whose step holds 1,000 forwardable
# frames at --seconds 10, so its p99 has ten samples beyond it. The others
# were measured with these four consumers on a 4-core host: 8,000 holds a
# p99 of 0.43-0.64 s (20 runs); the service drains about 45,000 msgs/s at
# most, so 64,000 sat just over the 1,000 ms limit (p99 1.15 s in a trial
# run) and could flip run to run, while 128,000 leaves a backlog of 70,000
# to 97,000 messages at the end of its step and fails by 1.3x to 2.1x (p99
# 1.29-2.10 s). The top step fails today, and a program that sustains it
# moves live.max_rate_msgs_per_s up one step. The top step is shorter: under
# a second of overload shows it, and its frames cost drain and check time.
LIVE_LADDER = [600, 8000, 128000]
LIVE_STEP_SHARES = [0.435, 0.435, 0.13]
# Distinct message bodies per run: the `events` row count at sf0.01
# (FIXTURES.md B: 1,000 rows at sf0.001, x10 per step).
POOL_SIZE = 10000

# Two slices of SparkEntry.queries, one per workload: together they cover
# every query family (d g m p q r s t v); each has one iterative, job-heavy
# query (q_recursive_cte, d_corpus_build_v2). The number is how many timed
# runs a query gets (its fastest counts): two for the ones that take about
# a second or less once warm, where one host stall weighs most; one for the
# ones that take two seconds or more.
SUITE_SLICES = {
    "a": {"q_recursive_cte": 1, "g_kcore": 2, "m_phash_neardup": 2, "s_seek_timestamp": 2,
          "t_lang_id": 2},
    "b": {"d_corpus_build_v2": 1, "v_neardup_cosine": 2, "r_drift_detect": 1,
          "p_forward_filter": 2, "q1_agg": 2},
}

WORKLOADS = {
    "json_mix": {"mix": {"json": 0.80, "proto": 0.15, "empty": 0.025, "malformed": 0.025},
                 "slice": "a"},
    "proto_mix": {"mix": {"json": 0.15, "proto": 0.80, "empty": 0.025, "malformed": 0.025},
                  "slice": "b"},
}

END_TO_END = [
    ("live.base.frame_p50_ms", "ms"), ("live.base.frame_p99_ms", "ms"),
    ("live.peak.frame_p50_ms", "ms"), ("live.peak.frame_p99_ms", "ms"),
    ("live.max_rate_msgs_per_s", "msgs/s"), ("replay.first_frame_ms", "ms"),
    ("replay.frames_per_s", "frames/s"), ("pipeline.rows_per_s", "rows/s"),
    ("join.pairs_per_s", "rows/s"), ("suite.total_s", "s"),
    ("suite.query_p50_ms", "ms"), ("setup_s", "s"), ("mem_peak_mb", "MB"),
]
PHASES = [("latest_offset", "latestOffset"), ("get_batch", "getBatch"),
          ("planning", "queryPlanning"), ("add_batch", "addBatch"),
          ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets")]
FAMILIES = "dgmpqrstv"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ----------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "harness" / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    files += [HERE / "harness" / "build.sbt", HERE / "harness" / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness once per source state; return the classpath."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        die("no program sources at the checkout root (build.sbt, src/main/scala)")
    WORK.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = source_stamp(), WORK / "classpath.txt"
    if cp_file.exists() and (WORK / "build.stamp").exists() \
            and (WORK / "build.stamp").read_text() == stamp:
        return cp_file.read_text().strip()
    log = WORK / "build.log"
    t0 = time.time()
    with open(log, "w") as f:
        # own session: a timeout kills sbt's JVM too, not just its launcher
        sbt = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE / "harness", stdout=f, stderr=subprocess.STDOUT, env=sbt_env(),
            start_new_session=True)
        try:
            rc = sbt.wait(timeout=840)
        except subprocess.TimeoutExpired:
            os.killpg(sbt.pid, signal.SIGKILL)
            sbt.wait()
            rc = -1
    lines = log.read_text().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (sbt exit {rc}), log in {log}", 1)
    cp_file.write_text(cp[-1])
    (WORK / "build.stamp").write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1]


# ---------------------------------------------------------------- inputs

def suite_tables():
    d = WORK / f"suite_s{SUITE_SEED}_x{SUITE_SCALE}"
    if not (d / "embeddings.parquet").exists():
        tmp = d.with_suffix(".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.tables(str(tmp), SUITE_SEED, SUITE_SCALE)
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def message_pool(path, seed, mix, n=POOL_SIZE):
    """Message bodies built from seeded `events` rows: FIXTURES.md A1 (JSON)
    and A2 (protobuf-text), plus a share of A3 edge cases (empty body,
    malformed `{...`) that must never be delivered."""
    r = random.Random(seed)
    ev = gen_tables.events(random.Random(seed ^ 0x5EED), n, 500)
    kinds, weights = zip(*mix.items())
    ts, uids = ev["ts"].to_pylist(), ev["user_id"].to_pylist()
    lines = []
    for i in range(n):
        t = ts[i]
        iso = t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}+00:00"
        etype = ev["event_type"][i]
        cls = "accountserver.Event" + etype.capitalize()
        eid, uid, val = i, uids[i], ev["value"][i]
        k = json.loads(ev["props"][i])["k"]
        kind = r.choices(kinds, weights)[0]
        if kind == "json":
            body = json.dumps({"message_type": cls, "message_body": {
                "timestamp": iso, "event_id": eid, "user_id": uid, "event_type": etype,
                "value": val, "props": {"k": k}}})
        elif kind == "proto":
            body = (f'{cls}|timestamp: "{iso}" event_id: {eid} user_id: {uid} '
                    f'event_type: "{etype}" value: "{val}" k: {k}')
        elif kind == "empty":
            body = ""
        else:
            body = f'{{"message_type": "{cls}", "message_body": {{"event_id": {eid}'
        lines.append(f"{kind}\t{body}")
    # written under another name and renamed: the server waits for the file
    tmp = Path(str(path) + ".tmp")
    tmp.write_text("\n".join(lines) + "\n")
    tmp.rename(path)


# ------------------------------------------------------------------- run

def java_cmd(cp, main, cfg_path, run_dir, heap, extra=()):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", *opens, *extra, f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main, str(cfg_path)]


def stop(procs):
    for p in procs:
        if p.poll() is None:
            p.send_signal(signal.SIGTERM)
    for p in procs:
        try:
            p.wait(timeout=10)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()


def run_processes(cp, cfg, run_dir, deadline, make_inputs):
    cfg_path = run_dir / "config.json"
    cfg_path.write_text(json.dumps(cfg, indent=1))
    procs = []
    try:
        with open(run_dir / "server.log", "w") as so:
            server = subprocess.Popen(java_cmd(cp, "graft.perfbench.Server", cfg_path, run_dir, "3g"),
                                      stdout=so, stderr=subprocess.STDOUT, cwd=run_dir)
        procs.append(server)
        # the server needs the message pool only after the suite leg
        make_inputs()
        # the generator waits for the server's ports file itself
        with open(run_dir / "gen.log", "w") as go:
            # C1 only and a serial collector: the generator's own JIT and GC
            # threads stay off the cores the server needs. A young generation
            # large enough that, collected just before each leg, it takes the
            # live ladder's base and peak steps without a collection (a pause
            # there would delay frame receipt and show as frame latency);
            # touched at start-up, while the server starts Spark.
            gen = subprocess.Popen(java_cmd(cp, "graft.perfbench.Gen", cfg_path, run_dir, "1g",
                                            ["-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC",
                                             "-Xms1g", "-Xmn640m", "-XX:+AlwaysPreTouch"]),
                                   stdout=go, stderr=subprocess.STDOUT, cwd=run_dir)
        procs.append(gen)
        names = {server: "server", gen: "gen"}
        while any(p.poll() is None for p in procs):
            for p in procs:
                if p.poll() not in (None, 0):
                    raise RuntimeError(f"{names[p]} exited {p.returncode}; "
                                       f"see {run_dir}/{names[p]}.log")
            if time.time() > deadline:
                raise RuntimeError(f"timed out; see {run_dir}/server.log and gen.log")
            time.sleep(0.1)
        for p in procs:
            if p.returncode != 0:
                raise RuntimeError(f"{names[p]} exited {p.returncode}; see {run_dir}/{names[p]}.log")
    finally:
        stop(procs)
    return (json.loads((run_dir / "gen.json").read_text()),
            json.loads((run_dir / "server_result.json").read_text()))


def pct(xs, p):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    k = max(0, min(len(xs) - 1, -(-int(p * len(xs)) // 100) - 1))
    return xs[k]


def end_to_end(gen, srv):
    steps = gen["live"]["steps"]
    sustained = [s for s in steps if s["sustained"]]
    peak = sustained[-1] if sustained else steps[0]
    return {
        "live.base.frame_p50_ms": steps[0]["p50_ms"],
        "live.base.frame_p99_ms": steps[0]["p99_ms"],
        "live.peak.frame_p50_ms": peak["p50_ms"],
        "live.peak.frame_p99_ms": peak["p99_ms"],
        "live.max_rate_msgs_per_s": peak["rate"] if sustained else 0.0,
        "replay.first_frame_ms": statistics.median(gen["replay"]["first_frame_ms"] or [0.0]),
        "replay.frames_per_s": gen["replay"]["frames"] / gen["replay"]["secs"],
        "pipeline.rows_per_s": srv["pipeline"]["rows_per_s"],
        "join.pairs_per_s": srv["join"]["pairs_per_s"],
        "suite.total_s": srv["suite"]["total_s"],
        "suite.query_p50_ms": srv["suite"]["query_p50_ms"],
        "setup_s": statistics.median(gen["setup"]["round_secs"]),
        "mem_peak_mb": srv["mem_peak_mb"],
    }


def es_key(name):
    # es-<routing key>-<8-char consumer id>
    return name[3:-9]


def offset(s):
    try:
        return json.loads(s)["ord"] if s else None
    except (ValueError, KeyError, TypeError):
        return None


def per_layer(gen, srv, batches, msgs, failed, attempted):
    m = {}
    m["shell.create_ms"] = pct(gen["setup"]["create_ms"], 50)
    m["shell.admit_ms"] = pct(gen["setup"]["admit_ms"], 50)
    m["shell.frames"] = gen["frames"]
    m["shell.bad_closes"] = gen["bad_closes"]

    es = [b for b in batches if b["name"] and b["name"].startswith("es-") and b["input_rows"] > 0]
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in es]
    m["batch.count"] = len(es)
    m["batch.rows_p50"] = pct([b["input_rows"] for b in es], 50) if es else 0
    m["batch.trigger_p50_ms"] = pct(trig, 50) if es else 0
    for short, key in PHASES:
        xs = [b["duration_ms"].get(key, 0) for b in es]
        m[f"batch.{short}_ms"] = pct(xs, 50) if es else 0
        m[f"batch.{short}.share"] = sum(xs) / sum(trig) if sum(trig) else 0
    rec = sum(b.get("received", 0) for b in es)
    m["ess.sent_over_received"] = sum(b.get("sent", 0) for b in es) / rec if rec else 0

    # per message: each live frame joined to the batch whose offset range holds it
    ranges = {}
    for b in es:
        lo, hi = offset(b.get("start_offset")), offset(b.get("end_offset"))
        if hi is not None:
            ranges.setdefault(es_key(b["name"]), []).append((-1 if lo is None else lo, hi, b["start_ms"]))
    pick, inb = [], []
    for key, o, pub, recv in msgs:
        for lo, hi, start in ranges.get(key, ()):
            if lo < o <= hi:
                pick.append(max(0, start - pub))
                inb.append(max(0, recv - start))
                break
    m["msg.pickup_wait_p50_ms"] = pct(pick, 50) if pick else 0
    m["msg.pickup_wait_p99_ms"] = pct(pick, 99) if pick else 0
    m["msg.in_batch_p50_ms"] = pct(inb, 50) if inb else 0
    m["msg.in_batch_p99_ms"] = pct(inb, 99) if inb else 0
    m["gen.late_p99_ms"] = gen["live"]["late_ms"][1]

    svc = srv["service"]
    all_es = [b for b in batches if b["name"] and b["name"].startswith("es-")]
    m["graftlog.segments_per_key"] = svc.get("segments_per_key", 0)
    m["graftlog.files_opened_per_batch"] = svc["files_opened"] / max(1, len(all_es))
    m["graftlog.max_ordinal_ms"] = svc.get("max_ordinal_ms", 0)
    rp = [b for b in es if es_key(b["name"]).startswith("replay_")]
    sent = sum(b.get("sent", 0) for b in rp)
    m["replay.rows_read_over_sent"] = sum(b["input_rows"] for b in rp) / sent if sent else 0
    m["envelope.rows_per_s"] = srv["envelope"]["rows_per_s"]

    pl = [b for b in batches if b["name"] == "perfbench-pipeline" and b["input_rows"] > 0]
    for short, key in (("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                       ("commit_offsets", "commitOffsets")):
        m[f"pipeline.{short}_ms"] = pct([b["duration_ms"].get(key, 0) for b in pl], 50) if pl else 0
    jn = [b for b in batches if b["name"] == "perfbench-join"]
    m["join.state_rows_max"] = max([sum(s["rows_total"] for s in b["state"]) for b in jn] or [0])
    m["join.state_bytes_max"] = max([sum(s["memory_bytes"] for s in b["state"]) for b in jn] or [0])
    m["join.state_commit_ms"] = sum(s["commit_ms"] for b in jn for s in b["state"])
    m["join.late_rows_dropped"] = sum(s["dropped_by_watermark"] for b in jn for s in b["state"])

    layers = srv["suite_layers"]
    cpus = srv["suite"]["cpus"]
    tot = lambda k, qs=layers: sum(v.get(k, 0) for v in qs.values())  # noqa: E731
    for k in ("build_ms", "plan_ms", "exec_ms", "jobs", "stages", "tasks", "exec_run_ms",
              "exec_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes"):
        m[f"suite.{k}"] = tot(k)
    m["suite.driver_gap_ms"] = sum(max(0.0, v["wall_ms"] - v.get("exec_run_ms", 0))
                                   for v in layers.values())
    wall = tot("wall_ms")
    m["suite.core_busy_ratio"] = tot("exec_run_ms") / (wall * cpus) if wall else 0
    for f in FAMILIES:
        fam = {q: v for q, v in layers.items() if q.startswith(f)}
        for k in ("build_ms", "exec_ms", "jobs"):
            m[f"suite.{f}.{k}"] = tot(k, fam)
    m["mem.rss_peak_mb"] = srv["rss_peak_mb"]
    m["failed_ratio"] = failed / attempted
    return m


def spans_dump(gen_dir, batches, msgs):
    """All spans of the traced run: suite and set-up spans recorded in the
    processes, plus batch and per-message spans rebuilt from progress and
    client timestamps."""
    spans = []
    for f in ("server_spans.json", "gen_spans.json"):
        p = gen_dir / f
        if p.exists():
            spans += json.loads(p.read_text())
    order = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"]
    batch_of = {}
    for b in batches:
        rid = f"{b['name']}#{b['batch_id']}"
        d, t = b["duration_ms"], b["start_ms"]
        spans.append({"name": "batch", "start_ms": t, "end_ms": t + d.get("triggerExecution", 0),
                      "parent": b["name"], "request_id": rid})
        for ph in order:
            if ph in d:
                spans.append({"name": f"batch.{ph}", "start_ms": t, "end_ms": t + d[ph],
                              "parent": "batch", "request_id": rid})
                t += d[ph]
        if b["name"] and b["name"].startswith("es-"):
            lo, hi = offset(b.get("start_offset")), offset(b.get("end_offset"))
            if hi is not None:
                batch_of.setdefault(es_key(b["name"]), []).append(
                    (-1 if lo is None else lo, hi, b["start_ms"], rid))
    for key, o, pub, recv in msgs:
        for lo, hi, start, rid in batch_of.get(key, ()):
            if lo < o <= hi:
                spans.append({"name": "msg.pickup_wait", "start_ms": pub, "end_ms": start,
                              "parent": rid, "request_id": f"{key}:{o}"})
                spans.append({"name": "msg.in_batch", "start_ms": start, "end_ms": recv,
                              "parent": rid, "request_id": f"{key}:{o}"})
                break
    return spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    wl = WORKLOADS[a.workload]

    cp = build()
    t_start = time.time()
    suite_dir = suite_tables()
    run_dir = WORK / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cfg = {
        "run_dir": str(run_dir), "seed": a.seed, "trace": bool(a.trace),
        "cpus": len(os.sched_getaffinity(0)), "messages": str(run_dir / "messages.tsv"),
        "setup_rounds": 3, "live_shares": LIVE_SHARES,
        "live_ladder": LIVE_LADDER, "live_step_shares": LIVE_STEP_SHARES, "tick_ms": 100,
        "live_secs": a.seconds * 0.7, "replay_secs": a.seconds * 0.3,
        "drain_secs": 15, "p99_limit_ms": P99_LIMIT_MS,
        "replay_consumers": 4, "replay_records": 3000, "replay_segment": 250,
        "replay_epoch_ms": EPOCH_MS, "pipeline_rows": 100000, "pipeline_warmup_batches": 4,
        "join_rows": 10000, "join_batches": 5,
        "suite_dir": str(suite_dir), "suite_runs": dict(sorted(SUITE_SLICES[wl["slice"]].items())),
        "fingerprints": str(HERE / "fingerprints.json"),
        "record_fingerprints": a.record_fingerprints, "service_timeout_s": 150,
        # the server opens the shell only after the batch legs
        "server_wait_s": 160,
    }
    try:
        gen, srv = run_processes(
            cp, cfg, run_dir, t_start + 170,
            lambda: message_pool(run_dir / "messages.tsv", a.seed, wl["mix"]))
    except RuntimeError as e:
        die(str(e), 1)

    failures = {**gen["failures"], **{k: v for k, v in srv["failures"].items()}}
    failed = sum(failures.values())
    attempted = gen["attempted"] + srv["attempted"]
    print(f"legs: {gen['leg_secs']} {srv['leg_secs']}; run {time.time() - t_start:.1f} s",
          file=sys.stderr)
    e2e = end_to_end(gen, srv)
    units = dict(END_TO_END)
    for k, v in e2e.items():
        print(f"{k} = {v:.4f} {units[k]}")
    steps = gen["live"]["steps"]
    print("live ladder: " + ", ".join(
        f"{s['rate']:.0f} msgs/s: {s['msgs']} msgs p50 {s['p50_ms']:.0f} p99 {s['p99_ms']:.0f} ms"
        + ("" if s["sustained"] else " (not sustained)") for s in steps))
    print(f"failed_ratio = {failed}/{attempted} = {failed / attempted:.6f}"
          + (f"  {failures}" if failed else ""))

    if a.trace:
        batches = json.loads((run_dir / "server_batches.json").read_text())
        msgs = []
        for line in (run_dir / "gen_msgs.tsv").read_text().splitlines():
            k, o, pub, recv, _ = line.split("\t")
            msgs.append((k, int(o), int(pub), int(recv)))
        layers = per_layer(gen, srv, batches, msgs, failed, attempted)
        out = WORK / "trace" / f"{a.workload}-s{a.seed}"
        out.mkdir(parents=True, exist_ok=True)
        (out / "spans.json").write_text(json.dumps(spans_dump(run_dir, batches, msgs)))
        (out / "per_layer.json").write_text(json.dumps(layers, indent=1))
        # overhead: this traced run against the median of the untraced runs
        # of the workload kept in the checkout
        ref_dir = WORK / "untraced" / a.workload
        refs = [json.loads(p.read_text()) for p in sorted(ref_dir.glob("*.json"))] \
            if ref_dir.exists() else []
        overhead = {}
        if refs:
            for k in e2e:
                ref = statistics.median(r[k] for r in refs)
                if ref:
                    overhead[k] = (e2e[k] - ref) / ref
                    print(f"trace overhead {k}: traced {e2e[k]:.4f} untraced median "
                          f"{ref:.4f} over {len(refs)} runs ({overhead[k]:+.1%})")
        else:
            print("trace overhead: no untraced run of this workload yet")
        (out / "overhead.json").write_text(json.dumps(overhead, indent=1))
        print(f"spans and per-layer map: {out}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        (WORK / "untraced" / a.workload).mkdir(parents=True, exist_ok=True)
        (WORK / "untraced" / a.workload / f"s{a.seed}.json").write_text(json.dumps(e2e))
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
    shutil.rmtree(run_dir / "logs", ignore_errors=True)
    shutil.rmtree(run_dir / "pipeline", ignore_errors=True)
    shutil.rmtree(run_dir / "join", ignore_errors=True)
    shutil.rmtree(run_dir / "tmp", ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


def layer_unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_max"):
        return "bytes"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith(".share") or name.endswith("_ratio") or "_over_" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
