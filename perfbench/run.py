#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload {ingest,log_query,curation} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
JVM harness from source with sbt (outputs under .bench_build/ and the
sbt target directories); later runs reuse the build until a source or
build file changes. Each run generates
its inputs from the seed, drives the program through its public entry
points, checks every output against ground truth, and prints one JSON
object as its last line of standard output:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones plus the tracing overhead against an untraced run
of the same seed, made first. See perfbench/README.md.
"""
import argparse
import collections
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

import gen
import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
RUN_TIMEOUT_S = 170

# ingest: open loop, `rate` rec/s (warm-up, then the measured steady
# phase of --seconds) followed by a 65,536-record burst. The collector
# queue holds two bursts, as in graft.Bench: with the reference's 65,536
# the collector drops as many records as its previous micro-batch read
# (see README.md).
INGEST = {"rate": 1000, "warmup_s": 1.0, "burst_size": 65536, "bursts": 1,
          "burst_gap_s": 14.0, "lead_s": 1.0, "max_queue": 131072, "latency_limit_ms": 5000}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

# what the compiled classpath depends on: the build files and main
# sources of the program (repository root) and of the harness
SOURCES = ((ROOT, ("build.sbt", "project", os.path.join("src", "main"))),
           (HERE, ("build.sbt", "project", "src")))


def source_digest():
    """sha256 over the paths and contents of every file in SOURCES (sbt's
    own target/ and meta-build directories left out).
    """
    h = hashlib.sha256()
    for base, names in SOURCES:
        for name in names:
            top = os.path.join(base, name)
            files = [top] if os.path.isfile(top) else []
            for d, dirs, fs in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, f) for f in sorted(fs)]
            for path in files:
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath.
    The classpath is cached in .bench_build/ under a digest of the
    sources, so sbt runs again (incrementally) whenever a source or
    build file changes, and the run measures the code next to it.
    """
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala/graft)")
    digest = source_digest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            cached = f.read().split("\n")
        if cached[0] == digest and len(cached) > 1:
            return cached[1].strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building the program and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed (see .bench_build/build.log)")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def jvm(cp, workload, workdir):
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens + [
        "-cp", cp, "graft.perfbench.Harness", workload, workdir]


class Harness:
    """One harness JVM: launched, read until READY, then waited for."""

    def __init__(self, cp, workload, workdir, params):
        with open(os.path.join(workdir, "params.json"), "w") as f:
            json.dump(params, f)
        self.workdir = workdir
        self.err = open(os.path.join(workdir, "harness.log"), "w")
        self.launch = time.time()
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(workdir, "spark-local"))
        self.proc = subprocess.Popen(
            jvm(cp, workload, workdir), cwd=ROOT, env=env,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.err, text=True)
        self.deadline = self.launch + RUN_TIMEOUT_S

    def ready(self):
        """Blocks until the harness prints `READY <epoch_ms> [port]`."""
        while True:
            line = self.proc.stdout.readline()
            if not line:
                self.kill()
                fail("harness exited before it was ready (see %s/harness.log)" % self.workdir)
            if line.startswith("READY "):
                parts = line.split()
                return int(parts[1]) / 1000.0, parts[2:]

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def result(self):
        try:
            self.proc.communicate(timeout=max(1, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            self.kill()
            fail("harness timed out")
        finally:
            self.err.close()
        if self.proc.returncode != 0:
            fail("harness failed with code %d (see %s/harness.log)"
                 % (self.proc.returncode, self.workdir))
        with open(os.path.join(self.workdir, "result.json")) as f:
            return json.load(f)

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def workdir_for(args, tag):
    d = os.path.join(BUILD, "runs", "%s-seed%d-%s" % (args.workload, args.seed, tag))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


# ---------------------------------------------------------------- ingest

def run_ingest(cp, args, trace):
    cfg = INGEST
    plan = {k: cfg[k] for k in ("rate", "warmup_s", "bursts", "burst_size", "burst_gap_s", "lead_s")}
    plan["steady_s"] = float(args.seconds)
    dues, phases = gen.ingest_plan(**plan)
    n = len(dues)
    recs = gen.ingest_records(args.seed, n)
    rng = random.Random(args.seed)
    good = [k for k in range(n) if not recs[k][0]]
    sample = sorted(rng.sample(good, min(300, len(good))))
    wd = workdir_for(args, "trace%d" % trace)
    with open(os.path.join(wd, "plan.json"), "w") as f:
        json.dump(plan, f)
    # 20,000 generator lines: set-up ingests them once to warm the write
    # path, and the traced run times the transform on them directly
    tpls = gen.templates(args.seed)
    os.makedirs(os.path.join(wd, "warm"))
    with open(os.path.join(wd, "warm", "lines.ndjson"), "w") as f:
        for k in range(20000):
            f.write(gen.ingest_line(tpls, k, recs[k], 1.7e9 + k / 1000.0) + "\n")
    params = {"cpus": nproc(), "trace": bool(trace), "seed": args.seed,
              "max_queue": cfg["max_queue"], "drain_timeout_s": 60,
              "sample_seqs": sample, "steady_records": phases["steady"][1]}
    h = Harness(cp, "ingest", wd, params)
    ready_s, extra = h.ready()
    setup_s = ready_s - h.launch
    sent_path = os.path.join(wd, "sent.json")
    g = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), "send",
                          "--seed", str(args.seed), "--port", extra[0],
                          "--plan", os.path.join(wd, "plan.json"), "--out", sent_path],
                         stdin=subprocess.DEVNULL)
    try:
        g.wait(timeout=max(1, h.deadline - time.time()))
    except subprocess.TimeoutExpired:
        g.kill()
        g.wait()
        h.kill()
        fail("generator timed out")
    if g.returncode != 0:
        h.kill()
        fail("generator failed")
    sent = json.load(open(sent_path))
    h.send("SENT %d" % sent["sent"])
    res = h.result()
    t0_ms = sent["t0"] * 1000.0
    due_ms = [t0_ms + d * 1000.0 for d in dues]
    check = check_ingest(args.seed, res, sent, dues, recs, sample)
    ranges = M.batch_ranges(res["progress"])
    s0, s1 = phases["steady"]
    steady = M.record_latencies(ranges, due_ms, range(s0, s1))
    # the unit of the bulk class is a whole burst: due -> its last record
    # queryable (a burst that straddles two micro-batches would otherwise
    # make the record median jump between the two batch ends)
    drains = [max(M.record_latencies(ranges, due_ms, range(b0, b1)) or [0.0])
              for name, (b0, b1) in sorted(phases.items()) if name.startswith("burst")]
    busy = [e["duration_ms"].get("triggerExecution", 0) for e in res["progress"]
            if e.get("rows", 0) > 0]
    e2e = {
        "setup_s": setup_s,
        "fixed_p50_ms": M.p(steady, 50), "fixed_p95_ms": M.p(steady, 95),
        "bulk_p50_ms": M.p(drains, 50), "bulk_p95_ms": M.p(drains, 95),
        "work_s": sum(busy) / 1000.0,
        "geomean_ms": M.geomean(steady + drains),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    detail = {"fixed_samples": len(steady), "bulk_samples": len(drains),
              "burst_drain_ms": drains, "batches": len(ranges),
              "steady_over_limit": sum(1 for x in steady if x > cfg["latency_limit_ms"])}
    layers = ingest_layers(res, sent, ranges, due_ms, phases) if trace else {}
    for d in ("store", "append-store", "checkpoint", "warm-store", "warm-checkpoint"):
        shutil.rmtree(os.path.join(wd, d), ignore_errors=True)
    return check, e2e, layers, detail, res


def check_ingest(seed, res, sent, dues, recs, sample):
    """Every sent sequence number exactly once in the right table: good
    records in `logs` (in the batch that read their offset), bad ones in
    `dead_letter` with the right reason; promoted columns and popped keys
    right on the sampled records. Returns (attempted, failed, notes): a
    record dropped, missing, duplicated or wrong counts once.
    """
    n = sent["sent"]
    t0 = sent["t0"]
    tpls = gen.templates(seed)
    ranges = M.batch_ranges(res["progress"])
    owner = M.record_batches(ranges, n)
    bad_seq = set()
    seen = {}
    for seq, batch in res["stored"]:
        if seq in seen or not (0 <= seq < n) or recs[seq][0]:
            bad_seq.add(seq)
        seen[seq] = batch
        if 0 <= seq < n and (owner[seq] is None or batch != "logs-%d" % ranges[owner[seq]][3]):
            bad_seq.add(seq)
    # dead letters carry only the raw line, and two malformed lines can
    # be equal, so they are compared as multisets of (line, reason)
    want_dead = collections.Counter()
    for k in range(n):
        kind = recs[k][0]
        if not kind:
            if k not in seen:
                bad_seq.add(k)
        else:
            want_dead[(gen.ingest_line(tpls, k, recs[k], round(t0 + dues[k], 3)), kind)] += 1
    got_dead = collections.Counter(tuple(d) for d in res["dead_letter"])
    bad_dead = sum(((want_dead - got_dead) + (got_dead - want_dead)).values())
    for row in res["sampled"]:
        k = row["seq"]
        created = round(t0 + dues[k], 3)
        rec = json.loads(gen.fill(tpls[recs[k][1]], k, created, recs[k][2]))
        want = {key: v for key, v in rec.items() if key not in gen.REMOVED}
        ok = (abs(row["time_us"] - int(created * 1e6)) <= 1
              and row["message"] == rec["message"]
              and row["correlation_id"] == rec["correlation_id"].lower()
              and row["date"] == time.strftime("%Y-%m-%d", time.gmtime(created))
              and json.loads(row["data_raw"]) == want)
        if not ok:
            bad_seq.add(k)
    if len(res["sampled"]) != len(sample):
        bad_seq.update(set(sample) - {r["seq"] for r in res["sampled"]})
    return n, len(bad_seq) + bad_dead, {"dropped": res["dropped"]}


def ingest_layers(res, sent, ranges, due_ms, phases):
    prog = [e for e in res["progress"] if e.get("rows", 0) > 0]
    d = lambda key: [e["duration_ms"].get(key, 0) for e in prog]
    s0, s1 = phases["steady"]
    steady_prog = [e for e in prog if (e.get("start_offset") or 0) >= s0 and e["end_offset"] <= s1]
    wall = (max(r[2] for r in ranges) - min(due_ms)) if ranges else 1.0
    backlog = [max(0, (e.get("latest_offset") or 0) - (e.get("end_offset") or 0))
               for e in res["progress"]]
    owner = M.record_batches(ranges, len(due_ms))
    # the wait of a steady record in the source: from its due (send) time
    # until the trigger that exposed it started
    start_of = {e["batch_id"]: e["timestamp_ms"] for e in prog}
    waits = [start_of[ranges[owner[k]][3]] - due_ms[k]
             for k in range(s0, s1) if owner[k] is not None]
    # jobs of the measured query only: the harness parents a job to the
    # addBatch span of its (query id, batch id), so the warm-up query's
    # jobs, which reuse the same batch ids, are left out
    add_batch = {s["id"]: s["attrs"]["batch_id"] for s in res["spans"]
                 if s["name"] == "batch.addBatch"}
    per_batch_jobs, per_batch_tasks = {}, {}
    for j in res["spans"]:
        b = add_batch.get(j["parent"]) if j["name"] == "spark.job" else None
        if b is not None:
            per_batch_jobs[b] = per_batch_jobs.get(b, 0) + 1
            per_batch_tasks[b] = per_batch_tasks.get(b, 0) + j["attrs"]["tasks"]
    read_batches = [e["batch_id"] for e in prog]
    direct = res.get("direct", {})
    return {
        "gen.lag_p99_ms": sent["lag_p99_ms"],
        "source.dropped": res["dropped"],
        "source.backlog_peak": max(backlog) if backlog else 0,
        "source.expose_wait_p50_ms": M.p(waits, 50),
        "batch.count": len(prog),
        "batch.rows_p50": M.p([e["rows"] for e in steady_prog], 50),
        "batch.trigger_p50_ms": M.p(d("triggerExecution"), 50),
        "batch.trigger_p95_ms": M.p(d("triggerExecution"), 95),
        "batch.latest_offset_p50_ms": M.p(d("latestOffset"), 50),
        "batch.planning_p50_ms": M.p(d("queryPlanning"), 50),
        "batch.wal_commit_p50_ms": M.p(d("walCommit"), 50),
        "batch.commit_offsets_p50_ms": M.p(d("commitOffsets"), 50),
        "batch.add_batch_p50_ms": M.p(d("addBatch"), 50),
        "batch.jobs_p50": M.p([per_batch_jobs.get(b, 0) for b in read_batches], 50),
        "batch.tasks_p50": M.p([per_batch_tasks.get(b, 0) for b in read_batches], 50),
        "batch.idle_frac": max(0.0, 1.0 - sum(d("triggerExecution")) / wall),
        "transform.ms_per_krow": direct.get("transform_ms_per_krow", 0.0),
        "transform.dead_letter_ms_per_krow": direct.get("dead_letter_ms_per_krow", 0.0),
        "store.append_p50_ms": direct.get("append_p50_ms", 0.0),
    }


# ---------------------------------------------------------------- log_query

# a 14-day store of 50,000 records in 4 epoch files, ingested by the real
# write path; one untimed round of the twelve ops, then `rounds_per_s` rounds
# per --seconds second
LOG_QUERY = {"records": 50000, "days": 14, "epochs": 4, "start_day": 19700,
             "rounds_per_s": 0.34}
POINT_OPS = ["lookup", "lookup_enrich", "spans", "recent"]
SCAN_OPS = ["range_count", "json_field", "contains", "search", "search_indexed",
            "bucket", "keys", "decompose"]
PATTERNS = ["%timeout%", "%connection refused%", "%deadlock detected%"]


def log_query_ops(seed, rounds, recs, pool, spans, tokens, cfg):
    """The seeded op sequence: `rounds` rounds, each the twelve ops in a
    shuffled order with their own parameters, the four point ops twice
    (they are cheap, and this gives both classes as many samples).
    """
    rng = random.Random(seed * 5 + 2)
    t0 = cfg["start_day"] * gen.DAY_S
    hours = cfg["days"] * 24
    span_ids = sorted({s["correlation_id"] for s in spans})
    used = sorted({r["correlation_id"] for r in recs})

    def window(h):
        a = t0 + rng.randrange(hours - h + 1) * 3600
        return {"from": a, "to": a + h * 3600}

    def cid(ids):
        c = rng.choice(ids)
        return c.upper() if rng.random() < 0.2 else c

    ops = []
    for _ in range(rounds):
        names = POINT_OPS * 2 + SCAN_OPS
        rng.shuffle(names)
        for name in names:
            o = {"op": name}
            if name in ("lookup", "lookup_enrich"):
                o["id"] = cid(used)
            elif name == "spans":
                o["id"] = cid(span_ids)
            elif name == "recent":
                o.update(window(24), n=20)
            elif name == "range_count":
                o.update(window(72))
            elif name == "json_field":
                o.update(window(72), field=rng.choice(["name", "levelname", "http_status"]))
            elif name == "contains":
                o["pairs"] = {"levelname": rng.choice(gen.LEVELS)[0], "name": rng.choice(gen.LOGGERS)}
            elif name == "search":
                o.update(window(48), patterns=rng.sample(PATTERNS, rng.randint(1, 2)))
            elif name == "search_indexed":
                o["patterns"] = ["%" + rng.choice(tokens) + "%"]
            elif name == "bucket":
                o.update(window(24), field="random_timing_data")
            elif name == "keys":
                o.update(window(24))
            elif name == "decompose":
                o.update(window(72))
            ops.append(o)
    return ops


def jtext(v):
    """A payload value as get_json_object returns it (None when absent)."""
    if v is None or isinstance(v, str):
        return v
    return json.dumps(v)


def log_query_truth(o, recs, context, spans):
    """The answer to op `o`, computed from the generator's records."""
    name = o["op"]
    inwin = lambda r: o["from"] <= r["created"] < o["to"]
    if name in ("lookup", "lookup_enrich", "spans"):
        cid = o["id"].lower()
        mine = [r for r in recs if r["correlation_id"] == cid]
        if name == "lookup":
            return sorted(r["seq"] for r in mine)
        if name == "lookup_enrich":
            plan = json.loads(context[cid])["plan"]
            return sorted([r["seq"], plan] for r in mine)
        return sorted([r["seq"], s["span_id"]] for s in spans if s["correlation_id"] == cid
                      for r in mine if s["time_start"] <= r["created"] <= s["time_end"])
    win = [r for r in recs if inwin(r)] if "from" in o else recs
    if name == "recent":
        return [r["seq"] for r in sorted(win, key=lambda r: -r["created"])[:o["n"]]]
    if name == "range_count":
        return [len(win)]
    if name == "json_field":
        c = {}
        for r in win:
            k = jtext(r.get(o["field"]))
            c[k] = c.get(k, 0) + 1
        return sorted(([k, v] for k, v in c.items()), key=str)
    if name == "contains":
        return [sum(1 for r in win if all(jtext(r.get(k)) == v for k, v in o["pairs"].items()))]
    if name == "search":
        lits = [p.strip("%") for p in o["patterns"]]
        return [sum(1 for r in win if any(l in r["message"].lower() for l in lits))]
    if name == "search_indexed":
        lit = o["patterns"][0].strip("%")
        return sorted(r["seq"] for r in win if lit in r["message"].lower())
    if name == "bucket":
        b = {}
        for r in win:
            h = int(r["created"] // 3600 * 3600)
            n, t = b.get(h, (0, 0.0))
            b[h] = (n + 1, t + r[o["field"]])
        return sorted([h, n, t] for h, (n, t) in b.items())
    if name == "keys":
        return sorted({k for r in win for k in r if k not in gen.REMOVED})
    if name == "decompose":
        c = {}
        for r in win:
            n, t = c.get(r["levelname"], (0, 0))
            c[r["levelname"]] = (n + 1, t + r["lineno"])
        return sorted([k, n, t] for k, (n, t) in c.items())
    raise ValueError(name)


def same_answer(name, got, want):
    if isinstance(got, dict):
        return False
    if name != "recent":
        got = sorted(got, key=str) if name == "json_field" else sorted(got)
    if name == "bucket":
        return len(got) == len(want) and all(
            g[0] == w[0] and g[1] == w[1] and abs(g[2] - w[2]) <= 1e-9 * max(1.0, abs(w[2]))
            for g, w in zip(got, want))
    return got == want


def run_log_query(cp, args, trace):
    cfg = LOG_QUERY
    files, recs, pool, tokens = gen.log_corpus(
        args.seed, cfg["records"], cfg["days"], cfg["epochs"], cfg["start_day"])
    context = gen.context_rows(args.seed, pool)
    spans = gen.span_rows(args.seed, recs)
    rounds = max(1, int(round(args.seconds * cfg["rounds_per_s"])))
    # the first round is set-up: untimed (its answers are checked too), so
    # the timed ops do not pay the query path's first-use costs
    ops = log_query_ops(args.seed, rounds + 1, recs, pool, spans, tokens, cfg)
    per_round = len(ops) // (rounds + 1)
    warm_ops, ops = ops[:per_round], ops[per_round:]
    wd = workdir_for(args, "trace%d" % trace)
    logs_dir = os.path.join(wd, "input", "logs")
    os.makedirs(logs_dir)
    input_bytes = 0
    for i, lines in enumerate(files):
        path = os.path.join(logs_dir, "epoch-%03d.json" % i)
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        # one distinct modification time per file: the file source reads
        # them in this order, one per trigger
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
        input_bytes += os.path.getsize(path)
    for name, rows in (("context", context), ("span", spans)):
        with open(os.path.join(wd, "input", name + ".ndjson"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
    probe = sorted({o["patterns"][0] for o in ops if o["op"] == "search_indexed"})
    h = Harness(cp, "log_query", wd, {"cpus": nproc(), "trace": bool(trace), "seed": args.seed,
                                      "warm_ops": warm_ops, "ops": ops, "index_probe": probe})
    ready_s, _ = h.ready()
    res = h.result()
    ctx = {c["correlation_id"]: c["data_raw"] for c in context}
    failed = 0
    point, scan = [], []
    for o, r in zip(warm_ops + ops, res["warm_ops"] + res["ops"]):
        if not same_answer(o["op"], r["answer"], log_query_truth(o, recs, ctx, spans)):
            failed += 1
    for o, r in zip(ops, res["ops"]):
        (point if o["op"] in POINT_OPS else scan).append(r["ms"])
    failed += len(warm_ops) + len(ops) - len(res["warm_ops"]) - len(res["ops"])
    e2e = {
        "setup_s": ready_s - h.launch,
        "fixed_p50_ms": M.p(point, 50), "fixed_p95_ms": M.p(point, 95),
        "bulk_p50_ms": M.p(scan, 50), "bulk_p95_ms": M.p(scan, 95),
        "work_s": sum(point + scan) / 1000.0,
        "geomean_ms": M.geomean(point + scan),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    detail = {"fixed_samples": len(point), "bulk_samples": len(scan),
              "store_ingest_s": res["ingest_s"], "store_batches": res["batches"]}
    layers = {}
    if trace:
        L = res["layers"]
        by_op = {}
        for r in res["ops"]:
            by_op.setdefault(r["op"], []).append(r["ms"])
        for name in POINT_OPS + SCAN_OPS:
            layers["op.%s.p50_ms" % name] = M.p(by_op.get(name, []), 50)
        op_spans = {s["id"] for s in res["spans"] if s["name"] == "op"}
        jobs = {}
        for s in res["spans"]:
            if s["name"] == "spark.job" and s["parent"] in op_spans:
                jobs[s["parent"]] = jobs.get(s["parent"], 0) + 1
        layers["op.jobs_p50"] = M.p([jobs.get(i, 0) for i in op_spans], 50)
        scans = [r for r in res["ops"] if r["op"] in SCAN_OPS and r.get("scan")]
        returned = sum(max(1, len(r["answer"])) for r in scans)
        layers["scan.files_read"] = sum(r["scan"]["files"] for r in scans) / max(1, len(scans))
        layers["scan.bytes_read"] = sum(r["scan"]["bytes"] for r in scans) / max(1, len(scans))
        layers["scan.rows_read_per_row_returned"] = sum(r["scan"]["rows"] for r in scans) / max(1, returned)
        cands = [c for c in L["index_candidates"] if c >= 0]
        layers["search.candidate_file_frac"] = (sum(cands) / len(cands) / max(1, L["files_total"])
                                                if cands else 1.0)
        layers["search.build_s"] = res["index_build_s"]
        layers["store.files_total"] = L["files_total"]
        layers["store.files_per_batch"] = L["files_total"] / max(1, res["batches"])
        layers["store.bytes_per_input_byte"] = L["bytes_total"] / max(1, input_bytes)
        layers["store.read_plan_p50_ms"] = L["read_plan_ms"]
    shutil.rmtree(os.path.join(wd, "store"), ignore_errors=True)
    shutil.rmtree(os.path.join(wd, "input"), ignore_errors=True)
    return (len(warm_ops) + len(ops), failed, {}), e2e, layers, detail, res


# ---------------------------------------------------------------- curation

CURATION_FILE = os.path.join(HERE, "curation.json")
DATA = os.path.join(HERE, "data")


def canon(rows, cols):
    """Rows as sorted tuples of strings, columns ordered by name, floats by
    exact repr: the canonical form the repository's oracle check compares.
    """
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(repr(r[i]) if isinstance(r[i], float) else str(r[i]) for i in order)
                  for r in rows)


def answer_digest(con, sql):
    """(row count, sha256 of the canonical rows) of a DuckDB query."""
    cur = con.execute(sql)
    rows, cols = cur.fetchall(), [d[0] for d in cur.description]
    c = canon(rows, cols)
    return len(c), hashlib.sha256(json.dumps(c).encode()).hexdigest()


def curation_set():
    with open(CURATION_FILE) as f:
        return json.load(f)


def run_curation(cp, args, trace):
    import duckdb
    spec = curation_set()
    rng = random.Random(args.seed)
    order = rng.sample(sorted(spec["expected"]), len(spec["expected"]))
    wd = workdir_for(args, "curation-trace%d" % trace)
    h = Harness(cp, "curation", wd, {
        "cpus": nproc(), "trace": bool(trace), "seed": args.seed, "order": order,
        "warm_dir": os.path.join(DATA, spec["warm_data"]),
        "data_dir": os.path.join(DATA, spec["data"])})
    ready_s, _ = h.ready()
    res = h.result()
    con = duckdb.connect()
    failed = 0
    fixed, bulk, rows = [], [], []
    for q in res["queries"]:
        name = q["query"]
        want = spec["expected"][name]
        ok = q["error"] is None
        if ok:
            got = answer_digest(con, "SELECT * FROM read_parquet('%s/*.parquet')"
                                % os.path.join(wd, "answers", name))
            ok = list(got) == [want["rows"], want["sha256"]]
        failed += 0 if ok else 1
        (fixed if name in spec["fixed_cost"] else bulk).append(q["ms"])
        rows.append(dict(q, correct=ok, warm_ms=res["warm_ms"].get(name)))
    failed += len(order) - len(rows)
    e2e = {
        "setup_s": ready_s - h.launch,
        "fixed_p50_ms": M.p(fixed, 50), "fixed_p95_ms": M.p(fixed, 95),
        "bulk_p50_ms": M.p(bulk, 50), "bulk_p95_ms": M.p(bulk, 95),
        "work_s": sum(fixed + bulk) / 1000.0,
        "geomean_ms": M.geomean(fixed + bulk),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    layers = {}
    if trace:
        jobs_of = {}
        for s in res["spans"]:
            if s["name"] == "spark.job":
                jobs_of.setdefault(s["parent"], []).append(s)
        for r in rows:
            js = jobs_of.get(r["span"], [])
            span = next(s for s in res["spans"] if s["id"] == r["span"])
            r["jobs"] = len(js)
            r["driver_ms"] = r["ms"] - M.union_length(
                (max(span["start_ms"], j["start_ms"]), min(span["end_ms"], j["end_ms"])) for j in js)
            r["gc_ms"] = sum(j["attrs"]["gc_ms"] for j in js)
        wall = sum(r["ms"] for r in rows)
        layers["curation.jobs_per_query_p50"] = M.p([r["jobs"] for r in rows], 50)
        layers["curation.driver_share"] = sum(r["driver_ms"] for r in rows) / max(1e-9, wall)
        layers["curation.persisted_after_query"] = sum(r["persisted_after"] for r in rows)
    detail = {"queries": rows, "fixed_samples": len(fixed), "bulk_samples": len(bulk)}
    shutil.rmtree(os.path.join(wd, "answers"), ignore_errors=True)
    shutil.rmtree(os.path.join(wd, "warm"), ignore_errors=True)
    return (len(order), failed, {}), e2e, layers, detail, res


# ---------------------------------------------------------------- shared

def spark_layers(spans, unit_names):
    """Spark execution under the benchmark's units of work (the spans
    named in `unit_names`: ops, queries or micro-batches), per unit.
    driver_ms is the units' self time: wall time minus the union of the
    spans of the Spark jobs they ran.
    """
    units = [s for s in spans if s["name"] in unit_names]
    ids = {s["id"] for s in units}
    parent_of = {s["id"]: s["parent"] for s in spans}

    def unit_of(s):
        p = s["parent"]
        while p and p not in ids:
            p = parent_of.get(p, 0)
        return p

    jobs = [j for j in spans if j["name"] == "spark.job" and unit_of(j)]
    by_unit = {}
    for j in jobs:
        by_unit.setdefault(unit_of(j), []).append(j)
    n = max(1, len(units))
    tot = lambda k: sum(j["attrs"][k] for j in jobs) / n
    driver = sum((u["end_ms"] - u["start_ms"]) - M.union_length(
        (max(u["start_ms"], j["start_ms"]), min(u["end_ms"], j["end_ms"]))
        for j in by_unit.get(u["id"], [])) for u in units)
    return {
        "spark.jobs": len(jobs) / n,
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.job_ms": sum(j["end_ms"] - j["start_ms"] for j in jobs) / n,
        "spark.driver_ms": driver / n,
        "spark.executor_run_ms": tot("executor_run_ms"),
        "spark.executor_cpu_ms": tot("executor_cpu_ms"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.gc_ms": tot("gc_ms"),
    }


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


RUNNERS = {"ingest": run_ingest, "log_query": run_log_query, "curation": run_curation}
UNITS = {"ingest": {"batch"}, "log_query": {"op"}, "curation": {"query"}}


def measure(cp, args, trace):
    check, e2e, layers, detail, res = RUNNERS[args.workload](cp, args, trace)
    # a run has too few point ops, scan ops, queries or bursts for a 95th
    # percentile to be steady across runs; it is reported per layer
    for cls in ("fixed", "bulk"):
        detail["%s_p95_ms" % cls] = e2e.pop("%s_p95_ms" % cls)
    if trace:
        layers.update(spark_layers(res["spans"], UNITS[args.workload]))
        for cls in ("fixed", "bulk"):
            layers["tail.%s_p95_ms" % cls] = detail["%s_p95_ms" % cls]
            layers["samples.%s" % cls] = detail["%s_samples" % cls]
        if args.workload == "ingest":
            # the curation shelf has no end-to-end workload of its own (see
            # README.md); its layers are measured in ingest's traced run,
            # the shorter of the two
            (n, failed, _), _, shelf, shelf_detail, _ = run_curation(cp, args, True)
            check = (check[0] + n, check[1] + failed, check[2])
            layers.update(shelf)
            detail["curation"] = shelf_detail
        self_ms = M.self_times(res["spans"])
        path = os.path.join(BUILD, "runs", "%s-seed%d-spans.json" % (args.workload, args.seed))
        with open(path, "w") as f:
            json.dump([dict(s, self_ms=self_ms[s["id"]]) for s in res["spans"]], f)
    return check, e2e, layers, detail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "log_query", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    args = ap.parse_args()
    spec = bench_spec()
    cp = build()
    # the untraced run; a traced invocation makes it first, with the same
    # seed and code, and the tracing overhead is the difference between
    # the two (both runs' answers are checked and counted)
    (attempted, failed, notes), e2e, _, detail = measure(cp, args, False)
    if args.trace:
        (n, bad, notes), traced, layers, detail = measure(cp, args, True)
        attempted, failed = attempted + n, failed + bad
        for m in spec["end_to_end"]:
            layers["trace.overhead_" + m["name"]] = traced[m["name"]] - e2e[m["name"]]
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    for name in missing:
        # a layer this workload does not reach: nothing was counted there
        values[name] = 0
    artifact = os.path.join(BUILD, "runs", "%s-seed%d-trace%d.json"
                            % (args.workload, args.seed, args.trace))
    with open(artifact, "w") as f:
        json.dump({"seconds": args.seconds, "attempted": attempted, "failed": failed, "notes": notes,
                   "detail": detail, "metrics": values}, f, indent=1)
    log("artifact: " + os.path.relpath(artifact, ROOT))
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in wanted}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
