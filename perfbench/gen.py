"""Seeded input generator for the perfbench workloads.

Everything here is a pure function of the seed except the `send` command,
which runs as its own OS process: it pushes newline-framed LogRecord JSON
to the collector over one TCP connection on a due-time schedule that does
not slow down when the system does, and reports how late it ran.

    python3 perfbench/gen.py send --seed N --port P --plan plan.json --out sent.json

plan.json holds the keyword arguments of `ingest_plan`.
"""
import argparse
import bisect
import datetime
import json
import random
import socket
import sys
import time

LEVELS = [("DEBUG", 10), ("INFO", 20), ("WARNING", 30), ("ERROR", 40)]
LEVEL_WEIGHTS = [20, 60, 12, 8]
LOGGERS = ["api.http", "api.auth", "worker.queue", "worker.billing",
           "db.pool", "cache.redis", "mail.smtp", "search.indexer"]
MODULES = ["handlers", "views", "tasks", "billing", "pool", "client", "smtp", "indexer"]
FUNCS = ["handle", "dispatch", "run", "charge", "acquire", "get", "send", "flush"]
WORDS = ("request user order payment cache miss hit queue worker job started finished "
         "processed accepted rejected retry retrying backoff upstream downstream latency "
         "session token refresh expired login logout account invoice charge refund email "
         "delivered bounced index shard replica primary commit rollback connection pool "
         "acquired released slow query table row column batch flush write read lock "
         "waiting granted timeout refused reset closed opened socket handshake tls "
         "certificate config reload feature flag enabled disabled region zone node "
         "healthy degraded").split()
# phrases the log_query `search` op looks for (case-insensitive)
SEARCH_PHRASES = ["Timeout", "connection REFUSED", "deadlock detected"]
# the ingest pipeline's removed keys: IngestConfig.DefaultDropFields plus
# the promoted envelope fields (created, message, correlation_id)
DROP_FIELDS = ["stack_info", "funcName", "created", "msecs", "module",
               "thread", "threadName", "processName"]
PROMOTED = ["created", "message", "correlation_id"]
REMOVED = set(DROP_FIELDS) | set(PROMOTED)

DAY_S = 86400
MALFORMED = "malformed_json"
MISSING_CREATED = "missing_created"


def uuid_from(rng):
    h = "%032x" % rng.getrandbits(128)
    return "%s-%s-%s-%s-%s" % (h[:8], h[8:12], h[12:16], h[16:20], h[20:])


def rare_tokens(seed, n=32):
    """Words no other text contains, for the trigram-pruned search."""
    rng = random.Random(seed * 7919 + 11)
    letters = "bcdfghjklmnpqrstvwxz"
    return ["zq" + "".join(rng.choice(letters) for _ in range(7)) for _ in range(n)]


def filler(seed, n_words=20000):
    """A long run of vocabulary words that payload text is sliced from."""
    rng = random.Random(seed * 101 + 7)
    return " ".join(rng.choice(WORDS) for _ in range(n_words))


def make_template(rng, text, lo=300, hi=2000):
    """One LogRecord template in the 22-field Python logging shape (plus
    `seq` and some optional keys) as a %-format string. The per-record
    fields are placeholders: seq, created, msecs, created_iso,
    correlation_id, and a suffix `tok` appended to `message`. `text` is
    the filler that pads the record to `lo`..`hi` bytes.
    """
    li = rng.choices(range(4), LEVEL_WEIGHTS)[0]
    levelname, levelno = LEVELS[li]
    lg = rng.randrange(len(LOGGERS))
    module = MODULES[lg]
    rec = {
        "name": LOGGERS[lg],
        "msg": "%s %s %s",
        "args": [rng.choice(WORDS), rng.randrange(1000), rng.choice(WORDS)],
        "levelname": levelname,
        "levelno": levelno,
        "pathname": "/srv/app/%s.py" % module,
        "filename": module + ".py",
        "module": module,
        "exc_text": None,
        "stack_info": None,
        "lineno": rng.randrange(1, 2000),
        "funcName": FUNCS[lg],
        "created": "@created@",
        "msecs": "@msecs@",
        "relativeCreated": round(rng.uniform(0, 5e6), 3),
        "thread": 140000000000000 + rng.randrange(10 ** 6),
        "threadName": "Thread-%d" % rng.randrange(32),
        "processName": "MainProcess",
        "process": rng.randrange(1, 65536),
        "correlation_id": "@corr@",
        "random_timing_data": round(rng.random(), 6),
        "message": None,
        "created_iso": "@iso@",
        "seq": "@seq@",
    }
    if rng.random() < 0.3:
        rec["user_id"] = rng.randrange(5000)
    if rng.random() < 0.1:
        rec["http_status"] = rng.choice([200, 201, 404, 500, 503])
    if rng.random() < 0.01:
        rec["feature_%d" % rng.randrange(40)] = True
    if levelname == "ERROR":
        rec["exc_text"] = "Traceback (most recent call last):\n  File \"%s\", line %d, in %s\nRuntimeError: %s" % (
            rec["pathname"], rec["lineno"], rec["funcName"], rng.choice(WORDS))
    head = [rng.choice(WORDS) for _ in range(5)]
    if rng.random() < 0.05:
        head.append(rng.choice(SEARCH_PHRASES))
    rng.shuffle(head)
    rec["message"] = "@msg@"
    size = rng.randint(lo, hi)
    body = encode(rec)
    need = max(0, size - len(body) - 60)
    off = text.index(" ", rng.randrange(len(text) - 4000)) + 1
    end = text.rfind(" ", off, off + need + 1)
    words = " ".join(head) + (" " + text[off:end] if end > off else "")
    body = body.replace("%", "%%")
    for k, v in (('"@created@"', "%(created)s"), ('"@msecs@"', "%(msecs)s"),
                 ('"@corr@"', '"%(corr)s"'), ('"@iso@"', '"%(iso)s"'),
                 ('"@seq@"', "%(seq)d"), ('"@msg@"', '"' + words + '%(tok)s"')):
        body = body.replace(k, v)
    return body


def templates(seed, n=1024, lo=300, hi=2000):
    rng = random.Random(seed * 1009 + 3)
    text = filler(seed)
    return [make_template(rng, text, lo, hi) for _ in range(n)]


def fill(template, seq, created, corr, tok=""):
    """A template's JSON line for one record."""
    return template % {
        "seq": seq, "created": repr(created), "msecs": repr(round((created % 1) * 1000, 3)),
        "corr": corr, "tok": tok,
        "iso": datetime.datetime.fromtimestamp(created, datetime.timezone.utc).isoformat()}


def encode(rec):
    return json.dumps(rec, separators=(",", ":"))


# ---------------------------------------------------------------- ingest

def ingest_plan(rate, warmup_s, steady_s, bursts, burst_size, burst_gap_s, lead_s):
    """Relative due second of every record: `warmup_s` then `steady_s` at
    `rate` rec/s, then `bursts` trains of `burst_size` records, each train
    due at once, `burst_gap_s` apart, the first `lead_s` after the steady
    phase. Returns (dues, {phase: [first seq, end seq)}).
    """
    warm = int(rate * warmup_s)
    steady = int(rate * (warmup_s + steady_s))
    phases = {"warmup": [0, warm], "steady": [warm, steady]}
    dues = [i / rate for i in range(steady)]
    start = warmup_s + steady_s + lead_s
    for b in range(bursts):
        phases["burst%d" % b] = [len(dues), len(dues) + burst_size]
        dues.extend([start + b * burst_gap_s] * burst_size)
    return dues, phases


def ingest_records(seed, n):
    """Per sequence number: (kind, template index, correlation id, cut).
    About 1% are malformed (the line cut at `cut` of its length) and about
    1% lack `created`; kind is "" for a good record.
    """
    rng = random.Random(seed)
    pool = [uuid_from(rng) for _ in range(max(1, n // 8))]
    out = []
    for _ in range(n):
        r = rng.random()
        kind = MALFORMED if r < 0.01 else MISSING_CREATED if r < 0.02 else ""
        corr = pool[rng.randrange(len(pool))]
        if rng.random() < 0.1:
            corr = corr.upper()
        out.append((kind, rng.randrange(1024), corr, rng.uniform(0.3, 0.9)))
    return out


def ingest_line(tpls, seq, rec, created):
    """The wire line of one ingest record due at `created`."""
    kind, t, corr, cut = rec
    line = fill(tpls[t], seq, created, corr)
    if kind == MISSING_CREATED:
        line = line.replace('"created":%r,' % created, "", 1)
    elif kind == MALFORMED:
        line = line[:int(len(line) * cut)]
    return line


def send(args):
    """Open-loop sender: every record is written when due, whatever the
    collector is doing; lag is the time past due at each write.
    """
    plan = json.load(open(args.plan))
    dues, _ = ingest_plan(**plan)
    n = len(dues)
    tpls = templates(args.seed)
    recs = ingest_records(args.seed, n)
    sock = socket.create_connection(("127.0.0.1", args.port))
    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    t0 = round(time.time() + 1.0, 3)
    # trains are encoded ahead of their due time
    trains = {}
    i = 0
    while i < n:
        j = bisect.bisect_right(dues, dues[i])
        if j - i > 1:
            trains[i] = ("\n".join(ingest_line(tpls, k, recs[k], round(t0 + dues[k], 3))
                                   for k in range(i, j)) + "\n").encode()
        i = j
    lags = []
    i = 0
    while i < n:
        due = t0 + dues[i]
        now = time.time()
        if now < due:
            time.sleep(min(due - now, 0.002))
            continue
        if i in trains:
            payload, j = trains.pop(i), bisect.bisect_right(dues, dues[i])
        else:
            j = max(i + 1, bisect.bisect_right(dues, now - t0, lo=i))
            payload = ("\n".join(ingest_line(tpls, k, recs[k], round(t0 + dues[k], 3))
                                 for k in range(i, j)) + "\n").encode()
        lags.append((time.time() - due) * 1000)
        sock.sendall(payload)
        i = j
    sock.close()
    lags.sort()
    json.dump({"t0": t0, "sent": n, "writes": len(lags),
               "lag_p99_ms": lags[min(len(lags) - 1, int(0.99 * len(lags)))]},
              open(args.out, "w"))


# ---------------------------------------------------------------- log_query

def log_corpus(seed, n, days, epochs, start_day, size=(250, 700)):
    """The log_query store's records as JSON lines, split into `epochs`
    files by time, plus the parsed records (each with its message) for
    ground truth. Timestamps are unique milliseconds never on a whole
    second, so window and span bounds are unambiguous.
    """
    rng = random.Random(seed * 31 + 5)
    tpls = templates(seed + 1, lo=size[0], hi=size[1])
    tokens = rare_tokens(seed)
    span_s = days * DAY_S
    pool = [uuid_from(rng) for _ in range(max(1, n // 10))]
    stamps = sorted(rng.sample(range(span_s), n))
    files = [[] for _ in range(epochs)]
    recs = []
    for seq, sec in enumerate(stamps):
        created = round(start_day * DAY_S + sec + rng.randrange(1, 1000) / 1000.0, 3)
        tok = " " + tokens[rng.randrange(len(tokens))] if rng.random() < 0.01 else ""
        line = fill(tpls[rng.randrange(len(tpls))], seq, created, pool[rng.randrange(len(pool))], tok)
        files[min(epochs - 1, sec * epochs // span_s)].append(line)
        recs.append(json.loads(line))
    return files, recs, pool, tokens


def context_rows(seed, pool):
    rng = random.Random(seed * 17 + 3)
    return [{"correlation_id": c, "data_raw": encode(
        {"user": rng.randrange(5000), "plan": rng.choice(["free", "pro", "team"]),
         "region": rng.choice(["eu", "us", "ap"])})} for c in pool]


def span_rows(seed, recs):
    """Spans over some correlation ids: whole-second bounds around a run
    of up to three of the id's records.
    """
    rng = random.Random(seed * 13 + 1)
    by_corr = {}
    for r in recs:
        by_corr.setdefault(r["correlation_id"], []).append(r)
    out = []
    for corr in sorted(by_corr):
        rs = by_corr[corr]
        if len(rs) < 2 or rng.random() < 0.5:
            continue
        a = rng.randrange(len(rs))
        b = min(len(rs) - 1, a + rng.randrange(3))
        out.append({"span_id": uuid_from(rng), "correlation_id": corr,
                    "description": rng.choice(WORDS),
                    "time_start": int(rs[a]["created"]), "time_end": int(rs[b]["created"]) + 1})
    return out


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("send")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--port", type=int, required=True)
    s.add_argument("--plan", required=True)
    s.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.cmd == "send":
        send(args)


if __name__ == "__main__":
    sys.exit(main())
