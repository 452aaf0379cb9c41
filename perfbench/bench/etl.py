"""The ``etl_pipelines`` workload: inputs, pipelines and expected sinks.

Everything is derived from the seed with ``random.Random``; the same
seed writes byte-identical files. Expected sink digests are computed
here from the generated rows, by plain Python, without the code under
test: filters, joins, aggregates and windows are re-done over the
generated rows, and the curation filters' outcome is known by
construction (see ``_doc_text``).
"""
import datetime
import json
import os
import random

from . import digest

CLOCK = "2026-01-01T12:00:00Z"   # frozen scheduler clock: nothing is due
DAILY = "0 3 * * *"
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = ["OPEN", "SHIPPED", "DONE"]
KINDS = ["click", "view", "buy", "share"]
SOURCES = ["web", "books", "code"]
SENSORS = ["a", "b", "c"]
# curation thresholds: clean documents pass both filters, repetitive
# ones fail quality_filter, short lopsided ones pass quality_filter and
# fail entropy_filter
QUALITY_PERMILLE = 500
ENTROPY_NATS10 = 15

N_CUSTOMERS = 400
N_ORDERS = 2000
N_EVENTS = 1500
N_DOCS = 240
N_BATCHES = 6          # landing files per streaming pipeline, landed in turn
BATCH_ROWS = 60
STREAMS = ("stream", "streamsql")   # the streaming pipelines, one landing zone each
EPOCH = datetime.datetime(2025, 6, 1)


def _ts(rng):
    return EPOCH + datetime.timedelta(seconds=rng.randrange(0, 180 * 86400),
                                      milliseconds=rng.randrange(0, 1000))


def _iso(ts):
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + "%03d" % (ts.microsecond // 1000)


def _maybe(rng, v, p_null):
    return None if rng.random() < p_null else v


def _doc_text(rng, vocab, cls):
    if cls == "clean":                       # all tokens distinct
        return " ".join(rng.sample(vocab, rng.randrange(12, 30)))
    if cls == "repetitive":                  # one token, many times
        return " ".join([rng.choice(vocab)] * rng.randrange(12, 30))
    a, b, c = rng.sample(vocab, 3)           # "a a b c": ttr 750, 1.04 nats
    return " ".join([a, a, b, c])


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for r in rows:
            f.write(json.dumps({k: v for k, v in r.items() if v is not None},
                               sort_keys=True) + "\n")


def _write_csv(path, rows, cols):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(",".join(str(r[c]) for c in cols) + "\n")


def generate(seed, gen_dir):
    """Write every input file under ``gen_dir`` and return the tables as
    Python rows (for the expectations)."""
    rng = random.Random(seed)
    os.makedirs(gen_dir, exist_ok=True)
    vocab = ["w%03d" % i for i in range(400)]

    customers = [{"c_id": i, "name": "cust_%d" % i, "region": rng.choice(REGIONS),
                  "segment": rng.choice(["AUTO", "BUILDING", "MACHINERY"])}
                 for i in range(1, N_CUSTOMERS + 1)]
    orders = [{"o_id": i, "c_id": rng.randrange(1, N_CUSTOMERS + 1),
               "amount_cents": rng.randrange(100, 100000),
               "status": _maybe(rng, rng.choice(STATUSES), 0.05),
               "ts": _maybe(rng, _ts(rng), 0.05)}
              for i in range(1, N_ORDERS + 1)]
    events = [{"e_id": i, "user": _maybe(rng, "u%d" % rng.randrange(200), 0.1),
               "kind": rng.choice(KINDS),
               "value": _maybe(rng, rng.randrange(0, 1000), 0.1)}
              for i in range(1, N_EVENTS + 1)]
    docs = []
    for i in range(1, N_DOCS + 1):
        cls = rng.choice(["clean", "clean", "repetitive", "short"])
        docs.append({"doc_id": i, "source": rng.choice(SOURCES),
                     "text": _doc_text(rng, vocab, cls), "cls": cls})
    regions = [{"idx": i, "region_name": r, "tier": 1 + i % 3}
               for i, r in enumerate(REGIONS)]

    _write_csv(os.path.join(gen_dir, "customers.csv"), customers,
               ["c_id", "name", "region", "segment"])
    _write_jsonl(os.path.join(gen_dir, "orders.json"),
                 [dict(o, ts=_iso(o["ts"]) if o["ts"] else None) for o in orders])
    _write_jsonl(os.path.join(gen_dir, "events.json"), events)
    _write_jsonl(os.path.join(gen_dir, "docs.json"),
                 [{k: d[k] for k in ("doc_id", "source", "text")} for d in docs])
    _write_jsonl(os.path.join(gen_dir, "regions.json"), regions)

    streams = {}
    next_id = 1
    for pid in STREAMS:
        batches = []
        sdir = os.path.join(gen_dir, "incoming", pid)
        os.makedirs(sdir, exist_ok=True)
        for b in range(N_BATCHES):
            rows = [{"s_id": next_id + j, "sensor": rng.choice(SENSORS),
                     "reading": rng.randrange(0, 500),
                     "flag": _maybe(rng, rng.choice(["ok", "warn"]), 0.2)}
                    for j in range(BATCH_ROWS)]
            next_id += BATCH_ROWS
            name = "batch-%02d.json" % b
            _write_jsonl(os.path.join(sdir, name), rows)
            batches.append((name, rows))
        streams[pid] = batches
    return {"customers": customers, "orders": orders, "events": events,
            "docs": docs, "regions": regions, "streams": streams,
            "params": random.Random(seed + 1)}


def _sanitized(rows):
    out = []
    for r in rows:
        r = dict(r)
        for k, v in r.items():
            if isinstance(v, datetime.datetime):
                r[k] = v.replace(microsecond=0)
            elif k in ("status", "user", "flag", "ts") and v is None:
                r[k] = datetime.datetime(1900, 1, 1) if k == "ts" else ""
        out.append(r)
    return out


def _step(name, order, **kw):
    d = {"name": name, "order": order}
    d.update(kw)
    return d


def _extract(conn, path, **options):
    s = _step("extract", 1, stepType="extract", connectionId=conn, path=path)
    if options:
        s["options"] = options
    return s


def _sql(order, sql, audit=False):
    return _step("t%d" % order, order, stepType="transform", kind="sql", sql=sql, audit=audit)


def _named(order, name, audit=False):
    return _step(name, order, stepType="transform", kind="named",
                 transformName=name, audit=audit)


def _load(order, conn, path, mode="replace", sanitize=False, **options):
    s = _step("load%d" % order, order, stepType="load", connectionId=conn,
              path=path, mode=mode, sanitize=sanitize)
    if options:
        s["options"] = options
    return s


def build(seed, root):
    """Generate inputs under ``root`` and return (plan fields, expected),
    where ``expected(pipeline_id, k)`` gives the sink digests after the
    pipeline's k-th run."""
    gen = os.path.join(root, "gen")
    data = generate(seed, gen)
    rng = data["params"]
    out = os.path.join(root, "out")
    landing = os.path.join(root, "landing")
    connections = [
        {"id": "src_parquet", "name": "staged parquet", "format": "parquet",
         "options": {"basePath": os.path.join(root, "staged")}},
        {"id": "src_csv", "name": "csv drop", "format": "csv", "options": {"basePath": gen}},
        {"id": "src_json", "name": "json drop", "format": "json", "options": {"basePath": gen}},
        {"id": "stream_json", "name": "landing zone", "format": "json",
         "options": {"basePath": landing}},
        {"id": "sink_parquet", "name": "lake", "format": "parquet", "options": {"basePath": out}},
        {"id": "sink_json", "name": "export", "format": "json", "options": {"basePath": out}},
    ]
    orders, events, docs = data["orders"], data["events"], data["docs"]
    region_of = {r["idx"]: r for r in data["regions"]}
    pipelines, fixed, append, streaming = [], {}, {}, {}

    def add(pid, steps, sinks):
        """sinks: (format, schema DDL the check reads it with, path)."""
        pipelines.append({"spec": {"id": pid, "name": pid, "recurrence": DAILY,
                                   "enabled": True, "steps": steps},
                          "sinks": [{"format": f, "schema": ddl, "path": os.path.join(out, p)}
                                    for f, ddl, p in sinks]})

    # aggregate: csv -> group by -> json replace
    seg = rng.choice(["AUTO", "BUILDING", "MACHINERY"])
    pid = "agg"
    add(pid, [_extract("src_csv", "customers.csv"),
              _sql(2, "SELECT region, count(*) AS n, sum(c_id) AS s FROM input "
                      "WHERE segment = '%s' GROUP BY region" % seg),
              _load(3, "sink_json", pid)],
        [("json", "region STRING, n BIGINT, s BIGINT", pid)])
    groups = {}
    for c in data["customers"]:
        if c["segment"] == seg:
            g = groups.setdefault(c["region"], {"region": c["region"], "n": 0, "s": 0})
            g["n"] += 1
            g["s"] += c["c_id"]
    fixed[pid] = [digest.digest(list(groups.values()), ["region", "n", "s"])]

    # join against a lookup view
    thr = rng.randrange(10000, 90000)
    pid = "join"
    add(pid, [_extract("src_parquet", "orders"),
              _sql(2, "SELECT o.o_id, o.amount_cents, r.region_name, r.tier "
                      "FROM input o JOIN regions r ON o.c_id %% 5 = r.idx "
                      "WHERE o.amount_cents >= %d" % thr),
              _load(3, "sink_parquet", pid)],
        [("parquet", "o_id BIGINT, amount_cents BIGINT, region_name STRING, tier BIGINT",
          pid)])
    fixed[pid] = [digest.digest(
        [{"o_id": o["o_id"], "amount_cents": o["amount_cents"],
          "region_name": region_of[o["c_id"] % 5]["region_name"],
          "tier": region_of[o["c_id"] % 5]["tier"]}
         for o in orders if o["amount_cents"] >= thr],
        ["o_id", "amount_cents", "region_name", "tier"])]

    # window: top-n orders per customer
    n = rng.randrange(1, 4)
    pid = "window"
    add(pid, [_extract("src_parquet", "orders"),
              _sql(2, "SELECT c_id, o_id, amount_cents FROM (SELECT *, row_number() "
                      "OVER (PARTITION BY c_id ORDER BY amount_cents DESC, o_id) AS rn "
                      "FROM input) WHERE rn <= %d" % n),
              _load(3, "sink_parquet", pid)],
        [("parquet", "c_id BIGINT, o_id BIGINT, amount_cents BIGINT", pid)])
    per = {}
    for o in sorted(orders, key=lambda o: (-o["amount_cents"], o["o_id"])):
        if len(per.setdefault(o["c_id"], [])) < n:
            per[o["c_id"]].append(o)
    fixed[pid] = [digest.digest([o for rows in per.values() for o in rows],
                                ["c_id", "o_id", "amount_cents"])]

    # sanitize on load: null strings -> "", timestamps to seconds
    m = rng.randrange(2, 5)
    pid = "sanitize"
    add(pid, [_extract("src_parquet", "orders"),
              _sql(2, "SELECT o_id, status, ts FROM input WHERE o_id %% %d = 0" % m),
              _load(3, "sink_parquet", pid, sanitize=True)],
        [("parquet", "o_id BIGINT, status STRING, ts TIMESTAMP", pid)])
    fixed[pid] = [digest.digest(
        _sanitized([{"o_id": o["o_id"], "status": o["status"], "ts": o["ts"]}
                    for o in orders if o["o_id"] % m == 0]),
        ["o_id", "status", "ts"])]

    # curation: named filters, audited, over json documents
    pid = "curate"
    src = rng.choice(SOURCES)
    add(pid, [_extract("src_json", "docs.json"),
              _named(2, "quality_filter", audit=True),
              _named(3, "entropy_filter", audit=True),
              _sql(4, "SELECT * FROM input WHERE source <> '%s'" % src),
              _load(5, "sink_parquet", pid)],
        [("parquet", "doc_id BIGINT, source STRING, text STRING", pid)])
    fixed[pid] = [digest.digest([d for d in docs
                                 if d["cls"] == "clean" and d["source"] != src],
                                ["doc_id", "source", "text"])]

    # cache, then load twice
    k1, k2 = rng.sample(KINDS, 2)
    pid = "cache"
    add(pid, [_extract("src_json", "events.json"),
              _sql(2, "SELECT e_id, kind, coalesce(value, 0) AS value FROM input "
                      "WHERE kind IN ('%s', '%s')" % (k1, k2)),
              _step("cache", 3, stepType="transform", kind="cache"),
              _load(4, "sink_parquet", pid + "/a"),
              _load(5, "sink_json", pid + "/b")],
        [("parquet", "e_id BIGINT, kind STRING, value BIGINT", pid + "/a"),
         ("json", "e_id BIGINT, kind STRING, value BIGINT", pid + "/b")])
    d = digest.digest([{"e_id": e["e_id"], "kind": e["kind"], "value": e["value"] or 0}
                       for e in events if e["kind"] in (k1, k2)], ["e_id", "kind", "value"])
    fixed[pid] = [d, d]

    # append: every run adds the same rows again
    m, r = rng.randrange(3, 8), rng.randrange(0, 3)
    pid = "append"
    add(pid, [_extract("src_json", "events.json"),
              _sql(2, "SELECT e_id, user, kind FROM input WHERE e_id %% %d = %d" % (m, r)),
              _load(3, "sink_parquet", pid, mode="append", sanitize=True)],
        [("parquet", "e_id BIGINT, user STRING, kind STRING", pid)])
    append[pid] = digest.digest(
        _sanitized([{"e_id": e["e_id"], "user": e["user"], "kind": e["kind"]}
                    for e in events if e["e_id"] % m == r]), ["e_id", "user", "kind"])

    schema = "s_id BIGINT, sensor STRING, reading BIGINT, flag STRING"
    streams_plan = {}
    for pid in STREAMS:
        batches = data["streams"][pid]
        streams_plan[pid] = {"incoming": os.path.join(gen, "incoming", pid),
                             "landing": os.path.join(landing, pid),
                             "files": [name for name, _ in batches]}
        ck = os.path.join(root, "checkpoints", pid)
        if pid == "stream":
            steps = [_extract("stream_json", pid, streaming="true", schema=schema),
                     _load(2, "sink_parquet", pid, mode="append", checkpointLocation=ck)]
            cols = "s_id BIGINT, sensor STRING, reading BIGINT, flag STRING"
            per_batch = [digest.digest(rows, ["s_id", "sensor", "reading", "flag"])
                         for _, rows in batches]
        else:
            thr = rng.randrange(100, 400)
            steps = [_extract("stream_json", pid, streaming="true", schema=schema),
                     _sql(2, "SELECT s_id, sensor, reading * 2 AS reading2, flag "
                             "FROM input WHERE reading >= %d" % thr),
                     _load(3, "sink_parquet", pid, mode="append", sanitize=True,
                           checkpointLocation=ck)]
            per_batch = [digest.digest(
                _sanitized([{"s_id": r["s_id"], "sensor": r["sensor"],
                             "reading2": r["reading"] * 2, "flag": r["flag"]}
                            for r in rows if r["reading"] >= thr]),
                ["s_id", "sensor", "reading2", "flag"]) for _, rows in batches]
            cols = "s_id BIGINT, sensor STRING, reading2 BIGINT, flag STRING"
        add(pid, steps, [("parquet", cols, pid)])
        streaming[pid] = per_batch

    def expected(pid, k):
        if pid in fixed:
            return fixed[pid]
        if pid in append:
            n, s = digest.parse(append[pid])
            return ["%d:%d" % (k * n, k * s)]
        per_batch = streaming[pid]
        return [digest.combine(*[per_batch[j % len(per_batch)] for j in range(k)])]

    fields = {
        "repo_dir": os.path.join(root, "repo"),
        "clock": CLOCK,
        "connections": connections,
        "pipelines": pipelines,
        "streams": streams_plan,
        "parquet_sources": [{
            "json": os.path.join(gen, "orders.json"),
            "path": os.path.join(root, "staged", "orders"),
            "schema": "o_id BIGINT, c_id BIGINT, amount_cents BIGINT, status STRING, ts TIMESTAMP"}],
        "lookups": [{"view": "regions", "json": os.path.join(gen, "regions.json"),
                     "schema": "idx BIGINT, region_name STRING, tier BIGINT"}],
        "named": {"quality_filter": QUALITY_PERMILLE, "entropy_filter": ENTROPY_NATS10},
    }
    return fields, expected


def schedule(seed, pipeline_ids, warmup_passes, passes):
    """(warm-up, timed passes). The warm-up runs each pipeline once in
    id order, then warmup_passes - 1 more passes; each pass runs every
    pipeline once, in an order the seed shuffles."""
    rng = random.Random(seed * 7919 + 1)
    shuffled = []
    for _ in range(warmup_passes - 1 + passes):
        p = sorted(pipeline_ids)
        rng.shuffle(p)
        shuffled.append(p)
    warmup = sorted(pipeline_ids) + [r for p in shuffled[:warmup_passes - 1] for r in p]
    return warmup, shuffled[warmup_passes - 1:]
