"""Seeded input generators and the ground truth they imply.

Every payload the benchmark sends is produced here from the workload
seed, together with the answer a correct service must give for it. The
service never sees the seed, only the generated payloads.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field
from urllib.parse import quote

# Seeded data lives in one fixed 30-minute window, so the answers do not
# depend on the wall clock. Its size (about 1,000 log lines, 360 metric
# points, 40 traces) is an assumption chosen for the time budget: the
# three seed pushes take ~20 s of set-up at local[2].
BASE_NS = 1_760_000_000 * 10**9
WINDOW_NS = 30 * 60 * 10**9
APPS = ("a0", "a1", "a2", "a3")
LEVELS = ("info", "warn", "error")
HOSTS = tuple(f"h{i}" for i in range(6))
METHODS = ("GET", "POST", "PUT")


def _words(rng: random.Random, vocab, n: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n))


# ------------------------------------------------------------ dashboard
@dataclass
class Query:
    name: str  # mix member, also the per-query latency key
    path: str
    check: object  # callable(parsed json) -> str | None (error text)


@dataclass
class DashboardData:
    loki: bytes
    influx: bytes
    otlp: bytes
    queries: list = field(default_factory=list)
    log_lines: int = 0
    metric_points: int = 0
    spans: int = 0


def _loki_stream_rows(resp) -> list:
    return [v for s in resp["data"]["result"] for v in s["values"]]


def dashboard(seed: int, extra_apps: tuple = ()) -> DashboardData:
    """Logs, metric series and spans in one window, plus the dashboard
    mix and each query's expected answer. `extra_apps`: other `app`
    label values the store holds (label values are not time-bounded)."""
    rng = random.Random(f"dashboard-{seed}")
    paths = [f"/api/{w}" for w in ("users", "orders", "items", "cart", "auth")]

    # logs: one stream per (app, level); unique timestamps per stream
    streams, lines = [], []
    for app in APPS:
        for level in LEVELS:
            n = rng.randint(60, 140)
            stamps = sorted(rng.sample(range(WINDOW_NS // 10**6), n))
            values = []
            for t_ms in stamps:
                text = (
                    f"{rng.choice(METHODS)} {rng.choice(paths)} "
                    f"status={rng.choice((200, 201, 404, 500))} "
                    f"took={rng.randint(1, 900)}ms user=u{rng.randint(0, 40)}"
                )
                values.append([str(BASE_NS + t_ms * 10**6), text])
                lines.append((app, level, text))
            streams.append({"stream": {"app": app, "level": level},
                            "values": values})
    loki = json.dumps({"streams": streams}).encode()

    # metrics: one `usage` series per host, a point every 30 s
    points = {}
    influx_lines = []
    for host in HOSTS:
        vals = []
        for i in range(WINDOW_NS // (30 * 10**9)):
            v = round(rng.uniform(0, 100), 3)
            ts = BASE_NS + i * 30 * 10**9
            vals.append(v)
            influx_lines.append(f"cpu,host={host} usage={v} {ts}")
        points[host] = vals
    influx = "\n".join(influx_lines).encode()

    # traces: root → handler(s) → optional db span
    spans_json, post_traces, db_traces, span_counts = [], set(), set(), {}
    n_traces = 40
    for t in range(n_traces):
        tid = f"{rng.getrandbits(128):032x}"
        t0 = BASE_NS + rng.randrange(WINDOW_NS - 10**10)
        method = rng.choice(METHODS)
        root = f"{rng.getrandbits(64):016x}"
        svc = f"svc{rng.randrange(3)}"
        trace_spans = [{
            "traceId": tid, "spanId": root, "name": "root",
            "startTimeUnixNano": str(t0),
            "endTimeUnixNano": str(t0 + 9 * 10**8),
            "attributes": [{"key": "http.method",
                            "value": {"stringValue": method}}],
        }]
        if method == "POST":
            post_traces.add(tid)
        for h in range(rng.randint(1, 3)):
            hid = f"{rng.getrandbits(64):016x}"
            hs = t0 + (h + 1) * 10**7
            trace_spans.append({
                "traceId": tid, "spanId": hid, "parentSpanId": root,
                "name": "handler", "startTimeUnixNano": str(hs),
                "endTimeUnixNano": str(hs + 2 * 10**8),
            })
            if rng.random() < 0.4:
                did = f"{rng.getrandbits(64):016x}"
                trace_spans.append({
                    "traceId": tid, "spanId": did, "parentSpanId": hid,
                    "name": "db", "startTimeUnixNano": str(hs + 10**6),
                    "endTimeUnixNano": str(hs + 5 * 10**7),
                })
                db_traces.add(tid)
        span_counts[tid] = len(trace_spans)
        spans_json.append({
            "resource": {"attributes": [{"key": "service.name",
                                         "value": {"stringValue": svc}}]},
            "scopeSpans": [{"spans": trace_spans}],
        })
    otlp = json.dumps({"resourceSpans": spans_json}).encode()

    data = DashboardData(
        loki=loki, influx=influx, otlp=otlp, log_lines=len(lines),
        metric_points=len(influx_lines), spans=sum(span_counts.values()),
    )
    data.queries = _dashboard_queries(rng, lines, points, post_traces,
                                      db_traces, span_counts, extra_apps)
    return data


def _dashboard_queries(rng, lines, points, post_traces, db_traces,
                       span_counts, extra_apps) -> list:
    start, end = BASE_NS, BASE_NS + WINDOW_NS
    s_sec, e_sec = start // 10**9, end // 10**9
    app = rng.choice(APPS)
    want_lines = sum(1 for a, _, t in lines if a == app and "GET" in t)

    def stream_check(resp):
        got = _loki_stream_rows(resp)
        if len(got) != want_lines:
            return f"stream query: {len(got)} lines, expected {want_lines}"
        if any("GET" not in text for _, text in got):
            return "stream query: a line without the filter string"
        return None

    err_apps = {a for a, lvl, _ in lines if lvl == "error"}

    def rate_check(resp):
        res = resp["data"]["result"]
        got = {r["metric"].get("app") for r in res}
        if got != err_apps:
            return f"rate query: apps {sorted(map(str, got))}"
        if any(not r["values"] for r in res):
            return "rate query: an empty series"
        return None

    def app_values_check(resp):
        if sorted(resp["data"]) != sorted(APPS + tuple(extra_apps)):
            return f"label values: {resp['data']}"
        return None

    def prom_range_check(resp):
        res = resp["data"]["result"]
        got = sorted(r["metric"].get("host") for r in res)
        if got != sorted(HOSTS):
            return f"prom range: hosts {got}"
        if any(not r["values"] for r in res):
            return "prom range: an empty series"
        return None

    host = rng.choice(HOSTS)

    def prom_instant_check(resp):
        res = resp["data"]["result"]
        if len(res) != 1 or res[0]["metric"].get("host") != host:
            return f"prom instant: {len(res)} series"
        if float(res[0]["value"][1]) not in points[host]:
            return "prom instant: a value that was never pushed"
        return None

    def search_check(expected, what):
        def check(resp):
            got = {t["trace_id"] for t in resp["traces"]}
            if got != expected:
                return (f"{what}: {len(got)} traces, expected {len(expected)}"
                        f" ({len(got - expected)} unexpected)")
            return None
        return check

    tid = sorted(span_counts)[rng.randrange(len(span_counts))]

    def trace_check(resp):
        got = len(resp["batches"])
        if got != span_counts[tid]:
            return f"trace lookup: {got} spans, expected {span_counts[tid]}"
        return None

    q = quote
    # languages interleaved: a run whose reader gets through only part of
    # the mix still reads, and traces, all three
    return [
        Query("logql_stream",
              "/loki/api/v1/query_range?query="
              + q('{app="%s"} |= "GET"' % app)
              + f"&start={start}&end={end}&limit=5000", stream_check),
        Query("promql_range",
              f"/api/v1/query_range?query={q('avg by (host) (usage)')}"
              f"&start={s_sec}&end={e_sec}&step=60", prom_range_check),
        Query("traceql_attr",
              "/api/search?q=" + q('{ .http.method = "POST" }')
              + f"&start={s_sec}&end={e_sec}&limit=1000",
              search_check(post_traces, "attribute search")),
        Query("logql_rate",
              "/loki/api/v1/query_range?query="
              + q('sum by (app) (rate({level="error"}[5m]))')
              + f"&start={start}&end={end}&step=60", rate_check),
        Query("promql_instant",
              "/api/v1/query?query=" + q('usage{host="%s"}' % host)
              + f"&time={e_sec}", prom_instant_check),
        Query("traceql_struct",
              "/api/search?q=" + q('{ name = "root" } &>> { name = "db" }')
              + f"&start={s_sec}&end={e_sec}&limit=1000",
              search_check(db_traces, "structural search")),
        Query("logql_label_values", "/loki/api/v1/label/app/values",
              app_values_check),
        Query("traceql_trace", f"/api/traces/{tid}", trace_check),
    ]


# ------------------------------------------------------------ live
LIVE_APP = "live"
# lines per push, one of them the marker: an assumed quiet host's second
# of logs (see workloads.PUSH_RATE); far below Promtail's 1 MiB batch cap
LIVE_LINES = 10


def live_marker(seed: int, seq: int) -> str:
    return f"marker-{seed}-{seq}"


def live_push(seed: int, seq: int, now_ns: int) -> bytes:
    """One small Loki batch carrying a unique marker line. Contents come
    from the seed; only the timestamps follow the wall clock."""
    rng = random.Random(f"live-{seed}-{seq}")
    level = LEVELS[seq % len(LEVELS)]
    values = [
        [str(now_ns + i), f"{rng.choice(METHODS)} /api/live took="
                          f"{rng.randint(1, 900)}ms seq={seq}"]
        for i in range(LIVE_LINES - 1)
    ]
    values.append([str(now_ns + LIVE_LINES), live_marker(seed, seq)])
    return json.dumps({"streams": [{"stream": {"app": LIVE_APP,
                                               "level": level},
                                    "values": values}]}).encode()


# ------------------------------------------------------------ datapipe
@dataclass
class Shard:
    docs: list  # (doc_id, text)
    vectors: list  # (vec_id, [float])
    query_ids: list
    dup_pairs: dict  # frozenset({a, b}) -> 3-shingle Jaccard, >= threshold
    topk: dict  # query_id -> set of neighbour ids
    n_tokens: dict  # doc_id -> whitespace token count


DUP_THRESHOLD = 0.8
# MinHash LSH finds a pair of Jaccard J with probability 1 - (1 - J^4)^16
# (dedup.minhash_lsh_pairs: 16 bands of 4 rows), so near the threshold a
# correct run misses about one pair in 4,500 (J = 0.8); at or above this
# Jaccard the miss probability is below 4e-8, and a miss is a failure
SURE_JACCARD = 0.9
TOPK = 5
# Shard sizes are an assumption chosen for the time budget (a pass takes
# 2.2-3 s at local[2], so a 12 s run holds 4-5 passes), not a real
# curation shard, which is orders of magnitude larger.
SHARD_DOCS, SHARD_VECS, DIM = 300, 400, 32
NEAR_DUP_SHARE = 0.15


def shingles(text: str, n: int = 3) -> set:
    ws = text.split()
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def datapipe_shard(seed: int, shard: int) -> Shard:
    """A fresh shard: documents with a fixed share of near-duplicates
    (one word substituted) and Gaussian embeddings, plus the exact
    answers (duplicate pairs, cosine top-k, token counts)."""
    rng = random.Random(f"datapipe-{seed}-{shard}")
    n_docs, n_vecs, dim = SHARD_DOCS, SHARD_VECS, DIM
    vocab = [f"w{rng.getrandbits(40):x}" for _ in range(3000)]
    docs, origin = [], {}
    for i in range(n_docs):
        if i >= 10 and rng.random() < NEAR_DUP_SHARE:
            src = rng.randrange(i)
            ws = docs[src][1].split()
            ws[rng.randrange(len(ws))] = rng.choice(vocab)
            text = " ".join(ws)
            origin[i] = origin.get(src, src)
        else:
            text = _words(rng, vocab, rng.randint(50, 90))
        docs.append((i, text))
    # exact answer: pairs within one planted family over the threshold
    # (unrelated documents share no 3-shingles at this vocabulary size)
    families: dict = {}
    for i in range(n_docs):
        families.setdefault(origin.get(i, i), []).append(i)
    sh = {i: shingles(t) for i, t in docs}
    dup_pairs = {}
    for members in families.values():
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                j = jaccard(sh[a], sh[b])
                if j >= DUP_THRESHOLD:
                    dup_pairs[frozenset((a, b))] = j
    vectors = [(j, [round(rng.gauss(0, 1), 6) for _ in range(dim)])
               for j in range(n_vecs)]
    query_ids = rng.sample(range(n_vecs), 5)
    topk = {}
    for q in query_ids:
        qv = vectors[q][1]
        qn = sum(x * x for x in qv) ** 0.5
        scored = []
        for j, v in vectors:
            if j == q:
                continue
            vn = sum(x * x for x in v) ** 0.5
            cos = sum(a * b for a, b in zip(qv, v)) / (qn * vn)
            scored.append((-cos, j))
        topk[q] = {j for _, j in sorted(scored)[:TOPK]}
    return Shard(
        docs=docs, vectors=vectors, query_ids=query_ids,
        dup_pairs=dup_pairs, topk=topk,
        n_tokens={i: len(t.split()) for i, t in docs},
    )
