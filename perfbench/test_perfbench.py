"""The benchmark's own self-tests (no Spark, no service):

    python3 -m pytest -q -p no:cacheprovider perfbench/test_perfbench.py
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common as C  # noqa: E402
import gen  # noqa: E402
import tracer  # noqa: E402


# ------------------------------------------------------------ percentiles
def test_percentile_needs_ten_samples_beyond_it():
    # p95 of n samples sits at rank ceil(0.95 n); n - rank must be >= 10
    assert C.percentile(list(range(199)), 0.95) is None
    vals = list(range(200))
    assert C.percentile(vals, 0.95) == 189  # rank 190, 10 samples beyond
    assert C.percentile(list(range(20)), 0.5) == 9  # rank 10, 10 beyond
    assert C.percentile(list(range(19)), 0.5) is None


def test_summarize_omits_a_thin_percentile_and_states_n():
    out = C.summarize("query", [float(i) for i in range(30)])
    assert out["query_p50_ms"] == {"value": 14.5, "unit": "ms", "n": 30}
    assert "value" not in out["query_p95_ms"]
    assert "n=30" in out["query_p95_ms"]["omitted"]
    out = C.summarize("query", [1.0] * 250)
    assert out["query_p95_ms"]["value"] == 1.0


# ------------------------------------------------------------ open loop
class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, d):
        self.t += d


def test_open_loop_times_from_the_scheduled_send():
    clock = FakeClock()

    def send(k):
        clock.t += 2.5 if k == 1 else 0.1  # request 1 stalls 2.5 s
        return k

    out = C.open_loop(2.0, 0.0, 3.0, send, clock=clock, sleep=clock.sleep)
    # due times 0, .5, 1, 1.5, 2, 2.5: six sends whatever the stall
    assert [k for k, *_ in out] == [0, 1, 2, 3, 4, 5]
    lags = [round(lag) for _, lag, _, _ in out]
    lat = [round(x) for _, _, x, _ in out]
    assert lags == [0, 0, 2000, 1600, 1200, 800]
    # the requests queued behind the stall carry its wait in their latency
    assert lat == [100, 2500, 2100, 1700, 1300, 900]


# ------------------------------------------------------------ generators
def test_generator_and_truth_are_deterministic_per_seed():
    a, b = gen.dashboard(7), gen.dashboard(7)
    assert (a.loki, a.influx, a.otlp) == (b.loki, b.influx, b.otlp)
    assert [q.path for q in a.queries] == [q.path for q in b.queries]
    c = gen.dashboard(8)
    assert a.loki != c.loki
    s1, s2 = gen.datapipe_shard(7, 3), gen.datapipe_shard(7, 3)
    assert s1.docs == s2.docs and s1.vectors == s2.vectors
    assert s1.dup_pairs == s2.dup_pairs and s1.topk == s2.topk
    assert s1.dup_pairs, "the shard must plant near-duplicates"
    assert gen.datapipe_shard(7, 4).docs != s1.docs
    assert gen.live_push(7, 3, 10) == gen.live_push(7, 3, 10)


def _answers(data):
    """A correct service's responses, built from the payloads alone."""
    loki = json.loads(data.loki)
    otlp = json.loads(data.otlp)
    spans = [s for r in otlp["resourceSpans"] for s in r["scopeSpans"][0]["spans"]]
    return loki, spans


def test_checks_accept_the_truth_and_reject_a_missing_row():
    data = gen.dashboard(3, extra_apps=("live",))
    q = {x.name: x for x in data.queries}
    loki, spans = _answers(data)
    app = q["logql_stream"].path.split("%22")[1]
    rows = [v for s in loki["streams"] if s["stream"]["app"] == app
            for v in s["values"] if "GET" in v[1]]
    resp = {"data": {"result": [{"stream": {"app": app}, "values": rows}]}}
    assert q["logql_stream"].check(resp) is None
    resp["data"]["result"][0]["values"] = rows[1:]
    assert "expected" in q["logql_stream"].check(resp)
    # an empty answer where data is expected is a failure
    assert q["logql_stream"].check({"data": {"result": []}}) is not None
    assert q["logql_label_values"].check(
        {"data": list(gen.APPS) + ["live"]}) is None
    assert q["logql_label_values"].check({"data": list(gen.APPS)}) is not None
    tid = q["traceql_trace"].path.rsplit("/", 1)[1]
    batches = [s for s in spans if s["traceId"] == tid]
    assert q["traceql_trace"].check({"batches": batches}) is None
    assert q["traceql_trace"].check({"batches": batches[1:]}) is not None
    posts = {s["traceId"] for s in spans
             if any(a["value"]["stringValue"] == "POST"
                    for a in s.get("attributes", []))}
    traces = [{"trace_id": t} for t in posts]
    assert q["traceql_attr"].check({"traces": traces}) is None
    assert q["traceql_attr"].check({"traces": traces[1:]}) is not None


def test_dedup_check_allows_only_near_threshold_misses():
    import datapipe

    sh = gen.datapipe_shard(5, 1)
    rows = {
        "dedup": [{"doc_a": min(p), "doc_b": max(p)} for p in sh.dup_pairs],
        "simsearch": [{"query_id": q, "neighbor_id": n}
                      for q, ns in sh.topk.items() for n in ns],
        "textstats": [{"doc_id": d, "n_tokens": t}
                      for d, t in sh.n_tokens.items()],
    }
    assert datapipe._check(sh, rows) == ([], 0)
    low = min(sh.dup_pairs, key=sh.dup_pairs.get)
    high = max(sh.dup_pairs, key=sh.dup_pairs.get)
    assert sh.dup_pairs[low] < gen.SURE_JACCARD <= sh.dup_pairs[high]

    def without(pair):
        return dict(rows, dedup=[r for r in rows["dedup"]
                                 if {r["doc_a"], r["doc_b"]} != pair])

    # a pair LSH may miss is counted, not failed
    assert datapipe._check(sh, without(low)) == ([], 1)
    # a pair it finds with near certainty, or a pair that is no
    # duplicate, fails the pass
    assert datapipe._check(sh, without(high))[0]
    extra = dict(rows, dedup=rows["dedup"] + [{"doc_a": 0, "doc_b": 1}])
    assert frozenset((0, 1)) not in sh.dup_pairs
    assert datapipe._check(sh, extra)[0]


# ------------------------------------------------------------ spans
def _span(sid, parent, root, name, t0, t1, **info):
    return {"sid": sid, "parent": parent, "root": root, "name": name,
            "t0": t0, "t1": t1, "info": info}


def test_self_time_is_duration_minus_children():
    spans = [
        _span(1, None, 1, "httpd", 0.0, 1.0, method="GET",
              path="/loki/api/v1/query_range", jobs=3, stages=4, tasks=9,
              failed_tasks=0, bytes=500, trace_ms=2.0),
        _span(2, 1, 1, "api", 0.1, 0.9),
        _span(3, 2, 1, "logql.compile", 0.1, 0.4, jobs=1),
        _span(4, 3, 1, "logql.parse", 0.1, 0.15),
        _span(5, 3, 1, "spark.execute", 0.2, 0.3),  # a build-time probe
        _span(6, 1, 1, "spark.execute", 0.9, 0.95),
    ]
    st = tracer.self_times(spans)
    assert abs(st[1] - 0.15) < 1e-9  # 1.0 - api 0.8 - execute 0.05
    assert abs(st[2] - 0.5) < 1e-9  # 0.8 - compile 0.3
    assert abs(st[3] - 0.15) < 1e-9  # 0.3 - parse 0.05 - probe 0.1
    assert abs(sum(st.values()) - 1.0) < 1e-9  # self times tile the request
    m = tracer.aggregate(spans)
    assert abs(m["httpd.self_ms"] - 150) < 1e-6
    assert abs(m["api.self_ms"] - 500) < 1e-6
    assert abs(m["logql.parse_ms"] - 50) < 1e-6
    assert m["logql.parse_calls"] == 1
    # compile includes its probe job, not its parse
    assert abs(m["logql.compile_ms"] - 250) < 1e-6
    assert m["logql.compile_jobs"] == 1
    # execution of the returned plan only
    assert abs(m["spark.execute_ms"] - 50) < 1e-6
    assert m["spark.jobs"] == 3 and m["spark.tasks"] == 9
    assert m["httpd.response_bytes"] == 500
    assert m["trace.bookkeeping_ms"] == 2.0
    # the layers below httpd cover all but httpd's own 0.15 s
    assert abs(m["trace.accounted_ratio"] - 0.85) < 1e-9


def test_an_untraced_gap_lowers_the_accounted_ratio():
    spans = [
        _span(1, None, 1, "httpd", 0.0, 1.0, method="GET",
              path="/api/v1/query"),
        _span(2, 1, 1, "api", 0.1, 0.3),
        # 0.3 .. 0.9: work no wrapped layer covers
        _span(3, 1, 1, "spark.execute", 0.9, 1.0),
    ]
    m = tracer.aggregate(spans)
    assert abs(m["httpd.self_ms"] - 700) < 1e-6
    assert abs(m["trace.accounted_ratio"] - 0.3) < 1e-9


def test_writer_spans_are_per_call():
    spans = [
        _span(1, None, 1, "bulk.flush", 0.0, 4.0, payloads=6),
        _span(2, 1, 1, "sources.decode", 0.0, 0.5),
        _span(3, 1, 1, "storage.writer.fanout", 0.5, 3.5, jobs=10, tasks=16),
        _span(4, 3, 1, "patterns.mine", 1.0, 3.0, jobs=6),
        _span(5, 1, 1, "storage.query.refresh", 3.5, 3.6),
        _span(6, None, 6, "bulk.flush", 5.0, 7.0, payloads=2),
        _span(7, 6, 6, "storage.writer.fanout", 5.0, 6.0, jobs=8, tasks=12),
    ]
    m = tracer.aggregate(spans)
    assert m["bulk.flushes"] == 2
    assert abs(m["bulk.flush_ms"] - 3000) < 1e-6
    assert m["bulk.payloads_per_flush"] == 4
    assert abs(m["storage.writer.fanout_ms"] - 2000) < 1e-6
    assert m["storage.writer.fanout_jobs"] == 9
    assert m["storage.writer.fanout_tasks"] == 14
    assert m["patterns.mine_jobs"] == 6
    assert m["storage.query.refresh_calls"] == 1
    assert m["trace.requests"] == 0


def test_appends_are_counted_per_fanout_and_table():
    spans = [
        _span(1, None, 1, "bulk.flush", 0.0, 2.0, payloads=1),
        _span(2, 1, 1, "storage.writer.fanout", 0.0, 1.0),
        _span(3, None, 3, "bulk.flush", 3.0, 4.0, payloads=1),
        _span(4, 3, 3, "storage.writer.fanout", 3.0, 4.0),
    ]
    writes = [
        {"table": "samples", "files": 2, "bytes": 1000, "walk_ms": 1.0},
        {"table": "time_series", "files": 1, "bytes": 300, "walk_ms": 0.5},
        {"table": "samples", "files": 2, "bytes": 1200, "walk_ms": 1.0},
    ]
    m = tracer.aggregate(spans, writes)
    assert m["storage.writer.files_written"] == 2.5
    assert m["storage.writer.bytes_written"] == 1250
    assert m["storage.writer.files_written.samples"] == 2
    assert m["storage.writer.bytes_written.time_series"] == 150
    assert m["trace.append_walk_ms"] == 2.5


def test_parquet_files_sees_committed_files_only(tmp_path):
    (tmp_path / "date=2026-01-01").mkdir()
    (tmp_path / "date=2026-01-01" / "part-0.parquet").write_bytes(b"x" * 7)
    (tmp_path / "_temporary").mkdir()
    (tmp_path / "_temporary" / "part-1.parquet").write_bytes(b"y")
    (tmp_path / "_SUCCESS").write_bytes(b"")
    assert tracer.parquet_files(str(tmp_path)) == {
        os.path.join("date=2026-01-01", "part-0.parquet"): 7}


def test_overhead_is_traced_minus_untraced_median():
    samples = [(True, 5.0), (True, 9.0), (False, 2.0), (False, 4.0),
               (False, 30.0)]
    assert C.overhead(samples) == (3.0, 2)  # median 7 - median 4
    assert C.overhead([(False, 1.0)]) == (0.0, 0)


def test_tree_cpu_counts_a_child_that_burns_cpu():
    import subprocess

    before = C.tree_cpu_s(os.getpid())
    child = subprocess.Popen(
        [sys.executable, "-c",
         "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass\n"
         "import sys; sys.stdout.write('x'); sys.stdout.flush()\n"
         "time.sleep(5)"],
        stdout=subprocess.PIPE)
    try:
        assert child.stdout.read(1) == b"x"
        # the running child is part of the tree, with its CPU time
        assert C.tree_cpu_s(os.getpid()) - before >= 0.25
    finally:
        child.kill()
        child.wait()
