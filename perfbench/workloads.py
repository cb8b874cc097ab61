"""live_mixed: the service runs as deployed, in its own process, over a
fresh store; this process is the load generator.

Set-up starts the service, ingests the seeded dashboard data (logs,
metric series, spans) through the push routes with synchronous acks and
warms the read path. The measured phase then runs, concurrently:
  - an open-loop pusher: small Loki batches at a fixed rate, each with a
    unique marker line, acked by the bulk writer (BULK_MAX_AGE_MS=100);
  - one closed-loop reader on one connection, replaying the dashboard
    mix (LogQL, PromQL, TraceQL) against the seeded data, every answer
    checked, and between two dashboard queries reading the markers back
    while any acked marker is unseen: freshness is push ack → first read
    that returns the marker.
Every bulk flush refreshes the engine's file listings: reads rebuild
their contexts after each write. Compaction is off (GIGAPIPE_COMPACT=0):
a read that overlaps a compaction can return fewer rows than are stored,
without an error, so no workload runs the two together.
"""

from __future__ import annotations

import json
import os
import resource
import signal
import subprocess
import sys
import threading
import time
from urllib.parse import quote

import common as C
import gen
import tracer

# Two Promtail agents' worth of pushes: a Promtail client sends a batch
# when `batchwait` (default 1 s) passes or `batchsize` (default 1 MiB)
# fills, so a quiet host's agent pushes once a second. The 10 lines per
# batch (gen.LIVE_LINES) are an assumption, not observed traffic.
PUSH_RATE = 2.0  # pushes per second, open loop
# the pusher stops this long before the end of the measured phase, so the
# last markers become readable inside it rather than in a drain after it
PUSH_STOP_S = 4.0
FRESH_DEADLINE_S = 20.0  # a marker not readable this long after its ack fails
LIVE_ENV = {"BULK_MAX_AGE_MS": "100", "GIGAPIPE_COMPACT": "0"}
SYNC = {"X-Async-Insert": "false"}
TRACED = {tracer.TRACE_HEADER: "1"}


def _cpu_s() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


class Service:
    """`python -m gigapipe_spark` through the launcher, over a fresh store
    in the run's work directory."""

    def __init__(self, work: str, trace: int, extra_env: dict):
        self.port = C.free_port()
        self.store = os.path.join(work, "store")
        self.spans_path = os.path.join(work, "spans.json")
        self.env = C.bench_env(work)
        self.env.update(PORT=str(self.port), HOST="127.0.0.1",
                        GIGAPIPE_STORE=self.store, LOG_LEVEL="warn",
                        **extra_env)
        self.work = work
        self.child = C.Child(
            [sys.executable, os.path.join(C.BENCH_DIR, "launcher.py"),
             "--trace", str(trace), "--spans", self.spans_path],
            cwd=work, env=self.env, log_path=os.path.join(work, "service.log"),
        )

    def stop(self) -> None:
        self.child.stop()

    def heal(self) -> None:
        """The program's own fsck (MODE=init_only) after the stop, so the
        store read from outside is the one a restart would serve."""
        subprocess.run(
            [sys.executable, "-m", "gigapipe_spark"], cwd=self.work,
            env=dict(self.env, MODE="init_only"), check=True,
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
        )

    def trace(self) -> dict:
        """The traced run's {"spans", "writes"}, as the launcher wrote them."""
        with open(self.spans_path) as f:
            return json.load(f)


def get_checked(client: C.Client, path: str, check,
                headers: dict | None = None) -> str | None:
    """The error, or None. Non-2xx, an exception and a wrong answer are
    all failures."""
    try:
        status, body = client.request("GET", path, headers=headers)
    except Exception as ex:  # noqa: BLE001 - every failure is counted
        client.close()
        return f"{type(ex).__name__}: {ex}"
    if status // 100 != 2:
        return f"HTTP {status}: {body[:120]!r}"
    try:
        return check(json.loads(body))
    except Exception as ex:  # noqa: BLE001
        return f"bad response: {type(ex).__name__}: {ex}"


def _loki_range(query: str, start_ns: int) -> str:
    return (f"/loki/api/v1/query_range?query={quote(query)}"
            f"&start={start_ns}&end={start_ns + 3600 * 10**9}&limit=100000")


class Markers:
    """Marker bookkeeping shared by the pusher and the reader."""

    def __init__(self, seed: int, win_ns: int):
        self.seed = seed
        self.lock = threading.Lock()
        self.sent: set = set()
        self.acked: dict = {}  # seq -> perf_counter of the ack
        self.seen: dict = {}  # seq -> perf_counter of the first read showing it
        self.query = _loki_range('{app="live"} |= "marker-"', win_ns)
        self.bytes = 0
        self.probes = 0

    def push(self, c: C.Client, seq: int, headers=None) -> str | None:
        body = gen.live_push(self.seed, seq, time.time_ns())
        with self.lock:
            self.sent.add(seq)
        try:
            status, _ = c.request("POST", "/loki/api/v1/push", body,
                                  headers=headers)
        except Exception as ex:  # noqa: BLE001
            c.close()
            return f"push: {type(ex).__name__}: {ex}"
        if status // 100 != 2:
            return f"push: HTTP {status}"
        with self.lock:
            self.acked[seq] = time.perf_counter()
            if seq:  # the warm-up push is not part of the measured input
                self.bytes += len(body)
        return None

    def probe(self, c: C.Client) -> str | None:
        self.probes += 1
        def check(resp):
            got = set()
            for s in resp["data"]["result"]:
                for _, text in s["values"]:
                    if not text.startswith(f"marker-{self.seed}-"):
                        return f"marker query returned {text[:40]!r}"
                    got.add(int(text.rsplit("-", 1)[1]))
            now = time.perf_counter()
            with self.lock:
                if not got <= self.sent:
                    return "marker query returned a marker never sent"
                lost = [s for s in self.seen if s not in got]
                for s in got:
                    self.seen.setdefault(s, now)
            if lost:
                return f"stale read: {len(lost)} markers seen earlier are gone"
            return None

        return get_checked(c, self.query, check)

    def pending(self) -> list:
        with self.lock:
            return [self.acked[s] for s in self.acked if s not in self.seen]


def _seed_store(port: int, data: gen.DashboardData) -> None:
    """The three seed payloads, pushed concurrently with synchronous acks
    (X-Async-Insert: false), so they are readable when the pushes return."""
    errors = []

    def push(path, body, ctype):
        c = C.Client(port)
        try:
            status, resp = c.request("POST", path, body, ctype, headers=SYNC)
            if status // 100 != 2:
                errors.append(f"seed push {path}: HTTP {status} {resp[:200]!r}")
        finally:
            c.close()

    threads = [threading.Thread(target=push, args=a) for a in (
        ("/loki/api/v1/push", data.loki, "application/json"),
        ("/influx/api/v2/write?precision=ns", data.influx, "text/plain"),
        ("/v1/traces", data.otlp, "application/json"),
    )]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise RuntimeError("; ".join(errors))


def live_mixed(seed: int, seconds: float, trace: int, work: str) -> dict:
    data = gen.dashboard(seed, extra_apps=(gen.LIVE_APP,))
    plan = [(q.name, q.path, q.check) for q in data.queries]
    fails = C.Failures()
    marks = Markers(seed, time.time_ns() - 10**9)
    t_setup = time.perf_counter()
    svc = Service(work, trace, LIVE_ENV)
    try:
        C.wait_ready(svc.port, svc.child)
        ready_s = time.perf_counter() - t_setup
        # warm-up of the write path: one marker push (bulk ack), flushed
        # while the seed pushes run; then one pass of the read mix, on
        # one connection like the measured reads, once the marker is
        # readable
        c = C.Client(svc.port)
        err = marks.push(c, 0)
        if err:
            raise RuntimeError(f"warm-up {err}")
        _seed_store(svc.port, data)
        seed_s = time.perf_counter() - t_setup - ready_s
        deadline = time.perf_counter() + 60
        while 0 not in marks.seen and time.perf_counter() < deadline:
            err = marks.probe(c)
            fails.record(err and f"warm-up freshness: {err}")
        if 0 not in marks.seen:
            raise RuntimeError("warm-up push never became readable")

        for name, path, check in plan:
            err = get_checked(c, path, check)
            fails.record(None if err is None else f"warm-up {name}: {err}")
        c.close()
        probes0 = marks.probes
        setup_s = time.perf_counter() - t_setup

        m0 = C.scrape_metrics(svc.port)
        s0 = C.store_usage(svc.store)
        svc_cpu0 = C.tree_cpu_s(svc.child.pid)
        cpu0 = _cpu_s()
        if trace:
            svc.child.signal(signal.SIGUSR1)  # start recording spans
        t0 = time.perf_counter()
        t_end = t0 + seconds
        push_samples, lags, read_samples = [], [], []

        def pusher():
            pc = C.Client(svc.port)

            def send(k):
                traced = bool(trace) and k % 2 == 0
                err = marks.push(pc, k + 1, TRACED if traced else None)
                fails.record(err)
                return traced

            for _, lag, lat, traced in C.open_loop(
                    PUSH_RATE, t0, t_end - PUSH_STOP_S, send):
                lags.append(lag)
                push_samples.append((traced, lat))
            pc.close()

        def reader():
            # One connection does every read: a marker probe while any
            # acked marker is still unseen, then a dashboard query. The
            # service answers concurrent LogQL reads with different time
            # windows from one shared, mutable query context, so two
            # read connections can get each other's scan bounds (wrong
            # answers, no error); reads stay on a single connection.
            rc = C.Client(svc.port)
            k = 0
            while True:
                now = time.perf_counter()
                pending = marks.pending()
                if now >= t_end and not pending:
                    break
                if pending and now - min(pending) > FRESH_DEADLINE_S:
                    break
                if pending:
                    err = marks.probe(rc)
                    fails.record(err and f"freshness: {err}")
                if time.perf_counter() >= t_end:
                    continue
                name, path, check = plan[k % len(plan)]
                # three requests of four traced: a short traced run still
                # traces all three languages (the mix interleaves them),
                # and the fourth gives the untraced latency for the
                # overhead; the untraced slot moves on every pass
                traced = bool(trace) and (k + k // len(plan)) % 4 != 3
                k += 1
                r0 = time.perf_counter()
                err = get_checked(rc, path, check, TRACED if traced else None)
                r1 = time.perf_counter()
                fails.record(None if err is None else f"{name}: {err}")
                read_samples.append((name, r0, r1, traced))
            rc.close()

        threads = [threading.Thread(target=f, daemon=True)
                   for f in (pusher, reader)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if trace:
            svc.child.signal(signal.SIGUSR2)
        svc_cpu = C.tree_cpu_s(svc.child.pid) - svc_cpu0
        t_phase = time.perf_counter() - t0
        cpu = _cpu_s() - cpu0
        m1 = C.scrape_metrics(svc.port)
        s1 = C.store_usage(svc.store)
    finally:
        t_stop = time.perf_counter()
        svc.stop()
    stop_s = time.perf_counter() - t_stop

    fresh = []
    for seq, t_ack in marks.acked.items():
        if seq == 0:
            continue
        if seq in marks.seen:
            fresh.append(max(marks.seen[seq] - t_ack, 0.0) * 1000)
            fails.record(None)
        else:
            fails.record(f"freshness: marker {seq} not readable "
                         f"within {FRESH_DEADLINE_S}s of its ack")
    svc.heal()
    stored = _stored_markers(svc.store, seed)
    if stored != sorted(marks.acked):
        fails.record(f"acked != stored: {len(marks.acked)} acked, "
                     f"{len(stored)} stored markers")
    else:
        fails.record(None)

    per_query = {}
    for name, _, _ in plan:
        v = [(r1 - r0) * 1000 for n, r0, r1, _ in read_samples if n == name]
        per_query[name] = {"p50_ms": C.median(v), "n": len(v)}
    read_lat = [(r1 - r0) * 1000 for _, r0, r1, _ in read_samples]
    push_lat = [lat for _, lat in push_samples]
    store_delta = C.usage_delta(s0, s1)
    store_bytes = sum(v["bytes"] for v in store_delta.values())
    named = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ready_s": {"value": ready_s, "unit": "s"},
        "seed_ingest_s": {"value": seed_s, "unit": "s"},
        "stop_s": {"value": stop_s, "unit": "s"},
        "reads_per_s": {"value": (1000 * len(read_lat) / sum(read_lat)
                                  if read_lat else None),
                        "unit": "1/s", "n": len(read_lat)},
    }
    named.update(C.summarize("query", read_lat))
    named.update(C.summarize("push", push_lat))
    named.update(C.summarize("freshness", fresh))
    named["store_bytes_per_input_byte"] = {
        "value": store_bytes / max(marks.bytes, 1), "unit": "ratio"}
    named["peak_rss_mb"] = {"value": svc.child.rss.mb(), "unit": "MB"}
    # CPU the service used in the measured phase, in cores: how much of
    # the host the run asked for
    named["service_cpu_cores"] = {"value": svc_cpu / t_phase, "unit": "cores"}
    named["marker_probes"] = {"value": marks.probes - probes0, "unit": "count"}
    res = {
        "primary": {"throughput_per_s": named["reads_per_s"]["value"]},
        "setup_s": setup_s,
        "peak_rss_mb": svc.child.rss.mb(),
        "fails": fails,
        "named": named,
        "per_query": per_query,
        "samples": {"freshness_ms": fresh,
                    "reads_ms": [[n, (r1 - r0) * 1000]
                                 for n, r0, r1, _ in read_samples]},
        "store": s1,
        "sizes": {
            "seed_log_lines": data.log_lines,
            "seed_metric_points": data.metric_points,
            "seed_spans": data.spans,
            "push_rate_per_s": PUSH_RATE, "lines_per_push": gen.LIVE_LINES,
            "pushes": len(marks.acked) - 1, "read_connections": 1,
            "loop": "open-loop pusher; closed-loop reader (mix and probes)",
        },
        "layers": {},
    }
    res["layers"].update(C.metrics_delta(m0, m1))
    # net change seen by walking the store (the appends themselves are
    # recorded by the traced run: storage.writer.files_written /
    # bytes_written)
    res["layers"]["store.files_delta"] = sum(
        v["files"] for v in store_delta.values())
    res["layers"]["store.bytes_delta"] = store_bytes
    res["layers"]["loadgen.cpu_s"] = cpu
    res["layers"]["loadgen.send_lag_max_ms"] = max(lags) if lags else 0.0
    if trace:
        res.update(svc.trace())
        lay = res["layers"]
        lay["trace.overhead_ms"], lay["trace.overhead_n"] = C.overhead(
            [(t, (r1 - r0) * 1000) for _, r0, r1, t in read_samples])
        lay["trace.push_overhead_ms"], lay["trace.push_overhead_n"] = (
            C.overhead(push_samples))
    return res


def _stored_markers(store: str, seed: int) -> list:
    """Marker sequence numbers in the stored samples, read from the
    parquet files with DuckDB after the service stopped."""
    import duckdb

    glob = os.path.join(store, "samples", "oid=*", "date=????-??-??",
                        "*.parquet")
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT string FROM read_parquet('{glob}') "
            f"WHERE string LIKE 'marker-{seed}-%'"
        ).fetchall()
    finally:
        con.close()
    return sorted(int(r[0].rsplit("-", 1)[1]) for r in rows)
