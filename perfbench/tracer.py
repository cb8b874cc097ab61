"""Span recorder for the traced run.

`install()` wraps the public functions of each gigapipe_spark layer with
span recorders, from outside: the repository's code is not edited. It
runs in the service process before the service starts, and rebinds every
module attribute that still points at an original function, so names
bound at import time (`from ... import parse`) are traced as well.

Recording covers the measured phase only (SIGUSR1 / SIGUSR2 in the
service launcher). Inside it, background work (bulk flushes) is always
traced, and an HTTP request is traced when the load generator marks it
with the TRACE_HEADER; it marks three reads of four and every other
push, so the traced and untraced latencies of one run give the tracing
overhead. Each root span also carries the time its recorders spent on
their own bookkeeping (`trace_ms`), the direct measure of that overhead.

Parquet appends to the store are recorded as well, one record per
append with the files and bytes it added (the store's writer lock keeps
appends apart, so a listing of the target before and after the append
sees exactly its files).

Spans are kept in memory and written out when the service stops.
`aggregate()` turns them into the per-layer metrics; it is pure, so the
self-tests exercise it on hand-made spans.
"""

from __future__ import annotations

import itertools
import os
import threading
import time

TRACE_HEADER = "X-Perfbench-Trace"

# Root spans: a span of another name is recorded only below one of these
# on the same thread (a fan-out leg on a pool thread is covered by the
# writer span on the thread that waits for it).
ROOTS = ("httpd", "bulk.flush")

QUERY_PREFIXES = ("/loki/api/", "/api/v1/query", "/api/v1/label",
                  "/api/search", "/api/traces/")


def lang_of(path: str) -> str | None:
    if path.startswith("/loki/api/"):
        return "logql"
    if path.startswith(("/api/v1/query", "/api/v1/label")):
        return "promql"
    if path.startswith(("/api/search", "/api/traces/")):
        return "traceql"
    return None


class Span:
    __slots__ = ("sid", "parent", "root", "name", "t0", "t1", "info")

    def __init__(self, sid, parent, root, name, t0):
        self.sid, self.parent, self.root = sid, parent, root
        self.name, self.t0, self.t1 = name, t0, None
        self.info: dict = {}

    def as_dict(self) -> dict:
        return {"sid": self.sid, "parent": self.parent, "root": self.root,
                "name": self.name, "t0": self.t0, "t1": self.t1,
                "info": self.info}


class Recorder:
    def __init__(self):
        self.enabled = False  # the measured phase
        self.spans: list = []
        self.writes: list = []  # {"table", "files", "bytes", "walk_ms"}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.sc = None  # SparkContext, bound lazily for job accounting

    def stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, t0: float) -> Span | None:
        """A new span on this thread, or None: below no root, or a
        re-entrant call into the layer already open (one span)."""
        st = self.stack()
        if (not st and name not in ROOTS) or (st and st[-1].name == name):
            return None
        sid = next(self._ids)
        span = Span(sid, st[-1].sid if st else None,
                    st[0].sid if st else sid, name, t0)
        st.append(span)
        return span

    def close(self, span: Span, t1: float) -> None:
        span.t1 = t1
        st = self.stack()
        st.pop()
        with self._lock:
            self.spans.append(span.as_dict())

    def dump(self) -> dict:
        return {"spans": self.spans, "writes": self.writes}

    def charge(self, seconds: float) -> None:
        """Book recorder time on the thread's root span."""
        st = self.stack()
        if st:
            st[0].info["trace_ms"] = st[0].info.get("trace_ms", 0.0) + seconds * 1000

    def root(self) -> Span | None:
        st = self.stack()
        return st[0] if st else None

    # -------------------------------------------------- spark job ids
    def _spark(self):
        if self.sc is None:
            from pyspark import SparkContext

            self.sc = SparkContext._active_spark_context
        return self.sc

    def group_jobs(self, group: str | None) -> set:
        sc = self._spark()
        if sc is None:
            return set()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def current_group(self) -> str | None:
        sc = self._spark()
        return sc.getLocalProperty("spark.jobGroup.id") if sc else None

    def job_counts(self, job_ids) -> dict:
        """jobs / stages that ran / tasks completed / tasks failed."""
        tracker = self._spark().statusTracker()
        stages = tasks = failed = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                if st.numCompletedTasks or st.numFailedTasks:
                    stages += 1
                tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


REC = Recorder()


def _count_jobs(span: Span, job_ids) -> None:
    """Job accounting must never break the traced call: a failure (the
    session shutting down mid-request) is recorded on the span."""
    try:
        span.info.update(REC.job_counts(job_ids()))
    except Exception as ex:  # noqa: BLE001 - tracing stays out of the way
        span.info["jobs_error"] = f"{type(ex).__name__}: {ex}"[:200]


def _wrap(fn, name: str, jobs: str | None = None):
    """Span wrapper for a layer below a root. `jobs`: None, "group"
    (Spark jobs the thread's job group started during the span) or
    "writer" (also jobs with no group, which is where the fan-out's pool
    threads submit theirs)."""

    def traced(*a, **kw):
        if not REC.stack():
            return fn(*a, **kw)
        t_in = time.perf_counter()
        span = REC.open(name, t_in)
        if span is None:
            return fn(*a, **kw)
        snap = None
        if jobs is not None:
            try:
                group = REC.current_group()
                snap = (group, REC.group_jobs(group),
                        REC.group_jobs(None) if jobs == "writer" and group
                        else set())
            except Exception as ex:  # noqa: BLE001 - as in _count_jobs
                span.info["jobs_error"] = f"{type(ex).__name__}: {ex}"[:200]
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            t1 = time.perf_counter()
            if snap is not None:
                group, g0, u0 = snap
                _count_jobs(span, lambda: (
                    (REC.group_jobs(group) - g0)
                    | (REC.group_jobs(None) - u0
                       if jobs == "writer" and group else set())))
            REC.close(span, t1)
            REC.charge((t0 - t_in) + (time.perf_counter() - t1))

    traced.__wrapped__ = fn
    traced.__name__ = getattr(fn, "__name__", name)
    return traced


def _root_wrap(fn, name: str, admit, own_group: bool = False):
    """A root span, opened during the measured phase when admit(args) is
    true. Its Spark jobs are counted at the end, after the response is
    written. `own_group`: set a job group for the span (push and flush
    threads have none of their own)."""
    seq = itertools.count(1)

    def traced(*a, **kw):
        if not REC.enabled or REC.stack():
            return fn(*a, **kw)
        t_in = time.perf_counter()
        info = admit(a)
        if info is None:
            return fn(*a, **kw)
        span = REC.open(name, t_in)
        span.info.update(info)
        sc = REC._spark() if own_group else None
        if sc is not None:
            group = f"perfbench-{name}-{next(seq)}-{threading.get_ident()}"
            try:
                sc.setJobGroup(group, name)
                span.info["group"] = group
            except Exception as ex:  # noqa: BLE001 - as in _count_jobs
                span.info["jobs_error"] = f"{type(ex).__name__}: {ex}"[:200]
                sc = None
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            t1 = time.perf_counter()
            if sc is not None:
                try:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                except Exception:  # noqa: BLE001 - session shutting down
                    pass
            group = span.info.get("group")
            if group is not None:
                _count_jobs(span, lambda: REC.group_jobs(group))
            REC.charge((t0 - t_in) + (time.perf_counter() - t1))
            REC.close(span, t1)

    traced.__wrapped__ = fn
    return traced


def parquet_files(path: str) -> dict:
    """{relative path: bytes} of the committed parquet files under path."""
    out = {}
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for name in names:
            if name.endswith(".parquet"):
                full = os.path.join(dirpath, name)
                try:
                    out[os.path.relpath(full, path)] = os.path.getsize(full)
                except OSError:
                    pass
    return out


def _trace_appends(writer_cls) -> None:
    """Record the files and bytes each parquet append adds. The save
    mode is set on the JVM writer, so `mode()` is wrapped to keep a
    copy on the Python side."""
    orig_mode, orig_parquet = writer_cls.mode, writer_cls.parquet

    def mode(self, saveMode):
        self._perfbench_mode = saveMode
        return orig_mode(self, saveMode)

    def parquet(self, path, mode=None, *a, **kw):
        if not REC.enabled or (
                mode or getattr(self, "_perfbench_mode", None)) != "append":
            return orig_parquet(self, path, mode, *a, **kw)
        w0 = time.perf_counter()
        before = parquet_files(path)
        walk = time.perf_counter() - w0
        out = orig_parquet(self, path, mode, *a, **kw)
        w0 = time.perf_counter()
        new = {k: v for k, v in parquet_files(path).items() if k not in before}
        walk += time.perf_counter() - w0
        with REC._lock:
            REC.writes.append({"table": os.path.basename(path.rstrip("/")),
                               "files": len(new), "bytes": sum(new.values()),
                               "walk_ms": walk * 1000})
        return out

    writer_cls.mode, writer_cls.parquet = mode, parquet


def _rebind(orig, new, modules) -> None:
    for mod in modules:
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def install() -> None:
    """Wrap every layer's entry points (see DECLARED for the span names a
    workload must fire)."""
    import sys

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from gigapipe_spark import api, bulk, cancel, httpd
    from gigapipe_spark.logql import compiler as lc, parser as lp
    from gigapipe_spark.promql import compiler as pc, parser as pp
    from gigapipe_spark.sources import ingest, protowire
    from gigapipe_spark.storage import query as sq, writer
    from gigapipe_spark.traceql import compiler as tc, parser as tp

    mods = [m for n, m in list(sys.modules.items())
            if n.startswith("gigapipe_spark") and m is not None]

    def fn_span(module, attr, name, jobs=None):
        orig = getattr(module, attr)
        _rebind(orig, _wrap(orig, name, jobs), mods)

    def method_span(cls, attr, name, jobs=None):
        if attr in vars(cls):
            setattr(cls, attr, _wrap(vars(cls)[attr], name, jobs))

    # parsers: every binding of parse()
    for lang, mod in (("logql", lp), ("promql", pp), ("traceql", tp)):
        fn_span(mod, "parse", f"{lang}.parse")
    # compilers: plan construction, plus the Spark jobs run while building
    for attr in ("query", "query_range"):
        fn_span(lc, attr, "logql.compile", jobs="group")
    fn_span(pc, "query", "promql.compile", jobs="group")
    for attr in ("query", "trace_by_id", "assemble_traces"):
        fn_span(tc, attr, "traceql.compile", jobs="group")
    # api facade: every public Engine / StoreEngine method
    skip = {"refresh", "ready", "metrics", "config"}
    for cls in (api.Engine, sq.StoreEngine):
        for attr, val in list(vars(cls).items()):
            if callable(val) and not attr.startswith("_") and attr not in skip:
                method_span(cls, attr, "api")
    method_span(sq.StoreEngine, "refresh", "storage.query.refresh")
    for cls in (writer.Catalog, writer.SnapshotCatalog):
        for attr in ("read", "read_series"):
            method_span(cls, attr, "storage.catalog_read")
    # executing a plan
    for attr in ("collect", "count", "toLocalIterator", "isEmpty", "take",
                 "first", "head"):
        if attr in vars(DataFrame):
            setattr(DataFrame, attr, _wrap(vars(DataFrame)[attr],
                                           "spark.execute"))
    # wire decoders
    for attr in ("loki_push", "influx_line", "otlp_traces", "otlp_logs",
                 "zipkin_spans", "datadog_logs", "elastic_bulk"):
        fn_span(ingest, attr, "sources.decode")
    for attr in ("loki_push_pb", "remote_write", "otlp_logs_pb",
                 "otlp_traces_pb"):
        if hasattr(protowire, attr):
            fn_span(protowire, attr, "sources.decode")
    # the MV fan-out and the inline pattern miner
    for attr in ("ingest_fanout", "spans_fanout", "profiles_fanout"):
        fn_span(writer, attr, "storage.writer.fanout", jobs="writer")
    fn_span(writer, "patterns_fanout", "patterns.mine", jobs="writer")
    _trace_appends(DataFrameWriter)

    # roots: one HTTP request, one bulk flush
    def http_admit(a):
        handler = a[0]
        if handler.headers.get(TRACE_HEADER) != "1":
            return None
        return {"path": handler.path.split("?", 1)[0],
                "method": handler.command}

    for attr in ("do_GET", "do_POST"):
        setattr(httpd._Handler, attr, _root_wrap(
            vars(httpd._Handler)[attr], "httpd", http_admit,
            own_group=(attr == "do_POST")))

    orig_send = httpd._Handler._send_body

    def send_body(self, body, code, ctype):
        root = REC.root()
        if root is not None:
            root.info["bytes"] = root.info.get("bytes", 0) + len(body)
            root.info["status"] = code
        return orig_send(self, body, code, ctype)

    httpd._Handler._send_body = send_body

    orig_enter = cancel.RequestGuard.__enter__

    def guard_enter(self):
        out = orig_enter(self)
        root = REC.root()
        if root is not None and "group" not in root.info:
            root.info["group"] = self.group_id
        return out

    cancel.RequestGuard.__enter__ = guard_enter

    def flush_admit(a):
        # the flusher's idle wake-ups are not flushes
        n = sum(len(v) for v in a[0]._buf.values())
        return {"payloads": n} if n else None

    bulk.BulkWriter.flush_now = _root_wrap(
        bulk.BulkWriter.flush_now, "bulk.flush", flush_admit, own_group=True)


# span name -> the workloads on which it must fire at least once; one
# that never fires fails the traced run
DECLARED = {
    name: ("live_mixed",) for name in (
        "httpd", "api", "logql.parse", "promql.parse", "traceql.parse",
        "logql.compile", "promql.compile", "traceql.compile",
        "spark.execute", "storage.query.refresh", "storage.catalog_read",
        "sources.decode", "storage.writer.fanout", "patterns.mine",
        "bulk.flush",
    )
}


# ------------------------------------------------------------ aggregation
def self_times(spans: list) -> dict:
    """sid -> span duration minus the durations of its direct children
    (children of one span run on its thread, one after another)."""
    child_sum: dict = {}
    for s in spans:
        if s["parent"] is not None:
            child_sum[s["parent"]] = (child_sum.get(s["parent"], 0.0)
                                      + s["t1"] - s["t0"])
    return {s["sid"]: (s["t1"] - s["t0"]) - child_sum.get(s["sid"], 0.0)
            for s in spans}


def _ancestors(s, by_id) -> list:
    out = []
    while s["parent"] is not None and s["parent"] in by_id:
        s = by_id[s["parent"]]
        out.append(s)
    return out


def aggregate(spans: list, writes: list = ()) -> dict:
    """Per-layer metrics from one run's spans and parquet appends.
    Read-path figures are per query request; writer figures per call of
    that layer."""
    by_id = {s["sid"]: s for s in spans}
    selft = self_times(spans)
    roots = [s for s in spans if s["parent"] is None]
    queries = [s for s in roots if s["name"] == "httpd"
               and s["info"].get("method") == "GET"
               and s["info"].get("path", "").startswith(QUERY_PREFIXES)]
    pushes = [s for s in roots if s["name"] == "httpd"
              and s["info"].get("method") == "POST"]
    qids = {s["sid"] for s in queries}
    lang_req = {"logql": 0, "promql": 0, "traceql": 0}
    root_lang = {}
    for s in queries:
        lang = lang_of(s["info"]["path"])
        root_lang[s["sid"]] = lang
        if lang:
            lang_req[lang] += 1
    nq = max(len(queries), 1)
    ms = 1000.0
    m: dict = {}

    def under_queries(name):
        return [s for s in spans if s["name"] == name and s["root"] in qids]

    m["httpd.self_ms"] = sum(selft[s["sid"]] for s in queries) * ms / nq
    m["httpd.push_self_ms"] = (
        sum(selft[s["sid"]] for s in pushes) * ms / max(len(pushes), 1))
    m["httpd.response_bytes"] = sum(s["info"].get("bytes", 0)
                                    for s in queries) / nq
    m["api.self_ms"] = sum(selft[s["sid"]] for s in under_queries("api")) * ms / nq
    for lang in lang_req:
        nl = max(lang_req[lang], 1)
        parses = [s for s in spans if s["name"] == f"{lang}.parse"
                  and root_lang.get(s["root"]) == lang]
        m[f"{lang}.parse_ms"] = sum(s["t1"] - s["t0"] for s in parses) * ms / nl
        m[f"{lang}.parse_calls"] = len(parses) / nl
        comp = [s for s in spans if s["name"] == f"{lang}.compile"
                and s["root"] in qids]
        comp_ids = {s["sid"] for s in comp}
        parse_in = sum(s["t1"] - s["t0"] for s in parses
                       if any(a["sid"] in comp_ids
                              for a in _ancestors(s, by_id)))
        m[f"{lang}.compile_ms"] = (
            (sum(s["t1"] - s["t0"] for s in comp) - parse_in) * ms / nl)
        m[f"{lang}.compile_jobs"] = sum(s["info"].get("jobs", 0)
                                        for s in comp) / nl
    execs = [s for s in under_queries("spark.execute")
             if not any(a["name"].endswith(".compile")
                        for a in _ancestors(s, by_id))]
    m["spark.execute_ms"] = sum(s["t1"] - s["t0"] for s in execs) * ms / nq
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = sum(s["info"].get(k, 0) for s in queries) / nq
    reads = under_queries("storage.catalog_read")
    m["storage.catalog_read_ms"] = sum(s["t1"] - s["t0"] for s in reads) * ms / nq
    m["storage.catalog_read_calls"] = len(reads) / nq

    def per_call(name, prefix, with_jobs=False):
        calls = [s for s in spans if s["name"] == name]
        n = max(len(calls), 1)
        m[f"{prefix}_ms"] = sum(s["t1"] - s["t0"] for s in calls) * ms / n
        if with_jobs:
            m[f"{prefix}_jobs"] = sum(s["info"].get("jobs", 0) for s in calls) / n
        return calls

    refresh = per_call("storage.query.refresh", "storage.query.refresh")
    m["storage.query.refresh_calls"] = len(refresh)
    per_call("sources.decode", "sources.decode")
    fan = per_call("storage.writer.fanout", "storage.writer.fanout", True)
    m["storage.writer.fanout_tasks"] = (
        sum(s["info"].get("tasks", 0) for s in fan) / max(len(fan), 1))
    m["storage.writer.fanouts"] = len(fan)
    for k in ("files", "bytes"):
        m[f"storage.writer.{k}_written"] = (
            sum(w[k] for w in writes) / max(len(fan), 1))
        for w in writes:
            key = f"storage.writer.{k}_written.{w['table']}"
            m[key] = m.get(key, 0.0) + w[k] / max(len(fan), 1)
    m["trace.append_walk_ms"] = sum(w["walk_ms"] for w in writes)
    per_call("patterns.mine", "patterns.mine", True)
    flushes = per_call("bulk.flush", "bulk.flush")
    m["bulk.flushes"] = len(flushes)
    m["bulk.payloads_per_flush"] = (
        sum(s["info"].get("payloads", 0) for s in flushes)
        / max(len(flushes), 1))
    m["trace.bookkeeping_ms"] = sum(s["info"].get("trace_ms", 0.0)
                                    for s in queries) / nq
    # share of query time the layers below httpd cover: whatever no
    # named layer accounts for stays in the request span's own self time
    req_total = sum(s["t1"] - s["t0"] for s in queries)
    m["trace.accounted_ratio"] = (
        1.0 - sum(selft[s["sid"]] for s in queries) / req_total
        if req_total else 0.0)
    m["trace.requests"] = len(queries)
    return m
