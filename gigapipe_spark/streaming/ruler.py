"""Recording rules + live tail (ref: ruler/, reader/service/query_range.go).

The reference's ruler is a poll-scheduler re-evaluating LogQL/PromQL
rules on intervals and writing results back as samples (ref:
ruler/manager.go:55-224, logql_evaluator.go:44, writeback.go:20-54).
Live tail is a polling loop re-running the transpiled query from the
last-seen timestamp (ref: reader/service/query_range.go:670-760) — a
deliberate poll, not a push stream, and that design carries over.

Spark form: rule evaluation = run the compiled query over the window
since the last tick, append the matrix to the samples store with the
rule name as __name__ — scheduled micro-batches, the Structured
Streaming-free shape the reference itself uses.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gigapipe_spark.model.fingerprint import fingerprint_col


@dataclass
class RecordingRule:
    name: str  # becomes __name__ of the written-back series
    query: str  # LogQL or PromQL metric query (see lang)
    interval_ns: int
    # "logql" | "promql" — the reference ruler evaluates both rule kinds
    # (ruler/manager.go:55-224, logql_evaluator.go:44, prom_evaluator.go)
    lang: str = "logql"
    # static rule labels merged into the written-back series
    # (ref: manager.go:244 writer.Write(rule.Record, rule.Labels, ...))
    static_labels: dict[str, str] | None = None


@dataclass
class RuleEvaluation:
    rule: RecordingRule
    rows: int
    df: DataFrame


class Ruler:
    """Evaluate rules over a samples context and write back
    (ref: ruler/manager.go evaluation loop + writeback.go).

    This is the EMBEDDED layer: rules registered in code, full-matrix
    writeback — the shape notebooks and tests drive directly. The
    reference's full management surface (YAML rule groups persisted
    with ReplacingMergeTree semantics, per-cycle store re-read,
    instant-query evaluation, HTTP CRUD) lives in
    streaming/rules.py::RuleStore/RuleManager and is what the gateway
    serves; both write back through the same ingest_fanout path."""

    def __init__(
        self,
        spark: SparkSession,
        logctx_factory: Callable,
        sink: Callable[[DataFrame], None],
        promctx_factory: Callable | None = None,
    ):
        self.spark = spark
        self.logctx_factory = logctx_factory
        self.promctx_factory = promctx_factory
        self.sink = sink
        self.rules: list[RecordingRule] = []
        self.last_run_ns: dict[str, int] = {}
        self.health: dict[str, dict] = {}

    def add_rule(self, rule: RecordingRule) -> None:
        self.rules.append(rule)

    def due(self, now_ns: int) -> list[RecordingRule]:
        return [
            r
            for r in self.rules
            if r.name not in self.last_run_ns  # never evaluated → due now
            or now_ns - self.last_run_ns[r.name] >= r.interval_ns
        ]

    def evaluate(self, rule: RecordingRule, now_ns: int) -> RuleEvaluation:
        """One evaluation tick: run the rule, shape the matrix as
        writeback samples (ref: writeback.go:20-54 remote-write path)."""
        ctx = self.logctx_factory()
        if rule.lang == "promql":
            from gigapipe_spark.promql.compiler import PromQLContext
            from gigapipe_spark.promql.compiler import query as promql_query

            pctx = (
                self.promctx_factory()
                if self.promctx_factory is not None
                else PromQLContext(ctx.spark, ctx.sf_dir)
            )
            matrix = promql_query(pctx, rule.query)
        else:
            from gigapipe_spark.logql.compiler import query as logql_query

            matrix = logql_query(ctx, rule.query).df
        # __name__ + the rule's static labels override series labels
        # (ref: manager.go:244)
        extra = [F.lit("__name__"), F.lit(rule.name)]
        for k, v in (rule.static_labels or {}).items():
            extra += [F.lit(k), F.lit(v)]
        drop_keys = ["__name__", *(rule.static_labels or {}).keys()]
        labels = F.map_concat(
            F.map_filter(
                F.coalesce(F.col("labels"), F.expr("map()")),
                lambda k, v: ~k.isin(*drop_keys),
            ),
            F.create_map(*extra),
        )
        out = matrix.select(
            labels.alias("labels"),
            F.col("timestamp_ns"),
            F.col("value").cast("double").alias("value"),
        ).select(
            fingerprint_col(F.col("labels")).alias("fingerprint"),
            "labels",
            "timestamp_ns",
            "value",
            F.lit("").alias("string"),
            F.lit(2).cast("byte").alias("type"),
        )
        # materialize ONCE: the health row counts the result and the
        # sink writes it — without the checkpoint each action re-runs
        # the full rule query over the store
        out = out.localCheckpoint(eager=True)
        self.last_run_ns[rule.name] = now_ns
        return RuleEvaluation(rule=rule, rows=out.count(), df=out)

    def tick(self, now_ns: int) -> list[RuleEvaluation]:
        import time as _time

        evals = []
        for rule in self.due(now_ns):
            t0 = _time.monotonic()
            try:
                ev = self.evaluate(rule, now_ns)
                self.sink(ev.df)
            except Exception as e:  # rule health, not a ruler crash
                # (ref: manager.go:229-236 setRuleHealth "err")
                self.health[rule.name] = {
                    "health": "err",
                    "lastError": str(e),
                    "lastEvaluation": now_ns,
                    "evaluationTime": _time.monotonic() - t0,
                }
                self.last_run_ns[rule.name] = now_ns
                continue
            self.health[rule.name] = {
                "health": "ok",
                "lastError": "",
                "lastEvaluation": now_ns,
                "evaluationTime": _time.monotonic() - t0,
            }
            evals.append(ev)
        return evals

    def prometheus_rules(self) -> list[dict]:
        """/api/v1/rules listing in the Prometheus API shape, annotated
        with last-evaluation health (ref: manager.go:251
        GetPrometheusRules)."""
        out = []
        for r in self.rules:
            h = self.health.get(r.name, {})
            out.append(
                {
                    "name": r.name,
                    "query": r.query,
                    "type": "recording",
                    "labels": dict(r.static_labels or {}),
                    "health": h.get("health", "unknown"),
                    "lastError": h.get("lastError", ""),
                    "lastEvaluation": h.get("lastEvaluation"),
                    "evaluationTime": h.get("evaluationTime"),
                }
            )
        return out


def store_ruler(spark: SparkSession, catalog) -> "Ruler":
    """Ruler bound to a written store, closing the reference's writeback
    loop (ruler/writeback.go:20-54): rules evaluate over the stored
    tables and results append back THROUGH ingest_fanout — the same
    remote-write-shaped path as any push, so onEntries behaviors
    (service_name discovery, metadata peel, per-type series rows) apply
    to recorded series exactly like ingested ones."""
    from gigapipe_spark.storage.query import (
        store_logql_context,
        store_promql_context,
    )
    from gigapipe_spark.storage.writer import ingest_fanout

    return Ruler(
        spark,
        logctx_factory=lambda: store_logql_context(spark, catalog),
        promctx_factory=lambda: store_promql_context(spark, catalog),
        # no pattern mining on the writeback path: the reference's
        # ClusterLines hook sits in doParse (builder.go:231), which the
        # recording_writeback insert service bypasses
        sink=lambda df: ingest_fanout(
            df, catalog, mine_patterns=False
        ),
    )


def store_tailer(
    spark: SparkSession, catalog, query: str, **kw
) -> "Tailer":
    """Live tail over a written store: each poll re-runs the compiled
    query against the stored tables from the last-seen timestamp
    (query_range.go:670-760 over the writer's tables). Each poll runs
    against a PINNED consistent listing (storage/snapshot.py) — no
    lock is ever taken, so tails never stall ingest flushes and a
    MODE=reader gateway never touches the writer flock."""
    from gigapipe_spark.storage.query import store_logql_context
    from gigapipe_spark.storage.snapshot import pin_tail_catalog

    reuse: dict = {}  # per-tailer DataFrame memo across polls
    return Tailer(
        logctx_factory=lambda pinned=catalog: store_logql_context(
            spark, pinned
        ),
        query=query,
        pin_factory=lambda last_ts_ns: pin_tail_catalog(
            catalog, last_ts_ns, reuse=reuse
        ),
        **kw,
    )


@dataclass
class Tailer:
    """Live tail as a poll loop (ref: query_range.go:670-760): each poll
    re-runs the query filtered to rows newer than the last-seen ts.

    `pin_factory` (set by store_tailer) makes each poll a CONSISTENT
    snapshot: a Spark append commits its task files into the partition
    dir one rename at a time, so an unpinned poll racing a bulk flush
    can list a PREFIX of the batch, advance last_ts past the batch's
    max, and permanently skip the unlisted rows (the r12 soak's tail
    leg measured exactly this: ~300 of 1300 lines silently missing).
    The r13 fix held the store WRITER lock for the whole poll; that
    serialized every flush behind a full Spark query per tail tick and
    acquired the cross-process writer flock from a read path (ADVICE
    r13 high). Now the poll pins a validated committed file listing
    (storage/snapshot.pin_listing — in-flight batch files excluded via
    the journal's pre-batch snapshots) and runs the query against the
    pinned view with NO lock held: flushes never wait on polls, polls
    never wait on flushes, and rows of an in-flight batch surface on
    the next poll after its commit. This is the manifest-read pattern
    an object-store lake uses; the reference gets the same property
    from ClickHouse MVCC."""

    logctx_factory: Callable
    query: str
    last_ts_ns: int = 0
    max_rows_per_poll: int = 1000
    dropped: int = field(default=0)
    # (last_ts_ns) -> pinned Catalog view for one poll (store tails)
    pin_factory: Callable | None = None
    # polls skipped because no quiescent listing window was observed
    # (e.g. an active compact); the watermark never advances on a skip
    unstable_polls: int = field(default=0)
    # INCREMENTAL polls (store tails): the store is append-only at file
    # granularity (flushes add files; compact/rotate swap or delete
    # whole partitions, bumping the snapshot seq), so once a poll has
    # drained everything ≤ its pinned listing, rows newer than the
    # watermark can only live in files ADDED since — the next poll
    # scans just the listing DELTA instead of the whole tail window
    # (the parquet-lake analog of the reference tail's "re-run from
    # last-seen ts" riding ClickHouse's primary-key index,
    # query_range.go:670-760). A capped poll leaves backlog in OLD
    # files, so the next poll falls back to the full pinned scan; an
    # empty delta skips Spark entirely.
    _prev_samples: frozenset | None = field(default=None, repr=False)
    _backlog: bool = field(default=True, repr=False)

    def poll(self) -> list:
        if self.pin_factory is None:
            return self._poll(self.logctx_factory)
        from gigapipe_spark.storage.snapshot import (
            SnapshotUnstable,
            stale_listing_error,
        )

        for attempt in range(3):
            try:
                pinned = self.pin_factory(self.last_ts_ns)
            except SnapshotUnstable:
                # no quiescent listing window (active compact/rotate):
                # skip the tick — last_ts is untouched, nothing is lost
                self.unstable_polls += 1
                return []
            cur = frozenset(pinned._listing.get("samples", ()))
            delta_scan = self._prev_samples is not None and not self._backlog
            if delta_scan:
                delta = cur - self._prev_samples
                if not delta:
                    # nothing committed since the drained poll: no file
                    # can hold a row newer than the watermark — skip
                    # the query (compile + scan) entirely this tick
                    self._prev_samples = cur
                    return []
                pinned._listing["samples"] = sorted(delta)
            try:
                rows = self._poll(lambda: self.logctx_factory(pinned))
            except Exception as ex:
                # rotate/compact can delete a pinned file between the
                # pin and the collect. For a listing pinned moments ago,
                # PATH_NOT_FOUND is the same staleness (the whole
                # partition dir vanished — AnalysisException at plan
                # time rather than FileNotFound at scan time). last_ts
                # only advances on success, so re-pin + re-run loses
                # nothing; three stale rounds in a row means something
                # beyond a maintenance race — surface it.
                stale = stale_listing_error(ex) or "PATH_NOT_FOUND" in str(ex)
                if not stale or attempt == 2:
                    raise
                self.unstable_polls += 1
                continue
            # capped ⇒ undelivered rows remain in files already seen:
            # the next poll must scan the full pinned listing
            self._backlog = len(rows) >= self.max_rows_per_poll
            self._prev_samples = cur
            return rows
        return []  # unreachable; loop always returns or raises

    def _poll(self, ctx_factory: Callable) -> list:
        from gigapipe_spark.logql.compiler import query as logql_query

        ctx = ctx_factory()
        # the tail bound is the query window, so the store scan prunes
        # raw-ts row groups AND (oid, date) partitions
        # (StoreLogQLContext._bounded) — a year-deep store must not be
        # re-scanned per poll (query_range.go:670 re-runs the transpiled
        # query with the updated from-ts the same way)
        res = logql_query(
            ctx, self.query, self.last_ts_ns + 1 if self.last_ts_ns else None
        )
        df = res.df
        if "labels" in df.columns and "fingerprint" in df.columns:
            # the compiler prunes the series join for bare selectors;
            # tail frames carry the stream's label set (the reference's
            # WS frames are keyed by stream, query_range.go:200)
            series = ctx.series().select(
                "fingerprint", F.col("labels").alias("__sl")
            ).dropDuplicates(["fingerprint"])
            df = (
                df.join(F.broadcast(series), "fingerprint", "left")
                .withColumn(
                    "labels", F.coalesce(F.col("labels"), F.col("__sl"))
                )
                .drop("__sl")
            )
        newer = df.filter(F.col("timestamp_ns") > self.last_ts_ns).orderBy(
            "timestamp_ns"
        )
        rows = newer.limit(self.max_rows_per_poll + 1).collect()
        if len(rows) > self.max_rows_per_poll:
            # backpressure accounting (ref: dropped_entries)
            self.dropped += 1
            rows = rows[: self.max_rows_per_poll]
        if rows:
            self.last_ts_ns = max(r["timestamp_ns"] for r in rows)
        return rows
