"""Request-scoped query state: one Engine's LogQL/PromQL/TraceQL
contexts serve every request, so a compile must never write its window
or its TraceQL complexity probe onto them — each compile entry point
works on a request-local copy that shares only the memoized tables."""

from __future__ import annotations

from dataclasses import fields

from gigapipe_spark.api import Engine
from gigapipe_spark.traceql import compiler as C
from gigapipe_spark.traceql.compiler import TraceQLContext
from gigapipe_spark.traceql.parser import parse
from tests.conftest import SF_DIR

T_LO = 1_500_000_000_000_000_000
T_HI = 1_800_000_000_000_000_000


def _state(ctx) -> dict:
    # every field but the table memo, the only state a shared context
    # may gain
    return {f.name: getattr(ctx, f.name) for f in fields(ctx) if f.name != "_tables"}


def test_engine_contexts_unchanged_by_requests(spark):
    eng = Engine(spark, SF_DIR)
    ctxs = (eng.logctx(), eng.promctx(), eng.tracectx())
    before = [_state(c) for c in ctxs]
    eng.loki_query_range('sum by (app) (rate({level="error"}[5m]))', T_LO, T_HI)
    eng.prom_query_range('rate({app="click"}[5m])', T_LO, T_HI, step_ns=15_000_000_000)
    eng.prom_query('{app="click"}', T_HI)
    eng.tempo_search("{} | count() > 45", start_ns=T_LO, end_ns=T_HI)
    assert [_state(c) for c in ctxs] == before


def test_traceql_probe_not_reused_across_requests(spark, monkeypatch):
    """The second query of an engine gets its OWN complexity bound —
    the same one a fresh context computes — not the first query's."""
    seen = []
    real = C._probe_bound

    def spy(ctx):
        bounded = real(ctx)
        seen.append(ctx.complexity)
        return bounded

    monkeypatch.setattr(C, "_probe_bound", spy)
    second = '{ } | count() > 45'
    fresh = C.eval_complexity(TraceQLContext(spark, SF_DIR), parse(second).spanset)
    eng = Engine(spark, SF_DIR)
    eng.tempo_search('{ returnflag = "R" } | count() > 2')
    first_bound = seen[-1]
    assert first_bound != fresh  # the two queries' bounds differ
    seen.clear()
    eng.tempo_search(second)
    assert seen and set(seen) == {fresh}, (seen, fresh, first_bound)
