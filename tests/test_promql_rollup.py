"""Downsample-shortcut routing (ref: prom_queryable.go:155-159): rollup
path must be chosen when eligible and produce EXACTLY the raw-path
results (partials re-aggregate losslessly)."""

from pyspark.sql import functions as F

from gigapipe_spark.promql.compiler import PromQLContext, query
from tests.conftest import SF_DIR


def out(df):
    return sorted(
        tuple(r)
        for r in df.select(
            "fingerprint", "timestamp_ns", F.round("value", 6).alias("value")
        ).collect()
    )


def test_rollup_equals_raw(spark):
    for q in [
        'sum_over_time({app="click"}[30m])',
        'count_over_time({app="view"}[1h])',
        'max_over_time({app="error"}[15m])',
        'avg_over_time({app="signup"}[30m])',
    ]:
        routed = query(PromQLContext(spark, SF_DIR, use_rollup=True), q)
        raw = query(PromQLContext(spark, SF_DIR, use_rollup=False), q)
        assert out(routed) == out(raw), q


def test_unaligned_range_uses_raw(spark):
    ctx = PromQLContext(spark, SF_DIR, use_rollup=True)
    # 100s range is not 15s-aligned -> raw path; just verify it runs and
    # matches the no-rollup context
    q = 'sum_over_time({app="click"}[100s])'
    assert out(query(ctx, q)) == out(
        query(PromQLContext(spark, SF_DIR, use_rollup=False), q)
    )


def test_rollup_plan_reads_partials(spark):
    ctx = PromQLContext(spark, SF_DIR, use_rollup=True)
    plan = (
        query(ctx, 'sum_over_time({app="click"}[30m])')
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # the rollup path aggregates the partial columns, not raw value
    assert "sum#" in plan or "sum(" in plan.lower()


def test_counter_rollup_path_matches_raw(spark):
    # rate/increase/resets/changes served from the 15s cells must equal
    # the raw-scan computation exactly (intra-cell partials + boundary
    # pairs reconstruct every consecutive-sample pair)
    from gigapipe_spark.promql.compiler import PromQLContext, query

    for q in [
        'rate({app="click"}[10m])',
        'increase({app="click"}[1h])',
        'resets({app="click"}[30m])',
        'changes({app="click"}[30m])',
        'delta({app="click"}[30m])',
        'irate({app="click"}[30m])',
        'idelta({app="click"}[30m])',
    ]:
        via_rollup = query(PromQLContext(spark, SF_DIR), q)
        raw = query(PromQLContext(spark, SF_DIR, use_rollup=False), q)
        rnd = lambda v: None if v is None else round(v, 9)
        a = {
            (r["fingerprint"], r["timestamp_ns"]): rnd(r["value"])
            for r in via_rollup.collect()
        }
        b = {
            (r["fingerprint"], r["timestamp_ns"]): rnd(r["value"])
            for r in raw.collect()
        }
        assert a == b, q


def test_counter_rollup_is_used(spark):
    # plan sanity: the rollup route must actually engage (its plan reads
    # the cell partials, visible as the reset_amt column reference)
    from gigapipe_spark.promql.compiler import PromQLContext, query

    m = query(PromQLContext(spark, SF_DIR), 'rate({app="click"}[10m])')
    plan = m._jdf.queryExecution().optimizedPlan().toString()
    assert "reset_amt" in plan


def test_unaligned_bounds_use_raw(spark):
    """A 15s cell straddling a non-aligned end would contribute partials
    from samples past the window; such requests must fall back to raw
    and match it exactly."""
    from gigapipe_spark.promql.compiler import (
        _bounds_cell_aligned,
        _counter_rollup_eligible,
    )

    lo, hi = (
        spark.read.parquet(SF_DIR + "/events.parquet")
        .select(
            F.min(F.unix_timestamp("ts") * 1_000_000_000),
            F.max(F.unix_timestamp("ts") * 1_000_000_000),
        )
        .collect()[0]
    )
    # end 7s past a cell edge — NOT 15s-aligned
    start = lo - lo % 15_000_000_000
    end = (lo + (hi - lo) // 2) - (lo + (hi - lo) // 2) % 15_000_000_000 + 7_000_000_000
    assert end % 15_000_000_000 != 0
    for q in ['rate({app="click"}[30m])', 'sum_over_time({app="click"}[30m])']:
        routed = query(PromQLContext(spark, SF_DIR, use_rollup=True), q, start, end)
        raw = query(PromQLContext(spark, SF_DIR, use_rollup=False), q, start, end)
        assert out(routed) == out(raw), q
    # and aligned bounds still take the shortcut
    assert _bounds_cell_aligned(PromQLContext(spark, SF_DIR, start_ns=start, end_ns=end - 7_000_000_000))
    assert not _bounds_cell_aligned(PromQLContext(spark, SF_DIR, start_ns=start, end_ns=end))
