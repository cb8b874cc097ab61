"""@-modifier: pinned evaluation time."""

from pyspark.sql import functions as F

from gigapipe_spark.promql import parser as P
from gigapipe_spark.promql.compiler import PromQLContext, query
from gigapipe_spark.sources import views
from gigapipe_spark.sources.oracle import METRIC_SAMPLES_CTE
from tests.conftest import SF_DIR
from tests.oracle_utils import assert_match

# 2024-01-02T00:00:00Z in the events window
AT_S = 1704153600
AT_NS = AT_S * 1_000_000_000


def test_parse_at():
    e = P.parse(f'{{app="click"}} @ {AT_S}')
    assert e.at_ns == AT_NS
    e2 = P.parse(f'rate({{app="click"}}[5m] @ {AT_S} offset 1m)')
    sel = e2.args[0]
    assert sel.at_ns == AT_NS and sel.offset_ns == 60_000_000_000


def test_instant_at_matches_oracle(spark):
    res = query(PromQLContext(spark, SF_DIR), f'{{app="click"}} @ {AT_S}')
    sql = f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, CAST({AT_NS} AS BIGINT) AS timestamp_ns,
           round(max_by(value, timestamp_ns), 6) AS value
    FROM metric_samples
    WHERE app='click' AND timestamp_ns <= {AT_NS}
      AND timestamp_ns > {AT_NS} - 300000000000
    GROUP BY 1
    """
    assert_match(
        res.select("fingerprint", "timestamp_ns", F.round("value", 6).alias("value")),
        sql,
        SF_DIR,
    )


def test_range_at_matches_oracle(spark):
    res = query(PromQLContext(spark, SF_DIR), f'sum_over_time({{app="view"}}[1h] @ {AT_S})')
    sql = f"""
    WITH {METRIC_SAMPLES_CTE}
    SELECT fingerprint, CAST({AT_NS} AS BIGINT) AS timestamp_ns,
           round(sum(value), 6) AS value
    FROM metric_samples
    WHERE app='view' AND timestamp_ns <= {AT_NS}
      AND timestamp_ns > {AT_NS} - 3600000000000
    GROUP BY 1
    """
    assert_match(
        res.select("fingerprint", "timestamp_ns", F.round("value", 6).alias("value")),
        sql,
        SF_DIR,
    )


def test_at_produces_single_point(spark):
    res = query(PromQLContext(spark, SF_DIR), f'increase({{app="error"}}[1h] @ {AT_S})')
    per_series = res.groupBy("fingerprint").count().filter("count > 1").count()
    assert per_series == 0


def test_at_start_end_refs(spark):
    # @ start() / @ end() pin to the request window edges
    from gigapipe_spark.promql.compiler import PromQLContext, query

    import pytest

    ctx = PromQLContext(spark, SF_DIR)
    clicks = views.metric_samples(spark, SF_DIR).filter(F.col("fingerprint") % 8 == 0)
    lo = clicks.agg(F.min("timestamp_ns")).first()[0]
    hi = clicks.agg(F.max("timestamp_ns")).first()[0]
    at_s = hi // 1_000_000_000 + 10  # integer seconds: exact in float
    pinned_end = query(ctx, '{app="click"} @ end()', lo, at_s * 1_000_000_000)
    explicit = query(
        PromQLContext(spark, SF_DIR), f'{{app="click"}} @ {at_s}'
    )
    a = {(r["fingerprint"], r["value"]) for r in pinned_end.collect()}
    b = {(r["fingerprint"], r["value"]) for r in explicit.collect()}
    assert a == b and a
    with pytest.raises(ValueError):
        query(PromQLContext(spark, SF_DIR), '{app="click"} @ start()')
