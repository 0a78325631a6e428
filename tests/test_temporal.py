"""pipeline/temporal.py semantics on planted event frames: sessionize
gap boundaries, as-of NULL/latest selection, range-join boundary
inclusivity and bucket crossing. The sf0.01 parity of all three contract
rows lives in scripts/check_contract.py; these pin the hand-checkable
edge cases the synthetic table may not exercise."""
import datetime as dt
import os
import sys

import pytest

pyspark = pytest.importorskip('pyspark')

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyxml_spark.pipeline.temporal import (asof_last_before,  # noqa: E402
                                           range_count_before, sessionize)


def _events(spark, rows):
    """rows: (event_id, user_id, event_type, seconds_offset, value)"""
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType,
                                   TimestampNTZType)
    base = dt.datetime(2024, 1, 1)
    schema = StructType([
        StructField('event_id', LongType()),
        StructField('user_id', LongType()),
        StructField('event_type', StringType()),
        StructField('ts', TimestampNTZType()),
        StructField('value', DoubleType()),
    ])
    data = [(i, u, t, base + dt.timedelta(seconds=s), float(v))
            for i, u, t, s, v in rows]
    return spark.createDataFrame(data, schema)


def test_sessionize_gap_boundary(spark):
    """a gap of exactly gap_s continues the session; gap_s + 1us starts a
    new one; sessions are per-user and 1-based."""
    ev = _events(spark, [
        (0, 1, 'view', 0, 1),
        (1, 1, 'view', 1800, 1),          # exactly 30 min later: same
        (2, 1, 'view', 3600.000001, 1),   # 1800s + 1us: new session
        (3, 2, 'view', 7200, 1),          # other user: own session 1
    ])
    got = {(r.event_id, r.user_id, r.session_idx)
           for r in sessionize(ev).collect()}
    assert got == {(0, 1, 1), (1, 1, 1), (2, 1, 2), (3, 2, 1)}


def test_asof_latest_prior_and_nulls(spark):
    ev = _events(spark, [
        (0, 1, 'error', 10, 0),
        (1, 1, 'error', 20, 0),
        (2, 1, 'click', 30, 1),   # latest prior error is id 1
        (3, 1, 'error', 40, 0),
        (4, 1, 'click', 50, 1),   # latest prior error is id 3
        (5, 2, 'click', 60, 1),   # user 2 has no error: NULLs
        (6, 2, 'error', 70, 0),   # error AFTER the click: not matched
    ])
    got = {r.event_id: (r.right_event_id, r.gap_us)
           for r in asof_last_before(ev, 'click', 'error').collect()}
    assert got == {2: (1, 10_000_000), 4: (3, 10_000_000),
                   5: (None, None)}


def test_range_join_boundaries_and_buckets(spark):
    """W = 600s: right at exactly left.ts counts, right at exactly
    left.ts - W does not, a right in the PREVIOUS W-bucket still counts
    (the 2-probe expansion), and zero-match lefts come back 0 / 0.0."""
    ev = _events(spark, [
        # left error at t=1200 (bucket 2); window is (600, 1200]
        (0, 1, 'error', 1200, 0),
        (1, 1, 'click', 1200, 2),    # == left.ts: in
        (2, 1, 'click', 601, 3),     # just inside, previous bucket (1): in
        (3, 1, 'click', 600, 5),     # == left.ts - W: out
        (4, 1, 'click', 1300, 7),    # after left: out
        (5, 2, 'error', 500, 0),     # no clicks at all for user 2
    ])
    got = {r.event_id: (r.n_right, r.right_value)
           for r in range_count_before(ev, 'error', 'click').collect()}
    assert got == {0: (2, 5.0), 5: (0, 0.0)}


def test_range_join_no_double_count_same_bucket(spark):
    """left and right in the same bucket must count once despite the
    2-bucket probe expansion."""
    ev = _events(spark, [
        (0, 1, 'error', 100, 0),
        (1, 1, 'click', 50, 4),
    ])
    got = {r.event_id: r.n_right
           for r in range_count_before(ev, 'error', 'click').collect()}
    assert got == {0: 1}


def test_asof_plan_is_joinless(spark):
    """the as-of operator must compile to a window pass, never a join."""
    ev = _events(spark, [(0, 1, 'error', 0, 0), (1, 1, 'click', 5, 1)])
    plan = asof_last_before(ev, 'click', 'error') \
        ._jdf.queryExecution().executedPlan().toString()
    assert 'Join' not in plan
    assert 'Window' in plan
