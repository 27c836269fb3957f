"""Unit tests for the event-analytics query builders (funnel, cohort).

The registered queries are oracle-checked at gate SF; these pin the
ORDERING semantics on a crafted fixture where the difference between
"any click" and "click after the first view" is visible.
"""

from __future__ import annotations

from datetime import datetime, timezone


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )


def t(minute):
    return datetime(2024, 1, 1, 0, minute, tzinfo=timezone.utc)


def test_funnel_ordered_semantics(spark, tmp_path):
    """Users: 1 converts fully in order; 2 clicked BEFORE viewing (the
    click must not count, and the later purchase follows no qualifying
    click); 3 views only; 4 purchases without any view (not in funnel)."""
    from kafka_etl_automation_spark.plans.registry import QUERIES

    rows = [
        (1, 1, "view", t(0)), (2, 1, "click", t(5)), (3, 1, "purchase", t(9)),
        (4, 2, "click", t(0)), (5, 2, "view", t(5)), (6, 2, "purchase", t(9)),
        (7, 3, "view", t(1)),
        (8, 4, "purchase", t(2)),
    ]
    _ev(spark, rows).write.parquet(str(tmp_path / "events.parquet"))
    out = {r.stage: r for r in QUERIES["ext_funnel"](spark, str(tmp_path)).collect()}
    assert out["view"].n_users == 3  # users 1, 2, 3
    # user 2's click precedes their first view -> only user 1 advances
    assert out["view_click"].n_users == 1
    assert out["view_click_purchase"].n_users == 1
    assert out["view"].conversion == 1.0
    assert abs(out["view_click"].conversion - round(1 / 3, 6)) < 1e-9


def test_cohort_retention_triangle(spark, tmp_path):
    from kafka_etl_automation_spark.plans.registry import QUERIES

    wk = 7 * 24 * 60  # minutes per week
    rows = [
        # user 1: first seen week 0, active weeks 0 and 2
        (1, 1, "view", t(0)),
        (2, 1, "view", datetime(2024, 1, 15, tzinfo=timezone.utc)),
        # user 2: first seen week 1 only
        (3, 2, "view", datetime(2024, 1, 8, tzinfo=timezone.utc)),
    ]
    _ev(spark, rows).write.parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["ext_cohort_retention"](spark, str(tmp_path)).collect()
    # 2024-01-01 is a Monday: weeks truncate cleanly
    got = {(r.cohort_week.day, r.weeks_since): r.n_users for r in out}
    assert got == {(1, 0): 1, (1, 2): 1, (8, 0): 1}


def test_approx_cardinality_null_user_is_not_a_user(spark, tmp_path):
    """A NULL user_id counts as an event but not as a user: n_users must
    equal the oracle's COUNT(DISTINCT user_id), which skips NULL."""
    from kafka_etl_automation_spark.plans.registry import QUERIES

    rows = [
        (1, 1, "view", t(0)), (2, 2, "view", t(1)), (3, None, "view", t(2)),
        (4, 1, "click", t(3)),
    ]
    _ev(spark, rows).write.parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["ext_approx_cardinality"](spark, str(tmp_path)).collect()
    got = {r.event_type: (r.n_events, r.n_users, r.sketch_within_5pct) for r in out}
    assert got == {"view": (3, 2, True), "click": (1, 1, True)}
