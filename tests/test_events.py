"""Event analytics: windowed rollup and sessionization."""

import datetime as dt

from filtlong_spark.operators import events as ev_op

EVENTS_SCHEMA = ("event_id long, ts timestamp_ntz, user_id long, "
                 "event_type string, value double, props string")


def _ev(spark, rows):
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


def _t(minute, sec=0):
    return dt.datetime(2024, 1, 1, 0, minute, sec)


def test_windowed_rollup_hourly(spark):
    rows = [
        (0, dt.datetime(2024, 1, 1, 0, 5), 1, "click", 1.25, "{}"),
        (1, dt.datetime(2024, 1, 1, 0, 55), 2, "click", 2.50, "{}"),
        (2, dt.datetime(2024, 1, 1, 1, 5), 1, "view", 0.75, "{}"),
    ]
    out = {(r["win_start_us"], r["event_type"]): (r["n_events"],
                                                  r["value_cents"])
           for r in ev_op.windowed_rollup(_ev(spark, rows)).collect()}
    h0 = int(dt.datetime(2024, 1, 1, 0, 0)
             .replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    h1 = h0 + 3600 * 1_000_000
    assert out == {(h0, "click"): (2, 375), (h1, "view"): (1, 75)}


def test_sessionize_gap_rule(spark):
    rows = [
        (0, _t(0), 7, "click", 1.0, "{}"),
        (1, _t(10), 7, "click", 1.0, "{}"),   # same session (10 min gap)
        (2, _t(50), 7, "click", 1.0, "{}"),   # 40 min gap -> new session
        (3, _t(55), 7, "click", 1.0, "{}"),
        (4, _t(0), 8, "view", 2.0, "{}"),     # other user: own session
    ]
    out = sorted((r["user_id"], r["session_idx"], r["n_events"])
                 for r in ev_op.sessionize(_ev(spark, rows),
                                           gap_minutes=30).collect())
    assert out == [(7, 1, 2), (7, 2, 2), (8, 1, 1)]
