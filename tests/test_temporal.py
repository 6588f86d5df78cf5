"""Unit tests for the temporal operator family (SCD2 / as-of / sessions)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from gobblin_spark.operators.temporal import asof_join, scd2_history, sessionize


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_scd2_intervals_and_delete_termination(spark):
    """Upserts chain into half-open intervals; a delete closes the last
    interval without emitting a row; a re-insert after delete opens a new
    current interval."""
    log = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01T00:00:00"), 1, "U", 10.0),
            ("a", _ts("2024-01-02T00:00:00"), 2, "U", 20.0),
            ("a", _ts("2024-01-03T00:00:00"), 3, "D", None),
            ("a", _ts("2024-01-04T00:00:00"), 4, "U", 40.0),
            ("b", _ts("2024-01-05T00:00:00"), 5, "U", 50.0),
            ("c", _ts("2024-01-06T00:00:00"), 6, "D", None),
        ],
        "k string, ts timestamp, seq long, op string, v double",
    )
    out = scd2_history(log, ["k"], ["ts", "seq"], op_col="op").collect()
    rows = {(r["k"], r["seq"]): r for r in out}
    assert set(rows) == {("a", 1), ("a", 2), ("a", 4), ("b", 5)}
    assert rows[("a", 1)]["valid_to"] == _ts("2024-01-02T00:00:00")
    assert not rows[("a", 1)]["is_current"]
    # the delete at 01-03 closes seq=2's interval
    assert rows[("a", 2)]["valid_to"] == _ts("2024-01-03T00:00:00")
    assert not rows[("a", 2)]["is_current"]
    # the re-insert is current and open
    assert rows[("a", 4)]["valid_to"] is None
    assert rows[("a", 4)]["is_current"]
    assert rows[("b", 5)]["is_current"]
    # intervals tile: valid_from is the row's own version
    assert rows[("a", 2)]["valid_from"] == _ts("2024-01-02T00:00:00")


def test_scd2_no_op_column(spark):
    """Without an op column every row is an upsert."""
    log = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y")], "k string, seq long, v string"
    )
    out = {r["seq"]: r for r in scd2_history(log, ["k"], ["seq"]).collect()}
    assert out[1]["valid_to"] == 2 and not out[1]["is_current"]
    assert out[2]["valid_to"] is None and out[2]["is_current"]


def test_asof_backward_inclusive_and_no_match(spark):
    left = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), "e1"),  # exact tie with right @10:00
            (1, _ts("2024-01-01T11:30:00"), "e2"),  # between right rows
            (2, _ts("2024-01-01T09:00:00"), "e3"),  # before any right row
            (3, _ts("2024-01-01T12:00:00"), "e4"),  # key with no right rows
        ],
        "uid long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 100.0),
            (1, _ts("2024-01-01T11:00:00"), 110.0),
            (2, _ts("2024-01-01T09:30:00"), 200.0),
        ],
        "uid long, rts timestamp, state double",
    )
    out = {
        r["tag"]: r
        for r in asof_join(left, right, ["uid"], "ts", "rts").collect()
    }
    assert out["e1"]["r_state"] == 100.0, "equal timestamps match (inclusive)"
    assert out["e2"]["r_state"] == 110.0, "latest at-or-before wins"
    assert out["e3"]["r_state"] is None, "no state yet -> NULL"
    assert out["e4"]["r_state"] is None, "key absent from right -> NULL"
    assert out["e2"]["_matched_t"] == _ts("2024-01-01T11:00:00")


def test_asof_tolerance_voids_stale_matches(spark):
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00"), "fresh"), (1, _ts("2024-01-02T10:00:01"), "stale")],
        "uid long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts("2024-01-01T09:59:00"), 7.0)], "uid long, rts timestamp, state double"
    )
    out = {
        r["tag"]: r
        for r in asof_join(
            left, right, ["uid"], "ts", "rts", tolerance=F.expr("INTERVAL 1 DAY")
        ).collect()
    }
    assert out["fresh"]["r_state"] == 7.0
    assert out["stale"]["r_state"] is None and out["stale"]["_matched_t"] is None


def test_sessionize_gap_splits_and_assign(spark):
    rows = [
        (1, _ts("2024-01-01T10:00:00")),
        (1, _ts("2024-01-01T10:10:00")),
        (1, _ts("2024-01-01T10:39:00")),  # 29 min gap: same session (boundary)
        (1, _ts("2024-01-01T11:20:00")),  # 41 min: new session
        (2, _ts("2024-01-01T00:00:00")),
    ]
    ev = spark.createDataFrame(rows, "uid long, ts timestamp")
    out = sessionize(ev, "uid", "ts", gap_minutes=30).collect()
    sess = {(r["uid"], r["session_seq"]): r for r in out}
    assert set(sess) == {(1, 1), (1, 2), (2, 1)}
    assert sess[(1, 1)]["n_events"] == 3
    assert sess[(1, 1)]["session_end"] == _ts("2024-01-01T10:39:00")
    assert sess[(1, 2)]["n_events"] == 1
    labeled = sessionize(ev, "uid", "ts", gap_minutes=30, assign=True).collect()
    assert len(labeled) == len(rows)
    got = {(r["uid"], r["ts"]): r["session_seq"] for r in labeled}
    assert got[(1, _ts("2024-01-01T11:20:00"))] == 2


def test_sessionize_exact_gap_boundary_is_same_session(spark):
    """An interval of exactly gap_minutes does NOT split (strict >)."""
    ev = spark.createDataFrame(
        [(1, _ts("2024-01-01T10:00:00")), (1, _ts("2024-01-01T10:30:00"))],
        "uid long, ts timestamp",
    )
    out = sessionize(ev, "uid", "ts", gap_minutes=30).collect()
    assert len(out) == 1 and out[0]["n_events"] == 2


def test_asof_null_payload_column_is_not_backfilled(spark):
    """A matched dimension row whose payload column is genuinely NULL must
    come through NULL — never resurrect a STALE older value (the matched
    row is carried as one struct, not per-column last-non-null)."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T12:00:00"), "probe")], "uid long, ts timestamp, tag string"
    )
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01T10:00:00"), 5.0),
            (1, _ts("2024-01-01T11:00:00"), None),  # newest state: NULL
        ],
        "uid long, rts timestamp, state double",
    )
    out = asof_join(left, right, ["uid"], "ts", "rts").collect()[0]
    assert out["_matched_t"] == _ts("2024-01-01T11:00:00")
    assert out["r_state"] is None, "stale 5.0 must not leak through the NULL"


def test_scd2_null_op_is_an_upsert_not_a_silent_drop(spark):
    log = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01T00:00:00"), 1, "U", 1.0),
            ("a", _ts("2024-01-02T00:00:00"), 2, None, 2.0),  # NULL op
        ],
        "k string, ts timestamp, seq long, op string, v double",
    )
    out = {r["seq"]: r for r in scd2_history(log, ["k"], ["ts", "seq"], op_col="op").collect()}
    assert set(out) == {1, 2}, "NULL op row must survive as an upsert"
    assert out[2]["is_current"] and out[2]["v"] == 2.0


def test_recrawl_schedule_integer_cadence_and_overdue(spark):
    from gobblin_spark.operators.temporal import recrawl_schedule

    # url A: changes at t=0,10,20,30s (gap 10s); url B: t=0,40s (gap 40s);
    # url C: seen once -> cold start, NULL cadence/overdue.
    rows = [("A", 0), ("A", 10), ("A", 20), ("A", 30), ("B", 0), ("B", 40), ("C", 5)]
    log = spark.createDataFrame(
        [(u, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s)) for u, s in rows],
        "url string, ts timestamp",
    )
    # epoch micros of 2026-01-01 under NAIVE (NTZ) semantics:
    epoch = dt.datetime(1970, 1, 1)
    base_us = int((dt.datetime(2026, 1, 1) - epoch).total_seconds()) * 1_000_000
    asof = base_us + 100 * 1_000_000  # 100s after t=0
    out = {
        r["url"]: r
        for r in recrawl_schedule(log, "url", "ts", asof_us=asof).collect()
    }
    a, b, c = out["A"], out["B"], out["C"]
    assert (a["n_changes"], a["mean_gap_us"]) == (4, 10_000_000)
    # A idle 70s at cadence 10s -> 7000 expected-missed-e3
    assert a["overdue_e3"] == 7000
    assert (b["n_changes"], b["mean_gap_us"]) == (2, 40_000_000)
    assert b["overdue_e3"] == 1500  # idle 60s / 40s cadence
    assert c["mean_gap_us"] is None and c["overdue_e3"] is None
    # the scheduler's ranking: A (hot+silent) before B
    assert a["overdue_e3"] > b["overdue_e3"]


def test_recrawl_schedule_rejects_min_changes_below_two(spark):
    import pytest as _pytest

    from gobblin_spark.operators.temporal import recrawl_schedule

    log = spark.createDataFrame([("A", dt.datetime(2026, 1, 1))], "url string, ts timestamp")
    with _pytest.raises(ValueError):
        recrawl_schedule(log, "url", "ts", asof_us=0, min_changes=1)


def test_recrawl_overdue_null_when_asof_precedes_last_change(spark):
    """Events timestamped after asof (clock skew / future-dated source
    times) must yield NULL overdue, not engine-divergent negative
    division (Spark div truncates, SQL // floors)."""
    from gobblin_spark.operators.temporal import recrawl_schedule

    log = spark.createDataFrame(
        [("A", dt.datetime(2026, 1, 1)), ("A", dt.datetime(2026, 6, 1))],
        "url string, ts timestamp",
    )
    (r,) = recrawl_schedule(log, "url", "ts", asof_us=0).collect()
    assert r["mean_gap_us"] is not None and r["overdue_e3"] is None


def test_recrawl_schedule_ignores_null_timestamps(spark):
    """A NULL-ts row is not an observed change: n_changes counts the rows
    min/max see, so the cadence is the span over the real changes."""
    from gobblin_spark.operators.temporal import recrawl_schedule

    log = spark.createDataFrame(
        [("A", dt.datetime(2026, 1, 1)), ("A", dt.datetime(2026, 1, 1, 0, 0, 10)), ("A", None)],
        "url string, ts timestamp",
    )
    (r,) = recrawl_schedule(log, "url", "ts", asof_us=0).collect()
    assert (r["n_changes"], r["mean_gap_us"]) == (2, 10_000_000)


def test_funnel_steps_ordered_semantics(spark):
    from gobblin_spark.operators.temporal import funnel_steps

    t0 = dt.datetime(2026, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # u1 completes A(5) -> B(10) -> C(20); earlier B(2) must NOT count
        ("u1", ts(2), "B"), ("u1", ts(5), "A"), ("u1", ts(10), "B"), ("u1", ts(20), "C"),
        # u2: A and B at the SAME instant — strict ordering rejects B
        ("u2", ts(5), "A"), ("u2", ts(5), "B"),
        # u3: only C — no steps complete (prefix empty)
        ("u3", ts(1), "C"),
        # u4: A twice; earliest counts
        ("u4", ts(9), "A"), ("u4", ts(3), "A"),
    ]
    df = spark.createDataFrame(rows, "user string, ts timestamp, step string")
    out = {
        r["user"]: (r["ts_step1"], r["ts_step2"], r["ts_step3"], r["steps_completed"])
        for r in funnel_steps(df, "user", "ts", "step", ["A", "B", "C"]).collect()
    }
    assert out["u1"] == (ts(5), ts(10), ts(20), 3)
    assert out["u2"] == (ts(5), None, None, 1)
    assert out["u3"] == (None, None, None, 0)
    assert out["u4"] == (ts(3), None, None, 1)


def test_funnel_steps_validation(spark):
    import pytest as _pytest

    from gobblin_spark.operators.temporal import funnel_steps

    df = spark.createDataFrame([("u", dt.datetime(2026, 1, 1), "A")],
                               "user string, ts timestamp, step string")
    with _pytest.raises(ValueError):
        funnel_steps(df, "user", "ts", "step", ["A", "A"])
    with _pytest.raises(ValueError):
        funnel_steps(df, "user", "ts", "step", [])
