"""Temporal/CDC-derived operators: SCD Type 2 history, as-of enrichment
joins, and inactivity-gap sessionization.

These are the downstream shapes a CDC ingest feeds: the reference stops at
"latest state per key" (compaction's key-dedup reducer,
``AvroKeyDedupReducer.java:82-93``); warehouse consumers of that feed
routinely need the *history* forms — validity intervals (SCD2), state
as-of an event's time (point-in-time enrichment), and activity episodes
(sessions). All three are single-shuffle window-function plans: shuffle
once on the entity key, then everything is a per-key ordered pass —
parallelism is the number of keys, per-task state is one key's history.
No joins-by-range, no Python, no driver loops.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    changelog: DataFrame,
    key_cols: list[str],
    version_cols: list[str],
    op_col: str | None = None,
    delete_op: str = "D",
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Fold a changelog into a Slowly-Changing-Dimension Type 2 history:
    one row per UPSERT, carrying its payload plus a validity interval
    ``[valid_from, valid_to)`` on the first version column's axis, and an
    ``is_current`` flag.

    Semantics (the standard warehouse contract):
    - every upsert opens an interval at its own version and closes at the
      NEXT event's version for the same key — whether that next event is
      another upsert (value superseded) or a delete (entity gone);
    - deletes emit no row of their own; they only terminate the
      predecessor's interval, so a deleted key has no current row;
    - ``is_current`` is simply ``valid_to IS NULL`` — an open interval.

    ``version_cols`` must be a deterministic total order per key (e.g.
    ``["ts", "event_id"]``); ties would make interval boundaries
    ill-defined in any engine.

    Physical plan: one hash shuffle on ``key_cols``, then a single
    ``lead()`` window pass — the history of one key never leaves one task,
    and a 10^10-row changelog folds with no state beyond one key's rows.
    Skewed keys are bounded by their own history length, not corpus size.
    """
    order = [F.col(c).asc() for c in version_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    out = changelog.withColumn(valid_to_col, F.lead(version_cols[0]).over(w))
    if op_col is not None:
        # null-SAFE: a NULL op is an upsert, not a delete — a plain `!=`
        # would evaluate NULL and silently drop the row's payload from
        # history while its lead() still closed the predecessor's interval
        out = out.filter(~F.col(op_col).eqNullSafe(delete_op))
    return (
        out.withColumn(valid_from_col, F.col(version_cols[0]))
        .withColumn(current_col, F.col(valid_to_col).isNull())
        .drop(*([op_col] if op_col else []))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_time: str,
    right_time: str,
    right_prefix: str = "r_",
    tolerance: Column | None = None,
) -> DataFrame:
    """Backward-inclusive as-of join: enrich every ``left`` row with the
    latest ``right`` row for the same key whose ``right_time`` <=
    ``left_time`` (the point-in-time lookup a CDC-built dimension table
    answers: "what was this entity's state when the event happened?").

    Implemented as the union-and-carry pattern, NOT a range join: right
    rows and left rows are unioned with a side marker, shuffled ONCE on
    the key, and a per-key ordered window carries the last-seen right
    payload forward (``last(..., ignorenulls=True)``) onto each left row.
    At equal timestamps the right row sorts first, giving inclusive
    (>=) semantics, matching e.g. DuckDB's ``ASOF JOIN``. A sort-merge
    range join is O(|L|·matches) and a broadcast range join explodes;
    this is O((|L|+|R|) log) with exactly one shuffle and no build-side
    blowup — the shape that survives a 10^10-row event stream against a
    10^8-row dimension history.

    ``right_time`` must be unique per key in ``right`` (pre-fold the
    dimension with ``lww_latest`` if the feed can carry same-timestamp
    versions). Right payload columns land prefixed with ``right_prefix``;
    rows with no as-of match keep NULLs. The matched row's payload is
    carried AS A WHOLE (one struct): a genuinely-NULL payload column in
    the matched dimension row comes through NULL — it is never back-filled
    from an older row. ``tolerance`` (an INTERVAL Column) voids matches
    older than ``left_time - tolerance``.
    """
    key = list(on)
    rpay = [c for c in right.columns if c not in key and c != right_time]
    lcols = [c for c in left.columns]
    # the right payload travels as ONE struct (non-null for every right
    # row, null padding on left rows): per-column last(ignorenulls) would
    # skip a matched row's genuinely-NULL payload column and resurrect a
    # STALE older value, leaving _matched_t and the payload columns
    # describing different rows
    rstruct = F.struct(
        F.col(right_time).alias("_rt"),
        *[F.col(c).alias(f"{right_prefix}{c}") for c in rpay],
    )
    r_side = right.select(
        *key,
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_side"),
        rstruct.alias("_r"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in key],
    )
    l_side = left.select(
        *key,
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(
            right.select(rstruct).schema[0].dataType
        ).alias("_r"),
        *[F.col(c) for c in lcols if c not in key],
    )
    w = (
        Window.partitionBy(*key)
        .orderBy(F.col("_t").asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = r_side.unionByName(l_side)
    matched = F.last("_r", ignorenulls=True).over(w)
    out = carried.select(
        *key,
        *[F.col(c) for c in lcols if c not in key],
        F.col("_side"),
        matched.alias("_m"),
    ).filter(F.col("_side") == 1).select(
        *key,
        *[F.col(c) for c in lcols if c not in key],
        F.col("_side"),
        F.col("_m._rt").alias("_matched_t"),
        *[F.col(f"_m.{right_prefix}{c}").alias(f"{right_prefix}{c}") for c in rpay],
    )
    if tolerance is not None:
        stale = F.col("_matched_t") < (F.col(left_time) - tolerance)
        out = out.select(
            *key,
            *[F.col(c) for c in lcols if c not in key],
            F.col("_matched_t"),
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(f"{right_prefix}{c}")).alias(f"{right_prefix}{c}")
                for c in rpay
            ],
        )
        out = out.withColumn(
            "_matched_t", F.when(stale, F.lit(None)).otherwise(F.col("_matched_t"))
        )
    return out.drop("_side")


def sessionize(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    gap_minutes: float = 30.0,
    assign: bool = False,
) -> DataFrame:
    """Inactivity-gap sessionization (web-analytics episodes): consecutive
    events of one key closer than ``gap_minutes`` apart belong to one
    session; a longer silence opens the next.

    ``assign=False`` (default) returns one row per session:
    ``(key, session_seq, session_start, session_end, n_events)`` where
    ``session_seq`` is the key's 1-based session ordinal.
    ``assign=True`` returns the input rows with ``session_seq`` attached
    (the labeling form a feature pipeline joins back onto events).

    Gaps-and-islands with the lag-threshold trick: one shuffle on the key,
    one cumulative-sum window — identical cost envelope to scd2_history.
    The batch dual of Structured Streaming's session windows
    (``session_window`` aggregation); this form is deterministic on a
    static table, needs no watermark, and its output is oracle-checkable.
    """
    gap = F.expr(f"INTERVAL {float(gap_minutes) * 60} SECONDS")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    prev = F.lag(ts_col).over(w)
    is_new = F.when(prev.isNull() | (F.col(ts_col) > prev + gap), 1).otherwise(0)
    labeled = events.withColumn(
        "session_seq",
        F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    if assign:
        return labeled
    return labeled.groupBy(key_col, "session_seq").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def recrawl_schedule(
    changelog: DataFrame,
    key_col: str,
    ts_col: str,
    asof_us: int,
    min_changes: int = 2,
) -> DataFrame:
    """Change-rate recrawl scheduling — the crawl-frequency feedback loop
    a web-scale CDC ingest closes: from each url's observed change
    history, estimate its change cadence and rank how overdue a re-fetch
    is at ``asof_us`` (epoch micros). The Common Crawl analogue of
    Cho & Garcia-Molina's "Effective Page Refresh Policies" — the
    uniform-change-rate estimator, kept in EXACT integer arithmetic so
    the ranking is engine-portable (float rates tie-break differently
    across libm builds; integer division cannot).

    Per key with >= min_changes observed changes:
    - ``n_changes`` (rows with a non-NULL timestamp, the rows that
      ``first_us``/``last_us`` see), ``first_us``/``last_us`` (epoch micros),
    - ``mean_gap_us`` = (last - first) DIV (n - 1)  — observed cadence,
    - ``overdue_e3``  = (asof - last) * 1000 DIV mean_gap_us — elapsed
      idle time in units of the key's own cadence, scaled by 1000
      (an overdue_e3 of 2500 means 2.5 expected missed changes).
      Keys changing often and silent long rank first.

    Keys seen fewer than min_changes times carry NULL cadence/overdue —
    the cold-start set a scheduler handles by policy, not estimate.

    One map-side-combinable groupBy on the key; overflow-safe for spans
    up to ~292 years ((asof-last) <= 2^53 us, * 1000 < 2^63).

    Scale shape: output is key-cardinality; the scheduler consumes the
    top-k overdue (orderBy+limit = TakeOrdered, no full sort)."""
    if min_changes < 2:
        raise ValueError(f"min_changes must be >= 2, got {min_changes}")
    us = F.timestamp_diff(
        "MICROSECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col(ts_col).cast("timestamp_ntz"),
    )
    agg = changelog.groupBy(key_col).agg(
        F.count(ts_col).cast("long").alias("n_changes"),
        F.min(us).alias("first_us"),
        F.max(us).alias("last_us"),
    )
    est = F.col("n_changes") >= min_changes
    span = F.col("last_us") - F.col("first_us")
    # nullif: a span shorter than n-1 micros floors to cadence 0 — treat
    # as unknown rather than divide overdue by zero (ANSI mode throws)
    mean_gap = F.when(
        est & (span > 0),
        F.expr("nullif((last_us - first_us) div (n_changes - 1), 0)"),
    )
    # asof must not precede last_us: Spark's `div` truncates toward zero
    # while SQL floor-division (//) floors, so a negative idle span would
    # diverge across engines — guard to NULL (the key isn't overdue)
    return agg.withColumn("mean_gap_us", mean_gap).withColumn(
        "overdue_e3",
        F.when(
            F.lit(asof_us) >= F.col("last_us"),
            F.expr(f"(({int(asof_us)} - last_us) * 1000) div mean_gap_us"),
        ),
    )


def funnel_steps(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    step_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel analysis over an event stream: per key, the
    earliest timestamp at which each step completes IN ORDER — step i
    counts only strictly after step i-1's completion time (the classic
    product-analytics funnel; sessionize's sibling in the downstream
    family a CDC event feed serves).

    Semantics: t_1 = min ts of step 1; t_i = min ts of step i with
    ts > t_{i-1}. Strict ordering on the raw timestamp keeps the
    definition engine-portable with no tie-break protocol — min() is a
    unique VALUE even when rows tie. Unreached steps are NULL and
    ``steps_completed`` counts the filled prefix.

    Plan: ONE shuffle on the key; each step is a conditional min window
    over the same partitioning (Catalyst chains them without further
    exchanges), then a groupBy that reuses the partitioning. No joins,
    no per-row state, no Python — cost is k window passes over
    key-partitioned data, k = funnel length.
    """
    if len(steps) < 1:
        raise ValueError("steps must be non-empty")
    if len(set(steps)) != len(steps):
        raise ValueError(f"steps must be distinct, got {steps}")
    w = Window.partitionBy(key_col)
    out = events
    prev: Column | None = None
    t_cols = []
    for i, s in enumerate(steps, 1):
        cond = F.col(step_col) == s
        if prev is not None:
            cond = cond & prev.isNotNull() & (F.col(ts_col) > prev)
        c = f"ts_step{i}"
        out = out.withColumn(c, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = F.col(c)
        t_cols.append(c)
    agg = out.groupBy(key_col).agg(
        *[F.max(c).alias(c) for c in t_cols]
    )
    completed = F.lit(0)
    # the filled prefix: step i counts only if every earlier step filled
    prefix = F.lit(True)
    for c in t_cols:
        prefix = prefix & F.col(c).isNotNull()
        completed = completed + F.when(prefix, 1).otherwise(0)
    return agg.withColumn("steps_completed", completed.cast("long"))
