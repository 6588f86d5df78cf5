"""Incremental materialized-view maintenance — the canonical CDC
*downstream consumer*: keep a grouped aggregate (count / sum, avg
derived) of a lake table continuously correct by folding ONLY the
changelog between two snapshots into it, never re-scanning the table.

This is the textbook delta-maintenance algebra (Gupta & Mumick,
"Maintenance of Materialized Views", IEEE DE Bulletin 1995; the same
contract as Delta/Iceberg CDF-fed MVs): count and sum are
*self-maintainable* under inserts AND deletes, so

    MV(v_to) = MV(v_from) (+) delta(changes(v_from, v_to))

holds exactly, where an update is algebraically delete(old-row) +
insert(new-row) — crucially the old and new row may fall in DIFFERENT
groups (the group-by column itself changed), which naive "just add the
update row" maintenance gets wrong. min/max are deliberately NOT
offered: they are not self-maintainable under deletes (a deleted
current-max forces a rescan of the group) — callers that need them
recompute those columns per affected group.

Inputs are plain DataFrames so the operator composes with any feed:
- ``changes``: `SnapshotTable.changes_between(v_from, v_to)` output —
  net-classified rows where insert/update carry the v_to image and
  delete carries the last-visible v_from image (lake.py:1190).
- ``prev_state``: the v_from table read, needed ONLY for update
  pre-images; it is semi-joined down to the updated keys before any
  aggregation. NOTE the semi-join filters rows but cannot shrink the
  SCAN — the caller owns that lever: pass a bucket-pruned read
  (``table.read(buckets=touched, at_version=v_from)`` with the touched
  buckets derived from the same manifest diff changes_between prunes
  by) to make the step O(changed buckets); a plain read is O(table)
  per step.

Scale shape: both legs collapse to per-group partial aggregates before
the single groupBy shuffle (map-side combine); the MV merge is a
union + grouped sum on the group key (null-safe by construction) over
two group-cardinality inputs — a single small exchange. Nothing
iterates on the driver; no Python UDFs.

Measures are summed as long, which keeps the maintained MV bit-identical
to a from-scratch recompute: float sums are order-dependent, so a double
measure could drift in the last ulp between the incremental and direct
plans. Callers with fractional columns pass a scaled-integer expression
(e.g. ``(value * 1000).cast('long')``).

Reference parity: Gobblin has no MV layer — its closest shape is the
compaction job's duplicate accounting (SURVEY §2.6); this operator is
part of the derived-data family the engine adds on top of the
changelog read side (`changes_between`, lake.py:1158).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CT = "_change_type"


def mv_compute(
    state: DataFrame, group_cols: list[str], measures: dict[str, Column]
) -> DataFrame:
    """From-scratch MV over a table state: count(*) as ``mv_count`` plus
    sum(measure) per named measure. The baseline the incremental path
    must match exactly — and the bootstrap for MV(v1)."""
    aggs = [F.count(F.lit(1)).cast("long").alias("mv_count")] + [
        # all-null groups surface as 0, matching the maintained path's
        # coalesce-add algebra (a sum delta of null contributes nothing)
        F.coalesce(F.sum(expr), F.lit(0)).cast("long").alias(name)
        for name, expr in measures.items()
    ]
    return state.groupBy(*group_cols).agg(*aggs)


def mv_delta(
    changes: DataFrame,
    prev_state: DataFrame,
    key_cols: list[str],
    group_cols: list[str],
    measures: dict[str, Column],
) -> DataFrame:
    """Per-group delta from a net changelog window.

    plus  = insert & update rows (v_to images), +1 / +measure
    minus = delete rows (v_from images ride in the changelog) and update
            PRE-images (fetched from prev_state by semi-join on the
            updated keys), -1 / -measure

    grouped by each row's OWN group columns — so group-migrating updates
    decrement the old group and increment the new one."""
    plus = changes.filter(F.col(_CT).isin("insert", "update"))
    minus_del = changes.filter(F.col(_CT) == "delete")
    upd_keys = changes.filter(F.col(_CT) == "update").select(*key_cols).distinct()
    minus_pre = prev_state.join(upd_keys, key_cols, "left_semi")

    def signed(df: DataFrame, sign: int) -> DataFrame:
        aggs = [F.sum(F.lit(sign)).cast("long").alias("mv_count")] + [
            # coalesce BEFORE signing: an all-NULL measure leg must
            # contribute 0, matching mv_compute's coalesced sums — else a
            # group born from all-NULL rows carries measure=NULL in the
            # maintained MV but 0 in a recompute
            (F.lit(sign) * F.coalesce(F.sum(expr), F.lit(0)))
            .cast("long")
            .alias(name)
            for name, expr in measures.items()
        ]
        return df.groupBy(*group_cols).agg(*aggs)

    cols = ["mv_count", *measures]
    out = (
        signed(plus, 1)
        .unionByName(signed(minus_del.unionByName(minus_pre, allowMissingColumns=True), -1))
        .groupBy(*group_cols)
        .agg(*[F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c) for c in cols])
    )
    return out


def mv_apply(
    mv: DataFrame, delta: DataFrame, group_cols: list[str], measure_names: list[str]
) -> DataFrame:
    """Merge a per-group delta into the previous MV: union + one grouped
    sum (NOT an outer join — join keys are null-UNSAFE in Spark, so a
    NULL group in both sides would split into two rows instead of
    merging; groupBy treats NULL as an ordinary group value, matching
    mv_compute). Groups whose count reaches zero are dropped (count can
    never go negative on a consistent feed)."""
    cols = ["mv_count", *measure_names]
    merged = (
        mv.select(*group_cols, *cols)
        .unionByName(delta.select(*group_cols, *cols))
        .groupBy(*group_cols)
        .agg(*[F.sum(c).cast("long").alias(c) for c in cols])
    )
    return merged.filter(F.col("mv_count") > 0).select(*group_cols, *cols)


def maintain(
    mv: DataFrame,
    changes: DataFrame,
    prev_state: DataFrame,
    key_cols: list[str],
    group_cols: list[str],
    measures: dict[str, Column],
) -> DataFrame:
    """One maintenance step: MV(v_from) + changes(v_from→v_to) →
    MV(v_to). Convenience composition of mv_delta + mv_apply."""
    delta = mv_delta(changes, prev_state, key_cols, group_cols, measures)
    return mv_apply(mv, delta, group_cols, list(measures))
