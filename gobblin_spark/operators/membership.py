"""Portable Bloom-filter membership: the approximate scale path for
"have we seen this document before?".

``dedup_against_history`` (dedup_families.py) answers exactly, but its
anti-join shuffles the NEW batch against the FULL history digest set —
at a 10^11-document history that right side is tens of TB per ingest
run. The Bloom path compresses the history into an m-bit filter
(10^11 keys × 10 bits/key ≈ 125 GB worst case, and a 30-day rolling
history is far smaller), built ONCE as a distributed aggregation, then
probes every new document with ZERO shuffle and ZERO joins: the filter
words ride into the executors inside the plan (literal array — the same
transport Spark uses for its own runtime-filter blooms), so a probe is a
per-row array lookup in codegen. A "no" is definite (the true novel
mass, typically >90% of a web crawl batch, skips the exact join
entirely); a "maybe" routes the residue to the exact anti-join —
turning dedup-against-history cost from O(|new| + |history|) per run
into O(|new| + fp·|history-hits|).

Everything is deterministic and engine-portable: positions come from two
60-bit halves of md5 via double hashing (Kirsch–Mitzenmacher), so a SQL
oracle (or a different engine entirely) reproduces the EXACT bit layout
— false positives included. Word layout is 64-bit little-endian-ordered
words, ``word[i] bit b == position i*64+b``.

No reference counterpart: Gobblin's dedup is exact within a compaction
unit (AvroKeyDedupReducer); cross-run membership is part of the
training-data operator family this engine adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup_families import double_hash_positions


def bloom_positions(value: Column, m_bits: int, k: int) -> Column:
    """Array of ``k`` bit positions in ``[0, m_bits)`` for a string value.

    Double hashing from the two 60-bit halves of md5: pos_i =
    (h1 + i·h2) mod m. With k ≤ 8 the accumulator stays < 2^63 — no
    overflow on either engine. Purely codegen (md5 + conv + pmod)."""
    if m_bits < 64:
        raise ValueError(f"m_bits must be >= 64, got {m_bits}")
    # delegates to the ONE shared Kirsch–Mitzenmacher rail (h1 IS
    # portable_hash60, h2 the second 15-hex-digit md5 half) so the Bloom
    # filter, the count-min sketch, and every SQL oracle stay in sync
    return double_hash_positions(value, k, m_bits)


def bloom_build(
    df: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 4
) -> DataFrame:
    """Distributed Bloom-filter build: returns the SET words as
    ``(word_idx long, word long)`` — at most m_bits/64 rows regardless of
    input size. One map-side-combinable groupBy on word_idx (≤ m/64
    distinct keys); the history table itself never moves."""
    pos = F.explode(bloom_positions(F.col(col), m_bits, k)).alias("pos")
    return (
        df.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_words(df: DataFrame, col: str, m_bits: int = 1 << 20, k: int = 4) -> list[int]:
    """Collect a built filter into the dense word list ``probe`` embeds in
    the plan. The collect is metadata-sized by construction (m/64 longs —
    2 MB at m=2^27), the same order as any broadcast hash-join build side."""
    n_words = (m_bits + 63) // 64
    words = [0] * n_words
    for r in bloom_build(df, col, m_bits, k).collect():
        words[r["word_idx"]] = r["word"]
    return words


def bloom_probe(
    df: DataFrame,
    col: str,
    words: list[int],
    m_bits: int,
    k: int,
    out_col: str = "maybe_member",
) -> DataFrame:
    """Zero-shuffle membership probe: ``out_col`` is true iff ALL k bits
    for the value are set in the filter. The word array travels as a plan
    literal; the probe is ``forall`` over the k positions — per-row array
    indexing in codegen, no join, no aggregation, no Python."""
    if len(words) != (m_bits + 63) // 64:
        raise ValueError(
            f"words has {len(words)} entries, expected {(m_bits + 63) // 64}"
        )
    warr = F.lit(words)
    return df.withColumn(
        out_col,
        F.forall(
            bloom_positions(F.col(col), m_bits, k),
            lambda p: (
                F.element_at(warr, (p / 64).cast("int") + 1).bitwiseAND(
                    F.call_function(
                        "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
                    )
                )
            )
            != 0,
        ),
    )


def dedup_against_history_bloom(
    new_batch: DataFrame,
    history: DataFrame | None,
    key_expr: Column,
    m_bits: int = 1 << 20,
    k: int = 4,
    history_keys: DataFrame | None = None,
) -> DataFrame:
    """The two-phase incremental-dedup pipeline: Bloom-prefilter the new
    batch against the history's key filter, then exact-anti-join ONLY the
    "maybe" residue (false-positive rescue). Output = new rows whose key
    truly never appeared in history. Definite-no rows (the bulk) never
    touch the join; the join's left side shrinks to fp·|new| + true-dups.

    The history comes in one of two forms — pass exactly one, else
    ``ValueError``: ``history`` (rows; ``key_expr`` is applied to them) or
    ``history_keys`` (its key set already derived, see below).

    Cache lifecycle: when the operator derives the key set itself it
    persists it (both the eager filter build and the lazy rescue consume
    it); the cached partitions are released by Spark's ContextCleaner
    once the returned plan is executed and dropped — bounded by driver
    GC, not by session lifetime. A long-lived per-batch caller should
    instead pass ``history_keys`` (a single ``_bloom_key`` column it
    persists ONCE and reuses across batches), which this function then
    never re-persists — the caller owns unpersist().
    """
    if (history is None) == (history_keys is None):
        raise ValueError("pass exactly one of history and history_keys")
    key = "_bloom_key"
    if history_keys is None:
        # persist the distinct keys: both the filter build (eager collect,
        # runs now) and the rescue anti-join (lazy, runs when the caller
        # acts) consume them, and the history scan + distinct shuffle is the
        # most expensive step — without the persist it would run TWICE per
        # ingest
        history_keys = history.select(key_expr.alias(key)).distinct().persist()
    words = bloom_words(history_keys, key, m_bits, k)
    probed = bloom_probe(new_batch.withColumn(key, key_expr), key, words, m_bits, k)
    novel = probed.filter(~F.col("maybe_member"))
    rescued = probed.filter(F.col("maybe_member")).join(history_keys, key, "left_anti")
    return novel.unionByName(rescued).drop("maybe_member", key)
