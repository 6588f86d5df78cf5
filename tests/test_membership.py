"""Bloom membership family: no false negatives ever, portable positions,
zero-shuffle probe plan, and the two-phase pipeline's exactness."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from gobblin_spark.operators.membership import (
    bloom_build,
    bloom_positions,
    bloom_probe,
    bloom_words,
    dedup_against_history_bloom,
)


def _py_positions(s: str, m: int, k: int) -> list[int]:
    hx = hashlib.md5(s.encode()).hexdigest()
    h1, h2 = int(hx[0:15], 16), int(hx[16:31], 16)
    return [(h1 + i * h2) % m for i in range(k)]


def test_positions_match_reference_python(spark):
    """The Spark-side md5/conv arithmetic equals the portable definition —
    the property every SQL oracle (and any other engine) relies on."""
    vals = ["", "a", "hello world", "ünïcödé ✓", "x" * 1000]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        r["v"]: r["pos"]
        for r in df.select("v", bloom_positions(F.col("v"), 4096, 5).alias("pos")).collect()
    }
    for v in vals:
        assert got[v] == _py_positions(v, 4096, 5), v


def test_no_false_negatives_and_some_discrimination(spark):
    members = [f"doc-{i}" for i in range(200)]
    others = [f"other-{i}" for i in range(200)]
    m, k = 1 << 14, 4
    hist = spark.createDataFrame([(v,) for v in members], "key string")
    words = bloom_words(hist, "key", m, k)
    probe = spark.createDataFrame([(v,) for v in members + others], "key string")
    out = {r["key"]: r["maybe_member"] for r in bloom_probe(probe, "key", words, m, k).collect()}
    assert all(out[v] for v in members), "a Bloom filter NEVER misses a member"
    fp = sum(out[v] for v in others)
    # load factor kn/m ~ 0.05 -> fp ~ (0.05)^4; 200 probes should nearly all clear
    assert fp <= 5, f"implausible false-positive count {fp}"


def test_build_words_equal_python_packing(spark):
    vals = [f"v{i}" for i in range(50)]
    m, k = 1 << 10, 3
    df = spark.createDataFrame([(v,) for v in vals], "key string")
    expect = [0] * (m // 64)
    for v in vals:
        for p in _py_positions(v, m, k):
            expect[p // 64] |= 1 << (p % 64)
    # packing into signed 64-bit
    expect = [(w + (1 << 64)) % (1 << 64) for w in expect]
    got = [0] * (m // 64)
    for r in bloom_build(df, "key", m, k).collect():
        got[r["word_idx"]] = (r["word"] + (1 << 64)) % (1 << 64)
    assert got == expect


def test_probe_plan_has_no_exchange_or_python(spark):
    df = spark.createDataFrame([("a",), ("b",)], "key string")
    words = [0] * (1024 // 64)
    plan = (
        bloom_probe(df, "key", words, 1024, 4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, "probe must be shuffle-free"
    assert "pythonUDF" not in plan.lower(), "probe must stay in codegen"


def test_probe_word_count_validation(spark):
    df = spark.createDataFrame([("a",)], "key string")
    with pytest.raises(ValueError):
        bloom_probe(df, "key", [0] * 3, 1024, 4)


def test_two_phase_pipeline_is_exact(spark):
    """Bloom prefilter + anti-join rescue returns EXACTLY the novel rows,
    regardless of false positives (forced here with a tiny filter)."""
    hist = spark.createDataFrame([(f"h{i}", i) for i in range(150)], "key string, x long")
    new = spark.createDataFrame(
        [(f"h{i}", 1000 + i) for i in range(0, 30)]  # true dups
        + [(f"n{i}", 2000 + i) for i in range(60)],  # novel
        "key string, x long",
    )
    out = dedup_against_history_bloom(
        new, hist, F.col("key"), m_bits=256, k=2  # tiny m -> many FPs
    )
    keys = sorted(r["key"] for r in out.collect())
    assert keys == sorted(f"n{i}" for i in range(60))
    assert set(out.columns) == {"key", "x"}


def test_two_phase_pipeline_with_history_keys_is_exact(spark):
    """A caller-derived key set stands in for the history rows."""
    hist = spark.createDataFrame([(f"h{i}",) for i in range(150)], "_bloom_key string")
    new = spark.createDataFrame(
        [(f"h{i}", i) for i in range(30)] + [(f"n{i}", i) for i in range(60)],
        "key string, x long",
    )
    out = dedup_against_history_bloom(new, None, F.col("key"), m_bits=256, k=2, history_keys=hist)
    assert sorted(r["key"] for r in out.collect()) == sorted(f"n{i}" for i in range(60))


@pytest.mark.parametrize("given", ["both", "neither"])
def test_history_and_history_keys_are_exclusive(spark, given):
    """history_keys with history would silently ignore one of them; with
    neither there is nothing to dedup against."""
    new = spark.createDataFrame([("a", 1)], "key string, x long")
    hist = new if given == "both" else None
    hist_keys = new.select(F.col("key").alias("_bloom_key")) if given == "both" else None
    with pytest.raises(ValueError, match="exactly one"):
        dedup_against_history_bloom(new, hist, F.col("key"), history_keys=hist_keys)
