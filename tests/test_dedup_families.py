"""Dedup-family properties: pigeonhole completeness of banded SimHash,
MinHash-verified ⊆ exact Jaccard, NULL-text handling, portable hashing."""

from __future__ import annotations

from pyspark.sql import functions as F

from gobblin_spark.operators.dedup_families import (
    _block_layout,
    chunk_frequency_dedup,
    dedup_against_history,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    portable_hash60,
    simhash,
    simhash_near_dup_pairs,
)

_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta", "iota", "kappa"]


def _docs(spark, n=40, seed=3):
    import random

    rnd = random.Random(seed)
    rows = []
    for i in range(n):
        base = [rnd.choice(_WORDS) for _ in range(30)]
        rows.append((i, " ".join(base)))
        if i % 4 == 0:  # a near-duplicate: one word swapped
            mut = list(base)
            mut[rnd.randrange(len(mut))] = rnd.choice(_WORDS)
            rows.append((1000 + i, " ".join(mut)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_banding_is_complete_for_requested_distance(spark):
    """The banded candidate join must surface EVERY pair within max_hamming —
    the round-1 version silently missed pairs differing in all blocks."""
    docs = _docs(spark)
    for d in (3, 7):
        sig = simhash(docs).toPandas().set_index("id")["simhash"].to_dict()
        brute = {
            (a, b)
            for a in sig
            for b in sig
            if a < b and bin(sig[a] ^ sig[b]).count("1") <= d
        }
        banded = {
            (r["a_id"], r["b_id"])
            for r in simhash_near_dup_pairs(docs, max_hamming=d).collect()
        }
        assert banded == brute, f"d={d}: banded {len(banded)} vs brute {len(brute)}"


def test_block_layout_pigeonhole():
    for d in (0, 1, 3, 7, 12, 59, 100):
        layout = _block_layout(d)
        assert len(layout) == min(d + 1, 60)
        assert sum(w for _, w in layout) == 60
        offs = [o for o, _ in layout]
        assert offs == sorted(offs) and offs[0] == 0


def test_simhash_null_text_keeps_id(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, None)], "doc_id long, text string")
    out = simhash(docs)
    assert {r["id"] for r in out.collect()} == {1, 2}


def test_minhash_verified_subset_of_exact(spark):
    docs = _docs(spark)
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard_bp"]
        for r in ngram_jaccard_pairs(docs, n=5, min_jaccard_bp=5000).collect()
    }
    mh = {
        (r["a_id"], r["b_id"]): r["jaccard_bp"]
        for r in minhash_near_dup_pairs(docs, n=5, k=32, bands=8, min_jaccard_bp=5000).collect()
    }
    # verified candidates are a subset of the exact result with IDENTICAL
    # jaccard values (verification is exact; only recall can be lost)
    assert set(mh) <= set(exact)
    for pair, bp in mh.items():
        assert exact[pair] == bp
    # recall at j≥0.9 with r=4,b=8 is 1-(1-j^4)^8 ≈ 0.9998 — every
    # high-jaccard pair (the actual near-duplicates) must be recalled
    high = {p for p, bp in exact.items() if bp >= 9000}
    assert high <= set(mh)
    assert high  # the fixture must actually contain near-duplicates


def test_portable_hash60_matches_duckdb(spark):
    import duckdb

    vals = ["", "a", "hello world", "héllo", "日本語", "x" * 100]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v string")
        .select("v", portable_hash60(F.col("v")).alias("h"))
        .collect()
    }
    con = duckdb.connect()
    for v in vals:
        exp = con.execute(
            "SELECT ('0x' || substr(md5(?),1,15))::BIGINT", [v]
        ).fetchone()[0]
        assert got[v] == exp, v


def test_contamination_check_exact_and_clean(spark):
    from gobblin_spark.operators.dedup_families import contamination_check

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # == bench doc
            (3, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),  # disjoint from bench
            (4, "a quick brown fox sat still"),  # partial overlap
        ],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") == 1)
    out = {
        r["doc_id"]: r.asDict() for r in contamination_check(docs, bench, n=5).collect()
    }
    assert len(out) == 4  # every input doc gets a row, hits or not
    assert out[2]["contamination_bp"] == 10000  # identical to a bench doc
    assert out[3]["n_contaminated"] == 0 and out[3]["contamination_bp"] == 0
    assert 0 < out[4]["n_contaminated"] < out[4]["n_shingles"]
    for r in out.values():
        assert r["contamination_bp"] == r["n_contaminated"] * 10000 // r["n_shingles"]


def test_pii_scrub_counts_and_bytes(spark):
    from gobblin_spark.operators.textstats import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d-e@f.org now"),
            (2, "host 192.168.0.1 vs not.an.ip.here"),
            (3, "call +123-456-7890"),
            (4, "a1.2.3.4@x.com then 1.2.3.4"),  # email absorbs the dotted run
            (5, "clean text only"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in pii_scrub(docs).collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 0, 0)
    assert (out[2]["n_email"], out[2]["n_ipv4"]) == (0, 1)
    assert out[3]["n_phone"] == 1
    # sequential scrub: the email (incl. its dotted local part) is replaced
    # FIRST, so only the later bare dotted quad counts as an ip
    assert (out[4]["n_email"], out[4]["n_ipv4"]) == (1, 1)
    assert (out[5]["n_email"], out[5]["n_ipv4"], out[5]["n_phone"]) == (0, 0, 0)
    import hashlib

    assert out[5]["scrubbed_md5"] == hashlib.md5(b"clean text only").hexdigest()
    assert (
        out[3]["scrubbed_md5"] == hashlib.md5(b"call <PHONE>").hexdigest()
    )


def test_winnow_guarantee_shared_substring(spark):
    """Winnowing guarantee: documents sharing a substring of length >= k+w-1
    share at least one selected fingerprint; disjoint docs (different
    alphabets) share none."""
    from pyspark.sql import functions as F

    from gobblin_spark.operators.textstats import winnow_fingerprints

    common = "the-shared-run-of-text-long-enough-to-guarantee-overlap"
    docs = spark.createDataFrame(
        [
            (1, "aaaa" + common + "bbbb"),
            (2, "cccccccc" + common + "dddd"),
            (3, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
            (4, "short"),  # len < k: single clamped gram, still fingerprinted
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in winnow_fingerprints(docs, k=8, w=4).collect()}
    assert len(out) == 4 and all(r["n_fp"] >= 1 for r in out.values())

    # recompute the full fingerprint SETS via the same operator at w=1
    # (w=1 keeps every k-gram hash) to check set-level overlap claims
    from gobblin_spark.operators.dedup_families import portable_hash60

    def fps(text, k=8, w=4):
        hs = []
        import hashlib
        n = max(len(text) - k + 1, 1)
        for i in range(n):
            g = text[i : i + k]
            hs.append(int(hashlib.md5(g.encode()).hexdigest()[:15], 16))
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    s1, s2, s3 = fps("aaaa" + common + "bbbb"), fps("cccccccc" + common + "dddd"), fps("zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz")
    assert s1 & s2, "shared substring must share a fingerprint"
    assert not (s1 & s3) and not (s2 & s3)
    # and the operator's (count, xor, min) triple matches the python model
    import functools, operator
    for did, s in ((1, s1), (2, s2), (3, s3)):
        assert out[did]["n_fp"] == len(s)
        assert out[did]["fp_xor"] == functools.reduce(operator.xor, s)
        assert out[did]["fp_min"] == min(s)


def test_duplicate_spans_detects_and_merges(spark):
    """A verbatim passage shared by two docs is reported as ONE maximal span
    in each, with boundary slack bounded by the stride; unique docs and docs
    shorter than the window report nothing."""
    from gobblin_spark.operators.dedup_families import duplicate_spans

    shared = "0123456789" * 8  # 80 chars, >> window
    docs = spark.createDataFrame(
        [
            (1, "AAAAA" + shared + "BBBBB"),
            (2, "CCCCCCCCCCCC" + shared + "DD"),
            (3, "unique-text-" + "xyzvw" * 20),
            (4, "tiny"),  # shorter than window: no windows at all
            (5, None),  # NULL text: treated as empty
        ],
        "doc_id long, text string",
    )
    w, s = 20, 3
    out = {
        r["doc_id"]: r.asDict()
        for r in duplicate_spans(docs, window=w, stride=s).collect()
    }
    assert set(out) == {1, 2}, "only the two sharers have spans"
    for did, prefix in ((1, 5), (2, 12)):
        span = out[did]
        # the true duplicated range is [prefix+1, prefix+80] (1-based);
        # windows on a stride can miss up to (stride-1 + window-1) tail chars
        # and start up to stride-1 late, but may also legitimately extend
        # into the flanks when a window straddling the boundary happens to
        # repeat — here flanks are unique so spans stay inside the passage
        assert span["span_start"] >= prefix + 1 - (s - 1)
        assert span["span_start"] <= prefix + 1 + (s - 1)
        assert span["span_end"] <= prefix + 80 + 1 + (s - 1)
        assert span["span_end"] - span["span_start"] >= 80 - 2 * (s - 1) - (w - 1)
        assert span["n_windows"] >= 2


def test_duplicate_spans_intra_doc_flag(spark):
    """cross_doc_only=True ignores a repeat WITHIN one document;
    cross_doc_only=False reports both copies."""
    from gobblin_spark.operators.dedup_families import duplicate_spans

    rep = "abcdefghijklmnopqrst"  # 20 chars
    docs = spark.createDataFrame(
        [(1, rep + "-----" + rep), (2, "zzzz" + "qrstuv" * 10)],
        "doc_id long, text string",
    )
    strict = duplicate_spans(docs, window=20, stride=1, cross_doc_only=True).collect()
    assert strict == [], "intra-doc repeat must not count as cross-doc"
    loose = duplicate_spans(docs, window=20, stride=1, cross_doc_only=False)
    got = {(r["doc_id"], r["span_start"], r["span_end"]) for r in loose.collect()}
    assert (1, 1, 21) in got and (1, 26, 46) in got
    # doc 2's 'qrstuv'*10 self-overlap repeats with period 6 -> also flagged
    assert all(d in (1, 2) for d, _, _ in got)


def test_duplicate_spans_adjacent_windows_merge_exactly(spark):
    """Two overlapping duplicated windows merge into one island; disjoint
    duplicated regions in the same doc stay separate spans."""
    from gobblin_spark.operators.dedup_families import duplicate_spans

    a = "AAAAAAAAAAAAAAAAAAAA"  # 20
    b = "BBBBBBBBBBBBBBBBBBBB"  # 20
    docs = spark.createDataFrame(
        [
            (1, a + "0123456789" + b),  # both passages, separated by unique gap
            (2, a + "~~~~~~~~~~~~~~~~~" + b),
        ],
        "doc_id long, text string",
    )
    out = duplicate_spans(docs, window=10, stride=5, cross_doc_only=True)
    rows = sorted(
        ((r["doc_id"], r["span_start"], r["span_end"]) for r in out.collect())
    )
    by_doc = {}
    for d, st, en in rows:
        by_doc.setdefault(d, []).append((st, en))
    # each doc: exactly two disjoint spans (the A-run and the B-run)
    for d, spans in by_doc.items():
        assert len(spans) == 2, (d, spans)
        (s1, e1), (s2, e2) = spans
        assert e1 <= s2, "spans must be disjoint and ordered"


def test_remove_duplicate_spans_excises_and_passes_through(spark):
    """The shared passage is cut from both docs (flanks survive), unique
    docs pass through byte-identical, and rows are never dropped."""
    from gobblin_spark.operators.dedup_families import remove_duplicate_spans

    shared = "0123456789" * 8
    docs = spark.createDataFrame(
        [
            (1, "AAAAA" + shared + "BBBBB"),
            (2, "CCCCCCCCCCCC" + shared + "DD"),
            (3, "totally-unique-" + "xyzvw" * 20),
            (4, "tiny"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(docs, window=20, stride=1).collect()
    }
    assert len(out) == 5, "no rows dropped"
    # stride=1: spans are exact -> flanks survive verbatim, passage gone
    assert out[1] == "AAAAA" + "BBBBB"
    assert out[2] == "CCCCCCCCCCCC" + "DD"
    assert out[3] == "totally-unique-" + "xyzvw" * 20
    assert out[4] == "tiny"
    assert out[5] == "", "NULL text normalizes to empty"


def test_remove_duplicate_spans_multiple_disjoint_spans(spark):
    from gobblin_spark.operators.dedup_families import remove_duplicate_spans

    a, b = "A" * 20, "B" * 20
    docs = spark.createDataFrame(
        [(1, a + "0123456789" + b), (2, a + "~~~~~~~~~~~~~~~~~" + b)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(docs, window=10, stride=1).collect()
    }
    assert out[1] == "0123456789"
    assert out[2] == "~~~~~~~~~~~~~~~~~"


def test_remove_duplicate_spans_whole_doc_duplicate_goes_empty(spark):
    from gobblin_spark.operators.dedup_families import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "Z" * 50), (2, "Z" * 50)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["clean_text"]
        for r in remove_duplicate_spans(docs, window=10, stride=1).collect()
    }
    assert out[1] == "" and out[2] == ""


def test_remove_spans_tolerates_overlapping_caller_spans(spark):
    """Caller-supplied overlapping spans get union-of-ranges semantics —
    no dropped text, no duplicated text."""
    from gobblin_spark.operators.dedup_families import remove_duplicate_spans

    docs = spark.createDataFrame(
        [(1, "ABCDEFGHIJKLMNOPQRSTUVWXYZ")], "doc_id long, text string"
    )
    spans = spark.createDataFrame(
        [(1, 1, 11), (1, 5, 16), (1, 20, 23)],  # [1,11) and [5,16) overlap
        "doc_id long, span_start long, span_end long",
    )
    out = remove_duplicate_spans(docs, spans=spans).collect()[0]["clean_text"]
    # union [1,16) removes A..O, [20,23) removes T,U,V
    assert out == "PQRS" + "WXYZ"


def test_chunk_dedup_strips_hot_chunks_and_recomposes(spark):
    boiler = "all rights reserved"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique words {i} tail{i} x{i}") for i in range(5)]
        + [(99, "totally original prose only")],
        "doc_id long, text string",
    )
    out = chunk_frequency_dedup(
        docs, words_per_chunk=3, max_occurrences=4
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    # 'all rights reserved' appears 5x > 4 -> stripped everywhere
    for i in range(5):
        assert by_id[i]["n_removed"] == 1
        assert by_id[i]["clean_text"] == f"unique words {i} tail{i} x{i}"
    assert by_id[99]["n_removed"] == 0
    assert by_id[99]["clean_text"] == "totally original prose only"


def test_chunk_dedup_fully_boilerplate_doc_empties(spark):
    docs = spark.createDataFrame(
        [(i, "spam spam spam") for i in range(6)], "doc_id long, text string"
    )
    out = chunk_frequency_dedup(docs, words_per_chunk=3, max_occurrences=2).collect()
    assert all(r["clean_text"] == "" and r["n_removed"] == 1 for r in out)


def test_history_dedup_keep_first_and_anti_join(spark):
    history = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "seen before"),   # in history -> dropped
            (11, "brand new"),     # survives
            (12, "brand new"),     # dup within batch, larger id -> dropped
            (13, "another one"),   # survives
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"] for r in dedup_against_history(batch, history).collect()
    )
    assert got == [11, 13]
