"""Byte-identity invariant for the engine's extractor (BASELINE.json
input_hint: byte-identical extracted text per url across runs, batch
boundaries and parallelism), and agreement of the three regex engines that
run the one step table verbatim: Python ``re``, Spark (Java) and DuckDB
(RE2)."""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
from pyspark.sql import functions as F

from __spark_entry__ import _extract_sql
from gobblin_spark.extract import extract_text, extract_text_col
from gobblin_spark.fixtures import make_html, make_pages

ADVERSARIAL = [
    b"<nav><script>x</nav>y</script>z",  # nested boilerplate, other tag first
    b"<script>a<script>b</script>c</script>d",  # nested, same tag
    b"<p>kept</p><script>unclosed",  # unclosed boilerplate
    b"<!-- c --> x <!-- unclosed",
    b"<SCRIPT type=x>q</ScRiPt>w<Nav>n</NAV\t>v",  # mixed case
    b"<aside>x</aside\x0b>y",  # \v inside a closing tag
    "<navé>x</nav>y".encode(),  # non-ASCII letter after a tag name
    b"<navx>x</navx>y<script_>s</script>t",  # word characters after a tag name
    b"a<br/>b<BR>c<br >d<hr\n/>e",
    b"<p>a</p><pre>b</pre><thead>c<th>d<h7>e</h7><h6>f",
    b"&amp;lt; &nbsp;&#39;&quot;&gt;",
    b" \n\t\x0b\x0c\r <div>\x0b \x0c</div> ",
    b"\xff\xfe<p>x</p>\x80 tail",  # invalid UTF-8
    # non-ASCII letters that Unicode case folding maps onto a tag name's
    # letters: tag names match in ASCII case only, as the HTML tokenizer reads
    "<scr\u0130pt>x</script>y<d\u0130v>z".encode(),  # dotted capital I
    "<scr\u0131pt>x</script>y".encode(),  # dotless i
    "<\u017fcript>x</script>y".encode(),  # long s
    "<bloc\u212aquote>x</blockquote>y<li\u212a>z".encode(),  # Kelvin sign
    b"<p>\xed\xa0\x80</p>a\xed\xbf\xbfb",  # UTF-8-encoded surrogates
    b"<p>\xc0\xaf\xe0\x80\xaf</p>\xf0\x80\x80\xaf",  # overlong encodings
    b"<p>\xe2\x82</p>\xf0\x9f\x98 x \xe2",  # truncated sequences
    b"",
    None,
]


def _sample_htmls(n=200, seed=7):
    rng = np.random.RandomState(seed)
    return [make_html(rng, f"https://s{i}.example/p/{i}", i) for i in range(n)]


def _duckdb_extract(htmls):
    """The generated oracle SQL over the same docs, decoded as extract_text
    decodes them (DuckDB VARCHAR cannot hold invalid UTF-8)."""
    con = duckdb.connect()
    con.execute("CREATE TABLE d (i INTEGER, html VARCHAR)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?)",
        [(i, h if h is None else h.decode("utf-8", errors="replace")) for i, h in enumerate(htmls)],
    )
    rows = con.execute(f"SELECT {_extract_sql('html')} FROM d ORDER BY i").fetchall()
    return [r[0] for r in rows]


def _spark_extract(spark, htmls, n_partitions=1):
    """extract_text_col over ``htmls`` as a binary column, round-robin
    repartitioned into ``n_partitions``, back in input order."""
    sdf = spark.createDataFrame(list(enumerate(htmls)), "i int, html binary")
    rows = (
        sdf.repartition(n_partitions)
        .select("i", extract_text_col(F.col("html")).alias("text"))
        .collect()
    )
    return [r["text"] for r in sorted(rows)]


def test_scalar_vs_vectorized_byte_identity(spark):
    htmls = _sample_htmls()
    ref = [extract_text(h) for h in htmls]
    assert ref == _spark_extract(spark, htmls)
    # and actually extracts: boilerplate gone, content present
    assert all("var t" not in t and "Home" not in t for t in ref)
    assert all("Page" in t for t in ref)


def test_batch_size_independence(spark):
    htmls = _sample_htmls()
    whole = _spark_extract(spark, htmls)
    chunked = _spark_extract(spark, htmls, -(-len(htmls) // 7))  # ~7 rows a task
    assert whole == chunked


def test_null_html_yields_null(spark):
    assert extract_text(None) is None
    assert _spark_extract(spark, [None, b"<p>x</p>"]) == [None, "x"]


def test_udf_parallelism_independence(spark):
    pages = make_pages(64, seed=3)
    sdf = spark.createDataFrame(pages[["url", "html"]])

    def hashes(df):
        rows = (
            df.withColumn("text", extract_text_col(F.col("html")))
            .select("url", F.sha2(F.col("text"), 256).alias("h"))
            .collect()
        )
        return sorted((r["url"], r["h"]) for r in rows)

    h1 = hashes(sdf.repartition(1))
    h8 = hashes(sdf.repartition(8))
    assert h1 == h8
    # matches the single-threaded reference byte-for-byte
    ref = sorted(
        (u, hashlib.sha256(extract_text(h).encode()).hexdigest())
        for u, h in zip(pages["url"], pages["html"])
    )
    assert h1 == ref


def test_three_engines_agree_on_adversarial_set(spark):
    """extract_text, extract_text_col in Spark (1 and 8 partitions) and the
    generated DuckDB SQL give byte-identical text, NULL for NULL."""
    htmls = ADVERSARIAL + _sample_htmls(20)
    ref = [extract_text(h) for h in htmls]
    assert _duckdb_extract(htmls) == ref
    # each container closes the tag it opened (per-tag passes would give "z")
    assert ref[ADVERSARIAL.index(b"<nav><script>x</nav>y</script>z")] == "y z"
    # a tag name matches in ASCII case only
    assert ref[ADVERSARIAL.index("<\u017fcript>x</script>y".encode())] == "x y"
    for n in (1, 8):
        assert _spark_extract(spark, htmls, n) == ref, n
