"""Byte-identity invariant for the vectorized extractor (BASELINE.json
input_hint: byte-identical extracted text per url across runs, Arrow batch
sizes, and parallelism), and agreement of the three engines that run the one
step table: Python ``re``, the Arrow UDF and DuckDB."""

from __future__ import annotations

import hashlib

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from __spark_entry__ import _extract_sql
from gobblin_spark.extract import extract_text, extract_text_udf
from gobblin_spark.fixtures import make_html, make_pages

# the Arrow UDF's body, callable on a pyarrow array without Spark
extract_arrow = extract_text_udf.func

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


def test_scalar_vs_vectorized_byte_identity():
    htmls = _sample_htmls()
    ref = [extract_text(h) for h in htmls]
    vec = extract_arrow(pa.array(htmls, pa.binary())).to_pylist()
    assert ref == vec
    # and actually extracts: boilerplate gone, content present
    assert all("var t" not in t and "Home" not in t for t in ref)
    assert all("Page" in t for t in ref)


def test_batch_size_independence():
    arr = pa.array(_sample_htmls(), pa.binary())
    whole = extract_arrow(arr).to_pylist()
    chunked = []
    for i in range(0, len(arr), 7):
        chunked.extend(extract_arrow(arr.slice(i, 7)).to_pylist())
    assert whole == chunked


def test_null_html_yields_null():
    assert extract_text(None) is None
    out = extract_arrow(pa.array([None, b"<p>x</p>"], pa.binary())).to_pylist()
    assert out == [None, "x"]


def test_udf_parallelism_independence(spark):
    pages = make_pages(64, seed=3)
    sdf = spark.createDataFrame(pages[["url", "html"]])

    def hashes(df):
        rows = (
            df.withColumn("text", extract_text_udf(F.col("html")))
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
    """extract_text, the Arrow UDF in Spark (Arrow batches of 7 and of the
    session default, 1 and 8 partitions) and the generated DuckDB SQL give
    byte-identical text, NULL for NULL."""
    htmls = ADVERSARIAL + _sample_htmls(20)
    ref = [extract_text(h) for h in htmls]
    assert _duckdb_extract(htmls) == ref
    # each container closes the tag it opened (per-tag passes would give "z")
    assert ref[ADVERSARIAL.index(b"<nav><script>x</nav>y</script>z")] == "y z"

    sdf = spark.createDataFrame(list(enumerate(htmls)), "i int, html binary")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    try:
        for batch in ("7", default):
            spark.conf.set(key, batch)
            for n in (1, 8):
                rows = (
                    sdf.repartition(n)
                    .select("i", extract_text_udf(F.col("html")).alias("text"))
                    .collect()
                )
                assert [r["text"] for r in sorted(rows)] == ref, (batch, n)
    finally:
        spark.conf.set(key, default)
