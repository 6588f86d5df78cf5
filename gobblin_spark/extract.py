"""Deterministic html → text extraction (the engine's "Converter" slot).

The reference has no text-extraction function; this slots in exactly where a
Gobblin ``Converter`` sits in the task flow (reference:
gobblin-api/src/main/java/org/apache/gobblin/converter/Converter.java:61-104 —
1:1 schema map + record-wise transform). Per the input_hint it must be a
**vectorized Arrow UDF** with byte-identical output per url across runs, Arrow
batch sizes, and cluster sizes.

One ordered step table, ``STEPS``, is the only statement of the rules. Three
engines run it: ``extract_text`` (Python ``re``, the scalar witness),
``extract_text_udf`` (an ``arrow_udf`` over ``pyarrow.compute``'s RE2
kernels) and the DuckDB oracle SQL of the ``extract_html_text`` contract
query (RE2 again). The patterns are therefore written in the dialect both
regex engines read alike: flags inline, no backreference, and ASCII classes
spelled out where Python's ``\\b``/``\\s`` would be Unicode-aware. Each step
is a stateless per-row substitution, so the output cannot depend on batch
boundaries or parallelism.

Semantics (FIXTURES.md §4): strip <script>/<style>/<nav>/<footer> (plus
comments, header/aside), break block-level tags into newlines, drop remaining
tags, unescape the common entities, collapse whitespace, join non-empty block
lines with '\\n'.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import StringType

# What may follow a tag name up to its '>': nothing, or a non-word character
# and anything but '>' (Python's ``\b[^>]*``, with an ASCII word class).
_TAG_END = r"(?:[^>A-Za-z0-9_][^>]*)?>"
_BOILERPLATE = ("script", "style", "nav", "footer", "header", "aside")
_BLOCK = (
    r"p|div|h[1-6]|li|ul|ol|br|hr|tr|td|th|table|thead|tbody|"
    r"section|article|blockquote|title|head|body|html|main|figure"
)

# Ordered (pattern, replacement) pipeline applied after utf-8 decode.
STEPS: list[tuple[str, str]] = [
    # html comments
    (r"(?s)<!--.*?-->", " "),
    # boilerplate containers, with their content. RE2 has no ``</\1``
    # backreference, so each branch of one alternation closes its own tag;
    # leftmost-first matching picks the branch the backreference would.
    (
        "(?is)<(?:"
        + "|".join(rf"{t}{_TAG_END}.*?</{t}[ \t\n\r\f\v]*>" for t in _BOILERPLATE)
        + ")",
        " ",
    ),
    # block-level boundaries become newlines
    (rf"(?is)</?(?:{_BLOCK}){_TAG_END}", "\n"),
    # any remaining tag
    (r"<[^>]*>", " "),
    # limited entity set (fixture html uses only these); &amp; last
    (r"&nbsp;", " "),
    (r"&lt;", "<"),
    (r"&gt;", ">"),
    (r"&quot;", '"'),
    (r"&#39;", "'"),
    (r"&amp;", "&"),
    # collapse horizontal whitespace
    (r"[ \t\r\f\v]+", " "),
    # trim around line breaks, collapse blank lines
    (r" ?\n ?", "\n"),
    (r"\n+", "\n"),
]
# Characters trimmed from both ends of the result.
STRIP = " \n"

_COMPILED = [(re.compile(pat), repl) for pat, repl in STEPS]


def extract_text(html: bytes | None) -> str | None:
    """Single-threaded reference extractor (the byte-identity witness)."""
    if html is None:
        return None
    s = html.decode("utf-8", errors="replace")
    for pat, repl in _COMPILED:
        s = pat.sub(repl, s)
    return s.strip(STRIP)


@arrow_udf(StringType())
def extract_text_udf(html: pa.Array) -> pa.Array:
    """Arrow-batched scalar UDF: binary html → extracted text."""
    try:
        s = pc.cast(html, pa.string())
    except pa.ArrowInvalid:  # invalid UTF-8: decode as extract_text does
        s = pa.array(
            [b if b is None else b.decode("utf-8", errors="replace") for b in html.to_pylist()],
            pa.string(),
        )
    for pat, repl in STEPS:
        s = pc.replace_substring_regex(s, pat, repl)
    return pc.utf8_trim(s, STRIP)
