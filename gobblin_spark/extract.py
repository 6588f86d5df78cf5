"""Deterministic html → text extraction (the engine's "Converter" slot).

The reference has no text-extraction function; this slots in exactly where a
Gobblin ``Converter`` sits in the task flow (reference:
gobblin-api/src/main/java/org/apache/gobblin/converter/Converter.java:61-104 —
1:1 schema map + record-wise transform). The input_hint allows the
pyspark.sql DataFrame API or vectorized UDFs, with no per-row Python; here it
is native Spark expressions, with byte-identical output per url across runs,
partition counts and cluster sizes.

One ordered step table, ``STEPS``, is the only statement of the rules. Three
regex engines run it verbatim: ``extract_text`` (Python ``re``, the scalar
witness), ``extract_text_col`` (Spark's ``regexp_replace``, i.e. Java regex,
inside the engine's own plan) and the DuckDB oracle SQL of the
``extract_html_text`` contract query (RE2). The patterns are written in the
subset all three read alike, so none needs a translation:

- no ``(?i)``: Java's folds ASCII only, Python's and RE2's fold Unicode, and
  differently (``<scrİpt>``). Tag names are ASCII classes (``[Pp]``), as the
  HTML tokenizer lowercases tag names in ASCII only;
- ``\\x0b``, not ``\\v`` (a class in Java);
- ASCII classes where Python's ``\\b``/``\\s`` would be Unicode-aware;
- no backreference (RE2 has none).

Each step is a stateless per-row substitution, so the output cannot depend on
batch boundaries or parallelism.

Semantics (FIXTURES.md §4): strip <script>/<style>/<nav>/<footer> (plus
comments, header/aside), break block-level tags into newlines, drop remaining
tags, unescape the common entities, collapse whitespace, join non-empty block
lines with '\\n'.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# What may follow a tag name up to its '>': nothing, or a non-word character
# and anything but '>' (Python's ``\b[^>]*``, with an ASCII word class).
_TAG_END = r"(?:[^>A-Za-z0-9_][^>]*)?>"
_BOILERPLATE = ("script", "style", "nav", "footer", "header", "aside")
_BLOCK = (
    "p div h1 h2 h3 h4 h5 h6 li ul ol br hr tr td th table thead tbody "
    "section article blockquote title head body html main figure"
).split()


def _nocase(tag: str) -> str:
    """``tag`` matched in any ASCII case: ``nav`` → ``[Nn][Aa][Vv]``."""
    return "".join(f"[{c.upper()}{c}]" if c.isalpha() else c for c in tag)


# Ordered (pattern, replacement) pipeline applied after utf-8 decode.
STEPS: list[tuple[str, str]] = [
    # html comments
    (r"(?s)<!--.*?-->", " "),
    # boilerplate containers, with their content. RE2 has no ``</\1``
    # backreference, so each branch of one alternation closes its own tag;
    # leftmost-first matching picks the branch the backreference would.
    (
        "(?s)<(?:"
        + "|".join(
            rf"{_nocase(t)}{_TAG_END}.*?</{_nocase(t)}[ \t\n\r\f\x0b]*>" for t in _BOILERPLATE
        )
        + ")",
        " ",
    ),
    # block-level boundaries become newlines
    (rf"</?(?:{'|'.join(map(_nocase, _BLOCK))}){_TAG_END}", "\n"),
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
    (r"[ \t\r\f\x0b]+", " "),
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


def extract_text_col(html: Column) -> Column:
    """Binary (or string) html → extracted text, as Spark expressions: invalid
    UTF-8 becomes U+FFFD as ``extract_text``'s decode makes it, then one
    ``regexp_replace`` per step. NULL stays NULL."""
    s = F.make_valid_utf8(html.cast("string"))
    for pat, repl in STEPS:
        s = F.regexp_replace(s, pat, repl)
    return F.btrim(s, F.lit(STRIP))
