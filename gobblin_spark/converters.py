"""Converters: the reference's record-wise transform surface re-expressed as
DataFrame combinators (SURVEY §2.3; Converter contract =
gobblin-api/.../converter/Converter.java:61-104 — 1:1 schema map + 1:{0,1,N}
record flatMap; chained by MultiConverter).

Every converter here is a ``DataFrame -> DataFrame`` function built from
JVM-side expressions (whole-stage codegen; no Python), so a Gobblin
converter chain becomes ``chain(df, [conv1, conv2, ...])``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Converter = Callable[[DataFrame], DataFrame]


def chain(df: DataFrame, converters: list[Converter]) -> DataFrame:
    """≈ MultiConverter (gobblin-runtime/.../MultiConverter.java)."""
    for c in converters:
        df = c(df)
    return df


# --------------------------------------------------------------- 1:0/1 filters


def filter_equals(column: str, value) -> Converter:
    """≈ AvroFilterConverter (gobblin-core/.../filter/AvroFilterConverter.java:42)."""
    return lambda df: df.filter(F.col(column) == F.lit(value))


def filter_regex(column: str, pattern: str) -> Converter:
    """≈ StringFilterConverter (gobblin-core/.../string/StringFilterConverter.java:40)."""
    return lambda df: df.filter(F.col(column).rlike(pattern))


# ------------------------------------------------------------- 1:1 projections


def fields_pick(*paths: str) -> Converter:
    """≈ AvroFieldsPickConverter — project a subset of (possibly nested)
    fields (gobblin-core/.../filter/AvroFieldsPickConverter.java:50)."""
    return lambda df: df.select(*paths)


def field_retriever(path: str, alias: str | None = None) -> Converter:
    """≈ AvroFieldRetrieverConverter — extract one nested field
    (gobblin-core/.../avro/AvroFieldRetrieverConverter.java:43)."""
    return lambda df: df.select(F.col(path).alias(alias or path.replace(".", "_")))


def flatten_nested(*paths: str) -> Converter:
    """≈ FlattenNestedKeyConverter — lift nested keys to top level with
    underscore names (gobblin-core/.../avro/FlattenNestedKeyConverter.java:58)."""

    def conv(df: DataFrame) -> DataFrame:
        cols = [F.col(c) for c in df.columns]
        cols += [F.col(p).alias(p.replace(".", "_")) for p in paths]
        return df.select(*cols)

    return conv


# -------------------------------------------------------- format conversions


def json_decode(column: str, schema: str, alias: str = "decoded") -> Converter:
    """≈ JsonStringToJsonIntermediateConverter / EnvelopeSchemaConverter
    payload decode (gobblin-modules/gobblin-kafka-common/.../converter/
    EnvelopeSchemaConverter.java:114-138): parse a JSON string column into a
    typed struct."""
    return lambda df: df.withColumn(alias, F.from_json(F.col(column), schema))


def csv_decode(column: str, schema: str, alias: str = "decoded", **options) -> Converter:
    """≈ CsvToJsonConverter (gobblin-core/.../csv/CsvToJsonConverter.java)."""
    return lambda df: df.withColumn(alias, F.from_csv(F.col(column), F.lit(schema), options or None))


def string_to_bytes(column: str, alias: str | None = None) -> Converter:
    """≈ StringToBytesConverter (gobblin-core/.../string/StringToBytesConverter.java)."""
    return lambda df: df.withColumn(alias or column, F.encode(F.col(column), "utf-8"))


def bytes_to_string(column: str, alias: str | None = None) -> Converter:
    """≈ TextToStringConverter / bytes decode."""
    return lambda df: df.withColumn(alias or column, F.decode(F.col(column), "utf-8"))


def object_to_string(column: str, alias: str | None = None) -> Converter:
    """≈ ObjectToStringConverter (gobblin-core/.../string/ObjectToStringConverter.java)."""
    return lambda df: df.withColumn(alias or column, F.col(column).cast("string"))


# ------------------------------------------------------------------ 1:N split


def string_split(column: str, delimiter: str, alias: str = "token") -> Converter:
    """≈ StringSplitterConverter — 1:N record fan-out
    (gobblin-core/.../string/StringSplitterConverter.java)."""
    return lambda df: df.withColumn(alias, F.explode(F.split(F.col(column), delimiter)))


# -------------------------------------------------- row-level quality checks


def row_policy(pred: Column, on_fail: str = "divert"):
    """≈ RowLevelPolicy FAIL/ERR_FILE semantics
    (gobblin-api/.../qualitychecker/row/RowLevelPolicy.java:33-68).

    Returns (pass_converter, divert_converter): apply both to the same batch;
    write the diverted side to an errors table. on_fail='abort' callers
    should assert the diverted count is zero before committing."""
    return (lambda df: df.filter(pred)), (lambda df: df.filter(~pred))


def try_cast_field(column: str, dtype: str, alias: str | None = None) -> Converter:
    """Null-on-failure cast — the DLQ-compatible form of the cast converters:
    under Spark 4's default ANSI mode a plain cast THROWS on a malformed
    value and kills the task; try_cast yields NULL so the error-routing
    chain can divert the row instead (Gobblin parity: conversion errors
    become err-file rows, not job failures)."""
    return lambda df: df.withColumn(
        alias or column, F.col(column).try_cast(dtype)
    )


def chain_with_dlq(
    df: DataFrame,
    stages: list[tuple[str, Converter, Callable[[], Column]]],
    reason: Callable[[str], Column] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Converter chain with a dead-letter queue — Gobblin's row-level
    ERR_FILE contract (RowLevelPolicy.Type.ERR_FILE,
    gobblin-api/.../qualitychecker/row/RowLevelPolicy.java:33-68;
    MultiConverter chaining): a row that fails any stage's post-condition
    is DIVERTED with provenance (which stage, why) and the job continues;
    it is never silently dropped and never aborts the batch.

    ``stages`` is ``(name, converter, error_when)`` where ``error_when``
    is a zero-arg callable producing the failure predicate over the
    converter's OUTPUT columns (lazy so it can reference columns the
    converter just created). Rows already failed skip later stages'
    verdicts (first failure wins — its stage/reason stick), but note the
    stage CONVERTERS still execute column-wise on failed rows, so chain
    stages must be non-throwing expressions (from_json/try_cast/rlike —
    the converters in this module; use ``try_cast_field`` not a raw ANSI
    cast) and must be column-ADDING (withColumn-style), never projections
    that would drop the chain's bookkeeping columns.

    Returns ``(good, dlq)``: good = the fully-converted survivors; dlq =
    ``(_err_stage, _err_reason, _payload)`` with the ORIGINAL input row
    re-serialized as JSON (error rows must round-trip for replay after a
    fix — the err-file contract). Both sides share one tagged lineage —
    there is no per-stage branching, so Catalyst sees a single linear
    plan and the split is two complementary filters at the end (the same
    two-pass cost as any side-output; persist upstream if the source scan
    dominates)."""
    src_cols = list(df.columns)
    # snapshot the original row BEFORE any stage runs: converters mutate
    # columns in place (try_cast_field's default alias overwrites), and a
    # post-mutation serialization would ship the corrupted value to the
    # DLQ, breaking the replay-after-fix contract
    tagged = (
        df.withColumn(
            "_payload", F.to_json(F.struct(*[F.col(c) for c in src_cols]))
        )
        .withColumn("_err_stage", F.lit(None).cast("string"))
        .withColumn("_err_reason", F.lit(None).cast("string"))
    )
    for name, conv, error_when in stages:
        tagged = conv(tagged)
        fails = F.col("_err_stage").isNull() & F.coalesce(error_when(), F.lit(False))
        why = reason(name) if reason is not None else F.lit(f"failed: {name}")
        tagged = tagged.withColumn(
            "_err_reason", F.when(fails, why).otherwise(F.col("_err_reason"))
        ).withColumn(
            "_err_stage", F.when(fails, F.lit(name)).otherwise(F.col("_err_stage"))
        )
    good = tagged.filter(F.col("_err_stage").isNull()).drop(
        "_err_stage", "_err_reason", "_payload"
    )
    dlq = tagged.filter(F.col("_err_stage").isNotNull()).select(
        F.col("_err_stage"), F.col("_err_reason"), F.col("_payload")
    )
    return good, dlq


# ----------------------------------------------------------- URL normalization


def canonicalize_url(col: Column | str) -> Column:
    """Canonical form of a web URL — the key-normalization step before any
    per-url dedup/merge in a web-page CDC pipeline (two crawls of
    ``HTTP://Example.COM:80/a#x`` and ``http://example.com/a`` must upsert
    the SAME row, or the table silently holds duplicates of every page).

    Deterministic, engine-portable transforms only (regexp_extract + string
    ops shared by Spark and DuckDB — no backreferences, whose syntax
    differs between engines; the contract oracle replicates this expression
    verbatim):

    - scheme and authority (host[:port]) lowercased; path/query untouched
      (paths are case-sensitive per RFC 3986);
    - fragment stripped (never sent to the server — two URLs differing only
      in fragment are the same resource);
    - default ports removed (``:80`` for http, ``:443`` for https);
    - empty path normalized to ``/``.

    Inputs not shaped like ``scheme://authority...`` pass through with only
    whitespace trimmed (garbage in the url column is a quality-gate concern,
    not a silent rewrite).
    """
    u = F.trim(F.col(col) if isinstance(col, str) else col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    auth = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^#]*)", 1)
    auth = (
        F.when(
            (scheme == "http") & auth.endswith(":80"),
            F.substring(auth, 1, F.length(auth) - 3),
        )
        .when(
            (scheme == "https") & auth.endswith(":443"),
            F.substring(auth, 1, F.length(auth) - 4),
        )
        .otherwise(auth)
    )
    path = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(scheme == "", u).otherwise(F.concat(scheme, F.lit("://"), auth, path))


def url_canonicalizer(column: str, alias: str | None = None) -> Converter:
    """Converter-chain wrapper: add/replace the canonical-url column."""
    return lambda df: df.withColumn(alias or column, canonicalize_url(column))
