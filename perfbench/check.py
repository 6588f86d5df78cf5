"""Correctness oracle: an independent DuckDB last-writer-wins over the same
changelog parquet the engine read, compared row by row with the engine's
visible table.

Per url the winner is ``arg_max`` on the version ``(warc_ts, log_offset)``
(packed into one HUGEINT, since DuckDB's ``arg_max`` takes no struct key); a
winning delete hides the row. The ``tail`` workload first folds its base
changelog this way and keeps only live rows, because ``compact()`` drops
tombstones, and then folds the streamed events over that base.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import duckdb
import pyarrow as pa

# version key: epoch micros then offset; offsets stay below 10^12
_KEY = "epoch_us(warc_ts)::HUGEINT * 1000000000000 + log_offset"
_COLS = ("url", "ts_us", "html", "lang", "content_length")
TEXT_SAMPLE = 64  # rows whose text is re-extracted and compared


def _scan(glob: str, hive: bool) -> str:
    return (
        f"SELECT url, op, epoch_us(warc_ts) AS ts_us, log_partition, log_offset, html, "
        f"lang, content_length, {_KEY} AS k "
        f"FROM read_parquet('{glob}', hive_partitioning={'true' if hive else 'false'})"
    )


def _lww(events_sql: str) -> str:
    picks = ", ".join(f"arg_max({c}, k) AS {c}" for c in ("op", "ts_us", "log_offset", "html", "lang", "content_length"))
    return f"SELECT url, {picks}, max(k) AS k FROM ({events_sql}) GROUP BY url"


def _fold(changelog_glob: str, base_glob: str | None):
    """(final visible rows, watermarks, events) of the changelog."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    events = _scan(changelog_glob, hive=base_glob is None)
    all_events = events
    if base_glob is not None:
        base_live = f"SELECT * FROM ({_lww(_scan(base_glob, hive=True))}) WHERE op <> 'D'"
        events = (
            f"SELECT url, op, ts_us, log_offset, html, lang, content_length, k FROM ({base_live}) "
            f"UNION ALL SELECT url, op, ts_us, log_offset, html, lang, content_length, k FROM ({events})"
        )
        all_events = f"{_scan(base_glob, hive=True)} UNION ALL {all_events}"
    final = con.execute(f"SELECT {', '.join(_COLS)} FROM ({_lww(events)}) WHERE op <> 'D' ORDER BY url").arrow()
    heads = con.execute(f"SELECT log_partition, max(log_offset), count(*) FROM ({all_events}) GROUP BY 1").fetchall()
    con.close()
    return final.cast(_schema()), {str(p): int(hi) for p, hi, _ in heads}, sum(int(n) for _, _, n in heads)


class Oracle:
    def __init__(self, changelog_glob: str, base_glob: str | None = None):
        """``changelog_glob``: the events the run applies. ``base_glob``: the
        hive-partitioned base changelog loaded and compacted before them.

        The fold runs in a child process (this file run as a script), so
        DuckDB's memory stays out of the benchmark's process tree once the
        oracle is built."""
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), changelog_glob, base_glob or ""],
            capture_output=True, check=True,
        ).stdout
        final = pa.ipc.open_stream(out).read_all()
        meta = final.schema.metadata
        self.watermarks = json.loads(meta[b"watermarks"])
        self.n_events = int(meta[b"n_events"])
        self.final = final.replace_schema_metadata(None)
        self.rows = {u: i for i, u in enumerate(self.final.column("url").to_pylist())}

    def check_table(self, table, seed: int) -> list[str]:
        """Problems with ``table``'s visible state, watermarks and applied
        counts; empty when it equals the oracle."""
        from pyspark.sql import functions as F

        from gobblin_spark.extract import extract_text

        got = (
            table.read()
            .select("url", F.unix_micros("warc_ts").alias("ts_us"), "html", "lang", "content_length", "text")
            .orderBy("url")
            .toArrow()
        )
        problems = []
        if not got.select(list(_COLS)).cast(_schema()).equals(self.final):
            problems.append(f"visible state differs from the oracle ({got.num_rows} vs {self.final.num_rows} rows)")
        rng = random.Random(seed)
        html, text = got.column("html").to_pylist(), got.column("text").to_pylist()
        for i in rng.sample(range(got.num_rows), min(TEXT_SAMPLE, got.num_rows)):
            if text[i] != extract_text(html[i]):
                problems.append(f"text of row {i} differs from extract_text(html)")
                break
        props = table.properties
        if props.get("watermarks") != self.watermarks:
            problems.append("committed watermarks differ from the changelog's last offsets")
        applied = sum(int(v) for v in props.get("partition_counts", {}).values())
        if applied != self.n_events:
            problems.append(f"partition_counts sum {applied} != {self.n_events} events landed")
        return problems

    def lookup_ok(self, key: str, rows: list) -> bool:
        """``rows``: (url, ts_us, html, lang, content_length) tuples returned
        by a point lookup of ``key``."""
        i = self.rows.get(key)
        if i is None:
            return not rows
        want = tuple(self.final.column(c)[i].as_py() for c in _COLS)
        return [tuple(r) for r in rows] == [want]


def _schema() -> pa.Schema:
    return pa.schema(
        [
            ("url", pa.string()),
            ("ts_us", pa.int64()),
            ("html", pa.binary()),
            ("lang", pa.string()),
            ("content_length", pa.int32()),
        ]
    )


if __name__ == "__main__":
    # the oracle's child process: fold argv[1] (over the base argv[2], if
    # given) and write the result to stdout as an Arrow IPC stream
    final, marks, n = _fold(sys.argv[1], sys.argv[2] or None)
    final = final.replace_schema_metadata({"watermarks": json.dumps(marks), "n_events": str(n)})
    with pa.ipc.new_stream(sys.stdout.buffer, final.schema) as w:
        w.write_table(final)
