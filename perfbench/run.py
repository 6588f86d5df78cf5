"""CDC ingest benchmark: three seeded workloads against the engine's public API.

    python3 perfbench/run.py --workload backfill|recrawl|tail --seed N \
        --seconds S --trace 0|1

Run from the repository root. The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is a ``detail`` object (configuration, host readings, every sample).
README.md lists the workloads and defines every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NPROC = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"
N_LOG_PARTITIONS = 32
N_BUCKETS = 32
N_HOSTS = 20  # datagen's default url host count
WARMUP_EVENTS = 2_000
LOOKUPS_HOT, LOOKUPS_COLD = 2, 2
# full scans run in the traced pass only, after one untimed scan; timings of
# sub-second reads follow the host's steal too closely to carry a bound
SCANS = 3

# events, distinct urls (None: datagen's default of events/4)
WORKLOADS = {
    "backfill": {"events": 60_000, "urls": None},
    "recrawl": {"events": 60_000, "urls": 600},
    "tail": {"base_events": 16_000, "batch_events": 4_000, "batches": 4, "urls": 8_000,
             "max_generations": 3},
}


def _table_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("lang", T.StringType()),
            T.StructField("content_length", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )


def _lookup_keys(seed: int, n_urls: int) -> list[str]:
    """Seeded picks of datagen's three hot urls (ids 0-2) and of the cold
    ones, alternating."""
    rng = random.Random(seed)
    hot = rng.sample(range(3), LOOKUPS_HOT)
    cold = rng.sample(range(3, n_urls), LOOKUPS_COLD)
    ids = [i for pair in zip(hot, cold) for i in pair]
    return [f"https://site{i % N_HOSTS}.example/p/{i}" for i in ids]


def tail_value(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at least ten
    samples beyond it, or the maximum when the run has fewer than eleven."""
    s = sorted(xs)
    if len(s) >= 11:
        return s[-11], 100.0 * (len(s) - 10) / len(s), len(s)
    return s[-1], 100.0, len(s)


# ------------------------------------------------------------------ session


def start_session(work: str, event_log: str | None = None):
    from gobblin_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        # no zstandard module on the host: the log must stay uncompressed;
        # one file, not Spark 4's default rolling directory
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{NPROC}]", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)


def stop_jvm() -> None:
    """Stop Spark and the JVM gateway process, and wait until the JVM and the
    Python workers it started have ended. Safe to call when nothing runs."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    from procfs import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    started = descendants(os.getpid())
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{pid}") for pid in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000


# ---------------------------------------------------------------- workloads


def warm_batch(spark, changelog: str, root: str) -> None:
    """One small batch of the first events of ``changelog`` into an empty
    table at ``root``, then ``compact()``: starts the Python workers and
    compiles the apply and compaction paths."""
    from gobblin_spark.engine import CdcEngine
    from gobblin_spark.lake import SnapshotTable

    table = SnapshotTable.create(spark, root, _table_schema(), key="url", n_buckets=N_BUCKETS)
    CdcEngine(spark, table, job_id="warmup", merge_mode="delta").run(
        changelog, max_events_per_batch=WARMUP_EVENTS, max_batches=1
    )
    table.compact()


class ReplayWorkload:
    """``backfill`` / ``recrawl``: ``CdcEngine.run`` in two batches into an
    empty table, then point lookups and ``compact()``."""

    def __init__(self, name: str, seed: int, work: str):
        self.cfg = WORKLOADS[name]
        self.name, self.seed, self.work = name, seed, work
        self.n_events = self.cfg["events"]
        self.n_urls = self.cfg["urls"] or self.n_events // 4
        self.changelog = os.path.join(work, "changelog")
        self.warm_changelog = self.changelog  # what a restarted session warms up on
        self.keys = _lookup_keys(seed, self.n_urls)

    def generate(self, spark) -> None:
        from gobblin_spark.datagen import synth_changelog, write_changelog
        from gobblin_spark.session import tune_input_splits

        write_changelog(
            synth_changelog(spark, self.n_events, n_urls=self.n_urls, n_partitions=N_LOG_PARTITIONS, seed=self.seed),
            self.changelog,
        )
        tune_input_splits(spark, self.changelog)

    def oracle(self):
        from check import Oracle

        return Oracle(os.path.join(self.changelog, "**", "*.parquet"))

    def warm_up(self, spark) -> None:
        """One small batch of the changelog, compacted."""
        warm_batch(spark, self.changelog, os.path.join(self.work, "warmup"))

    def prepare(self, spark, i: int, tag: str):
        from gobblin_spark.lake import SnapshotTable

        return SnapshotTable.create(
            spark, os.path.join(self.work, f"table-{tag}-{i}"), _table_schema(), key="url", n_buckets=N_BUCKETS
        )

    def apply(self, spark, table, i: int, tag: str, tracer) -> dict:
        from gobblin_spark.engine import CdcEngine

        engine = CdcEngine(spark, table, job_id=self.name, merge_mode="delta")
        commits: list[float] = []
        engine.stats.add_reporter(lambda rec: commits.append(time.perf_counter()))
        with tracer.span("phase.apply"):
            t0 = time.perf_counter()
            results = engine.run(self.changelog, max_events_per_batch=self.n_events // 2)
            wall = time.perf_counter() - t0
        stamps = [t0] + commits
        return {
            "results": results,
            "events": self.n_events,
            "events_per_s": self.n_events / wall,
            "intervals": [b - a for a, b in zip(stamps, stamps[1:])],
        }


class TailWorkload:
    """``tail``: a compacted base table, then a closed-loop streaming drain of
    pre-landed files (one micro-batch each), then point lookups and
    ``compact()``."""

    def __init__(self, name: str, seed: int, work: str):
        self.cfg = WORKLOADS[name]
        self.seed, self.work = seed, work
        self.n_urls = self.cfg["urls"]
        self.n_base = self.cfg["base_events"]
        self.n_events = self.cfg["batch_events"] * self.cfg["batches"]
        self.base = os.path.join(work, "base-changelog")
        self.warm_changelog = self.base
        self.landing = os.path.join(work, "landing")
        self.golden = os.path.join(work, "base-table")
        self.keys = _lookup_keys(seed, self.n_urls)
        self.stream_schema = None

    def generate(self, spark) -> None:
        """One changelog at the backfill's ~4 events per url, split per log
        partition at an offset: the prefix is the base, the rest is landed as one file
        per micro-batch, each holding a contiguous offset run of every
        partition. Files get increasing mtimes so the source takes them in
        order."""
        import numpy as np
        import pyarrow.parquet as pq

        from gobblin_spark.datagen import synth_changelog
        from gobblin_spark.session import tune_input_splits

        total = self.n_base + self.n_events
        # one Spark job; the split and the writes are driver-side Arrow
        log = synth_changelog(
            spark, total, n_urls=self.n_urls, n_partitions=N_LOG_PARTITIONS, seed=self.seed
        ).toArrow()
        part, off = log["log_partition"].to_numpy(), log["log_offset"].to_numpy()
        n = np.bincount(part, minlength=N_LOG_PARTITIONS)[part]
        c = n * self.n_base // total
        # the base in write_changelog's hive layout (log_partition=N/ dirs)
        pq.write_to_dataset(log.filter(off < c), self.base, partition_cols=["log_partition"])
        k = self.cfg["batches"]
        file_of = np.where(off < c, -1, (off - c) * k // np.maximum(n - c, 1))
        os.makedirs(self.landing)
        mtime = int(time.time()) - 10 * k
        for f in range(k):
            path = os.path.join(self.landing, f"part-{f:04d}.parquet")
            pq.write_table(log.filter(file_of == f), path)
            os.utime(path, (mtime + f, mtime + f))
        self.stream_schema = spark.read.parquet(self.landing).schema
        tune_input_splits(spark, self.base)

    def oracle(self):
        from check import Oracle

        return Oracle(
            os.path.join(self.landing, "*.parquet"), base_glob=os.path.join(self.base, "**", "*.parquet")
        )

    def warm_up(self, spark) -> None:
        """The base load: ``CdcEngine.run`` of the base changelog into an empty
        table, then ``compact()``. Every iteration starts from a copy of that
        table."""
        from gobblin_spark.engine import CdcEngine
        from gobblin_spark.lake import SnapshotTable

        table = SnapshotTable.create(
            spark, self.golden, _table_schema(), key="url", n_buckets=N_BUCKETS,
            max_generations=self.cfg["max_generations"],
        )
        CdcEngine(spark, table, job_id="base", merge_mode="delta").run(self.base)
        table.compact()

    def prepare(self, spark, i: int, tag: str):
        from gobblin_spark.lake import SnapshotTable

        root = os.path.join(self.work, f"table-{tag}-{i}")
        shutil.copytree(self.golden, root)
        return SnapshotTable(spark, root)

    def apply(self, spark, table, i: int, tag: str, tracer) -> dict:
        from gobblin_spark.engine import CdcEngine
        from gobblin_spark.state import StateStore
        from gobblin_spark.streaming import tail_changelog

        engine = CdcEngine(
            spark, table, state_store=StateStore(os.path.join(self.work, f"state-{tag}-{i}")),
            job_id="tail", merge_mode="delta",
        )
        results: list[dict] = []
        commits: list[float] = []

        def on_batch(rec: dict) -> None:
            results.append(rec)
            commits.append(time.perf_counter())

        with tracer.span("phase.apply"):
            q = tail_changelog(
                engine, self.landing, os.path.join(self.work, f"ckpt-{tag}-{i}"), schema=self.stream_schema,
                available_now=True, max_files_per_trigger=1, on_batch=on_batch,
            )
            q.awaitTermination()
        # timed from the first foreachBatch return to the last, so the
        # query's start-up and its first, cold, micro-batch are in no figure,
        # and the stream's offset-log and commit-log work between batches is
        applied = [r.get("offsets_applied", 0) for r in results]
        return {
            "results": results,
            "events": sum(applied),
            "events_per_s": sum(applied[1:]) / (commits[-1] - commits[0]),
            "intervals": [b - a for a, b in zip(commits, commits[1:])],
        }


# -------------------------------------------------------------- iterations


def _referenced_bytes(table) -> int:
    """Bytes of every data file the current manifest references."""
    total = 0
    for b, entry in table.manifest()["buckets"].items():
        for ent in entry if isinstance(entry, list) else [entry]:
            d = os.path.join(table.root, ent["data"], f"_bucket={b}")
            total += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d) if f.endswith(".parquet"))
    return total


def iteration(wl, spark, oracle, i: int, tag: str, tracer, scans: int) -> dict:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    table = wl.prepare(spark, i, tag)
    prep_s = time.perf_counter() - t0

    rec = wl.apply(spark, table, i, tag, tracer)
    results = rec.pop("results")
    failed = sum(1 for r in results if r.get("failed"))
    folds = sum(1 for r in results if r.get("folded_buckets"))

    # collect the apply's garbage first, so no read pays for it
    spark.sparkContext._jvm.System.gc()
    if scans:
        with tracer.span("phase.warm_scan"):
            table.read().write.format("noop").mode("overwrite").save()
    for _ in range(scans):
        with tracer.span("phase.scan"):
            table.read().write.format("noop").mode("overwrite").save()

    lookups_failed = 0
    for key in wl.keys:
        with tracer.span("phase.lookup"):
            rows = (
                table.read(key_equals=key)
                .select("url", F.unix_micros("warc_ts"), "html", "lang", "content_length")
                .collect()
            )
        lookups_failed += not oracle.lookup_ok(key, rows)

    buckets = table.manifest()["buckets"]
    generations_max = max(len(e) if isinstance(e, list) else 1 for e in buckets.values())
    before = _referenced_bytes(table)
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    table.compact()
    compact_s = time.perf_counter() - t0

    problems = oracle.check_table(table, seed=wl.seed + i)
    return {
        **rec,
        "prep_s": prep_s,
        "batches": len(results),
        "folds": folds,
        "compact_s": compact_s,
        "generations_max": generations_max,
        "space_amp": before / max(1, _referenced_bytes(table)),
        "attempted": len(results) + len(wl.keys) + 2,  # + the compaction and the final check
        "failed": failed + lookups_failed,
        "problems": problems,
    }


def measure(wl, spark, oracle, seconds: float, tag: str, tracer, scans: int = 0) -> list[dict]:
    """Whole iterations until ``seconds`` have passed; at least one. Each
    runs ``scans`` full scans after an untimed one (none when 0)."""
    iters: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not iters or time.perf_counter() < t_end:
        iters.append(iteration(wl, spark, oracle, len(iters), tag, tracer, scans))
    return iters


def end_to_end(iters: list[dict], setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    intervals = [x for it in iters for x in it["intervals"]]
    tail, pct, n = tail_value(intervals)
    values = {
        "events_per_s": sum(it["events_per_s"] for it in iters) / len(iters),
        "batch_p50_s": statistics.median(intervals),
        "batch_tail_s": tail,
        "peak_rss_mb": peak_rss_mb,
        "setup_s": setup_s,
    }
    return values, {"batch_tail_percentile": pct, "batch_samples": n}


def declared(kind: str, values: dict) -> dict:
    """``values`` as the result's metrics, with the names and units that
    BENCHMARK.json declares for ``kind``; every declared metric must be there."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def _verdict(iters: list[dict]) -> tuple[int, int]:
    attempted = sum(it["attempted"] for it in iters)
    failed = sum(it["failed"] for it in iters)
    if any(it["problems"] for it in iters):
        failed = attempted  # a failed final-state check fails the whole run
    return attempted, failed


def _iteration_detail(iters: list[dict]) -> dict:
    return {
        "iterations": [{k: v for k, v in it.items() if k != "problems"} for it in iters],
        "problems": [p for it in iters for p in it["problems"]],
    }


def _host() -> dict:
    from procfs import _cpu_jiffies, load_average

    return {"jiffies": _cpu_jiffies(), "loadavg": load_average(), "time": time.time()}


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},  # no repo above the checkout
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def run(args, work: str) -> tuple[dict, dict]:
    import pyarrow as pa

    from procfs import PeakRss, steal_fraction
    from spans import Tracer

    wl_cls = TailWorkload if args.workload == "tail" else ReplayWorkload
    wl = wl_cls(args.workload, args.seed, work)
    host0 = _host()

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.generate(spark)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    oracle = wl.oracle()
    oracle_s = time.perf_counter() - t0
    # peak RSS covers the engine from here on: the input generation's Arrow
    # buffers and JVM heap are given back first, and the oracle was built in
    # a child process that has ended
    pa.default_memory_pool().release_unused()
    spark.sparkContext._jvm.System.gc()
    rss = PeakRss().start()
    t0 = time.perf_counter()
    wl.warm_up(spark)
    warm_s = time.perf_counter() - t0

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "config": {
            "master": f"local[{NPROC}]", "nproc": NPROC, "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_mem": DRIVER_MEM, "log_partitions": N_LOG_PARTITIONS, "buckets": N_BUCKETS,
            "merge_mode": "delta", "workload": WORKLOADS[args.workload],
        },
        "git_sha": _git_sha(),
        "setup": {"session_s": session_s, "generate_s": gen_s, "warm_up_s": warm_s},
        "oracle_s": oracle_s,
    }
    if args.trace:
        layer, detail["trace"], attempted, failed = traced_phase(wl, oracle, args.seconds, work)
        metrics = declared("per_layer", layer)
    else:
        # tracing off: spans are kept but no job is tagged and no event log written
        iters = measure(wl, spark, oracle, args.seconds, "plain", Tracer())
        setup_s = session_s + gen_s + warm_s + statistics.median(it["prep_s"] for it in iters)
        e2e, e2e_notes = end_to_end(iters, setup_s, rss.peak_mb)
        attempted, failed = _verdict(iters)
        detail.update({"end_to_end": e2e, **e2e_notes, **_iteration_detail(iters)})
        detail["setup"]["prepare_s"] = [it["prep_s"] for it in iters]
        metrics = declared("end_to_end", e2e)
    t0 = time.perf_counter()
    stop_jvm()
    detail["teardown_s"] = time.perf_counter() - t0

    detail["peak_rss_mb"] = rss.stop()
    host1 = _host()
    detail["host"] = {
        "before": host0, "after": host1, "steal_frac": steal_fraction(host0["jiffies"], host1["jiffies"]),
    }
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}, detail


def restart(changelog: str, work: str, tag: str, event_log: str | None = None):
    """Stop the Spark session and start a new one in the same JVM, warmed up
    by one small batch of ``changelog``."""
    from pyspark import SparkContext

    SparkContext._active_spark_context.stop()
    spark = start_session(work, event_log=event_log)
    warm_batch(spark, changelog, os.path.join(work, f"warmup-{tag}"))
    return spark


def traced_phase(wl, oracle, seconds: float, work: str):
    """Restart Spark twice, each time warmed up the same way: first without
    tracing, for the untraced ``events_per_s`` of one apply, then with the
    event log on and the layer boundaries wrapped, for the traced iterations
    the per-layer metrics come from. Neither pass meets a cold JVM."""
    import eventlog
    from layers import per_layer
    from spans import Tracer

    spark = restart(wl.warm_changelog, work, "reference")
    untraced_eps = wl.apply(spark, wl.prepare(spark, 0, "reference"), 0, "reference", Tracer())["events_per_s"]
    log_dir = os.path.join(work, "eventlog")
    spark = restart(wl.warm_changelog, work, "traced", event_log=log_dir)
    tracer = Tracer(spark.sparkContext)
    tracer.install()
    try:
        gc0, w0 = gc_seconds(spark), time.time()
        iters = measure(wl, spark, oracle, seconds, "traced", tracer, scans=SCANS)
        w1, gc1 = time.time(), gc_seconds(spark)
    finally:
        tracer.uninstall()
        spark.stop()  # flushes the event log
    (app_log,) = os.listdir(log_dir)
    log = eventlog.parse(os.path.join(log_dir, app_log))
    layer = per_layer(log, tracer.spans, iters, (w0, w1), gc1 - gc0, NPROC)
    traced_eps = sum(it["events_per_s"] for it in iters) / len(iters)
    layer["trace.untraced_events_per_s"] = untraced_eps
    layer["trace.traced_events_per_s"] = traced_eps
    layer["trace.overhead_frac"] = 1 - traced_eps / untraced_eps
    attempted, failed = _verdict(iters)
    detail = {"spans": len(tracer.spans), "jobs": len(log.jobs), "tasks": len(log.tasks), "per_layer": layer,
              **_iteration_detail(iters)}
    return layer, detail, attempted, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything Spark, its JVM and its Python workers write stays in the
    # checkout; workers import gobblin_spark from it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    # session.py reads the driver heap at import; its 48g default does not fit
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(1, ROOT)
    try:
        # outside the handler below: without the engine there is no result
        import check  # noqa: F401
        import procfs  # noqa: F401

        try:
            result, detail = run(args, work)
        except Exception:  # noqa: BLE001 — report the failed run
            detail = {"error": traceback.format_exc()}
            result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps(result))
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    return 0


if __name__ == "__main__":
    sys.exit(main())
