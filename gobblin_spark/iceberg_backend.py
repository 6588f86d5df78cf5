"""Iceberg-catalog backend for the engine's exactly-once sink.

``IcebergTable`` implements the same surface as ``lake.SnapshotTable``
(create / read / merge / compact / delete_where / expire_snapshots /
properties), but against a REAL Apache Iceberg catalog through Spark SQL —
this is what turns the sandbox stand-in into a deployable claim. The
reference's sink is exactly this protocol
(gobblin-iceberg/.../writer/IcebergMetadataWriter.java:384-434 offset-range
props, :872-897 commitTransaction).

Requirements (absent in this sandbox — tests skip, the engine keeps running
on ``SnapshotTable``): the ``iceberg-spark-runtime`` jar on the session
classpath and a configured catalog, e.g.::

    spark.sql.catalog.local                 org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.local.type            hadoop
    spark.sql.catalog.local.warehouse       /path/to/warehouse

Mapping of the stand-in's mechanics onto Iceberg:

- **atomic commit** — Iceberg's own snapshot commit (optimistic metadata
  swap) replaces the ``meta/_current`` rename; nothing to re-implement.
- **fencing properties** — per-partition applied-offset watermarks go to
  table properties via ``ALTER TABLE ... SET TBLPROPERTIES``. Iceberg
  commits properties in a separate metadata transaction from the MERGE, so
  a crash between the two leaves data committed with the watermark behind —
  exactly the replay-safe direction: the engine replays the batch and the
  LWW MERGE is idempotent (same reasoning as the reference, which tolerates
  GMCE-lag for the same crash window). Engines needing single-transaction
  props can attach snapshot-summary properties via the DataFrame writer
  option ``snapshot-property.<k>`` instead.
- **bucket layout** — ``PARTITIONED BY (bucket(N, key))``. Iceberg's bucket
  transform is murmur3-based (not Spark's xxhash64), so this backend has
  TWO bucket expressions with distinct jobs: ``storage_bucket_expr`` (the
  catalog's ``system.bucket`` function — matches the file layout, used by
  ``read(buckets=)`` so pruning is real) and ``bucket_expr`` (engine-side
  xxhash64 — salting/stats parity only, never a pruning predicate here).
  MERGE INTO does its own file-level pruning on the join key. Round-3
  audit: filtering on xxhash64 against a murmur3 layout pruned nothing.

One-command conformance run outside this sandbox (no network here, so the
jar cannot be vendored; pick the runtime matching your Spark/Scala)::

    GS_ICEBERG=1 python -m pytest tests/test_iceberg_backend.py -q \\
      --deselect-none  # with e.g.:
    # export PYSPARK_SUBMIT_ARGS="--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<version> \\
    #   --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \\
    #   --conf spark.sql.catalog.local.type=hadoop \\
    #   --conf spark.sql.catalog.local.warehouse=/tmp/gs-warehouse pyspark-shell"
- **mode="rewrite"** — SQL ``MERGE INTO`` with the LWW version guard
  (``struct(u.ts, u.off) > struct(t.ts, t.off)``); copy-on-write.
- **mode="delta"** — O(batch) append (no target read), identical to the
  stand-in's generation commits; ``read()`` LWW-collapses only while the
  ``gs.delta.dirty`` property says uncompacted appends exist, and
  ``compact()`` folds them back with an overwrite + ``rewrite_data_files``.
  (Alternative: set ``write.merge.mode=merge-on-read`` and keep SQL MERGE;
  the append path is chosen because it matches the stand-in's cost model —
  no join at commit time at all.)

Deletes are LWW tombstones (``_deleted=true`` rows with version columns),
NOT Iceberg row-level deletes: a tombstone must fence later replays of
older versions, which a physical delete cannot.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import lww_latest
from .lake import HIDDEN, SnapshotTable, _with_hidden
from .schema import conform, merge_schemas

_DIRTY_PROP = "gs.delta.dirty"
_ENGINE_PREFIX = "gs."


def _prop_str(v) -> str:
    """A property value as Iceberg stores it: strings as they are, anything
    else (the engine's dicts, lists and counters) as JSON."""
    return v if isinstance(v, str) else json.dumps(v)


def iceberg_available(spark: SparkSession) -> bool:
    """True when the iceberg-spark-runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class IcebergTable:
    """``SnapshotTable``-compatible sink over an Iceberg catalog table."""

    def __init__(self, spark: SparkSession, ident: str, ref: str = "main"):
        self.spark = spark
        self.ident = ident  # catalog.namespace.table
        # named history line (Iceberg SnapshotRef); non-main handles read and
        # write through the `<table>.branch_<name>` identifier
        self.ref = ref

    def _sql_ident(self) -> str:
        return self.ident if self.ref == "main" else f"{self.ident}.branch_{self.ref}"

    # ---------------------------------------------------------------- meta
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        ident: str,
        schema: T.StructType,
        key: str = "url",
        n_buckets: int = 16,
        properties: dict | None = None,
    ) -> "IcebergTable":
        t = cls(spark, ident)
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in _with_hidden(schema).fields
        )
        props = {
            "gs.key": key,
            "gs.n_buckets": str(n_buckets),
            _DIRTY_PROP: "false",
            # format v2 is required for MERGE INTO copy-on-write semantics
            "format-version": "2",
            **{k: _prop_str(v) for k, v in (properties or {}).items()},
        }
        props_sql = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
        spark.sql(
            f"CREATE TABLE {ident} ({cols}) USING iceberg "
            f"PARTITIONED BY (bucket({n_buckets}, `{key}`)) "
            f"TBLPROPERTIES ({props_sql})"
        )
        return t

    @classmethod
    def exists(cls, spark: SparkSession, ident: str) -> bool:
        return spark.catalog.tableExists(ident)

    @property
    def properties(self) -> dict:
        """Table properties; a JSON object or array value (the engine's
        watermarks, counts and lineage) reads back as the dict or list it was
        written from, as ``SnapshotTable.properties`` returns it."""
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.ident}").collect()
        return {
            r["key"]: json.loads(r["value"]) if r["value"][:1] in ("{", "[") else r["value"]
            for r in rows
        }

    def update_properties(self, delta: dict) -> None:
        if not delta:
            return
        kv = ", ".join(f"'{k}'='{_prop_str(v)}'" for k, v in delta.items())
        self.spark.sql(f"ALTER TABLE {self.ident} SET TBLPROPERTIES ({kv})")

    @property
    def version(self) -> int:
        """Current snapshot id (Iceberg's analog of the manifest version),
        from this handle's branch ref — NOT max(committed_at), which ties for
        same-millisecond commits. Falls back to the history table (ordered
        by made_current_at then snapshot_id) for catalogs without refs."""
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self.ident}.refs WHERE name = '{self.ref}'"
        ).collect()
        if row:
            return int(row[0][0])
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {self.ident}.history "
            "ORDER BY made_current_at DESC, snapshot_id DESC LIMIT 1"
        ).collect()
        return int(row[0][0]) if row else 0

    @property
    def key(self) -> str:
        return self.properties["gs.key"]

    @property
    def n_buckets(self) -> int:
        return int(self.properties["gs.n_buckets"])

    def schema(self) -> T.StructType:
        full = self.spark.table(self.ident).schema
        return T.StructType([f for f in full.fields if f.name not in HIDDEN])

    # width of the engine's _bucket exchange (the LWW); MERGE INTO plans
    # its own exchanges
    exchange_width = SnapshotTable.exchange_width

    def bucket_expr(self, col: str | None = None):
        # engine-side salting/stats parity only; NEVER a pruning predicate on
        # this backend — Iceberg lays files out with its own murmur3 bucket
        # transform, so use storage_bucket_expr for anything that should prune
        return F.pmod(F.xxhash64(F.col(col or self.key)), F.lit(self.n_buckets)).cast("int")

    def storage_bucket_expr(self, col: str | None = None):
        """Iceberg's OWN bucket transform (murmur3), via the catalog's
        ``system.bucket`` function — the bucket id that matches the physical
        file layout, so a filter on it actually prunes files. This is the
        round-3 audit fix: filtering on the engine's xxhash64 expression
        prunes nothing against a table partitioned by ``bucket(N, key)``."""
        catalog = self.ident.split(".", 1)[0]
        return F.expr(
            f"{catalog}.system.bucket({self.n_buckets}, `{col or self.key}`)"
        )

    # ---------------------------------------------------------------- read
    def read(self, buckets: list[int] | None = None, include_hidden: bool = False) -> DataFrame:
        """Table scan; while uncompacted delta appends exist (``gs.delta.dirty``)
        rows are LWW-collapsed per key, mirroring the stand-in's
        multi-generation read. ``buckets`` are STORAGE bucket ids
        (Iceberg's murmur3 ``bucket(N, key)`` transform): the filter uses
        ``storage_bucket_expr``, which matches the partition layout and
        therefore prunes data files — correctness and pruning agree."""
        out = self.spark.table(self._sql_ident())
        if buckets is not None:
            out = out.filter(
                self.storage_bucket_expr().isin([int(b) for b in buckets])
            )
        if self.properties.get(_DIRTY_PROP) == "true":
            out = lww_latest(out, [self.key], ["_version_ts", "_version_off"])
        if not include_hidden:
            out = out.filter(~F.col("_deleted")).drop(*HIDDEN)
        return out

    def read_visible(self) -> DataFrame:
        return self.read()

    # --------------------------------------------------------------- merge
    def merge(
        self,
        updates: DataFrame,
        properties: dict | None = None,
        affected: list[int] | None = None,
        mode: str = "rewrite",
    ) -> dict:
        """LWW MERGE with the same preconditions as ``SnapshotTable.merge``
        (≤1 row per key, hidden version columns present, deletes as
        tombstone rows)."""
        if mode not in ("rewrite", "delta"):
            raise ValueError(f"unknown merge mode: {mode}")
        full = _with_hidden(merge_schemas(self.schema(), T.StructType(
            [f for f in updates.schema.fields if f.name not in HIDDEN and f.name != "_bucket"]
        )))
        schema_changed = set(full.fieldNames()) != set(
            _with_hidden(self.schema()).fieldNames()
        )
        if schema_changed:
            # Iceberg ALTER TABLE ADD COLUMNS — additive widening only,
            # same policy the stand-in's merge_schemas enforces
            current = set(_with_hidden(self.schema()).fieldNames())
            new_cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}"
                for f in full.fields
                if f.name not in current
            )
            self.spark.sql(f"ALTER TABLE {self.ident} ADD COLUMNS ({new_cols})")
        u = conform(updates.drop("_bucket"), full)

        before = self.version
        if mode == "delta":
            u.writeTo(self._sql_ident()).append()
            written = self._written(before)
            self.update_properties({_DIRTY_PROP: "true", **(properties or {})})
            return {"mode": "delta", "schema_changed": schema_changed, **written}

        key = self.key
        view = f"_gs_updates_{abs(hash(self.ident)) % 10**8}"
        u.createOrReplaceTempView(view)
        try:
            self.spark.sql(
                f"""
                MERGE INTO {self._sql_ident()} t USING {view} u
                ON t.`{key}` = u.`{key}`
                WHEN MATCHED AND struct(u._version_ts, u._version_off)
                               > struct(t._version_ts, t._version_off)
                    THEN UPDATE SET *
                WHEN NOT MATCHED THEN INSERT *
                """
            )
        finally:
            self.spark.catalog.dropTempView(view)
        written = self._written(before)
        if properties:
            self.update_properties(properties)
        return {"mode": "rewrite", "schema_changed": schema_changed, **written}

    def _written(self, before: int) -> dict[str, int]:
        """``version`` and the counters ``SnapshotTable.merge`` reports, from
        the summary of the snapshot the write just committed:
        ``added-data-files``, ``added-files-size`` and ``added-records``. All
        0 when the write committed no snapshot (the ref still at ``before``).
        A property update commits no snapshot, so ``version`` stays valid
        after the watermarks are set."""
        after = self.version
        summary = {}
        if after != before:
            [row] = self.spark.sql(
                f"SELECT summary FROM {self.ident}.snapshots WHERE snapshot_id = {after}"
            ).collect()
            summary = row["summary"] or {}
        added = {"files": "data-files", "bytes": "files-size", "rows": "records"}
        return {
            "version": after,
            **{f"{k}_written": int(summary.get(f"added-{v}", 0)) for k, v in added.items()},
        }

    # --------------------------------------------------------- maintenance
    def compact(self, drop_tombstones: bool = True, properties: dict | None = None) -> dict:
        """Fold delta appends (LWW collapse → overwrite) and bin-pack files
        (``rewrite_data_files``)."""
        df = self.read(include_hidden=True)
        if drop_tombstones:
            df = df.filter(~F.col("_deleted"))
        # full-table replace in one snapshot (dynamic partition overwrite
        # would keep files in partitions the fold emptied out)
        df.writeTo(self._sql_ident()).overwrite(F.lit(True))
        catalog = self.ident.split(".", 1)[0]
        self.spark.sql(
            f"CALL {catalog}.system.rewrite_data_files(table => '{self.ident}')"
        )
        self.update_properties({_DIRTY_PROP: "false", **(properties or {})})
        return {"version": self.version}

    def delete_where(self, condition, properties: dict | None = None) -> dict:
        """Compliance purge of matching live rows; tombstones preserved
        (their versions still fence replays). NULL-safe like the stand-in:
        rows where the predicate is NULL are KEPT."""
        df = self.read(include_hidden=True)
        kept = df.filter(F.col("_deleted") | ~F.coalesce(condition, F.lit(False)))
        kept.writeTo(self._sql_ident()).overwrite(F.lit(True))
        if properties:
            self.update_properties(properties)
        return {"version": self.version}

    def expire_snapshots(self, keep_last: int = 2) -> list[int]:
        catalog = self.ident.split(".", 1)[0]
        rows = self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots(table => '{self.ident}', "
            f"retain_last => {int(keep_last)})"
        ).collect()
        return [int(r[0]) for r in rows]

    def remove_orphans(self, grace_s: float = 86400.0, now: float | None = None) -> dict:
        """Iceberg's own ``remove_orphan_files`` procedure — same contract as
        ``retention.remove_orphans`` on the engine table (unreferenced AND
        quiescent past the grace window; Iceberg defaults the window to
        3 days for the identical in-flight-commit race)."""
        import datetime as _dt
        import time as _time

        cutoff = (_time.time() if now is None else now) - grace_s
        older_than = _dt.datetime.fromtimestamp(cutoff, _dt.timezone.utc).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        catalog = self.ident.split(".", 1)[0]
        rows = self.spark.sql(
            f"CALL {catalog}.system.remove_orphan_files(table => '{self.ident}', "
            f"older_than => TIMESTAMP '{older_than}')"
        ).collect()
        return {
            "removed_dirs": [],
            "removed_files": [r[0] for r in rows],
            "kept_recent": [],
        }

    # ----------------------------------------------------- named refs (WAP)
    # Iceberg's native SnapshotRef surface, same contract as
    # SnapshotTable.create_branch/branch/fast_forward: branch handles route
    # reads and writes through the `<table>.branch_<name>` identifier
    # (_sql_ident), so the engine can stage micro-batches on an audit branch
    # and publish with the catalog's fast_forward procedure.
    def refs(self) -> dict[str, dict]:
        rows = self.spark.sql(
            f"SELECT name, type, snapshot_id FROM {self.ident}.refs"
        ).collect()
        return {
            r["name"]: {"type": r["type"].lower(), "version": int(r["snapshot_id"])}
            for r in rows
        }

    def create_branch(self, name: str, at_version: int | None = None) -> "IcebergTable":
        at = f" AS OF VERSION {int(at_version)}" if at_version is not None else ""
        self.spark.sql(f"ALTER TABLE {self.ident} CREATE BRANCH `{name}`{at}")
        return IcebergTable(self.spark, self.ident, ref=name)

    def create_tag(self, name: str, at_version: int | None = None) -> None:
        at = f" AS OF VERSION {int(at_version)}" if at_version is not None else ""
        self.spark.sql(f"ALTER TABLE {self.ident} CREATE TAG `{name}`{at}")

    def branch(self, name: str) -> "IcebergTable":
        if name not in self.refs():
            raise KeyError(f"no such ref: {name!r}")
        return IcebergTable(self.spark, self.ident, ref=name)

    def drop_ref(self, name: str) -> None:
        kind = self.refs().get(name, {}).get("type")
        if kind is None:
            raise KeyError(f"no such ref: {name!r}")
        stmt = "DROP TAG" if kind == "tag" else "DROP BRANCH"
        self.spark.sql(f"ALTER TABLE {self.ident} {stmt} `{name}`")

    def fast_forward(self, from_ref: str) -> int:
        """Publish: move THIS handle's branch to ``from_ref``'s head via the
        catalog's fast_forward procedure (ancestry-checked by Iceberg itself
        — diverged lines are refused, same as the stand-in)."""
        catalog = self.ident.split(".", 1)[0]
        self.spark.sql(
            f"CALL {catalog}.system.fast_forward(table => '{self.ident}', "
            f"branch => '{self.ref}', to => '{from_ref}')"
        )
        return self.version
