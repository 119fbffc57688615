"""Sink table lifecycle: create-if-absent, dynamic partition overwrite,
schema auto-expand, archive-on-semantic-change.

Port of the reference's table management (spark/src/main/scala/ai/chronon/
spark/catalog/TableUtils.scala):

- ``insertPartitions`` (:259-358): create the table from the first write's
  schema, then per-write overwrite ONLY the partitions present in the
  incoming DataFrame (dynamic partition overwrite);
- ``expandTable`` (:620-660): with ``auto_expand`` new columns are appended
  to the table schema (old partitions read as NULL), deprecated columns are
  written as NULL, and a TYPE change is an error listing every inconsistent
  field;
- ``archiveTableIfExists`` (:543-552) + semantic-hash recompute detection
  (JoinUtils.tablesToRecompute:293-305): when the spec's semantic hash
  changes, the existing table is renamed aside with a timestamp suffix and a
  fresh one is created — old outputs stay auditable, nothing is silently
  mixed.

Two backends share the lifecycle API (pick via :func:`managed_table`):

- :class:`ManagedTable` — a bare-path sink: partitioned parquet directory +
  ``_table_meta.json`` (authoritative schema, semantic hash, properties),
  plus a JSON snapshot log giving time travel / compaction / expiry without
  any table format on the classpath.
- :class:`CatalogTable` — a catalog table driven through
  ``spark.read.table`` / ``ALTER TABLE`` DDL / dynamic partition overwrite;
  with an Iceberg provider configured it uses
  ``df.writeTo(t).overwritePartitions()`` and Iceberg-native maintenance.

Snapshot versioning / time travel (Iceberg's snapshot log, re-expressed):
every ``insert_partitions`` is a commit appended to ``_snapshots.json``
recording the per-partition commit mapping + the schema AT that commit.
The live layout stays plain ``ds=p/*.parquet`` (so every existing reader,
glob, and duckdb spot-check keeps working); files superseded by a
partition overwrite move into hidden ``._history/ds=p/commit_{n}/`` dirs
that Hadoop's listing filter hides from normal scans. ``read(version=n)``
reconstructs any snapshot; ``expire_snapshots(keep_last)`` is the GC
(Iceberg ``expireSnapshots``) that bounds storage at scale. Snapshot cost
per commit is one directory rename per overwritten partition + one JSON
append — O(partitions touched), never O(data).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

META_FILE = "_table_meta.json"
SNAPSHOTS_FILE = "_snapshots.json"


def rebalanced(df: DataFrame, partition_col: str) -> DataFrame:
    """``df`` shuffled so each partition value lands in one write task
    (reference TableUtils.scala:373-400 repartitions before it writes). A
    partitioned write straight out of an N-task stage opens N files per
    value; with the hint AQE writes one file per value and splits a value
    larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` across
    tasks, so an oversize partition is never funnelled into one file."""
    return df.hint("rebalance", partition_col)


class SchemaEvolutionError(ValueError):
    """Incompatible type change between the table and an incoming write."""


class ManagedTable:
    def __init__(self, spark: SparkSession, path: str, partition_col: str = "ds"):
        self.spark = spark
        self.path = path
        self.partition_col = partition_col

    # ---------------------------------------------------------------- meta

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, META_FILE)

    def exists(self) -> bool:
        return os.path.exists(self._meta_path)

    def _read_meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _write_meta(self, meta: dict) -> None:
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path)

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self._read_meta()["schema"])

    def semantic_hash(self) -> str | None:
        return self._read_meta().get("semantic_hash")

    # ----------------------------------------------------------- snapshots

    @property
    def _snapshots_path(self) -> str:
        return os.path.join(self.path, SNAPSHOTS_FILE)

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first (Iceberg snapshot log analogue)."""
        if not os.path.exists(self._snapshots_path):
            return []
        with open(self._snapshots_path) as f:
            return json.load(f)

    def _write_snapshots(self, snaps: list[dict]) -> None:
        tmp = self._snapshots_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(snaps, f, indent=1)
        os.replace(tmp, self._snapshots_path)

    def current_version(self) -> int:
        snaps = self.snapshots()
        return snaps[-1]["version"] if snaps else 0

    def _live_commit_map(self) -> dict[str, int]:
        snaps = self.snapshots()
        return dict(snaps[-1]["partitions"]) if snaps else {}

    def _commit_dir(self, partition: str, commit: int) -> str:
        """Where a superseded commit's files live: under the table-root
        hidden ``._history`` dir (dot prefix => invisible to Hadoop listing
        and to the ``ds=*`` glob; OUTSIDE the partition dir because Spark's
        overwrite mode truncates the whole write target)."""
        return os.path.join(
            self.path, "._history", f"{self.partition_col}={partition}", f"commit_{commit}"
        )

    def _retire_live_files(self, partition: str, commit: int) -> None:
        """Move a partition's live data files into their hidden history dir,
        so normal scans and globs never see superseded data but time-travel
        reads still can."""
        part_dir = os.path.join(self.path, f"{self.partition_col}={partition}")
        if not os.path.isdir(part_dir):
            return
        files = [f for f in os.listdir(part_dir) if not f.startswith((".", "_"))]
        if not files:
            return
        dst = self._commit_dir(partition, commit)
        os.makedirs(dst, exist_ok=True)
        for f in files:
            os.replace(os.path.join(part_dir, f), os.path.join(dst, f))

    # ---------------------------------------------------------------- ops

    def insert_partitions(
        self,
        df: DataFrame,
        auto_expand: bool = False,
        semantic_hash: str | None = None,
        properties: dict | None = None,
    ) -> dict:
        """Write df's partitions into the table (overwriting only those
        partitions), applying the full lifecycle. Returns a small report."""
        if self.partition_col not in df.columns:
            raise ValueError(f"insert_partitions: df lacks partition column {self.partition_col!r}")
        report: dict = {"created": False, "archived": None, "added_columns": []}

        if self.exists() and semantic_hash is not None:
            stored = self.semantic_hash()
            if stored is not None and stored != semantic_hash:
                # spec changed: archive the old outputs, start fresh
                report["archived"] = self.archive()

        if not self.exists():
            os.makedirs(self.path, exist_ok=True)
            self._write_meta(
                {
                    "schema": df.schema.jsonValue(),
                    "partition_col": self.partition_col,
                    "semantic_hash": semantic_hash,
                    "properties": properties or {},
                    "created_at_unix": int(time.time()),
                }
            )
            report["created"] = True
        else:
            meta = self._read_meta()
            table_schema = T.StructType.fromJson(meta["schema"])
            table_fields = {f.name: f.dataType for f in table_schema.fields}
            incoming = {f.name: f.dataType for f in df.schema.fields}
            bad = [
                (n, table_fields[n].simpleString(), incoming[n].simpleString())
                for n in incoming
                if n in table_fields and table_fields[n].simpleString() != incoming[n].simpleString()
            ]
            if bad:
                raise SchemaEvolutionError(
                    "incompatible type changes (reference expandTable refuses these): "
                    + ", ".join(f"{n}: {a} --> {b}" for n, a, b in bad)
                )
            new_cols = [f for f in df.schema.fields if f.name not in table_fields]
            missing = [n for n in table_fields if n not in incoming]
            if not auto_expand and (new_cols or missing):
                raise SchemaEvolutionError(
                    f"column set changed (new={[f.name for f in new_cols]}, missing={missing}) "
                    "and auto_expand is off"
                )
            if new_cols:
                # partition column stays last (reference colOrder:
                # cols.diff(partitionColumns) ++ partitionColumns)
                non_part = [f for f in table_schema.fields if f.name != self.partition_col]
                part = [f for f in table_schema.fields if f.name == self.partition_col]
                meta["schema"] = T.StructType(non_part + new_cols + part).jsonValue()
                self._write_meta(meta)
                report["added_columns"] = [f.name for f in new_cols]
            if properties:
                meta["properties"] = {**meta.get("properties", {}), **properties}
                self._write_meta(meta)

        # finalize to the (possibly expanded) table schema: deprecated
        # columns write as NULL, order matches the table
        final_schema = self.schema()
        out = df.select(
            *[
                F.col(f.name) if f.name in df.columns else F.lit(None).cast(f.dataType).alias(f.name)
                for f in final_schema.fields
            ]
        )
        # stage-then-commit dynamic partition overwrite: ONE Spark job writes
        # every incoming partition into a hidden staging dir (a per-partition
        # write loop would be P driver-sequenced jobs — at production
        # partition counts that serializes the sink on the driver); only
        # AFTER the job succeeds do superseded files retire into hidden
        # commit dirs and the staged files move live. A crash mid-write
        # leaves every live partition untouched (the old single-job
        # retire-first order left all touched partitions empty-live on
        # failure).
        live_map = self._live_commit_map()
        version = self.current_version() + 1
        tmp_dir = os.path.join(self.path, "._insert_tmp")
        import shutil

        try:
            rebalanced(out, self.partition_col).write.mode("overwrite").partitionBy(
                self.partition_col
            ).parquet(tmp_dir)
            # commit what Spark ACTUALLY wrote: staged dir names carry
            # Spark's own partition-value escaping (null ->
            # __HIVE_DEFAULT_PARTITION__, ':' -> %3A, ...) and are reused
            # verbatim as live dir names, so retire/read/overwrite of the
            # same value always resolves the same directory — deriving the
            # names from collected raw values instead would miss every
            # escaped partition and abort mid-commit.
            pre = f"{self.partition_col}="
            parts = sorted(
                d[len(pre):] for d in os.listdir(tmp_dir) if d.startswith(pre)
            )
            for p in parts:
                self._retire_live_files(p, live_map.get(p, 0))
                src = os.path.join(tmp_dir, pre + p)
                dst = os.path.join(self.path, pre + p)
                os.makedirs(dst, exist_ok=True)
                for f in os.listdir(src):
                    if not f.startswith((".", "_")):
                        os.replace(os.path.join(src, f), os.path.join(dst, f))
        finally:
            shutil.rmtree(tmp_dir, ignore_errors=True)
        snaps = self.snapshots()
        snaps.append(
            {
                "version": version,
                "at_unix": int(time.time()),
                "operation": "overwrite_partitions",
                "partitions": {**live_map, **{p: version for p in parts}},
                "schema": self.schema().jsonValue(),
                "semantic_hash": semantic_hash,
            }
        )
        self._write_snapshots(snaps)
        report["partitions_written"] = sorted(parts)
        report["snapshot_version"] = version
        return report

    def read(self, version: int | None = None) -> DataFrame:
        """Read with the authoritative schema: partitions written before an
        auto-expand surface the newer columns as NULL.

        ``version=n`` time-travels to snapshot n (1-based commit number, see
        ``snapshots()``): each partition resolves to the commit that was live
        AT that snapshot — in the live dir if still current, else in its
        hidden ``._commit_{n}`` dir — read with the schema recorded by that
        snapshot. Audit path: per-partition union (partition counts are
        calendar-bounded, so the union is metadata-sized at any data scale)."""
        if version is None:
            schema = self.schema()  # includes the partition column: no inference
            df = (
                self.spark.read.schema(schema)
                .option("basePath", self.path)
                .parquet(os.path.join(self.path, f"{self.partition_col}=*"))
            )
            return df.select(*[f.name for f in schema.fields])

        snaps = {s["version"]: s for s in self.snapshots()}
        if version not in snaps:
            raise ValueError(f"no snapshot {version}; have {sorted(snaps)}")
        snap = snaps[version]
        schema = T.StructType.fromJson(snap["schema"])
        part_field = next(f for f in schema.fields if f.name == self.partition_col)
        data_schema = T.StructType([f for f in schema.fields if f.name != self.partition_col])
        live_map = self._live_commit_map()
        pieces = []
        for p, c in sorted(snap["partitions"].items()):
            part_dir = os.path.join(self.path, f"{self.partition_col}={p}")
            d = part_dir if live_map.get(p) == c else self._commit_dir(p, c)
            if not os.path.isdir(d):
                raise ValueError(
                    f"snapshot {version} partition {p!r} (commit {c}) was expired"
                )
            # dir names carry Spark's escaping — decode back to the real
            # value for the reattached literal (sentinel dir = NULL value)
            from urllib.parse import unquote

            val = None if p == "__HIVE_DEFAULT_PARTITION__" else unquote(p)
            pieces.append(
                self.spark.read.schema(data_schema)
                .parquet(d)
                .withColumn(self.partition_col, F.lit(val).cast(part_field.dataType))
            )
        out = pieces[0]
        for piece in pieces[1:]:
            out = out.unionByName(piece)
        return out.select(*[f.name for f in schema.fields])

    def compact(self, target_file_bytes: int = 512 * 1024 * 1024) -> dict:
        """Small-file compaction (Iceberg ``rewrite_data_files``): rewrite
        every partition whose file count exceeds ceil(bytes/target) down to
        that many files, as a normal snapshot commit — values unchanged, old
        layout still time-travel-readable until expired. At 100 TB sinks the
        steady drip of per-backfill writes fragments partitions; compaction
        restores scan-sized files without touching table semantics. Only
        over-fragmented partitions rewrite (no-op partitions keep their
        commit)."""
        schema = self.schema()
        live_map = self._live_commit_map()
        version = self.current_version() + 1
        # plan: local file-metadata scan picks the over-fragmented partitions
        # and their target file counts (no Spark job)
        plan: dict[str, int] = {}
        for p in self.partitions():
            part_dir = os.path.join(self.path, f"{self.partition_col}={p}")
            files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
            n_bytes = sum(os.path.getsize(os.path.join(part_dir, f)) for f in files)
            want = max(1, -(-n_bytes // target_file_bytes))
            if len(files) > want:
                plan[p] = int(want)
        rewritten = sorted(plan)
        if rewritten:
            # ONE Spark job rewrites every planned partition (a per-partition
            # rewrite loop would be P driver-sequenced jobs — Iceberg's
            # rewrite_data_files is likewise one action): routing each row to
            # (partition, file-slot) via repartition on (ds, salt) yields AT
            # MOST `want` output files per partition from one write (hash
            # partitioning can land two salts of one ds in the same task, so
            # files can be fewer/larger than target — fine for compaction;
            # use repartitionByRange on explicit slot keys if exact file
            # counts ever become a requirement).
            dirs = [os.path.join(self.path, f"{self.partition_col}={p}") for p in rewritten]
            df = (
                self.spark.read.schema(schema)
                .option("basePath", self.path)
                .parquet(*dirs)
                .select(*[f.name for f in schema.fields])
            )
            want_map = F.create_map(
                *[x for p in rewritten for x in (F.lit(p), F.lit(plan[p]))]
            )
            data_cols = [f.name for f in schema.fields if f.name != self.partition_col]
            salt = F.pmod(
                F.xxhash64(*data_cols), want_map[F.col(self.partition_col).cast("string")]
            )
            df = df.repartition(sum(plan.values()), F.col(self.partition_col), salt)
            tmp_dir = os.path.join(self.path, "._compact_tmp")
            df.write.mode("overwrite").partitionBy(self.partition_col).parquet(tmp_dir)
            import shutil

            for p in rewritten:
                self._retire_live_files(p, live_map.get(p, 0))
                src = os.path.join(tmp_dir, f"{self.partition_col}={p}")
                dst = os.path.join(self.path, f"{self.partition_col}={p}")
                for f in os.listdir(src):
                    if not f.startswith((".", "_")):
                        os.replace(os.path.join(src, f), os.path.join(dst, f))
                live_map[p] = version
            shutil.rmtree(tmp_dir)
        if rewritten:
            snaps = self.snapshots()
            snaps.append(
                {
                    "version": version,
                    "at_unix": int(time.time()),
                    "operation": "compact",
                    "partitions": dict(live_map),
                    "schema": schema.jsonValue(),
                    "semantic_hash": self._read_meta().get("semantic_hash"),
                }
            )
            self._write_snapshots(snaps)
        return {"partitions_compacted": sorted(rewritten), "snapshot_version": version if rewritten else self.current_version()}

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """GC (Iceberg ``expireSnapshots``): keep the newest ``keep_last``
        snapshots, delete every hidden commit dir only reachable from the
        expired ones. Live files are never touched (the current snapshot is
        always kept)."""
        import shutil

        snaps = self.snapshots()
        keep_last = max(1, keep_last)
        kept, dropped = snaps[-keep_last:], snaps[:-keep_last]
        reachable = {
            (p, c) for s in kept for p, c in s["partitions"].items()
        }
        removed = []
        hist = os.path.join(self.path, "._history")
        pre = f"{self.partition_col}="
        if os.path.isdir(hist):
            for pdir in os.listdir(hist):
                if not pdir.startswith(pre):
                    continue
                p = pdir[len(pre):]
                for entry in os.listdir(os.path.join(hist, pdir)):
                    c = int(entry.rsplit("_", 1)[1])
                    if (p, c) not in reachable:
                        shutil.rmtree(os.path.join(hist, pdir, entry))
                        removed.append(f"{p}@{c}")
        self._write_snapshots(kept)
        return {"snapshots_expired": len(dropped), "commit_dirs_removed": sorted(removed)}

    def partitions(self) -> list[str]:
        pre = f"{self.partition_col}="
        if not os.path.isdir(self.path):
            return []
        return sorted(d[len(pre) :] for d in os.listdir(self.path) if d.startswith(pre))

    def archive(self, timestamp: float | None = None) -> str:
        """Rename the table directory aside (reference archiveTableIfExists):
        `{path}_archive_{utc-timestamp}`."""
        ts = time.strftime("%Y%m%d%H%M%S", time.gmtime(timestamp or time.time()))
        target = f"{self.path.rstrip('/')}_archive_{ts}"
        i = 0
        while os.path.exists(target):
            i += 1
            target = f"{self.path.rstrip('/')}_archive_{ts}_{i}"
        os.rename(self.path, target)
        return target


_HASH_PROP = "chronon.semantic_hash"


class CatalogTable:
    """Catalog-backed twin of :class:`ManagedTable`: the same lifecycle API
    (create-if-absent, dynamic partition overwrite, schema auto-expand,
    archive-on-semantic-change) driven through ``spark.read.table`` /
    ``DataFrameWriterV2`` / ``ALTER TABLE`` DDL instead of a path + JSON
    sidecar — the reference's actual surface (catalog/TableUtils.scala:259-358
    ``insertPartitions``, :620-660 ``expandTable``, :543-552
    ``archiveTableIfExists``, catalog/Iceberg.scala:18-252).

    Format dispatch:
    - ``format="iceberg"`` (any V2 provider): writes go through
      ``df.writeTo(t).overwritePartitions()`` and partition listing through
      the ``.partitions`` metadata table — exactly the calls a deployment
      with the Iceberg runtime on the classpath uses. Untested in this
      sandbox (no Iceberg jar) but the code path is the documented API.
    - ``format="parquet"`` (default, V1 session-catalog table): the same
      semantics via ``insertInto`` under
      ``spark.sql.sources.partitionOverwriteMode=dynamic`` and
      ``SHOW PARTITIONS`` — fully exercised by the test matrix.

    Semantic hashes live in ``TBLPROPERTIES`` (key ``chronon.semantic_hash``)
    so the archive-on-change contract survives without any sidecar file.
    Snapshots/time-travel/compaction are NATIVE to Iceberg (``VERSION AS OF``,
    ``rewrite_data_files``, ``expire_snapshots``) — the V1 backend raises a
    clear error pointing at :class:`ManagedTable`, whose JSON snapshot log
    re-implements them for bare-path tables."""

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        partition_col: str = "ds",
        format: str = "parquet",  # noqa: A002 — mirrors DataFrameWriter arg
    ):
        self.spark = spark
        self.name = name
        self.partition_col = partition_col
        self.format = format

    @property
    def _ident(self) -> str:
        return ".".join(f"`{p}`" for p in self.name.split("."))

    @property
    def _v2(self) -> bool:
        return self.format.lower() not in ("parquet", "orc", "csv", "json", "hive")

    # ---------------------------------------------------------------- meta

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.name)

    def schema(self) -> T.StructType:
        return self.spark.table(self._ident).schema

    def properties(self) -> dict:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self._ident}").collect()
        return {r[0]: r[1] for r in rows}

    def semantic_hash(self) -> str | None:
        # empty string = never set (a hashless create must not look like a
        # real hash, or the next hashed write would archive spuriously)
        return self.properties().get(_HASH_PROP) or None

    # ---------------------------------------------------------------- ops

    def _align(self, df: DataFrame) -> DataFrame:
        """Project df to the table's schema: deprecated columns as typed
        NULLs, column order positional (insertInto matches by position)."""
        schema = self.schema()
        return df.select(
            *[
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    def insert_partitions(
        self,
        df: DataFrame,
        auto_expand: bool = False,
        semantic_hash: str | None = None,
        properties: dict | None = None,
    ) -> dict:
        """Write df's partitions into the table (overwriting only those
        partitions), applying the full lifecycle — same contract and report
        shape as ManagedTable.insert_partitions."""
        if self.partition_col not in df.columns:
            raise ValueError(f"insert_partitions: df lacks partition column {self.partition_col!r}")
        report: dict = {"created": False, "archived": None, "added_columns": []}

        if self.exists() and semantic_hash is not None:
            stored = self.semantic_hash()
            if stored is not None and stored != semantic_hash:
                report["archived"] = self.archive()

        # the written partition values come from the write itself: a
        # separate distinct() collect would run df's whole plan (a
        # backfill's as-of join) a second time. The observation is the last
        # node before the write: below a shuffle, AQE can prune it when the
        # input turns out empty and no metrics arrive. Wrapping each value in
        # an array keeps a NULL partition value in the set.
        obs = Observation()

        def observed(out: DataFrame) -> DataFrame:
            return out.observe(obs, F.collect_set(F.array(self.partition_col)).alias("parts"))

        def written() -> list[str]:
            return sorted(str(v[0]) for v in obs.get["parts"])

        if not self.exists():
            # partition column stays last (reference colOrder)
            non_part = [c for c in df.columns if c != self.partition_col]
            out = df.select(*non_part, self.partition_col)
            if not self._v2:
                out = rebalanced(out, self.partition_col)
            w = observed(out).writeTo(self._ident).using(self.format)
            w = w.partitionedBy(F.col(self.partition_col))
            w = w.tableProperty(_HASH_PROP, semantic_hash or "")
            for k, v in (properties or {}).items():
                w = w.tableProperty(str(k), str(v))
            w.create()
            report["created"] = True
            report["partitions_written"] = written()
            return report

        table_fields = {f.name: f.dataType for f in self.schema().fields}
        incoming = {f.name: f.dataType for f in df.schema.fields}
        bad = [
            (n, table_fields[n].simpleString(), incoming[n].simpleString())
            for n in incoming
            if n in table_fields and table_fields[n].simpleString() != incoming[n].simpleString()
        ]
        if bad:
            raise SchemaEvolutionError(
                "incompatible type changes (reference expandTable refuses these): "
                + ", ".join(f"{n}: {a} --> {b}" for n, a, b in bad)
            )
        new_cols = [f for f in df.schema.fields if f.name not in table_fields]
        missing = [n for n in table_fields if n not in incoming]
        if not auto_expand and (new_cols or missing):
            raise SchemaEvolutionError(
                f"column set changed (new={[f.name for f in new_cols]}, missing={missing}) "
                "and auto_expand is off"
            )
        if new_cols:
            cols_ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in new_cols)
            self.spark.sql(f"ALTER TABLE {self._ident} ADD COLUMNS ({cols_ddl})")
            report["added_columns"] = [f.name for f in new_cols]
        if properties:
            kv = ", ".join(f"'{k}'='{v}'" for k, v in properties.items())
            self.spark.sql(f"ALTER TABLE {self._ident} SET TBLPROPERTIES ({kv})")

        out = self._align(df)
        if self._v2:
            # the V2 table owns its write distribution: no rebalance
            observed(out).writeTo(self._ident).overwritePartitions()
        else:
            # V1 path: dynamic partition overwrite via insertInto. The
            # per-write `option("partitionOverwriteMode", ...)` is NOT
            # honored by insertInto on catalog tables (verified: the write
            # went static and dropped untouched partitions), so the session
            # conf toggle is the only switch. CAVEAT: this mutates session-
            # global state for the duration of the write — two THREADS
            # sharing one SparkSession must not run a static-mode overwrite
            # concurrently with this insert. Per-job sessions (the engine's
            # launch mode) are unaffected; Iceberg's writeTo path above has
            # no such global.
            conf = self.spark.conf
            prev = conf.get("spark.sql.sources.partitionOverwriteMode", "static")
            conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                observed(rebalanced(out, self.partition_col)).write.mode(
                    "overwrite"
                ).insertInto(self._ident)
            finally:
                conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        report["partitions_written"] = written()
        return report

    def read(self, version: int | None = None) -> DataFrame:
        if version is None:
            return self.spark.read.table(self._ident)
        if self._v2:
            # Iceberg-native time travel
            return self.spark.read.option("versionAsOf", version).table(self._ident)
        raise NotImplementedError(
            "snapshot reads need an Iceberg catalog (VERSION AS OF) or the "
            "path-backed ManagedTable, whose JSON snapshot log implements them"
        )

    def partitions(self) -> list[str]:
        if self._v2:
            # Iceberg: SHOW PARTITIONS is unsupported; the .partitions
            # metadata table is the documented listing (catalog/Iceberg.scala
            # :35-106 reads the same table) — a metadata lookup, where a
            # SELECT DISTINCT over the data would scan the whole table
            try:
                rows = self.spark.sql(
                    f"SELECT partition.`{self.partition_col}` FROM {self._ident}.partitions"
                ).collect()
                return sorted({str(r[0]) for r in rows})
            except Exception:
                # non-Iceberg v2 catalogs lack the metadata table — fall back
                rows = self.spark.sql(
                    f"SELECT DISTINCT `{self.partition_col}` FROM {self._ident}"
                ).collect()
                return sorted(str(r[0]) for r in rows)
        pre = f"{self.partition_col}="
        rows = self.spark.sql(f"SHOW PARTITIONS {self._ident}").collect()
        return sorted(r[0][len(pre):] for r in rows if r[0].startswith(pre))

    # ------------------------------------------------- maintenance verbs
    # Iceberg does snapshots/compaction/expiry natively; the V1 session
    # catalog cannot — raise with a pointer at the path-backed ManagedTable,
    # whose JSON snapshot log implements the same verbs for bare-path sinks.

    def _need_v2(self, what: str) -> None:
        if not self._v2:
            raise NotImplementedError(
                f"{what} needs an Iceberg catalog (native snapshots) or the "
                "path-backed ManagedTable"
            )

    def snapshots(self) -> list[dict]:
        self._need_v2("snapshots()")
        rows = self.spark.sql(f"SELECT * FROM {self._ident}.snapshots").collect()
        return [r.asDict() for r in rows]

    def compact(self, target_file_bytes: int = 512 * 1024 * 1024) -> dict:
        self._need_v2("compact()")
        cat = self.name.split(".")[0] if "." in self.name else "spark_catalog"
        row = self.spark.sql(
            f"CALL {cat}.system.rewrite_data_files(table => '{self.name}', "
            f"options => map('target-file-size-bytes', '{target_file_bytes}'))"
        ).collect()[0]
        return row.asDict()

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        self._need_v2("expire_snapshots()")
        cat = self.name.split(".")[0] if "." in self.name else "spark_catalog"
        row = self.spark.sql(
            f"CALL {cat}.system.expire_snapshots(table => '{self.name}', "
            f"retain_last => {max(1, keep_last)})"
        ).collect()[0]
        return row.asDict()

    def _location(self, ident: str) -> str | None:
        for r in self.spark.sql(f"DESCRIBE TABLE EXTENDED {ident}").collect():
            if r[0] == "Location":
                return r[1]
        return None

    def archive(self, timestamp: float | None = None) -> str:
        ts = time.strftime("%Y%m%d%H%M%S", time.gmtime(timestamp or time.time()))
        target = f"{self.name}_archive_{ts}"
        i = 0
        while self.spark.catalog.tableExists(target):
            i += 1
            target = f"{self.name}_archive_{ts}_{i}"
        tgt_ident = ".".join(f"`{p}`" for p in target.split("."))
        self.spark.sql(f"ALTER TABLE {self._ident} RENAME TO {tgt_ident}")
        if not self._v2:
            # V1 RENAME moves the table directory and updates the TABLE
            # location, but per-partition locations can stay pointing at the
            # OLD directory (observed with the in-memory session catalog) —
            # a fresh table recreated under the original name would then
            # alias the archive's partitions. Repoint every partition to the
            # standard layout under the new location; a catalog that already
            # maintains them (Hive) is unaffected since we only ever write
            # the standard layout.
            new_loc = self._location(tgt_ident)
            if new_loc:
                rows = self.spark.sql(f"SHOW PARTITIONS {tgt_ident}").collect()
                for r in rows:
                    pspec = r[0]  # e.g. "ds=2024-01-01"
                    col, _, val = pspec.partition("=")
                    self.spark.sql(
                        f"ALTER TABLE {tgt_ident} PARTITION (`{col}`='{val}') "
                        f"SET LOCATION '{new_loc}/{pspec}'"
                    )
        return target


def attach_test_catalog(spark: SparkSession, name: str = "memtest") -> str:
    """Attach the in-memory DSv2 catalog (tools/dsv2double/memcatalog.jar —
    source alongside) to a RUNNING session via ADD JAR + a runtime catalog
    conf, and return the catalog name. This is how the V2 branch of
    :class:`CatalogTable` (``writeTo().overwritePartitions()``, the
    ``.partitions``/``.snapshots`` metadata tables, ``versionAsOf`` time
    travel, ``CALL <cat>.system.rewrite_data_files/expire_snapshots``)
    executes in a sandbox with no Iceberg runtime jar: the catalog is a
    genuine ``TableCatalog``/``ProcedureCatalog`` plugin, only its storage
    is an in-JVM map. In a real deployment the same ``CatalogTable`` code
    runs against ``org.apache.spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog`` instead; nothing here is
    Iceberg-double-specific beyond this attachment.

    Idempotent: re-attaching under the same name is a no-op. Override the
    jar location with $CHRONON_MEMCATALOG_JAR when the repo layout isn't
    available (e.g. a --py-files-only deployment).
    """
    key = f"spark.sql.catalog.{name}"
    try:
        if spark.conf.get(key) is not None:
            return name
    except Exception:
        pass  # unset -> attach below
    jar = os.environ.get("CHRONON_MEMCATALOG_JAR") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        "tools",
        "dsv2double",
        "memcatalog.jar",
    )
    if not os.path.isfile(jar):
        raise FileNotFoundError(
            f"memcatalog.jar not found at {jar}; build it with "
            "`javac -cp '/opt/spark/jars/*' -d classes MemCatalog.java && jar cf memcatalog.jar -C classes chronon` "
            "or set $CHRONON_MEMCATALOG_JAR"
        )
    spark.sql(f"ADD JAR 'file://{jar}'")
    spark.conf.set(key, "chronon.testing.MemCatalog")
    return name


def managed_table(
    spark: SparkSession, ref: str, partition_col: str = "ds", format: str | None = None
):
    """Backend factory. A ref containing ``/`` is always a bare path
    (ManagedTable, parquet + JSON sidecar catalog). A dotted identifier
    (``db.table`` — the reference's namespaced form) is a catalog table
    (CatalogTable), as is any ref when ``format`` is given explicitly.
    A bare single word stays a (relative) path — backwards compatible with
    ``--out out`` style invocations."""
    if "/" not in ref and ("." in ref or format is not None):
        return CatalogTable(spark, ref, partition_col=partition_col, format=format or "parquet")
    return ManagedTable(spark, ref, partition_col=partition_col)
