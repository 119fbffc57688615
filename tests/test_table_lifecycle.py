"""Sink lifecycle (reference catalog/TableUtils.scala:259-358,543-552,620-660):
create-if-absent, dynamic partition overwrite, auto-expand, type-change
refusal, archive-on-semantic-change — run against BOTH backends:

- ``path``: ManagedTable (bare parquet dir + JSON sidecar catalog)
- ``catalog``: CatalogTable on the V1 session catalog (spark.read.table /
  insertInto-dynamic / ALTER TABLE DDL)
- ``v2``: CatalogTable with ``format="iceberg"`` on a genuine DSv2
  TableCatalog (tools/dsv2double MemCatalog) — this EXECUTES the Iceberg
  branch: ``writeTo().overwritePartitions()``, ``.partitions``/``.snapshots``
  metadata tables, ``versionAsOf`` time travel, and the
  ``rewrite_data_files``/``expire_snapshots`` stored procedures.

ManagedTable-only tests cover its JSON snapshot log; the V2-only tests at the
bottom cover the native Iceberg-surface equivalents.
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from chronon_spark.plans.table_lifecycle import (
    CatalogTable,
    ManagedTable,
    SchemaEvolutionError,
    attach_test_catalog,
    managed_table,
)


def _df(spark, rows, schema="k string, v bigint, ds string"):
    return spark.createDataFrame(rows, schema)


def _drop_v2(spark, cat, prefix):
    for r in spark.sql(f"SHOW TABLES IN {cat}.default").collect():
        if r["tableName"].startswith(prefix):
            spark.sql(f"DROP TABLE IF EXISTS {cat}.default.`{r['tableName']}`")


@pytest.fixture(params=["path", "catalog", "v2"])
def make_table(request, spark, tmp_path):
    """Factory yielding a fresh table handle on the parametrized backend;
    catalog tables (and their archives) are dropped at teardown."""
    prefix = f"lc_{uuid.uuid4().hex[:10]}"
    if request.param == "v2":
        cat = attach_test_catalog(spark)

    def mk():
        if request.param == "path":
            return ManagedTable(spark, str(tmp_path / "t"))
        if request.param == "v2":
            return CatalogTable(spark, f"{cat}.default.{prefix}", format="iceberg")
        return CatalogTable(spark, prefix)

    def opener(ref):
        if request.param == "path":
            return ManagedTable(spark, ref)
        if request.param == "v2":
            return CatalogTable(spark, ref, format="iceberg")
        return CatalogTable(spark, ref)

    mk.open = opener
    mk.backend = request.param
    yield mk
    if request.param == "catalog":
        for t in spark.catalog.listTables():
            if t.name.startswith(prefix):
                spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
    elif request.param == "v2":
        _drop_v2(spark, cat, prefix)


def test_create_and_dynamic_overwrite(spark, make_table):
    t = make_table()
    r1 = t.insert_partitions(_df(spark, [("a", 1, "2024-01-01"), ("b", 2, "2024-01-02")]))
    assert r1["created"] and t.partitions() == ["2024-01-01", "2024-01-02"]
    # overwrite ONLY 01-02; 01-01 untouched
    t.insert_partitions(_df(spark, [("b", 99, "2024-01-02")]))
    got = {(r["k"], r["v"]) for r in t.read().collect()}
    assert got == {("a", 1), ("b", 99)}


def test_auto_expand_adds_column_old_partitions_null(spark, make_table):
    t = make_table()
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]))
    t.insert_partitions(
        _df(spark, [("c", 3, 7.5, "2024-01-02")], "k string, v bigint, extra double, ds string"),
        auto_expand=True,
    )
    names = [f.name for f in t.schema().fields]
    if make_table.backend == "v2":
        # Iceberg semantics: ADD COLUMNS appends at schema end (partition
        # cols are regular columns, no Hive partition-last layout)
        assert names == ["k", "v", "ds", "extra"]
    else:
        assert names == ["k", "v", "extra", "ds"]
    rows = {r["ds"]: r["extra"] for r in t.read().collect()}
    assert rows["2024-01-01"] is None and rows["2024-01-02"] == 7.5


def test_auto_expand_deprecated_column_written_null(spark, make_table):
    t = make_table()
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]))
    t.insert_partitions(
        _df(spark, [("z", "2024-01-03")], "k string, ds string"), auto_expand=True
    )
    row = [r for r in t.read().collect() if r["ds"] == "2024-01-03"][0]
    assert row["v"] is None


def test_schema_change_without_auto_expand_rejected(spark, make_table):
    t = make_table()
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]))
    with pytest.raises(SchemaEvolutionError, match="auto_expand is off"):
        t.insert_partitions(
            _df(spark, [("c", 3, 7.5, "2024-01-02")], "k string, v bigint, extra double, ds string")
        )


def test_type_change_always_rejected(spark, make_table):
    t = make_table()
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]))
    with pytest.raises(SchemaEvolutionError, match="v: bigint --> string"):
        t.insert_partitions(
            _df(spark, [("a", "one", "2024-01-01")], "k string, v string, ds string"),
            auto_expand=True,
        )


def test_archive_on_semantic_change(spark, make_table):
    t = make_table()
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]), semantic_hash="h1")
    rep = t.insert_partitions(_df(spark, [("b", 2, "2024-01-01")]), semantic_hash="h2")
    assert rep["archived"] and rep["created"]
    if make_table.backend == "path":
        assert os.path.isdir(rep["archived"])
    else:
        assert spark.catalog.tableExists(rep["archived"])
    # fresh table holds only the new spec's output; the archive keeps the old
    assert {r["k"] for r in t.read().collect()} == {"b"}
    old = make_table.open(rep["archived"])
    assert {r["k"] for r in old.read().collect()} == {"a"}


def test_managed_table_factory(spark, tmp_path):
    assert isinstance(managed_table(spark, str(tmp_path / "x")), ManagedTable)
    # bare single word = relative path (backwards compatible with --out out)
    assert isinstance(managed_table(spark, "out"), ManagedTable)
    # dotted identifier or explicit format = catalog table
    assert isinstance(managed_table(spark, "db.some_table"), CatalogTable)
    assert isinstance(managed_table(spark, "t2", format="iceberg"), CatalogTable)
    assert managed_table(spark, "t2", format="iceberg").format == "iceberg"


# ------------------------------------------------------- snapshots / time travel


def test_time_travel_reads(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01"), ("b", 2, "2024-01-02")]))
    t.insert_partitions(_df(spark, [("b", 99, "2024-01-02")]))
    t.insert_partitions(
        _df(spark, [("c", 3, 7.5, "2024-01-03")], "k string, v bigint, extra double, ds string"),
        auto_expand=True,
    )
    snaps = t.snapshots()
    assert [s["version"] for s in snaps] == [1, 2, 3]
    # latest: overwrite + expanded column visible
    live = {(r["k"], r["v"]) for r in t.read().collect()}
    assert live == {("a", 1), ("b", 99), ("c", 3)}
    # v1: pre-overwrite values, pre-expand schema (no 'extra')
    v1 = t.read(version=1)
    assert "extra" not in v1.columns
    assert {(r["k"], r["v"]) for r in v1.collect()} == {("a", 1), ("b", 2)}
    # v2: overwritten partition, still pre-expand
    assert {(r["k"], r["v"]) for r in t.read(version=2).collect()} == {("a", 1), ("b", 99)}


def test_superseded_files_hidden_from_live_scans(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]))
    t.insert_partitions(_df(spark, [("a", 2, "2024-01-01")]))
    # raw recursive read of the table dir must see ONLY live files
    raw = spark.read.option("basePath", str(tmp_path / "t")).parquet(
        str(tmp_path / "t" / "ds=2024-01-01")
    )
    assert [r["v"] for r in raw.collect()] == [2]
    assert os.path.isdir(str(tmp_path / "t" / "._history" / "ds=2024-01-01" / "commit_1"))


def test_expire_snapshots(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]))
    t.insert_partitions(_df(spark, [("a", 2, "2024-01-01")]))
    t.insert_partitions(_df(spark, [("a", 3, "2024-01-01")]))
    rep = t.expire_snapshots(keep_last=1)
    assert rep["snapshots_expired"] == 2 and rep["commit_dirs_removed"]
    assert [r["v"] for r in t.read().collect()] == [3]
    with pytest.raises(ValueError, match="no snapshot 1"):
        t.read(version=1)


def test_compaction(spark, tmp_path):
    t = ManagedTable(spark, str(tmp_path / "t"))
    df = _df(spark, [("k%d" % i, i, "2024-01-01") for i in range(40)])
    # the insert rebalances by ds into one file; cap the rows per file so
    # the partition lands fragmented, as a drip of small writes leaves it
    key = "spark.sql.files.maxRecordsPerFile"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        t.insert_partitions(df)
    finally:
        spark.conf.set(key, old)
    part = str(tmp_path / "t" / "ds=2024-01-01")
    n_before = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert n_before >= 8
    rep = t.compact(target_file_bytes=10**9)  # everything fits one file
    assert rep["partitions_compacted"] == ["2024-01-01"]
    n_after = len([f for f in os.listdir(part) if f.endswith(".parquet")])
    assert n_after == 1
    # values unchanged; pre-compaction snapshot still readable
    assert {r["v"] for r in t.read().collect()} == set(range(40))
    assert {r["v"] for r in t.read(version=1).collect()} == set(range(40))
    # idempotent: second compact is a no-op commit-wise
    assert t.compact(target_file_bytes=10**9)["partitions_compacted"] == []


def test_insert_runs_input_once(spark, make_table):
    """The written partition list comes from the write itself, so an insert
    evaluates its input once per row, on create and on overwrite. A separate
    partition-list query would run a backfill's whole as-of join twice. An
    empty insert writes and reports nothing."""
    calls = spark.sparkContext.accumulator(0)

    @F.udf("string")
    def day(i):
        calls.add(1)
        return f"2024-01-0{i % 3 + 1}"

    t = make_table()
    for n in (100, 60):  # create, then a dynamic overwrite of every ds
        calls.value = 0
        df = spark.range(n).select(F.lit("k").alias("k"), F.col("id").alias("v"), day("id").alias("ds"))
        rep = t.insert_partitions(df)
        assert calls.value == n
        assert rep["partitions_written"] == ["2024-01-01", "2024-01-02", "2024-01-03"]
        assert t.read().count() == n
    rep = t.insert_partitions(_df(spark, []))
    assert rep["partitions_written"] == []
    assert t.read().count() == 60


def test_oversize_partition_written_as_several_files(spark, tmp_path):
    """The rebalance before the write puts a ds in one task only up to the
    AQE advisory partition size: a larger ds is split across tasks, never
    funnelled into one file, and every row reads back."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    n = 200_000
    df = spark.range(n).select(F.lit("k").alias("k"), F.col("id").alias("v"), F.lit("2024-01-01").alias("ds"))
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        t.insert_partitions(df)
    finally:
        spark.conf.set(key, old)
    part = tmp_path / "t" / "ds=2024-01-01"
    assert len([f for f in os.listdir(part) if f.endswith(".parquet")]) >= 2
    got = t.read().agg(F.count("*").alias("n"), F.sum("v").alias("s")).first()
    assert (got["n"], got["s"]) == (n, n * (n - 1) // 2)


def test_catalog_hashless_create_then_hashed_write_no_archive(spark):
    """A table created WITHOUT a semantic hash must not archive on the first
    hashed write (the stored empty-string property is 'never set', not a
    changed hash)."""
    import uuid

    name = f"lc_nohash_{uuid.uuid4().hex[:8]}"
    try:
        t = CatalogTable(spark, name)
        t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]))
        rep = t.insert_partitions(_df(spark, [("b", 2, "2024-01-01")]), semantic_hash="h1")
        assert rep["archived"] is None
        # hash is only recorded at create time (matching ManagedTable)
        assert t.semantic_hash() is None
        assert {r["k"] for r in t.read().collect()} == {"b"}
    finally:
        for tb in spark.catalog.listTables():
            if tb.name.startswith(name):
                spark.sql(f"DROP TABLE IF EXISTS `{tb.name}`")


def test_escaped_and_null_partition_values(spark, tmp_path):
    """Partition values Spark escapes in dir names (':' -> %3A) and NULLs
    (-> __HIVE_DEFAULT_PARTITION__) must survive the stage-then-commit
    insert: the commit walks what Spark actually wrote, not re-derived raw
    values. Time travel decodes the escaped names back to real values."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.insert_partitions(
        _df(spark, [("a", 1, "2024:01"), ("b", 2, None)]),
    )
    got = {(r["k"], r["ds"]) for r in t.read().collect()}
    assert got == {("a", "2024:01"), ("b", None)}
    # dynamic overwrite of the escaped partition only
    t.insert_partitions(_df(spark, [("a2", 9, "2024:01")]))
    got = {(r["k"], r["ds"]) for r in t.read().collect()}
    assert got == {("a2", "2024:01"), ("b", None)}
    # snapshot 1 still sees the original rows, values decoded
    v1 = {(r["k"], r["ds"]) for r in t.read(version=1).collect()}
    assert v1 == {("a", "2024:01"), ("b", None)}


# --------------------------------------------- V2 (Iceberg-branch) natives
# These run the surface CatalogTable delegates to the catalog: snapshot
# history via the .snapshots metadata table, versionAsOf time travel,
# CALL <cat>.system.rewrite_data_files / expire_snapshots. ManagedTable
# implements the same verbs over its JSON log (tested above); here the
# engine-side code is the thin Iceberg-native dispatch, executed for real.


@pytest.fixture
def v2_table(spark):
    cat = attach_test_catalog(spark)
    prefix = f"lc_{uuid.uuid4().hex[:10]}"
    yield CatalogTable(spark, f"{cat}.default.{prefix}", format="iceberg")
    _drop_v2(spark, cat, prefix)


def test_v2_snapshots_and_time_travel(spark, v2_table):
    t = v2_table
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01"), ("b", 2, "2024-01-02")]))
    t.insert_partitions(_df(spark, [("b", 99, "2024-01-02")]))
    t.insert_partitions(
        _df(spark, [("c", 3, 7.5, "2024-01-03")], "k string, v bigint, extra double, ds string"),
        auto_expand=True,
    )
    snaps = t.snapshots()
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3]
    assert snaps[1]["operation"] == "overwrite_dynamic"
    live = {(r["k"], r["v"]) for r in t.read().collect()}
    assert live == {("a", 1), ("b", 99), ("c", 3)}
    # versionAsOf 1: pre-overwrite values (schema is the TABLE's current
    # schema — Iceberg time travel reads old files through the live schema,
    # unlike ManagedTable which pins the schema recorded at the snapshot)
    v1 = t.read(version=1)
    assert {(r["k"], r["v"]) for r in v1.collect()} == {("a", 1), ("b", 2)}
    assert {(r["k"], r["v"]) for r in t.read(version=2).collect()} == {("a", 1), ("b", 99)}
    # old partitions surface the expanded column as NULL through the live read
    rows = {r["ds"]: r["extra"] for r in t.read().collect()}
    assert rows["2024-01-01"] is None and rows["2024-01-03"] == 7.5


def test_v2_partitions_metadata_table(spark, v2_table):
    t = v2_table
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01"), ("b", 2, "2024-01-02")]))
    assert t.partitions() == ["2024-01-01", "2024-01-02"]
    # listing is metadata-only: it must work (and stay correct) regardless of
    # how many files each partition holds
    t.insert_partitions(_df(spark, [("c", 3, "2024-01-02")]))
    assert t.partitions() == ["2024-01-01", "2024-01-02"]


def test_v2_compaction_procedure(spark, v2_table):
    t = v2_table
    df = _df(spark, [("k%d" % i, i, "2024-01-01") for i in range(40)]).repartition(8)
    t.insert_partitions(df)
    rep = t.compact()
    assert rep["rewritten_data_files_count"] >= 8
    assert rep["added_data_files_count"] == 1
    # values unchanged; the compaction is a replace snapshot in history
    assert {r["v"] for r in t.read().collect()} == set(range(40))
    assert t.snapshots()[-1]["operation"] == "replace"


def test_v2_expire_snapshots_procedure(spark, v2_table):
    t = v2_table
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01")]))
    t.insert_partitions(_df(spark, [("a", 2, "2024-01-01")]))
    t.insert_partitions(_df(spark, [("a", 3, "2024-01-01")]))
    rep = t.expire_snapshots(keep_last=1)
    assert rep["deleted_snapshots_count"] == 2
    assert [r["v"] for r in t.read().collect()] == [3]
    with pytest.raises(Exception, match="no snapshot"):
        t.read(version=1).collect()


def test_insert_crash_leaves_live_partitions_intact(spark, tmp_path):
    """Stage-then-commit: a write job that fails mid-flight must leave every
    live partition untouched (no empty-live partitions, no snapshot entry).
    The staged files land in ._insert_tmp, which never shadows live data."""
    t = ManagedTable(spark, str(tmp_path / "t"))
    t.insert_partitions(_df(spark, [("a", 1, "2024-01-01"), ("b", 2, "2024-01-02")]))
    v_before = t.current_version()
    # a frame whose job raises at execution time (after planning succeeds)
    bad = _df(spark, [("c", 3, "2024-01-01")]).withColumn(
        "v", F.assert_true(F.col("v") < 0).cast("bigint")
    )
    with pytest.raises(Exception):
        t.insert_partitions(bad)
    # live data fully intact, no phantom snapshot
    assert {(r["k"], r["v"]) for r in t.read().collect()} == {("a", 1), ("b", 2)}
    assert t.current_version() == v_before
    # and a subsequent good write still works
    t.insert_partitions(_df(spark, [("c", 3, "2024-01-01")]))
    assert {r["k"] for r in t.read().collect()} == {"b", "c"}
