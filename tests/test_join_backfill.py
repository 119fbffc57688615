"""Partitioned backfill with a multi-part Join spec: columns, resume,
spec-hash invalidation, arg validation."""

from __future__ import annotations

import pytest

from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op
from chronon_spark.plans.manifest import join_semantic_hash, run_partitioned_backfill
from chronon_spark.sources.synth import synth_queries, synth_transcripts


@pytest.fixture(scope="module")
def paths(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("jb")
    ev = synth_transcripts(n_rows=1500, n_convs=15)
    q = synth_queries(ev, n_queries=300)
    q = q[q["ds"].isin(sorted(q["ds"].unique())[:2])]
    ev_p, q_p = str(root / "ev.parquet"), str(root / "q.parquet")
    ev.to_parquet(ev_p, index=False)
    q.to_parquet(q_p, index=False)
    return ev_p, q_p, root


def _builder(events):
    gb1 = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("1d",))],
        tie_breakers=["turn_idx"],
    )
    gb2 = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("n_chars", Op.SUM, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    return Join(
        left_time_column="ts",
        join_parts=[JoinPart(gb1, events), JoinPart(gb2, events, prefix="p2")],
        derivations={"*": "*", "dbl": "turn_idx_count_1d * 2"},
    )


def test_join_backfill_and_resume(spark, paths):
    ev_p, q_p, root = paths
    stats = run_partitioned_backfill(
        spark, ev_p, q_p, str(root / "out"), str(root / "ckpt"), join_builder=_builder
    )
    assert stats["partitions_computed"] == 2
    out = spark.read.parquet(str(root / "out"))
    assert {"turn_idx_count_1d", "p2_n_chars_sum_7d", "dbl"} <= set(out.columns)
    again = run_partitioned_backfill(
        spark, ev_p, q_p, str(root / "out"), str(root / "ckpt"), join_builder=_builder
    )
    assert again["partitions_computed"] == 0 and again["partitions_skipped_resume"] == 2


def test_join_hash_tracks_spec(spark, paths):
    ev_p, _, _ = paths
    events = spark.read.parquet(ev_p)
    a = join_semantic_hash(_builder(events))
    j = _builder(events)
    j.join_parts[0].prefix = "renamed"
    assert join_semantic_hash(j) != a
    assert join_semantic_hash(_builder(events)) == a


def test_exactly_one_spec_required(spark, paths):
    ev_p, q_p, root = paths
    with pytest.raises(ValueError, match="exactly one"):
        run_partitioned_backfill(spark, ev_p, q_p, str(root / "x"), str(root / "y"))


def test_partition_stats_extractor(spark, paths):
    from chronon_spark.plans.manifest import partition_stats

    ev_p, q_p, root = paths
    run_partitioned_backfill(
        spark, ev_p, q_p, str(root / "out"), str(root / "ckpt"), join_builder=_builder
    )
    st = {r["ds"]: r for r in partition_stats(spark, str(root / "out"), str(root / "ckpt")).collect()}
    out = spark.read.parquet(str(root / "out"))
    want = {str(r["ds"]): r["n"] for r in out.groupBy("ds").count().withColumnRenamed("count", "n").collect()}
    assert set(st) == set(want)
    for ds, row in st.items():
        assert row["rows"] == want[ds]          # footer metadata == actual
        assert row["n_files"] >= 1 and row["bytes"] > 0
        assert row["semantic_hash"] is not None and row["wall_sec"] is not None


def test_backfill_strategy_dispatch(spark, paths):
    """--strategy routes the GroupBy backfill through the tiled / sliced /
    skew physical plans; all must write the same partitions as plain."""
    ev_p, q_p, root = paths
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("7d",)),
            Aggregation("text", Op.LAST_K, windows=("2d",), k=2),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,  # tiled requires sawtooth
    )
    outs = {}
    for strat in ("plain", "tiled", "sliced", "skew"):
        run_partitioned_backfill(
            spark, ev_p, q_p, str(root / f"o_{strat}"), str(root / f"c_{strat}"),
            gb=gb, strategy=strat,
        )
        pdf = (
            spark.read.parquet(str(root / f"o_{strat}"))
            .toPandas()
            .sort_values("query_id")
            .reset_index(drop=True)
        )
        pdf["text_last_k2_2d"] = pdf["text_last_k2_2d"].map(
            lambda v: tuple(v) if v is not None else None
        )
        outs[strat] = pdf
    base = outs["plain"]
    for strat in ("tiled", "sliced", "skew"):
        other = outs[strat]
        assert base.equals(other[base.columns]), f"{strat} != plain"
    with pytest.raises(ValueError, match="unknown strategy"):
        run_partitioned_backfill(
            spark, ev_p, q_p, str(root / "o_bad"), str(root / "c_bad"), gb=gb, strategy="bogus"
        )


def test_backfill_to_catalog_table_sink(spark, paths):
    """A bare-name --out target routes the sink through CatalogTable: the
    backfill lands in a session-catalog table read back via
    spark.read.table, with the same resume semantics and identical rows to
    the path-backed sink."""
    import uuid

    ev_p, q_p, root = paths
    tbl = f"default.bf_{uuid.uuid4().hex[:10]}"
    try:
        stats = run_partitioned_backfill(
            spark, ev_p, q_p, tbl, str(root / "ckpt_tbl"), join_builder=_builder
        )
        assert stats["partitions_computed"] == 2
        got = spark.read.table(tbl).toPandas()
        want = spark.read.parquet(str(root / "out")).toPandas()  # path-sink twin
        assert len(got) == len(want) == stats["rows_out"]
        cols = sorted(set(got.columns) & set(want.columns))
        got["ds"], want["ds"] = got["ds"].astype(str), want["ds"].astype(str)
        g = got[cols].sort_values("query_id").reset_index(drop=True)
        w = want[cols].sort_values("query_id").reset_index(drop=True)
        import pandas as pd

        pd.testing.assert_frame_equal(g, w, check_like=True)
        again = run_partitioned_backfill(
            spark, ev_p, q_p, tbl, str(root / "ckpt_tbl"), join_builder=_builder
        )
        assert again["partitions_computed"] == 0
    finally:
        bare = tbl.split(".", 1)[1]
        for t in spark.catalog.listTables():
            if t.name.startswith(bare):
                spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")


def test_backfill_to_v2_iceberg_sink(spark, paths):
    """--out-format iceberg routes the partitioned backfill through the V2
    writeTo()/overwritePartitions() branch (executed against the DSv2 test
    catalog): identical rows to the path sink, resume semantics intact, and
    each per-partition commit is a snapshot in the table's native history."""
    import uuid

    from chronon_spark.plans.table_lifecycle import CatalogTable, attach_test_catalog

    ev_p, q_p, root = paths
    cat = attach_test_catalog(spark)
    tbl = f"{cat}.default.bf_{uuid.uuid4().hex[:10]}"
    try:
        stats = run_partitioned_backfill(
            spark, ev_p, q_p, tbl, str(root / "ckpt_v2"),
            join_builder=_builder, out_format="iceberg", step_days=1,
        )
        assert stats["partitions_computed"] == 2
        got = spark.read.table(tbl).toPandas()
        want = spark.read.parquet(str(root / "out")).toPandas()  # path-sink twin
        assert len(got) == len(want) == stats["rows_out"]
        cols = sorted(set(got.columns) & set(want.columns))
        got["ds"], want["ds"] = got["ds"].astype(str), want["ds"].astype(str)
        import pandas as pd

        pd.testing.assert_frame_equal(
            got[cols].sort_values("query_id").reset_index(drop=True),
            want[cols].sort_values("query_id").reset_index(drop=True),
            check_like=True,
        )
        # one V2 snapshot per per-partition commit, queryable natively
        snaps = CatalogTable(spark, tbl, format="iceberg").snapshots()
        assert len(snaps) == 2
        # resume: nothing recomputes, no new snapshots
        again = run_partitioned_backfill(
            spark, ev_p, q_p, tbl, str(root / "ckpt_v2"),
            join_builder=_builder, out_format="iceberg", step_days=1,
        )
        assert again["partitions_computed"] == 0
        assert len(CatalogTable(spark, tbl, format="iceberg").snapshots()) == 2
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_contiguous_ranges_unit():
    """stepDays fill planning (reference TableUtils.scala:403-499,
    JoinBase.scala:347-368): consecutive days chunk together up to step_days;
    any calendar gap starts a new range."""
    from chronon_spark.plans.manifest import contiguous_ranges

    days = ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-05", "2024-01-06"]
    assert contiguous_ranges(days, 30) == [
        ["2024-01-01", "2024-01-02", "2024-01-03"],
        ["2024-01-05", "2024-01-06"],
    ]
    assert contiguous_ranges(days, 2) == [
        ["2024-01-01", "2024-01-02"],
        ["2024-01-03"],
        ["2024-01-05", "2024-01-06"],
    ]
    assert contiguous_ranges(days, 1) == [[d] for d in days]
    assert contiguous_ranges([], 30) == []
    # month boundary is consecutive; year gap is not
    assert contiguous_ranges(["2024-01-31", "2024-02-01"], 30) == [["2024-01-31", "2024-02-01"]]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        contiguous_ranges(days, 0)


def test_step_days_chunking_equality_and_resume(spark, paths):
    """A chunked run (one Spark job per contiguous range) writes byte-identical
    rows to the per-day run, records per-ds manifests with range lineage, and
    keeps kill/rerun resume at ds granularity."""
    import json
    import os

    ev_p, q_p, root = paths
    per_day = run_partitioned_backfill(
        spark, ev_p, q_p, str(root / "out_d1"), str(root / "ckpt_d1"),
        join_builder=_builder, step_days=1,
    )
    chunked = run_partitioned_backfill(
        spark, ev_p, q_p, str(root / "out_d30"), str(root / "ckpt_d30"),
        join_builder=_builder, step_days=30,
    )
    assert per_day["partitions_computed"] == chunked["partitions_computed"] == 2
    assert per_day["ranges_computed"] == 2
    assert chunked["ranges_computed"] == 1  # the 2 ds are consecutive days
    a = spark.read.parquet(str(root / "out_d1")).toPandas()
    b = spark.read.parquet(str(root / "out_d30")).toPandas()
    cols = sorted(a.columns)
    import pandas as pd

    pd.testing.assert_frame_equal(
        a[cols].sort_values("query_id").reset_index(drop=True),
        b[cols].sort_values("query_id").reset_index(drop=True),
        check_like=True,
    )
    # per-ds manifests exist and carry the shared range lineage
    manifests = sorted(f for f in os.listdir(root / "ckpt_d30") if f.endswith(".json"))
    assert len(manifests) == 2
    for fn in manifests:
        with open(root / "ckpt_d30" / fn) as f:
            m = json.load(f)
        sm = m["stage_metrics"]
        assert sm["range_days"] == 2
        assert sm["range"][0] <= m["ds"] <= sm["range"][1]
        assert m["output"]["rows"] > 0
        # each ds carries its share of the range wall, so the shares sum to
        # the job wall; the scan bound is the range's, not the ds's
        assert abs(sm["wall_sec"] * 2 - sm["range_wall_sec"]) <= 2e-3
        assert m["inputs"]["events"]["scan_max_exclusive"] == f"{sm['range'][1]}+1d"
    # kill/rerun: dropping ONE manifest recomputes exactly that partition
    os.remove(root / "ckpt_d30" / manifests[0])
    again = run_partitioned_backfill(
        spark, ev_p, q_p, str(root / "out_d30"), str(root / "ckpt_d30"),
        join_builder=_builder, step_days=30,
    )
    assert again["partitions_computed"] == 1 and again["partitions_skipped_resume"] == 1
    c = spark.read.parquet(str(root / "out_d30")).toPandas()
    pd.testing.assert_frame_equal(
        a[cols].sort_values("query_id").reset_index(drop=True),
        c[cols].sort_values("query_id").reset_index(drop=True),
        check_like=True,
    )


def test_range_backfill_writes_one_file_per_ds(spark, tmp_path):
    """A range job rebalances its output by ds before the write: each ds is
    one parquet file, not one per cogroup task, and the rows equal a
    per-day run. The AQE coalescing floor is lowered so this small input's
    cogroup runs several tasks, as a larger input's does."""
    import os

    import pandas as pd

    ev = synth_transcripts(n_rows=1500, n_convs=15)
    q = synth_queries(ev, n_queries=300)
    q = q[q["ds"].isin(sorted(q["ds"].unique())[:3])]
    ev_p, q_p = str(tmp_path / "ev.parquet"), str(tmp_path / "q.parquet")
    ev.to_parquet(ev_p, index=False)
    q.to_parquet(q_p, index=False)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("n_chars", Op.SUM, windows=("1d",))],
        tie_breakers=["turn_idx"],
    )
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        ranged = run_partitioned_backfill(
            spark, ev_p, q_p, str(tmp_path / "out"), str(tmp_path / "ckpt"), gb=gb
        )
        per_day = run_partitioned_backfill(
            spark, ev_p, q_p, str(tmp_path / "out_d1"), str(tmp_path / "ckpt_d1"), gb=gb,
            step_days=1,
        )
    finally:
        spark.conf.set(key, old)
    assert ranged["partitions_computed"] == 3 and ranged["ranges_computed"] == 1
    assert per_day["ranges_computed"] == 3
    parts = sorted(d for d in os.listdir(tmp_path / "out") if d.startswith("ds="))
    assert len(parts) == 3
    for d in parts:
        files = [f for f in os.listdir(tmp_path / "out" / d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    a = spark.read.parquet(str(tmp_path / "out")).toPandas()
    b = spark.read.parquet(str(tmp_path / "out_d1")).toPandas()
    cols = sorted(a.columns)
    pd.testing.assert_frame_equal(
        a[cols].sort_values("query_id").reset_index(drop=True),
        b[cols].sort_values("query_id").reset_index(drop=True),
    )
