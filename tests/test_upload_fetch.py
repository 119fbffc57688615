"""Fetcher consistency: batch-IR upload + fetch-time merge must equal the
offline sawtooth backfill at every (key, ts) — the reference's ConsistencyJob
contract (spark/.../stats/ConsistencyJob.scala:96-154) run as a pytest gate."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.jobs.upload import build_batch_irs, fetch_features
from chronon_spark.operators.asof_join import asof_join
from chronon_spark.sources.synth import synth_queries, synth_transcripts
from tests.oracle import assert_frames_allclose

BATCH_END_US = pd.Timestamp("2024-01-20").value // 1000


def _gb():
    return GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("13d",)),
            Aggregation("n_chars", Op.SUM, windows=("7d",)),
            Aggregation("n_chars", Op.AVERAGE, windows=("7d",)),
            Aggregation("n_chars", Op.MIN, windows=("1d",)),
            Aggregation("n_chars", Op.MAX, windows=("13d",)),
            Aggregation("turn_idx", Op.COUNT, windows=(None,)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )


def _gb_short():
    """5-minute-hop regime: windows < 12 h (Resolution.scala:38-63)."""
    return GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("90m",)),
            Aggregation("n_chars", Op.AVERAGE, windows=("2h",)),
            Aggregation("n_chars", Op.MIN, windows=("6h",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )


def _gb_rich():
    """The collection-IR families: entry lists, k-extremes, sets, histograms,
    power-sum moments (FinalBatchIr parity for the full op set)."""
    return GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("text", Op.FIRST, windows=("13d",)),
            Aggregation("text", Op.LAST, windows=("7d",)),
            Aggregation("text", Op.FIRST_K, windows=("13d",), k=3),
            Aggregation("text", Op.LAST_K, windows=("7d",), k=3),
            Aggregation("n_chars", Op.TOP_K, windows=("13d",), k=4),
            Aggregation("n_chars", Op.BOTTOM_K, windows=("7d",), k=4),
            Aggregation("n_chars", Op.UNIQUE_TOP_K, windows=("13d",), k=4),
            Aggregation("role", Op.UNIQUE_COUNT, windows=("13d",)),
            Aggregation("role", Op.APPROX_UNIQUE_COUNT, windows=("7d",)),
            Aggregation("tool", Op.HISTOGRAM, windows=("13d",)),
            Aggregation("tool", Op.HISTOGRAM, windows=("7d",), k=2),
            Aggregation("tool", Op.APPROX_FREQUENT_K, windows=("13d",), k=2),
            Aggregation("tool", Op.APPROX_HEAVY_HITTERS_K, windows=("13d",), k=2),
            Aggregation("n_chars", Op.VARIANCE, windows=("13d",)),
            Aggregation("n_chars", Op.SKEW, windows=("13d",)),
            Aggregation("n_chars", Op.KURTOSIS, windows=("13d",)),
            Aggregation("text", Op.LAST_K, windows=(None,), k=2),  # unbounded: collapsed-only
            # unbounded FIRST_K: collapsed entries older than every tile row
            # and query, which the kernel's composite layout must cover
            Aggregation("text", Op.FIRST_K, windows=(None,), k=2),
            # quantile sketch IR — exact here (no slice reaches 512 values)
            Aggregation("n_chars", Op.APPROX_PERCENTILE, windows=("13d",), percentiles=(0.25, 0.5, 0.75)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )


@pytest.fixture(scope="module")
def data(spark):
    ev = synth_transcripts(n_rows=3000, n_convs=30)
    q = synth_queries(ev, n_queries=3000)
    # fetch window: [batchEnd, batchEnd + tailBuffer)
    lo = pd.Timestamp(BATCH_END_US, unit="us")
    hi = lo + pd.Timedelta(days=2)
    q = q[(q["ts"] >= lo) & (q["ts"] < hi)].reset_index(drop=True)
    assert len(q) > 50, "need a meaningful fetch-query slice"
    return ev, q


@pytest.mark.parametrize("gb_fn", [_gb, _gb_short, _gb_rich])
def test_fetch_matches_offline_backfill(spark, data, gb_fn):
    ev, q = data
    events = spark.createDataFrame(ev)
    queries = spark.createDataFrame(q)
    gb = gb_fn()
    irs = build_batch_irs(events, gb, BATCH_END_US)
    got = fetch_features(queries, irs, events, gb, BATCH_END_US).toPandas()
    want = asof_join(queries, events, gb).toPandas()
    assert_frames_allclose(got, want, sort_by=["query_id"])


def test_fetch_key_with_no_batch_ir(spark, data):
    """Keys born after batchEnd exist only in streaming — fetch must still
    serve them (reference: null batch IR branch, SawtoothOnlineAggregator:95)."""
    ev, q = data
    post = ev[ev["ts"] >= pd.Timestamp(BATCH_END_US, unit="us")].copy()
    post["conv_id"] = "brand_new_conv"
    ev2 = pd.concat([ev, post], ignore_index=True)
    qn = q.head(20).copy()
    qn["conv_id"] = "brand_new_conv"
    # a null-key query row: exactly one output row, null features (the
    # backfill's cardinality invariant)
    null_q = qn.head(1).assign(conv_id=None, query_id="null_key_query")
    qn = pd.concat([qn, null_q], ignore_index=True)
    gb = _gb()
    events = spark.createDataFrame(ev2)
    queries = spark.createDataFrame(qn)
    irs = build_batch_irs(events, gb, BATCH_END_US)
    got = fetch_features(queries, irs, events, gb, BATCH_END_US).toPandas()
    want = asof_join(queries, events, gb).toPandas()
    assert_frames_allclose(got, want, sort_by=["query_id"])
    null_rows = got[got["query_id"] == "null_key_query"]
    assert len(null_rows) == 1
    assert null_rows[[p.output_name for p in gb.parts()]].isna().all(axis=None)


def test_fetch_exact_above_2_53(spark):
    """Serving is exact above 2^53: a nullable BIGINT and a DECIMAL(18,0)
    input keep an integral type through the IR partials and the merge, so
    SUM/MIN/MAX/LAST equal the backfill to the unit. (Double IR partials
    served SUM 18014398509481984 for ...988 and MAX/LAST 9007199254740992
    for ...993.)"""
    import datetime as dt
    from decimal import Decimal

    big = 2**53 + 1
    h = 3_600_000_000
    d = 24 * h
    # (key, ts offset from batchEnd, value): one tail-hop event (-6d), one
    # collapsed (-3d/-2d), a null and two streaming rows after batchEnd
    rows = [
        ("a", -6 * d, 1), ("a", -3 * d, big), ("a", h // 2, None), ("a", h, 1), ("a", 2 * h, big),
        ("b", -6 * d, big + 2), ("b", -2 * d, big), ("b", h, None), ("b", 2 * h, big + 4),
    ]

    def at(off):
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=BATCH_END_US + off)

    events = spark.createDataFrame(
        [
            (k, n, at(off), v, None if v is None else Decimal(v))
            for n, (k, off, v) in enumerate(rows)
        ],
        "k string, seq int, ts timestamp, v bigint, dv decimal(18,0)",
    )
    queries = spark.createDataFrame(
        [("a", "qa1", at(3 * h)), ("a", "qa2", at(h + h // 2)), ("b", "qb1", at(3 * h))],
        "k string, query_id string, ts timestamp",
    )
    gb = GroupBy(
        keys=["k"],
        aggregations=[
            Aggregation(c, op, windows=("7d",))
            for c in ("v", "dv")
            for op in (Op.SUM, Op.MIN, Op.MAX, Op.LAST)
        ],
        tie_breakers=["seq"],
        sawtooth=True,
    )
    irs = build_batch_irs(events, gb, BATCH_END_US)
    got = {r["query_id"]: r.asDict() for r in fetch_features(queries, irs, events, gb, BATCH_END_US).collect()}
    want = {r["query_id"]: r.asDict() for r in asof_join(queries, events, gb).collect()}
    assert got == want
    for c in ("v", "dv"):
        assert got["qa1"][f"{c}_sum_7d"] == 2 * big + 2 == 18014398509481988
        assert got["qa1"][f"{c}_max_7d"] == got["qa1"][f"{c}_last_7d"] == big
        assert got["qb1"][f"{c}_min_7d"] == big


def test_fetch_before_batch_end_raises(spark, data):
    ev, _ = data
    gb = _gb()
    events = spark.createDataFrame(ev)
    early = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["conv_1"], "query_id": ["q0"],
                      "ts": [pd.Timestamp(BATCH_END_US - 1, unit="us")]})
    )
    irs = build_batch_irs(events, gb, BATCH_END_US)
    with pytest.raises(Exception, match="batchEndTs"):
        fetch_features(early, irs, events, gb, BATCH_END_US).collect()


def test_misaligned_batch_end_raises(spark, data):
    ev, _ = data
    with pytest.raises(ValueError, match="not aligned"):
        build_batch_irs(spark.createDataFrame(ev), _gb(), BATCH_END_US + 1)


def test_event_exactly_at_window_tail_boundary(spark, data):
    """An event at EXACTLY batchEnd - window (midnight-aligned, the common
    production case) must land in the tail hops: the hop-rounded window start
    of a query just after batchEnd equals that boundary, and sawtooth window
    starts are inclusive — a strict (ts > tail) slice would drop it from both
    collapsed and tails, undercounting fetch vs backfill."""
    ev, q = data
    gb = _gb()
    w13_us = 13 * 24 * 3600 * 1_000_000
    planted = pd.DataFrame(
        {
            "conv_id": [q["conv_id"].iloc[0]],
            "turn_idx": [999999],
            "role": ["user"],
            "text": ["boundary"],
            "tool": [None],
            "n_chars": [7.0],
            "ts": [pd.Timestamp(BATCH_END_US - w13_us, unit="us")],
        }
    )
    ev2 = pd.concat([ev[planted.columns.tolist()], planted], ignore_index=True)
    events = spark.createDataFrame(ev2)
    queries = spark.createDataFrame(q)
    irs = build_batch_irs(events, gb, BATCH_END_US)
    got = fetch_features(queries, irs, events, gb, BATCH_END_US).toPandas()
    want = asof_join(queries, events, gb).toPandas()
    assert_frames_allclose(got, want, sort_by=["query_id"])


def test_tiled_fetch_matches_backfill_at_tile_boundaries(spark, data, tmp_path):
    """TILED serving mode: batch IRs + streaming TILES (not raw rows) must
    equal the offline backfill at tile-aligned query timestamps — the
    reference's tiled GroupByServingInfo contract."""
    from chronon_spark.jobs.upload import fetch_features_tiled
    from chronon_spark.streaming import stream_hop_tiles

    ev, q = data
    events = spark.createDataFrame(ev)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("13d",)),
            Aggregation("n_chars", Op.SUM, windows=("7d",)),
            Aggregation("n_chars", Op.MIN, windows=("7d",)),
            Aggregation("text", Op.LAST_K, windows=("7d",), k=2),
            Aggregation("n_chars", Op.TOP_K, windows=("7d",), k=3),
            Aggregation("role", Op.UNIQUE_COUNT, windows=("13d",)),
            Aggregation("tool", Op.HISTOGRAM, windows=("7d",)),
            Aggregation("n_chars", Op.VARIANCE, windows=("13d",)),
            Aggregation("text", Op.LAST_K, windows=(None,), k=2),
            Aggregation("n_chars", Op.APPROX_PERCENTILE, windows=("7d",), percentiles=(0.5,)),
            Aggregation("n_chars", Op.SUM, windows=("7d",), buckets=("role",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    # tile-aligned queries (1h = smallest tail hop among 7d/13d windows)
    qa = q.copy()
    qa["ts"] = qa["ts"].dt.floor("1h")
    qa = qa[qa["ts"] >= pd.Timestamp(BATCH_END_US, unit="us")].drop_duplicates(
        subset=["conv_id", "ts"]
    )
    assert len(qa) > 30
    queries = spark.createDataFrame(qa)

    irs = build_batch_irs(events, gb, BATCH_END_US)
    # drive the REAL streaming tile builder over the post-batch slice
    post = ev[ev["ts"] >= pd.Timestamp(BATCH_END_US, unit="us")]
    src = str(tmp_path / "post_events")
    spark.createDataFrame(post).write.mode("overwrite").parquet(src)
    sdf = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    tq = (
        stream_hop_tiles(sdf, gb)
        .writeStream.format("memory")
        .queryName("tiled_fetch_tiles")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    tq.awaitTermination(300)
    tiles = spark.table("tiled_fetch_tiles")

    got = fetch_features_tiled(queries, irs, tiles, gb, BATCH_END_US, events_like=events).toPandas()
    want = asof_join(queries, events, gb).toPandas()
    assert_frames_allclose(got, want, sort_by=["query_id"])


def test_tiled_fetch_rejects_misaligned_queries(spark, data):
    from chronon_spark.jobs.upload import fetch_features_tiled
    from chronon_spark.operators.tiles import build_hop_tiles

    ev, q = data
    events = spark.createDataFrame(ev)
    gb = _gb()
    irs = build_batch_irs(events, gb, BATCH_END_US)
    tiles = (
        build_hop_tiles(events, gb)
        .withColumn("tile_start", F.timestamp_micros(F.col("__hop") * F.lit(3_600_000_000)))
        .drop("__hop")
    )
    off = q.head(5).copy()
    off["ts"] = off["ts"] + pd.Timedelta(microseconds=1)
    with pytest.raises(ValueError, match="tile-aligned"):
        fetch_features_tiled(
            spark.createDataFrame(off), irs, tiles, gb, BATCH_END_US, events_like=events
        )


def test_fetch_bucketed_scalar_matches_backfill(spark, data):
    """Bucketed scalar parts ride the IR path too: collapsed per-bucket
    partials + per-(hop, bucket) tails + bucket-masked stream rows must equal
    the offline backfill's Map[bucket -> agg] at every (key, ts)."""
    ev, q = data
    events = spark.createDataFrame(ev)
    queries = spark.createDataFrame(q)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("n_chars", Op.SUM, windows=("7d",), buckets=("role",)),
            Aggregation("n_chars", Op.COUNT, windows=("13d",), buckets=("role",)),
            Aggregation("n_chars", Op.MIN, windows=("7d",), buckets=("tool",)),
            Aggregation("n_chars", Op.AVERAGE, windows=("13d",), buckets=("role",)),
            Aggregation("n_chars", Op.MAX, windows=(None,), buckets=("role",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    irs = build_batch_irs(events, gb, BATCH_END_US)
    got = fetch_features(queries, irs, events, gb, BATCH_END_US).toPandas()
    want = asof_join(queries, events, gb).toPandas()
    assert_frames_allclose(got, want, sort_by=["query_id"])


def test_bucketed_nonscalar_upload_rejected(spark, data):
    ev, _ = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("text", Op.LAST_K, windows=("7d",), k=2, buckets=("role",))],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    with pytest.raises(ValueError, match="scalar ops"):
        build_batch_irs(spark.createDataFrame(ev), gb, BATCH_END_US)


def test_fetch_beyond_tail_buffer_raises(spark, data):
    """Queries at/after batchEnd + tailBuffer read a collapsed IR whose oldest
    events precede the query's window start — the fetch must reject them
    (reference GroupByServingInfo valid-range contract) instead of silently
    returning stale sums."""
    ev, _ = data
    gb = _gb()
    events = spark.createDataFrame(ev)
    irs = build_batch_irs(events, gb, BATCH_END_US)
    buf_us = 2 * 86_400_000 * 1000  # default TAIL_BUFFER_MS
    late = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["conv_1"], "query_id": ["q0"],
                      "ts": [pd.Timestamp(BATCH_END_US + buf_us, unit="us")]})
    )
    with pytest.raises(Exception, match="tailBuffer"):
        fetch_features(late, irs, events, gb, BATCH_END_US).collect()
    # a larger explicit buffer (with IRs built to match) accepts the same ts
    irs_wide = build_batch_irs(events, gb, BATCH_END_US, tail_buffer_ms=4 * 86_400_000)
    fetch_features(
        late, irs_wide, events, gb, BATCH_END_US, tail_buffer_ms=4 * 86_400_000
    ).collect()


def test_tiled_fetch_min_max_only_column(spark, data):
    """A column carrying ONLY MIN/MAX parts produces stream tiles WITHOUT a
    __cnt stat (_tile_stats_needed) — the tiled fetch's tail-struct builder
    must not reference the missing column (r02 ADVICE: unresolved-column
    AnalysisException on a spec _check accepts)."""
    from chronon_spark.jobs.upload import fetch_features_tiled
    from chronon_spark.operators.tiles import build_hop_tiles

    ev, q = data
    events = spark.createDataFrame(ev)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("n_chars", Op.MIN, windows=("7d",)),
            Aggregation("n_chars", Op.MAX, windows=("13d",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    qa = q.copy()
    qa["ts"] = qa["ts"].dt.floor("1h")
    qa = qa[qa["ts"] >= pd.Timestamp(BATCH_END_US, unit="us")].drop_duplicates(
        subset=["conv_id", "ts"]
    )
    queries = spark.createDataFrame(qa)
    irs = build_batch_irs(events, gb, BATCH_END_US)
    post = ev[ev["ts"] >= pd.Timestamp(BATCH_END_US, unit="us")]
    tiles = (
        build_hop_tiles(spark.createDataFrame(post), gb)
        .withColumn("tile_start", F.timestamp_micros(F.col("__hop") * F.lit(3_600_000_000)))
        .drop("__hop")
    )
    assert "n_chars__cnt" not in tiles.columns  # the regression's precondition
    got = fetch_features_tiled(queries, irs, tiles, gb, BATCH_END_US, events_like=events).toPandas()
    want = asof_join(queries, events, gb).toPandas()
    assert_frames_allclose(got, want, sort_by=["query_id"])


def test_fetch_cdc_deltas_match_backfill(spark, data):
    """Mutation/CDC serving path (reference SawtoothOnlineAggregator mutation
    merge): CDC rows become a signed-delta event stream
    (mutations_to_deltas), batch IRs at batchEnd + post-batch streaming
    deltas merged at fetch must equal the offline as-of over the full delta
    stream at every (key, ts)."""
    from chronon_spark.operators.mutations import mutations_to_deltas

    ev, q = data
    events = spark.createDataFrame(ev)
    # odd turns are before-images (deletes), evens are inserts
    mutations = events.select(
        "conv_id",
        F.col("n_chars").cast("double").alias("balance"),
        F.col("ts").alias("mutation_ts"),
        (F.col("turn_idx") % 2 == 1).alias("is_before"),
    )
    snapshot = spark.createDataFrame([], "conv_id string, balance double")
    deltas = mutations_to_deltas(
        snapshot, mutations, ["conv_id"], "balance", "2000-01-01"
    ).select(
        "conv_id",
        F.col("__mts").alias("ts"),
        (F.col("__sign") * F.col("__val")).alias("sv"),
        F.col("__sign").cast("long").alias("sn"),
    )
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("sv", Op.SUM, windows=("13d", "1d")),
            Aggregation("sn", Op.SUM, windows=("13d",)),
        ],
        sawtooth=True,
    )
    queries = spark.createDataFrame(q)
    irs = build_batch_irs(deltas, gb, BATCH_END_US)
    got = fetch_features(queries, irs, deltas, gb, BATCH_END_US).toPandas()
    want = asof_join(queries, deltas, gb).toPandas()
    assert_frames_allclose(got, want, sort_by=["query_id"])
