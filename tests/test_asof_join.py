"""Engine vs brute-force oracle on synthetic transcripts — the
fetcher-consistency-style gate (SURVEY.md §5.4): allclose at every
conv_id × ts, strict ts' < ts, stable (ts, turn_idx) ordering."""

from __future__ import annotations

import pandas as pd
import pytest

from chronon_spark.api import Accuracy, Aggregation, GroupBy, Join, JoinPart, Op, Window
from chronon_spark.operators.asof_join import asof_join, compute_join
from chronon_spark.sources.synth import synth_queries, synth_transcripts
from tests.oracle import assert_frames_allclose, naive_features

N_EVENTS, N_CONVS, N_QUERIES = 4000, 40, 300


@pytest.fixture(scope="module")
def data():
    ev = synth_transcripts(n_rows=N_EVENTS, n_convs=N_CONVS)
    q = synth_queries(ev, n_queries=N_QUERIES).head(N_QUERIES)
    return ev, q


def _run(spark, ev, q, gb, **kw):
    got = asof_join(spark.createDataFrame(q), spark.createDataFrame(ev), gb, **kw).toPandas()
    want = naive_features(ev, q, gb, key_mapping=kw.get("key_mapping"))
    assert_frames_allclose(got, want, sort_by=["query_id"])


def test_headline_ops(spark, data):
    """North-rule headline: count, sum, last_k over multiple windows."""
    ev, q = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("7d", "1h", None)),
            Aggregation("n_chars", Op.SUM, windows=("7d",)),
            Aggregation("text", Op.LAST_K, windows=("2d",), k=5),
        ],
        tie_breakers=["turn_idx"],
    )
    _run(spark, ev, q, gb)


def test_numeric_breadth(spark, data):
    ev, q = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("n_chars", Op.AVERAGE, windows=("3d",)),
            Aggregation("n_chars", Op.MIN, windows=("3d",)),
            Aggregation("n_chars", Op.MAX, windows=("3d",)),
            Aggregation("n_chars", Op.VARIANCE, windows=("7d",)),
            Aggregation("n_chars", Op.SKEW, windows=("7d",)),
            Aggregation("n_chars", Op.KURTOSIS, windows=("7d",)),
            Aggregation("n_chars", Op.APPROX_PERCENTILE, windows=("7d",), percentiles=(0.25, 0.5, 0.9)),
        ],
        tie_breakers=["turn_idx"],
    )
    _run(spark, ev, q, gb)


def test_order_and_k_ops(spark, data):
    ev, q = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("text", Op.FIRST, windows=("5d",)),
            Aggregation("text", Op.LAST, windows=("5d",)),
            Aggregation("text", Op.FIRST_K, windows=("5d",), k=3),
            Aggregation("n_chars", Op.TOP_K, windows=("5d",), k=4),
            Aggregation("n_chars", Op.BOTTOM_K, windows=("5d",), k=4),
        ],
        tie_breakers=["turn_idx"],
    )
    _run(spark, ev, q, gb)


def test_categorical_ops(spark, data):
    ev, q = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("role", Op.HISTOGRAM, windows=("7d",)),
            Aggregation("role", Op.UNIQUE_COUNT, windows=("7d",)),
            Aggregation("tool", Op.UNIQUE_COUNT, windows=(None,)),
        ],
        tie_breakers=["turn_idx"],
    )
    _run(spark, ev, q, gb)


def test_buckets(spark, data):
    ev, q = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("n_chars", Op.SUM, windows=("7d",), buckets=("role",)),
            Aggregation("turn_idx", Op.COUNT, windows=("7d",), buckets=("role",)),
        ],
        tie_breakers=["turn_idx"],
    )
    _run(spark, ev, q, gb)


def test_include_equal_boundary(spark, data):
    """Reference-batch `<=` boundary (SawtoothAggregatorTest.scala:177-236):
    queries with ts == an event ts must include that event iff include_equal."""
    ev, q = data
    boundary_q = ev[["conv_id", "ts"]].head(50).copy()
    boundary_q["query_id"] = [f"b{i}" for i in range(len(boundary_q))]
    boundary_q["ds"] = boundary_q["ts"].dt.strftime("%Y-%m-%d")
    for include in (False, True):
        gb = GroupBy(
            keys=["conv_id"],
            aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("1d",))],
            tie_breakers=["turn_idx"],
            include_equal=include,
        )
        _run(spark, ev, boundary_q, gb)


def test_sawtooth_mode(spark, data):
    """Hop-rounded window tails (reference Resolution.scala:38-63)."""
    ev, q = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("13d", "13h", "30m"))],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    _run(spark, ev, q, gb)


def test_zero_temporal_leakage(spark, data):
    """Every contributing event is strictly earlier: verify with last_k of a
    text that encodes its own turn — crosscheck by recomputing cutoffs."""
    ev, q = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("text", Op.LAST_K, windows=(None,), k=1)],
        tie_breakers=["turn_idx"],
    )
    feat = gb.parts()[0].output_name
    got = asof_join(
        spark.createDataFrame(q), spark.createDataFrame(ev), gb
    ).toPandas()
    ev_idx = ev.set_index(["conv_id", "text"])["ts"]
    checked = 0
    for _, r in got.iterrows():
        lk = r[feat]
        if lk:
            t_ev = ev_idx.loc[(r["conv_id"], lk[0])]
            t_ev = t_ev.max() if hasattr(t_ev, "max") else t_ev
            assert pd.Timestamp(t_ev) < pd.Timestamp(r["ts"]), "temporal leakage!"
            checked += 1
    assert checked > 100


def test_multi_part_join_with_derivations(spark, data):
    ev, q = data
    sdf_ev = spark.createDataFrame(ev)
    gb1 = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    gb2 = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("n_chars", Op.SUM, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    join = Join(
        left_time_column="ts",
        join_parts=[
            JoinPart(gb1, right_df=sdf_ev, prefix="a"),
            JoinPart(gb2, right_df=sdf_ev, prefix="b"),
        ],
        derivations={
            "*": "*",
            "chars_per_turn": "b_n_chars_sum_7d / a_turn_idx_count_7d",
        },
    )
    got = compute_join(spark.createDataFrame(q), join).toPandas()
    assert len(got) == len(q)
    w1 = naive_features(ev, q, gb1).rename(columns={"turn_idx_count_7d": "a_turn_idx_count_7d"})
    w2 = naive_features(ev, q, gb2).rename(columns={"n_chars_sum_7d": "b_n_chars_sum_7d"})
    want = w1.merge(w2[["query_id", "b_n_chars_sum_7d"]], on="query_id")
    want["chars_per_turn"] = want["b_n_chars_sum_7d"] / want["a_turn_idx_count_7d"]
    assert_frames_allclose(got, want, sort_by=["query_id"])


def test_output_cardinality_equals_left(spark, data):
    """The reference's invariant (UnionJoinTest.scala:79-81) — including
    left rows whose key has no events at all."""
    ev, q = data
    q2 = pd.concat([q, pd.DataFrame([{"conv_id": "conv_nonexistent", "query_id": "qx", "ts": q["ts"].iloc[0], "ds": "2024-01-01"}])], ignore_index=True)
    gb = GroupBy(keys=["conv_id"], aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("7d",))], tie_breakers=["turn_idx"])
    got = asof_join(spark.createDataFrame(q2), spark.createDataFrame(ev), gb).toPandas()
    assert len(got) == len(q2)
    row = got[got["query_id"] == "qx"]
    assert row["turn_idx_count_7d"].isna().all()


def test_composite_keys(spark, data):
    """Multi-column group-by keys through both cogroup modes (per-key and
    coarse-bucket) — the key tuple, not any single column, is the entity."""
    ev, q = data
    # queries carry a role column drawn from the event stream
    q2 = q.copy()
    q2["role"] = [ev["role"].iloc[i % len(ev)] for i in range(len(q2))]
    gb = GroupBy(
        keys=["conv_id", "role"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("7d",)),
            Aggregation("n_chars", Op.SUM, windows=("7d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    want = naive_features(ev, q2, gb)
    for kw in ({}, {"coarse_buckets": 16}):
        got = asof_join(spark.createDataFrame(q2), spark.createDataFrame(ev), gb, **kw).toPandas()
        assert_frames_allclose(got, want, sort_by=["query_id"])


def test_snapshot_accuracy_bigint_millis_left_ts(spark, data):
    """SNAPSHOT dispatch must derive the midnight from normalized micros: a
    bigint left ts is epoch MILLIS (reference GroupBy.scala:630), and a naive
    cast-to-timestamp would read it as seconds, shifting the snapshot ~56k
    years into the future (all features spuriously non-null/wrong)."""
    from pyspark.sql import functions as F

    ev, q = data
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("7d",))],
        tie_breakers=["turn_idx"],
        accuracy=Accuracy.SNAPSHOT,
    )
    join = Join(left_time_column="ts", join_parts=[JoinPart(gb, spark.createDataFrame(ev))])
    left_ts = spark.createDataFrame(q)
    want = compute_join(left_ts, join).toPandas()
    left_ms = left_ts.withColumn("ts", F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1000))
    left_ms = left_ms.withColumn("ts", F.col("ts").cast("long"))
    got = compute_join(left_ms, join).toPandas().drop(columns=["ts"])
    assert_frames_allclose(got, want.drop(columns=["ts"]), sort_by=["query_id"])


def test_per_turn_text_stable_under_repartition(spark):
    """North-rule invariant: per-turn text equality under stable turn
    ordering — the derived (conv_id, turn_idx) -> text mapping must be
    identical no matter how the input events are partitioned (row_number
    is ordered by (ts, event_id), a total order, so shuffling the input
    cannot reassign turn indices)."""
    from chronon_spark.sources.tables import transcripts_from_events

    base = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in transcripts_from_events(spark, "/root/testdata/sf0.001").collect()
    }
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    shuffled = ev.repartition(7, "event_type")
    shuffled.createOrReplaceTempView("__shuffled_events")
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    t2 = (
        shuffled.withColumn("conv_id", F.concat(F.lit("c"), F.col("user_id").cast("string")))
        .withColumn("turn_idx", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("text", F.concat("event_type", F.lit(":"), F.col("event_id").cast("string")))
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t2.select("conv_id", "turn_idx", "text").collect()
    }
    assert got == base


def test_nullable_bigint_above_2_53_exact(spark):
    """A nullable BIGINT above 2^53 stays exact across the Arrow boundary:
    SUM, MIN, MAX and LAST on the plain and the tiled path equal a
    Python-int replay (a float64 anywhere rounds 2^53+1 to 2^53)."""
    from chronon_spark.operators.tiles import tiled_sawtooth_asof_join

    big = 2**53
    t0 = pd.Timestamp("2024-01-01")
    rows = [
        ("a", t0, 0, big + 3),
        ("a", t0 + pd.Timedelta(hours=1), 1, None),
        ("a", t0 + pd.Timedelta(days=1), 2, big + 1),
        ("a", t0 + pd.Timedelta(days=1, hours=1), 3, 7),
    ]
    ev = spark.createDataFrame(
        [(k, t.to_pydatetime(), i, v) for k, t, i, v in rows],
        "conv_id string, ts timestamp, turn_idx int, v bigint",
    )
    # the first query's window sits in tiles only; the later ones add head events
    q_ts = [t0 + pd.Timedelta(days=1, minutes=m) for m in (30, 90, 24 * 60)]
    q = spark.createDataFrame(
        [("a", t.to_pydatetime(), i) for i, t in enumerate(q_ts)], "conv_id string, ts timestamp, qi int"
    )
    ops = {"sum": Op.SUM, "min": Op.MIN, "max": Op.MAX, "last": Op.LAST}
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("v", op, windows=("30d",)) for op in ops.values()],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    for join in (asof_join, tiled_sawtooth_asof_join):
        got = {r["qi"]: r for r in join(q, ev, gb).collect()}
        for i, qt in enumerate(q_ts):
            window = [v for _, t, _, v in rows if t < qt and v is not None]
            want = {"sum": sum(window), "min": min(window), "max": max(window), "last": window[-1]}
            for name, w in want.items():
                assert got[i][f"v_{name}_30d"] == w, (join.__name__, i, name)
