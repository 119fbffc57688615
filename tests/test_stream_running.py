"""Custom stateful streaming operator parity: per-event running lifetime
features via applyInPandasWithState must equal the batch as-of join's
unbounded-window features at every row — the fire-per-element contract
(reference flink/.../window/Trigger.scala AlwaysFireOnElementTrigger) under
the engine's strict ts' < ts semantics."""

from __future__ import annotations

import os

import pytest

from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.operators.asof_join import asof_join
from chronon_spark.sources.synth import synth_transcripts
from chronon_spark.streaming.groupby_stream import stream_running_features
from tests.oracle import assert_frames_allclose


def _gb():
    return GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=(None,)),
            Aggregation("n_chars", Op.SUM, windows=(None,)),
            Aggregation("n_chars", Op.AVERAGE, windows=(None,)),
            Aggregation("n_chars", Op.MIN, windows=(None,)),
            Aggregation("n_chars", Op.MAX, windows=(None,)),
        ],
        tie_breakers=["turn_idx"],
    )


@pytest.fixture(scope="module")
def data():
    return synth_transcripts(n_rows=2500, n_convs=25)


def _batch_expected(spark, ev):
    t = spark.createDataFrame(ev)
    return asof_join(t, t, _gb()).toPandas()


def _drain(sdf, name, timeout=300):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout)


def _compare(spark, name, want):
    got = spark.table(name).toPandas()
    cols = [c for c in want.columns]
    assert_frames_allclose(got[cols], want, sort_by=["conv_id", "turn_idx"])


def test_single_batch_parity(spark, data, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("run_one"))
    spark.createDataFrame(data).write.parquet(f"{d}/all")
    schema = spark.read.parquet(f"{d}/all").schema
    stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(d)
    _drain(stream_running_features(stream, _gb()), "t_run_one")
    _compare(spark, "t_run_one", _batch_expected(spark, data))


def test_multi_batch_state_carries(spark, data, tmp_path_factory):
    """Time-split chunks arriving across separate stream runs (shared
    checkpoint): later batches must see earlier batches through the keyed
    state IR, never by rescanning old files."""
    d = str(tmp_path_factory.mktemp("run_many"))
    ckpt = str(tmp_path_factory.mktemp("run_many_ckpt"))
    days = data["ts"].dt.strftime("%Y-%m-%d")
    cuts = ["2024-01-11", "2024-01-21"]
    chunks = [
        data[days < cuts[0]],
        data[(days >= cuts[0]) & (days < cuts[1])],
        data[days >= cuts[1]],
    ]
    schema = spark.createDataFrame(data).schema
    sink = str(tmp_path_factory.mktemp("run_many_out"))
    for i, ch in enumerate(chunks):
        assert len(ch) > 0
        spark.createDataFrame(ch).write.parquet(f"{d}/f{i}")
        stream = (
            spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(d)
        )
        q = (
            stream_running_features(stream, _gb())
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    got = spark.read.parquet(sink).toPandas()
    assert len(got) == len(data)
    want = _batch_expected(spark, data)
    from tests.oracle import assert_frames_allclose as afc

    afc(got[[c for c in want.columns]], want, sort_by=["conv_id", "turn_idx"])


def test_windowed_request_rejected(spark, data):
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("n_chars", Op.SUM, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    df = spark.createDataFrame(data)
    with pytest.raises(ValueError, match="unbounded"):
        stream_running_features(df, gb)


def test_multi_chunk_arrow_batch_parity(spark, data, tmp_path_factory):
    """A micro-batch larger than arrow maxRecordsPerBatch reaches the state
    function as MULTIPLE non-time-ordered chunks; the operator must sort the
    whole batch before the prefix scan (chunk-local scans + state merge
    in between would leak later events into earlier rows)."""
    shuffled = data.sample(frac=1.0, random_state=7).reset_index(drop=True)
    d = str(tmp_path_factory.mktemp("run_chunks"))
    spark.createDataFrame(shuffled).coalesce(1).write.parquet(f"{d}/all")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "40")
    try:
        schema = spark.read.parquet(f"{d}/all").schema
        stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(d)
        _drain(stream_running_features(stream, _gb()), "t_run_chunks")
        _compare(spark, "t_run_chunks", _batch_expected(spark, data))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_integral_running_exact_above_2_53(spark, tmp_path_factory):
    """SUM/MIN/MAX over a non-null BIGINT column above 2^53 equal the batch
    as-of join exactly: 2^53+1 and 2^53+3 have no double representation."""
    import pandas as pd

    big = 2**53
    ev = pd.DataFrame(
        {
            "conv_id": ["a"] * 4 + ["b"] * 3,
            "turn_idx": [0, 1, 2, 3, 0, 1, 2],
            "ts": pd.to_datetime(["2024-01-01 00:00"]).repeat(7)
            + pd.to_timedelta([0, 1, 2, 3, 0, 5, 9], unit="min"),
            "v": [big + 1, big + 3, 5, big + 7, -big - 1, big + 1, 2],
        }
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("v", op, windows=(None,)) for op in (Op.SUM, Op.MIN, Op.MAX)],
        tie_breakers=["turn_idx"],
    )
    d = str(tmp_path_factory.mktemp("run_big"))
    spark.createDataFrame(ev).write.parquet(f"{d}/all")
    schema = spark.read.parquet(f"{d}/all").schema
    stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(d)
    _drain(stream_running_features(stream, gb), "t_run_big")
    cols = ["v_sum", "v_min", "v_max"]
    t = spark.read.parquet(f"{d}/all")
    want = {(r.conv_id, r.turn_idx): [r[c] for c in cols] for r in asof_join(t, t, gb).collect()}
    got = {(r.conv_id, r.turn_idx): [r[c] for c in cols] for r in spark.table("t_run_big").collect()}
    assert got == want
    assert want[("a", 3)] == [2 * big + 9, 5, big + 3]


def test_nullable_bigint_running_exact(spark, tmp_path_factory):
    """A BIGINT column holding nulls stays exact above 2^53: the operator
    passes it through unchanged, and SUM/MIN/MAX equal the batch as-of join
    (Spark's pandas conversion hands such a column over as float64, which
    read 2^53+1 back as 2^53)."""
    import datetime as dt

    big = 2**53 + 1
    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", 0, big), ("a", 1, None), ("a", 2, 3)]
    ev = spark.createDataFrame(
        [(k, n, t0 + dt.timedelta(minutes=n), v) for k, n, v in rows],
        "conv_id string, turn_idx int, ts timestamp, v bigint",
    )
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("v", op, windows=(None,)) for op in (Op.SUM, Op.MIN, Op.MAX)],
        tie_breakers=["turn_idx"],
    )
    d = str(tmp_path_factory.mktemp("run_null_big"))
    ev.write.parquet(f"{d}/all")
    schema = spark.read.parquet(f"{d}/all").schema
    stream = spark.readStream.schema(schema).option("recursiveFileLookup", "true").parquet(d)
    _drain(stream_running_features(stream, gb), "t_run_null_big")
    cols = ["v", "v_sum", "v_min", "v_max"]
    t = spark.read.parquet(f"{d}/all")
    want = {r.turn_idx: [r[c] for c in cols] for r in asof_join(t, t, gb).collect()}
    got = {r.turn_idx: [r[c] for c in cols] for r in spark.table("t_run_null_big").collect()}
    assert got == want
    assert want == {
        0: [big, None, None, None],
        1: [None, big, big, big],
        2: [3, big, big, big],
    }

