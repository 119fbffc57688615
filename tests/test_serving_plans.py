"""The serving plans (jobs/upload.py) are built as SQL text: each expression
is one JVM parse, and every column name goes through one quoting helper
(operators/tiles.sql_name). These tests pin what that must keep: the
driver's py4j traffic while building the plans, names that need quoting,
and the batch-IR table's schema."""

from __future__ import annotations

import threading

import pandas as pd
import pytest
from py4j.clientserver import ClientServerConnection

from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.jobs.upload import build_batch_irs, fetch_features
from chronon_spark.operators.asof_join import asof_join
from chronon_spark.operators.tiles import sql_name
from chronon_spark.sources.synth import synth_queries, synth_transcripts
from tests.oracle import assert_frames_allclose

BATCH_END_US = pd.Timestamp("2024-01-20").value // 1000


@pytest.fixture(scope="module")
def data():
    ev = synth_transcripts(n_rows=3000, n_convs=30)
    q = synth_queries(ev, n_queries=3000)
    lo = pd.Timestamp(BATCH_END_US, unit="us")
    q = q[(q["ts"] >= lo) & (q["ts"] < lo + pd.Timedelta(days=2))].reset_index(drop=True)
    assert len(q) > 50
    return ev, q


def test_sql_name_quotes_every_name():
    assert sql_name("conv_id") == "`conv_id`"
    assert sql_name("conv id") == "`conv id`"
    assert sql_name("a`b") == "`a``b`"
    assert sql_name("a.b") == "`a.b`"


# py4j commands for one warm build (not run) of each plan, counted with the
# Column-API plan builders this replaced, on the same GroupBy and input
_COLUMN_API_COMMANDS = {"build_batch_irs": 2662, "fetch_features": 3996}


def test_serving_plan_py4j_budget(spark, data, monkeypatch):
    """Building the upload and fetch plans for the benchmark-shaped GroupBy
    makes at most 1/5 of the py4j round trips the Column-API builders made:
    the plans cross the Python/JVM boundary as SQL text, not call by call."""
    ev, q = data
    events, queries = spark.createDataFrame(ev), spark.createDataFrame(q)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("1h", "1d", "7d")),
            Aggregation("n_chars", Op.SUM, windows=("1d", "7d")),
            Aggregation("n_chars", Op.AVERAGE, windows=("7d",)),
            Aggregation("text", Op.LAST_K, windows=("1d",), k=3),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    irs = build_batch_irs(events, gb, BATCH_END_US)
    fetch_features(queries, irs, events, gb, BATCH_END_US)  # warm: schemas read
    sent = [0]
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        # py4j's finalizer thread sends the deletes of freed Java objects
        # whenever it runs; only this thread's commands are the build's
        sent[0] += threading.get_ident() == me
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    counts = {}
    for name, build in (
        ("build_batch_irs", lambda: build_batch_irs(events, gb, BATCH_END_US)),
        ("fetch_features", lambda: fetch_features(queries, irs, events, gb, BATCH_END_US)),
    ):
        sent[0] = 0
        build()
        counts[name] = sent[0]
    assert all(counts[k] <= n // 5 for k, n in _COLUMN_API_COMMANDS.items()), counts


def _quoting_spec(name) -> GroupBy:
    return GroupBy(
        keys=[name("conv_id")],
        aggregations=[
            Aggregation(name("n_chars"), Op.SUM, windows=("7d", None)),
            Aggregation(name("n_chars"), Op.AVERAGE, windows=("90m",)),
            Aggregation(name("n_chars"), Op.MAX, windows=("13d",)),
            Aggregation(name("n_chars"), Op.VARIANCE, windows=("7d",)),
            Aggregation(name("n_chars"), Op.TOP_K, windows=("7d",), k=3),
            Aggregation(name("n_chars"), Op.APPROX_PERCENTILE, windows=("7d",), percentiles=(0.5,)),
            Aggregation("text", Op.LAST_K, windows=("7d",), k=2),
            Aggregation(name("role"), Op.UNIQUE_COUNT, windows=("13d",)),
            Aggregation(name("tool"), Op.HISTOGRAM, windows=("7d",)),
            Aggregation(name("n_chars"), Op.SUM, windows=("7d",), buckets=(name("role"),)),
        ],
        tie_breakers=[name("turn_idx")],
        sawtooth=True,
    )


def test_names_that_need_quoting(spark, data):
    """A key with a space and input, bucket and tie-breaker columns whose
    names hold a backtick, a dot or a space: upload + fetch equal the
    backfill over the same rows. The backfill reads columns by plain name,
    so it runs on a copy with the original names, and its feature columns
    are renamed to match."""
    ev, q = data
    ren = {"conv_id": "conv id", "n_chars": "n`chars", "role": "ro`le", "turn_idx": "turn.idx", "tool": "to ol"}
    gb = _quoting_spec(lambda c: ren[c])
    events = spark.createDataFrame(ev.rename(columns=ren))
    irs = build_batch_irs(events, gb, BATCH_END_US)
    got = fetch_features(spark.createDataFrame(q.rename(columns=ren)), irs, events, gb, BATCH_END_US).toPandas()
    plain = _quoting_spec(lambda c: c)
    want = asof_join(spark.createDataFrame(q), spark.createDataFrame(ev), plain).toPandas()
    want = want.rename(columns={
        "conv_id": "conv id", **{a.output_name: b.output_name for a, b in zip(plain.parts(), gb.parts())}
    })
    assert "n`chars_sum_7d_by_ro`le" in got.columns
    assert_frames_allclose(got, want, sort_by=["query_id"])


# build_batch_irs' output for _every_family(), as the Column-API builder made it
_EVERY_FAMILY_SCHEMA = [
    ("conv_id", "string"),
    ("__c0_cnt", "bigint"),
    ("__c1_cnt", "bigint"),
    ("__c1_sm", "double"),
    ("__c2_mn", "double"),
    ("__c3_mx", "double"),
    ("__c4_cnt", "bigint"),
    ("__c4_sm", "double"),
    ("__c5_cnt", "bigint"),
    ("__c5_sm", "double"),
    ("__c5_p2", "double"),
    ("__c5_p3", "double"),
    ("__c5_p4", "double"),
    ("__c6_ent", "array<struct<t:bigint,b0:int,v:string>>"),
    ("__c7_ent", "array<struct<t:bigint,b0:int,v:string>>"),
    ("__c8_ext", "array<double>"),
    ("__c9_ext", "array<double>"),
    ("__c10_st", "array<string>"),
    ("__c14_qsk", "struct<s:array<double>,w:double>"),
    ("__c12_bk", "array<struct<__b:string,cnt:bigint,sm:double>>"),
    ("__c13_bk", "array<struct<__b:string,cnt:bigint,mn:double>>"),
    ("__c11_hmap", "array<struct<__v:string,__n:bigint>>"),
    ("__tails_11", "array<struct<hop:bigint,hmap:array<struct<__v:string,__n:bigint>>>>"),
    ("__tails_12", "array<struct<hop:bigint,bk:array<struct<__b:string,cnt:bigint,sm:double>>>>"),
    ("__tails_0", "array<struct<hop:bigint,cnt:bigint>>"),
    ("__tails_9", "array<struct<hop:bigint,ext:array<double>>>"),
    ("__tails_1", "array<struct<hop:bigint,cnt:bigint,sm:double>>"),
    ("__tails_2", "array<struct<hop:bigint,mn:double>>"),
    ("__tails_4", "array<struct<hop:bigint,cnt:bigint,sm:double>>"),
    ("__tails_5", "array<struct<hop:bigint,cnt:bigint,sm:double,p2:double,p3:double,p4:double>>"),
    ("__tails_6", "array<struct<hop:bigint,ent:array<struct<t:bigint,b0:int,v:string>>>>"),
    ("__tails_8", "array<struct<hop:bigint,ext:array<double>>>"),
    ("__tails_10", "array<struct<hop:bigint,st:array<string>>>"),
    ("__tails_14", "array<struct<hop:bigint,qsk:struct<s:array<double>,w:double>>>"),
]


def _every_family() -> GroupBy:
    """Scalar, moments, order, extreme, set, histogram, bucketed and
    percentile IRs; 5-minute and 1-hour tail hops and lifetime parts."""
    return GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("2h",)),
            Aggregation("n_chars", Op.SUM, windows=("7d",)),
            Aggregation("n_chars", Op.MIN, windows=("1d",)),
            Aggregation("n_chars", Op.MAX, windows=(None,)),
            Aggregation("n_chars", Op.AVERAGE, windows=("7d",)),
            Aggregation("n_chars", Op.KURTOSIS, windows=("7d",)),
            Aggregation("text", Op.FIRST_K, windows=("7d",), k=2),
            Aggregation("text", Op.LAST, windows=(None,)),
            Aggregation("n_chars", Op.TOP_K, windows=("7d",), k=3),
            Aggregation("n_chars", Op.UNIQUE_TOP_K, windows=("6h",), k=3),
            Aggregation("role", Op.UNIQUE_COUNT, windows=("7d",)),
            Aggregation("tool", Op.HISTOGRAM, windows=("7d",)),
            Aggregation("n_chars", Op.SUM, windows=("7d",), buckets=("role",)),
            Aggregation("n_chars", Op.MIN, windows=(None,), buckets=("tool",)),
            Aggregation("n_chars", Op.APPROX_PERCENTILE, windows=("7d",), percentiles=(0.5,)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )


def test_batch_ir_schema_pinned(spark, data):
    ev, q = data
    events = spark.createDataFrame(ev)
    irs = build_batch_irs(events, _every_family(), BATCH_END_US)
    assert [(f.name, f.dataType.simpleString()) for f in irs.schema.fields] == _EVERY_FAMILY_SCHEMA
    got = fetch_features(spark.createDataFrame(q), irs, events, _every_family(), BATCH_END_US).toPandas()
    want = asof_join(spark.createDataFrame(q), events, _every_family()).toPandas()
    assert_frames_allclose(got, want, sort_by=["query_id"])
