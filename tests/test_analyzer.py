"""Analyzer-lite pre-flight (reference spark/.../Analyzer.scala, batch/Eval.scala):
spec-vs-schema validation that fails BEFORE any job runs, with every problem
reported at once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chronon_spark.analyzer import AnalysisError, analyze, analyze_group_by, analyze_join
from chronon_spark.api import Accuracy, Aggregation, GroupBy, Join, JoinPart, Op
from chronon_spark.sources.synth import synth_transcripts


@pytest.fixture(scope="module")
def data(spark):
    return spark.createDataFrame(synth_transcripts(n_rows=500, n_convs=5))


def _gb(**kw):
    d = dict(
        keys=["conv_id"],
        aggregations=[Aggregation("n_chars", Op.SUM, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    d.update(kw)
    return GroupBy(**d)


def test_clean_spec_passes(spark, data):
    rep = analyze(data, _gb(), right=data)
    assert rep.errors == [] and rep.output_columns == ["n_chars_sum_7d"]


def test_all_errors_collected(spark, data):
    gb = _gb(
        keys=["nope_key"],
        time_column="nope_ts",
        tie_breakers=["nope_tie"],
        aggregations=[Aggregation("nope_col", Op.SUM, windows=("7d",))],
    )
    with pytest.raises(AnalysisError) as ei:
        analyze(data, gb, right=data)
    msg = str(ei.value)
    for frag in ["nope_key", "nope_ts", "nope_tie", "nope_col"]:
        assert frag in msg


def test_timestamp_input_banned(spark, data):
    gb = _gb(aggregations=[Aggregation("ts", Op.MIN, windows=("7d",))])
    rep = analyze_group_by(data, gb)
    assert any("banned as" in e and "ColumnAggregator" in e for e in rep.errors)


def test_numeric_op_on_string_rejected(spark, data):
    gb = _gb(aggregations=[Aggregation("text", Op.VARIANCE, windows=("7d",))])
    rep = analyze_group_by(data, gb)
    assert any("needs a numeric input" in e for e in rep.errors)


def test_bucket_must_be_string(spark, data):
    gb = _gb(aggregations=[Aggregation("n_chars", Op.SUM, windows=("7d",), buckets=("turn_idx",))])
    rep = analyze_group_by(data, gb)
    assert any("must be string" in e for e in rep.errors)


def test_nested_fractional_decimal_rejected(spark, data):
    """array<decimal(18,2)> passes no exact kernel path at runtime
    (aggregators/decimal.py), so the pre-flight rejects it too."""
    nested = data.withColumn("amts", F.array(F.col("n_chars").cast("decimal(18,2)")))
    gb = _gb(aggregations=[Aggregation("amts", Op.SUM, windows=("7d",))])
    rep = analyze_group_by(nested, gb)
    assert any("nested fractional decimals" in e for e in rep.errors)


def test_bad_derivation_syntax(spark, data):
    gb = _gb(derivations={"*": "*", "bad": "SELECT FROM WHERE"})
    rep = analyze_group_by(data, gb)
    assert any("does not parse" in e for e in rep.errors)


def test_join_output_collision_and_key_mapping(spark, data):
    gb = _gb()
    join = Join(
        left_time_column="ts",
        join_parts=[
            JoinPart(gb, data),
            JoinPart(gb, data),  # same outputs, no prefix -> collision
            JoinPart(_gb(keys=["conv_id"]), data, key_mapping={"missing_left": "conv_id"}, prefix="p"),
        ],
    )
    with pytest.raises(AnalysisError) as ei:
        analyze(data, join)
    msg = str(ei.value)
    assert "collides with part 0" in msg
    assert "missing_left" in msg


def test_join_clean(spark, data):
    join = Join(
        left_time_column="ts",
        join_parts=[JoinPart(_gb(), data), JoinPart(_gb(), data, prefix="p2")],
    )
    rep = analyze_join(data, join)
    assert rep.errors == []
    assert rep.output_columns == ["n_chars_sum_7d", "p2_n_chars_sum_7d"]
