"""Decimal aggregation inputs (reference ColumnAggregator.scala:279-423):
exact unscaled-int64 path for SUM/MIN/MAX/selection ops, double upcast for
moments, mismatch errors for the histogram family — all verified against an
exact Python-Decimal replay on values float64 CANNOT represent."""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
import pytest

from pyspark.sql import functions as F, types as T

from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.operators.asof_join import asof_join

_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("amount", T.DecimalType(18, 2)),
    ]
)


@pytest.fixture(scope="module")
def frames(spark):
    # 17-significant-digit amounts: exact in DECIMAL(18,2), NOT in float64 —
    # a double-based sum provably diverges, so exactness is actually tested
    base = Decimal("123456789012345.67")
    rows = []
    for k in ("a", "b"):
        for i in range(8):
            rows.append((k, (pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i)).to_pydatetime(), i,
                         base + Decimal(i) + (Decimal("0.01") if k == "b" else Decimal(0))))
    # one null amount (skipped by every op, still counted by nothing)
    rows.append(("a", pd.Timestamp("2024-01-01 03:30").to_pydatetime(), 99, None))
    ev = spark.createDataFrame(rows, _SCHEMA)
    q = spark.createDataFrame(
        [("a", pd.Timestamp("2024-01-01 05:00").to_pydatetime()),
         ("b", pd.Timestamp("2024-01-01 23:00").to_pydatetime())],
        "conv_id string, ts timestamp",
    )
    return ev, q, rows


def _expected(rows, key, qts, hours, op):
    lo = qts - pd.Timedelta(hours=hours)
    vals = [r[3] for r in rows if r[0] == key and lo <= r[1] < qts and r[3] is not None]
    if not vals:
        return None
    if op == "sum":
        return sum(vals)
    if op == "min":
        return min(vals)
    if op == "max":
        return max(vals)
    if op == "avg":
        return float(sum(vals) / len(vals))
    raise AssertionError(op)


def test_decimal_exact_and_upcast_ops(spark, frames):
    ev, q, rows = frames
    # key "c": values of different magnitude whose fractional part must
    # survive (5.00 + 2.75 = 7.75, not 7)
    ev = ev.union(spark.createDataFrame(
        [("c", pd.Timestamp("2024-01-01 00:00").to_pydatetime(), 0, Decimal("5.00")),
         ("c", pd.Timestamp("2024-01-01 01:00").to_pydatetime(), 1, Decimal("2.75"))],
        _SCHEMA,
    ))
    q = q.union(spark.createDataFrame(
        [("c", pd.Timestamp("2024-01-01 02:00").to_pydatetime())], "conv_id string, ts timestamp"
    ))
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("amount", Op.SUM, windows=("3h", None)),
            Aggregation("amount", Op.MIN, windows=("3h",)),
            Aggregation("amount", Op.MAX, windows=("3h",)),
            Aggregation("amount", Op.LAST_K, windows=("3h",), k=2),
            Aggregation("amount", Op.AVERAGE, windows=("3h",)),
            Aggregation("amount", Op.UNIQUE_COUNT, windows=("3h",)),
        ],
        tie_breakers=["turn_idx"],
    )
    out = {r["conv_id"]: r for r in asof_join(q, ev, gb).collect()}
    for key, qts in (("a", pd.Timestamp("2024-01-01 05:00")), ("b", pd.Timestamp("2024-01-01 23:00"))):
        row = out[key]
        want_sum = _expected(rows, key, qts, 3, "sum")
        got_sum = row["amount_sum_3h"]
        if want_sum is None:
            assert got_sum is None
        else:
            assert isinstance(got_sum, Decimal)
            assert got_sum == want_sum, f"{key}: {got_sum} != {want_sum}"
            # the exactness is REAL: the float64 route would get this wrong
            assert float(got_sum) != got_sum or Decimal(float(got_sum)) != want_sum
        assert row["amount_min_3h"] == _expected(rows, key, qts, 3, "min")
        assert row["amount_max_3h"] == _expected(rows, key, qts, 3, "max")
        want_avg = _expected(rows, key, qts, 3, "avg")
        if want_avg is None:
            assert row["amount_average_3h"] is None
        else:
            assert row["amount_average_3h"] == pytest.approx(want_avg, rel=1e-12)
    # lifetime SUM over everything (unbounded window) for key a:
    want_all = sum(r[3] for r in rows if r[0] == "a" and r[3] is not None
                   and r[1] < pd.Timestamp("2024-01-01 05:00"))
    assert out["a"]["amount_sum"] == want_all
    # LAST_K returns decimals, most recent first
    lk = out["a"]["amount_last_k2_3h"]
    assert [type(x) for x in lk] == [Decimal, Decimal]
    in_3h = sorted(
        (r for r in rows if r[0] == "a" and r[3] is not None
         and pd.Timestamp("2024-01-01 02:00") <= r[1] < pd.Timestamp("2024-01-01 05:00")),
        key=lambda r: (r[1], r[2]),
    )
    assert lk == [r[3] for r in reversed(in_3h)][:2]
    assert out["a"]["amount_unique_count_3h"] == len({r[3] for r in in_3h})
    assert out["c"]["amount_sum_3h"] == Decimal("7.75")


def test_decimal_tiled_matches_plain(spark, frames):
    from chronon_spark.operators.tiles import tiled_sawtooth_asof_join

    ev, q, _ = frames
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("amount", Op.SUM, windows=("3h",)),
            Aggregation("amount", Op.MAX, windows=("6h",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    a = asof_join(q, ev, gb).toPandas().sort_values("conv_id").reset_index(drop=True)
    b = (
        tiled_sawtooth_asof_join(q, ev, gb)
        .toPandas()
        .sort_values("conv_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b[a.columns], check_like=True)


def test_decimal_snapshot_and_derivations(spark, frames):
    """SNAPSHOT-accuracy part + join-level derivation over a decimal output."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.asof_join import compute_join

    ev, q, rows = frames
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("amount", Op.SUM, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    join = Join(
        left_time_column="ts",
        join_parts=[JoinPart(gb, ev)],
        derivations={"*": "*", "cents": "CAST(amount_sum_7d * 100 AS BIGINT)"},
    )
    out = {r["conv_id"]: r for r in compute_join(q, join).collect()}
    want = _expected(rows, "a", pd.Timestamp("2024-01-01 05:00"), 7 * 24, "sum")
    assert out["a"]["amount_sum_7d"] == want
    assert out["a"]["cents"] == int(want * 100)


@pytest.mark.parametrize("scale", range(19))
def test_rescale_exact_every_scale(spark, scale):
    """Unscaled long -> DECIMAL(38, scale) keeps every digit at every scale
    the int64 rewrite admits, including the ±(2^63 - 1) extremes."""
    from chronon_spark.aggregators.decimal import _rescale_sql

    unscaled = [0, 1, -1, 12345678901234567, -12345678901234567, 2**63 - 1, -(2**63 - 1)]
    df = spark.createDataFrame([(u,) for u in unscaled], "u bigint")
    got = [r[0] for r in df.selectExpr(f"{_rescale_sql('u', scale)} AS d").collect()]
    assert got == [Decimal(u).scaleb(-scale) for u in unscaled]


def test_decimal_guards(spark):
    ev = spark.createDataFrame(
        [("a", pd.Timestamp("2024-01-01").to_pydatetime(), Decimal("1.5"))],
        T.StructType(
            [
                T.StructField("conv_id", T.StringType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("big", T.DecimalType(20, 2)),
            ]
        ),
    )
    q = spark.createDataFrame([("a", pd.Timestamp("2024-01-02").to_pydatetime())], "conv_id string, ts timestamp")
    gb = GroupBy(keys=["conv_id"], aggregations=[Aggregation("big", Op.SUM)])
    with pytest.raises(ValueError, match="precision > 18"):
        asof_join(q, ev, gb).collect()
    ev18 = ev.withColumn("big", F.col("big").cast("decimal(18,2)"))
    gb_hist = GroupBy(keys=["conv_id"], aggregations=[Aggregation("big", Op.HISTOGRAM)])
    with pytest.raises(ValueError, match="no Decimal branch"):
        asof_join(q, ev18, gb_hist).collect()
    # analyzer flags the same two classes pre-flight
    from chronon_spark.analyzer import analyze_group_by

    rep = analyze_group_by(ev, gb)
    assert any("precision > 18" in e for e in rep.errors)
    rep = analyze_group_by(ev18, gb_hist)
    assert any("no Decimal branch" in e for e in rep.errors)


def test_decimal_bucketed_exact(spark):
    """Map[bucket -> decimal] outputs rescale exactly (transform_values);
    the tiled strategy rejects bucketed decimals instead of losing cents."""
    rows = [
        ("a", (pd.Timestamp("2024-01-01") + pd.Timedelta(hours=i)).to_pydatetime(),
         "xy"[i % 2], Decimal("123456789012345.67") + Decimal(i))
        for i in range(6)
    ]
    ev = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("k", T.StringType()), T.StructField("ts", T.TimestampType()),
            T.StructField("b", T.StringType()), T.StructField("amt", T.DecimalType(18, 2)),
        ]),
    )
    q = spark.createDataFrame(
        [("a", pd.Timestamp("2024-01-01 23:00").to_pydatetime())], "k string, ts timestamp"
    )
    gb = GroupBy(
        keys=["k"],
        aggregations=[
            Aggregation("amt", Op.SUM, windows=("1d",), buckets=("b",)),
            Aggregation("amt", Op.LAST_K, windows=("1d",), k=2, buckets=("b",)),
        ],
    )
    out = asof_join(q, ev, gb).collect()[0].asDict()
    want = {bk: sum(r[3] for r in rows if r[2] == bk) for bk in "xy"}
    assert out["amt_sum_1d_by_b"] == want
    assert list(out["amt_last_k2_1d_by_b"]["y"]) == [rows[5][3], rows[3][3]]
    from chronon_spark.operators.tiles import tiled_sawtooth_asof_join

    gb_t = GroupBy(
        keys=["k"],
        aggregations=[Aggregation("amt", Op.SUM, windows=("1d",), buckets=("b",))],
        sawtooth=True,
    )
    with pytest.raises(ValueError, match="bucketed Decimal"):
        tiled_sawtooth_asof_join(q, ev, gb_t)


def test_decimal_nested_inputs_rejected(spark):
    ev = spark.createDataFrame(
        [("a", pd.Timestamp("2024-01-01").to_pydatetime(), [Decimal("1.50")])],
        T.StructType([
            T.StructField("k", T.StringType()), T.StructField("ts", T.TimestampType()),
            T.StructField("amts", T.ArrayType(T.DecimalType(18, 2))),
        ]),
    )
    q = spark.createDataFrame(
        [("a", pd.Timestamp("2024-01-02").to_pydatetime())], "k string, ts timestamp"
    )
    gb = GroupBy(keys=["k"], aggregations=[Aggregation("amts", Op.SUM)])
    with pytest.raises(ValueError, match="nested fractional decimals"):
        asof_join(q, ev, gb).collect()


def test_decimal_upload_rejected(spark, frames):
    """The serving IR path has no decimal rewrite — fractional decimal inputs
    refuse loudly instead of rounding through the float64 IR columns."""
    from chronon_spark.jobs.upload import build_batch_irs

    ev, _, _ = frames
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("amount", Op.SUM, windows=("3h",))],
        sawtooth=True,
    )
    with pytest.raises(ValueError, match="fractional DECIMAL"):
        build_batch_irs(ev, gb, 1_704_067_200_000_000)
