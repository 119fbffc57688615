"""The aggregation kernels cross into Python through one boundary:
``asof_join.cogroup_apply``'s ``applyInArrow``. No operator, aggregator or
contract query may add a pandas UDF boundary beside it."""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parents[1] / "chronon_spark"


def test_no_pandas_udf_boundary_in_kernel_paths():
    files = [
        *(ROOT / "operators").glob("*.py"),
        *(ROOT / "aggregators").glob("*.py"),
        ROOT / "contracts" / "ops.py",
    ]
    hits = [
        f"{f.relative_to(ROOT)}:{i}"
        for f in files
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if ".applyInPandas(" in line
    ]
    assert not hits, f"pandas UDF boundary on a kernel path: {hits}"



def test_kernel_output_takes_typed_arrays_only():
    """``kernel_output`` infers no types: a feature that is not a
    ``pa.Array`` of its field's type raises a ``TypeError`` naming the
    column, so a kernel cannot quietly fall back to Python objects."""
    import pyarrow as pa
    import pytest

    from chronon_spark.operators.asof_join import kernel_output

    lt = pa.table({"k": ["a", "b"]})
    schema = pa.schema([("k", pa.string()), ("x_sum", pa.int64())])
    out = kernel_output(lt, [pa.array([1, None], pa.int64())], schema)
    assert out.column("x_sum").to_pylist() == [1, None]
    with pytest.raises(TypeError, match="x_sum"):
        kernel_output(lt, [[1, None]], schema)
    with pytest.raises(TypeError, match="x_sum"):
        kernel_output(lt, [pa.array([1.0, None])], schema)


def test_kernel_output_nan_reads_null_at_any_depth():
    """The NaN rule covers list elements and map values too, as Spark's
    pandas conversion did."""
    import pyarrow as pa

    from chronon_spark.operators.asof_join import kernel_output

    nan = float("nan")
    lt = pa.table({"k": ["a", "b", "c"]})
    lists = pa.array([[1.0, nan], None, []], pa.list_(pa.float64()))
    maps = pa.array([[("x", nan), ("y", 2.0)], None, [("z", 1.0)]], pa.map_(pa.string(), pa.float64()))
    schema = pa.schema([("k", pa.string()), ("l", lists.type), ("m", maps.type), ("d", pa.float64())])
    out = kernel_output(lt, [lists, maps, pa.array([nan, 1.0, None])], schema)
    assert out.column("l").to_pylist() == [[1.0, None], None, []]
    assert out.column("m").to_pylist() == [[("x", None), ("y", 2.0)], None, [("z", 1.0)]]
    assert out.column("d").to_pylist() == [None, 1.0, None]

# NaN in a DOUBLE input: (key, ts offset from batchEnd, value). Windows are
# 7d; queries sit 30m and 3h after batchEnd, so the +1h rows are head events
# of the second query only.
_H = 3_600_000_000
_D = 24 * _H
_NAN_ROWS = [
    ("a", -3 * _D, 1.0), ("a", -2 * _D, float("nan")), ("a", -_D, 4.0), ("a", _H, 2.0),
    ("b", -3 * _D, 2.0), ("b", -2 * _D, 5.0), ("b", _H, float("nan")),
    ("c", -2 * _D, 7.0), ("c", -_D, float("nan")),
    ("d", -2 * _D, float("nan")),
]
_NONE5 = [None] * 5
# [sum, average, min, max, last] per query. A NaN result reads NULL on every
# path. MIN/MAX over a NaN depend on the path: the event kernels compare
# with numpy (a NaN loses or wins by position), the batch IR takes Spark's
# min/max (NaN is the largest value).
_NAN_KERNEL = {
    "a0": [None, None, 4.0, 4.0, 4.0], "a1": [None, None, 2.0, 4.0, 2.0],
    "b0": [7.0, 3.5, 2.0, 5.0, 5.0], "b1": _NONE5,
    "c0": _NONE5, "c1": _NONE5, "d0": _NONE5, "d1": _NONE5,
}
_NAN_FETCH = {
    "a0": [None, None, 1.0, None, 4.0], "a1": [None, None, 1.0, None, 2.0],
    "b0": [7.0, 3.5, 2.0, 5.0, 5.0], "b1": [None, None, 2.0, 5.0, None],
    "c0": [None, None, 7.0, None, None], "c1": [None, None, 7.0, None, None],
    "d0": _NONE5, "d1": _NONE5,
}


def test_nan_inputs_read_null(spark):
    """A NaN result of SUM, AVERAGE, MIN, MAX or LAST over a DOUBLE input
    comes back NULL, never NaN, on the plain, tiled and fetch paths."""
    import datetime as dt

    import pandas as pd

    from chronon_spark.api import Aggregation, GroupBy, Op
    from chronon_spark.jobs.upload import build_batch_irs, fetch_features
    from chronon_spark.operators.asof_join import asof_join
    from chronon_spark.operators.tiles import tiled_sawtooth_asof_join

    batch_end = pd.Timestamp("2024-01-20").value // 1000

    def at(off):
        return dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=batch_end + off)

    events = spark.createDataFrame(
        [(k, i, at(off), v) for i, (k, off, v) in enumerate(_NAN_ROWS)],
        "k string, seq int, ts timestamp, v double",
    )
    queries = spark.createDataFrame(
        [(k, f"{k}{j}", at(off)) for k in "abcd" for j, off in enumerate((_H // 2, 3 * _H))],
        "k string, qid string, ts timestamp",
    )
    gb = GroupBy(
        keys=["k"],
        aggregations=[
            Aggregation("v", op, windows=("7d",))
            for op in (Op.SUM, Op.AVERAGE, Op.MIN, Op.MAX, Op.LAST)
        ],
        tie_breakers=["seq"],
        sawtooth=True,
    )
    cols = [p.output_name for p in gb.parts()]

    def rows(df):
        return {r["qid"]: [r[c] for c in cols] for r in df.collect()}

    assert rows(asof_join(queries, events, gb)) == _NAN_KERNEL
    assert rows(tiled_sawtooth_asof_join(queries, events, gb)) == _NAN_KERNEL
    irs = build_batch_irs(events, gb, batch_end)
    assert rows(fetch_features(queries, irs, events, gb, batch_end)) == _NAN_FETCH
