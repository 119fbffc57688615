"""TwoStackLite equivalence: the banker's-queue sliding-window evaluator
(reference TwoStackLiteAggregator.scala:27-160) must agree with the
vectorized kernels on every (query, op, window) — both boundary modes,
exact and sawtooth tails."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from chronon_spark.aggregators.kernels import (
    MultiKeyEventColumns,
    composite_layout,
    compute_parts_multikey,
)
from chronon_spark.aggregators.twostack import compute_parts_twostack
from chronon_spark.api import Aggregation, GroupBy, Op


def _fixture(seed=0, n_ev=3000, n_q=800):
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, 20 * 86_400_000_000, n_ev))
    # duplicate timestamps + nulls exercise the boundary and skip rules
    ts[::7] = ts[1::7][: len(ts[::7])]
    ts = np.sort(ts)
    vals = rng.normal(10, 5, n_ev)
    vals[::11] = np.nan
    q = np.sort(rng.choice(ts, n_q))  # query ts coincide with event ts often
    return ts.astype(np.int64), vals, q.astype(np.int64)


def _parts():
    gb = GroupBy(
        keys=["k"],
        aggregations=[
            Aggregation("v", Op.COUNT, windows=("1d", "5d")),
            Aggregation("v", Op.SUM, windows=("5d",)),
            Aggregation("v", Op.AVERAGE, windows=("3d",)),
            Aggregation("v", Op.MIN, windows=("1d",)),
            Aggregation("v", Op.MAX, windows=("5d",)),
        ],
        tie_breakers=[],
    )
    return gb.parts()


@pytest.mark.parametrize("include_equal", [False, True])
@pytest.mark.parametrize("sawtooth", [False, True])
def test_twostack_matches_kernels(include_equal, sawtooth):
    ts, vals, q = _fixture()
    parts = _parts()
    # the composite-index kernel on one key: all-zero key codes
    base, block = composite_layout(q, ts)
    # NaN marks a null value for the twostack evaluator; Arrow reads it as null
    events = pa.table({"v": pa.array(vals, from_pandas=True)})
    mec = MultiKeyEventColumns(events, np.zeros(len(ts), np.int64), ts, [], base, block)
    want = compute_parts_multikey(mec, parts, np.zeros(len(q), np.int64), q, include_equal, sawtooth)
    got = compute_parts_twostack(ts, {"v": vals}, parts, q, include_equal, sawtooth)
    for p in parts:
        a, b = got[p.output_name], want[p.output_name]
        for i in range(len(q)):
            if a[i] is None or b[i] is None:
                assert a[i] is None and b[i] is None, (p.output_name, i, a[i], b[i])
            else:
                assert abs(float(a[i]) - float(b[i])) < 1e-6, (p.output_name, i, a[i], b[i])


def test_twostack_rejects_unsupported():
    parts = GroupBy(
        keys=["k"], aggregations=[Aggregation("v", Op.LAST_K, windows=("1d",), k=3)], tie_breakers=[]
    ).parts()
    with pytest.raises(ValueError, match="twostack supports"):
        compute_parts_twostack(np.array([1]), {"v": np.array([1.0])}, parts, np.array([2]))
