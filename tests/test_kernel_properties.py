"""Property-based kernel testing (no Spark — pure numpy kernels vs the
brute-force oracle). The reference's core pattern: random streams checked for
exact equality against NaiveAggregator (SawtoothAggregatorTest.scala:48-236),
here with hypothesis driving the stream shapes: duplicate timestamps, query
timestamps colliding with event timestamps, nulls, empty windows, single-row
keys, sawtooth and inclusive-boundary modes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from chronon_spark.aggregators.kernels import (
    MultiKeyEventColumns,
    composite_layout,
    compute_parts_multikey,
)
from chronon_spark.api import Aggregation, GroupBy, Op
from tests.oracle import _agg_slice, pylist
from chronon_spark.resolution import tail_hop_millis

OPS = [
    Aggregation("v", Op.COUNT, windows=("1h",)),
    Aggregation("v", Op.SUM, windows=("1h", None)),
    Aggregation("v", Op.AVERAGE, windows=("3h",)),
    Aggregation("v", Op.MIN, windows=("1h",)),
    Aggregation("v", Op.MAX, windows=("1h",)),
    Aggregation("v", Op.VARIANCE, windows=("3h",)),
    Aggregation("v", Op.FIRST, windows=("1h",)),
    Aggregation("v", Op.LAST, windows=("1h",)),
    Aggregation("v", Op.FIRST_K, windows=("1h",), k=3),
    Aggregation("v", Op.LAST_K, windows=("1h",), k=3),
    Aggregation("v", Op.TOP_K, windows=("1h",), k=2),
    Aggregation("v", Op.BOTTOM_K, windows=("1h",), k=2),
    Aggregation("v", Op.UNIQUE_COUNT, windows=("1h",)),
    Aggregation("v", Op.HISTOGRAM, windows=("1h",)),
    Aggregation("v", Op.APPROX_PERCENTILE, windows=("3h",), percentiles=(0.5,)),
]

US_H = 3_600_000_000


@st.composite
def stream(draw):
    n_ev = draw(st.integers(1, 60))
    n_q = draw(st.integers(1, 25))
    # timestamps in a 6h span, coarse grid => frequent duplicates/collisions
    grid = draw(st.sampled_from([60_000_000, 600_000_000]))
    ev_ts = sorted(draw(st.lists(st.integers(0, 6 * US_H // grid), min_size=n_ev, max_size=n_ev)))
    q_ts = draw(st.lists(st.integers(0, 6 * US_H // grid), min_size=n_q, max_size=n_q))
    vals = draw(
        st.lists(
            st.one_of(st.none(), st.integers(-5, 5).map(float)), min_size=n_ev, max_size=n_ev
        )
    )
    return (
        np.array([t * grid for t in ev_ts], np.int64),
        np.array([t * grid for t in q_ts], np.int64),
        vals,
    )


def _compute(events, parts, q_ts, include_equal, sawtooth):
    """The composite-index kernel on one key (``events`` a ``pa.Table``):
    all-zero key codes; its typed results read back as Python values."""
    r_ts = events.column("__ts_us").to_numpy()
    base, block = composite_layout(q_ts, r_ts)
    mec = MultiKeyEventColumns(events, np.zeros(len(r_ts), np.int64), r_ts, [], base, block)
    q_codes = np.zeros(len(q_ts), np.int64)
    feats = compute_parts_multikey(mec, parts, q_codes, q_ts, include_equal, sawtooth)
    return {name: pylist(arr) for name, arr in feats.items()}


def _oracle(part, ev_ts, vals, q, include_equal, sawtooth):
    m = ev_ts <= q if include_equal else ev_ts < q
    if part.window.millis is not None:
        start = q - part.window.millis * 1000
        if sawtooth:
            hop = tail_hop_millis(part.window.millis) * 1000
            start = (start // hop) * hop
        m = m & (ev_ts >= start)
    return _agg_slice(part, pd.Series([v for v, keep in zip(vals, m) if keep], dtype="float64"))


@given(data=stream(), include_equal=st.booleans(), sawtooth=st.booleans())
@settings(max_examples=120, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_kernels_match_bruteforce(data, include_equal, sawtooth):
    ev_ts, q_ts, vals = data
    events = pa.table({"__ts_us": ev_ts, "v": pa.array(vals, pa.float64())})
    gb = GroupBy(keys=["k"], aggregations=OPS, include_equal=include_equal, sawtooth=sawtooth)
    parts = gb.parts()
    got = _compute(events, parts, q_ts, include_equal, sawtooth)
    for part in parts:
        for i, q in enumerate(q_ts):
            want = _oracle(part, ev_ts, vals, q, include_equal, sawtooth)
            g = got[part.output_name][i]
            if want is None or g is None:
                assert g is None and want is None, (part.output_name, q, g, want)
            elif isinstance(want, list):
                assert [pytest.approx(w, abs=1e-9) for w in want] == list(g), (part.output_name, q)
            elif isinstance(want, dict):
                assert {k: v for k, v in g.items()} == want, (part.output_name, q)
            elif isinstance(want, float):
                assert g == pytest.approx(want, abs=1e-9), (part.output_name, q, g, want)
            else:
                assert g == want, (part.output_name, q, g, want)


@st.composite
def decimal_stream(draw):
    """Nullable integers ABOVE 2^53 — the unscaled BIGINT form
    aggregators/decimal.py feeds the kernels; a float64 round-trip provably
    corrupts these values."""
    n_ev = draw(st.integers(1, 40))
    n_q = draw(st.integers(1, 12))
    grid = 600_000_000
    ev_ts = sorted(draw(st.lists(st.integers(0, 6 * US_H // grid), min_size=n_ev, max_size=n_ev)))
    base = 12_345_678_901_234_567  # odd, > 2^53: float64 cannot hold it
    vals = draw(
        st.lists(
            st.one_of(st.none(), st.integers(-500, 500).map(lambda d: base + d)),
            min_size=n_ev,
            max_size=n_ev,
        )
    )
    q_ts = draw(st.lists(st.integers(0, 6 * US_H // grid), min_size=n_q, max_size=n_q))
    return (
        np.array([t * grid for t in ev_ts], np.int64),
        np.array([t * grid for t in q_ts], np.int64),
        vals,
    )


_DEC_OPS = [
    Aggregation("v", Op.SUM, windows=("1h", None)),
    Aggregation("v", Op.MIN, windows=("1h",)),
    Aggregation("v", Op.MAX, windows=("1h",)),
    Aggregation("v", Op.LAST, windows=("1h",)),
    Aggregation("v", Op.LAST_K, windows=("1h",), k=3),
    Aggregation("v", Op.UNIQUE_COUNT, windows=("3h",)),
    Aggregation("v", Op.COUNT, windows=("1h",)),
]


@given(data=decimal_stream(), include_equal=st.booleans())
@settings(max_examples=80, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_integral_decimal_kernels_exact(data, include_equal):
    """A nullable int64 column (the Decimal rewrite's unscaled values) must
    stay EXACT above 2^53: every op compared to an arbitrary-precision int
    replay. A float64 anywhere in the pipeline fails this by construction."""
    ev_ts, q_ts, vals = data
    events = pa.table({"__ts_us": ev_ts, "v": pa.array(vals, pa.int64())})
    gb = GroupBy(keys=["k"], aggregations=_DEC_OPS, include_equal=include_equal)
    parts = gb.parts()
    got = _compute(events, parts, q_ts, include_equal, sawtooth=False)
    for part in parts:
        for i, q in enumerate(q_ts):
            m = ev_ts <= q if include_equal else ev_ts < q
            if part.window.millis is not None:
                m = m & (ev_ts >= q - part.window.millis * 1000)
            window = [int(v) for v, keep in zip(vals, m) if keep and v is not None]
            g = got[part.output_name][i]
            name = part.output_name
            if not window:
                assert g is None, (name, q, g)
                continue
            if part.op == Op.SUM:
                assert int(g) == sum(window), (name, q, int(g), sum(window))
            elif part.op == Op.MIN:
                assert int(g) == min(window), name
            elif part.op == Op.MAX:
                assert int(g) == max(window), name
            elif part.op == Op.LAST:
                assert int(g) == window[-1], name
            elif part.op == Op.LAST_K:
                assert [int(x) for x in g] == list(reversed(window))[: part.k], name
            elif part.op == Op.UNIQUE_COUNT:
                assert int(g) == len(set(window)), name
            elif part.op == Op.COUNT:
                assert int(g) == len(window), name


def test_mixed_exponent_decimals_not_truncated():
    """Decimals of mixed exponent (5 and 2.75) reach the kernels as the
    Decimal rewrite's unscaled int64 at the column's scale, so the integral
    value cannot decide the representation and drop the fraction of the
    other: SUM/MIN/MAX/LAST stay exact, and rescaling gives 7.75, not 7."""
    from decimal import Decimal

    scale = 2
    raw = [Decimal("5"), Decimal("2.75")]
    unscaled = [int(d.scaleb(scale)) for d in raw]
    assert unscaled == [500, 275]
    events = pa.table({"__ts_us": np.array([0, 1], np.int64), "v": pa.array(unscaled, pa.int64())})
    aggs = [Aggregation("v", op) for op in (Op.SUM, Op.MIN, Op.MAX, Op.LAST)]
    parts = GroupBy(keys=["k"], aggregations=aggs).parts()
    got = _compute(events, parts, np.array([2], np.int64), False, False)
    want = {Op.SUM: Decimal("7.75"), Op.MIN: Decimal("2.75"), Op.MAX: Decimal("5"), Op.LAST: Decimal("2.75")}
    for part in parts:
        g = got[part.output_name][0]
        assert isinstance(g, (int, np.integer)), (part.output_name, type(g))
        assert Decimal(int(g)).scaleb(-scale) == want[part.op], (part.output_name, g)
