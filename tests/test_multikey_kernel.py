"""Composite-index (multikey) kernel vs the brute-force oracle
(tests/oracle.py): every op, both boundary modes, sawtooth on/off, nulls,
duplicate timestamps, vector inputs, keys present on only one side, and
batches whose keys do not fit one composite index (the overflow split)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from chronon_spark.aggregators.kernels import (
    _US_D,
    COMPOSITE_LIMIT,
    MultiKeyEventColumns,
    composite_layout,
    compute_parts_multikey,
)
from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.operators.asof_join import composite_apply
from chronon_spark.sources.synth import synth_queries, synth_transcripts
from tests.oracle import _agg_slice, naive_features, pylist

ALL_OPS_GB = GroupBy(
    keys=["conv_id"],
    aggregations=[
        Aggregation("turn_idx", Op.COUNT, windows=("7d", "1h", None)),
        Aggregation("n_chars", Op.SUM, windows=("3d",)),
        Aggregation("n_chars", Op.AVERAGE, windows=("3d",)),
        Aggregation("n_chars", Op.MIN, windows=("3d",)),
        Aggregation("n_chars", Op.MAX, windows=("3d",)),
        Aggregation("n_chars", Op.VARIANCE, windows=("7d",)),
        Aggregation("n_chars", Op.SKEW, windows=("7d",)),
        Aggregation("n_chars", Op.KURTOSIS, windows=("7d",)),
        Aggregation("n_chars", Op.APPROX_PERCENTILE, windows=("7d",), percentiles=(0.25, 0.9)),
        Aggregation("text", Op.FIRST, windows=("7d",)),
        Aggregation("text", Op.LAST, windows=("7d",)),
        Aggregation("text", Op.FIRST_K, windows=("2d",), k=3),
        Aggregation("text", Op.LAST_K, windows=("2d",), k=3),
        Aggregation("n_chars", Op.TOP_K, windows=("7d",), k=2),
        Aggregation("n_chars", Op.BOTTOM_K, windows=("7d",), k=2),
        Aggregation("role", Op.UNIQUE_COUNT, windows=("7d",)),
        Aggregation("role", Op.HISTOGRAM, windows=("7d",)),
        Aggregation("role", Op.UNIQUE_TOP_K, windows=("7d",), k=2),
    ],
    tie_breakers=["turn_idx"],
)


def _multikey(ev, q, parts, include_equal, sawtooth):
    """The kernel over the events as a ``pa.Table`` (nulls in its validity
    bitmaps), keys factorized across queries and events; its typed results
    read back as Python values."""
    joint = pd.concat([q["conv_id"], ev["conv_id"]], ignore_index=True)
    codes = pd.factorize(joint)[0]
    lcodes, rcodes = codes[: len(q)], codes[len(q) :]
    q_ts = q["tus"].to_numpy("int64")
    r_ts = ev["tus"].to_numpy("int64")
    base, block = composite_layout(q_ts, r_ts)
    events = pa.Table.from_pandas(ev, preserve_index=False)
    mec = MultiKeyEventColumns(events, rcodes, r_ts, ["turn_idx"], base, block)
    feats = compute_parts_multikey(mec, parts, lcodes, q_ts, include_equal, sawtooth)
    return {name: pylist(arr) for name, arr in feats.items()}


def _null(x):
    return x is None or (isinstance(x, float) and np.isnan(x))


def _eq(a, b):
    if isinstance(a, dict) or isinstance(b, dict):
        return isinstance(a, dict) and isinstance(b, dict) and a.keys() == b.keys() and all(
            _eq(a[k], b[k]) for k in b
        )
    if isinstance(a, list) or isinstance(b, list):
        return (
            isinstance(a, list) and isinstance(b, list) and len(a) == len(b)
            and all(_eq(x, y) for x, y in zip(a, b))
        )
    if _null(a) or _null(b):
        return _null(a) and _null(b)
    if isinstance(a, str) or isinstance(b, str):
        return a == b
    fa, fb = float(a), float(b)
    return abs(fa - fb) <= 1e-7 + 1e-7 * abs(fb)


@pytest.mark.parametrize(
    "include_equal,sawtooth", [(False, False), (True, False), (False, True), (True, True)]
)
def test_multikey_equals_perkey_all_ops(include_equal, sawtooth):
    """Every op against the per-key brute-force replay
    (tests/oracle.naive_features)."""
    ev = synth_transcripts(n_rows=3000, n_convs=40)
    ev["tus"] = ev["ts"].astype("int64")
    q = synth_queries(ev, n_queries=400)
    q["tus"] = q["ts"].astype("int64")
    # include queries for a key with no events at all
    q = pd.concat(
        [q, pd.DataFrame([{"conv_id": "conv_never", "ts": ev["ts"].iloc[0], "tus": int(ev["tus"].iloc[0])}])],
        ignore_index=True,
    )
    gb = GroupBy(
        keys=ALL_OPS_GB.keys,
        aggregations=ALL_OPS_GB.aggregations,
        tie_breakers=ALL_OPS_GB.tie_breakers,
        include_equal=include_equal,
        sawtooth=sawtooth,
    )
    parts = gb.parts()
    want = naive_features(ev, q[["conv_id", "ts"]], gb)
    got = _multikey(ev, q, parts, include_equal, sawtooth)
    for p in parts:
        for i in range(len(q)):
            a, b = got[p.output_name][i], want[p.output_name].iloc[i]
            assert _eq(a, b), f"{p.output_name} row {i}: multikey={a!r} oracle={b!r}"


def test_multikey_vector_inputs():
    """Array-typed input columns auto-explode: every element of every
    in-window array is one input value."""
    rng = np.random.default_rng(5)
    n = 600
    base = pd.Timestamp("2024-01-01").value // 1000
    ev = pd.DataFrame(
        {
            "conv_id": rng.choice([f"c{i}" for i in range(12)], n),
            "turn_idx": np.arange(n, dtype=np.int32),
            "vals": [
                None if rng.random() < 0.1 else list(rng.integers(0, 50, rng.integers(0, 4)))
                for _ in range(n)
            ],
            "tus": base + rng.integers(0, 10 * _US_D, n),
        }
    )
    q = ev[["conv_id", "tus"]].sample(n=150, random_state=1).reset_index(drop=True)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("vals", Op.SUM, windows=("3d",)),
            Aggregation("vals", Op.COUNT, windows=("3d",)),
        ],
        tie_breakers=["turn_idx"],
        time_column="tus",
    )
    parts = gb.parts()
    got = _multikey(ev, q, parts, False, False)
    for p in parts:
        for i, (key, t) in enumerate(zip(q["conv_id"], q["tus"])):
            m = (ev["conv_id"] == key) & (ev["tus"] < t) & (ev["tus"] >= t - p.window.millis * 1000)
            flat = [x for v in ev.loc[m, "vals"] if v is not None for x in v]
            want = _agg_slice(p, pd.Series(flat, dtype="float64"))
            assert _eq(got[p.output_name][i], want), (p.output_name, i)


SPLIT_GB = GroupBy(
    keys=["k"],
    aggregations=[
        Aggregation("v", Op.COUNT, windows=(None,)),
        Aggregation("v", Op.SUM, windows=("30d", None)),
        Aggregation("v", Op.MIN, windows=(None,)),
        Aggregation("v", Op.LAST_K, windows=(None,), k=2),
    ],
)


def test_overflow_split_matches_oracle():
    """40 keys whose events and queries span ~4,750 years: (40 + 2) * block
    passes COMPOSITE_LIMIT, so composite_apply cuts the batch into runs of
    key codes that fit and runs the same kernel on each. Null-key queries
    ride with the first run and get empty windows."""
    rng = np.random.default_rng(11)
    span = 150_000_000_000_000_000  # µs, ~4,750 years
    n_keys = 40
    ev = pd.DataFrame(
        {
            "k": np.repeat([f"k{i}" for i in range(n_keys)], 6),
            "__ts_us": rng.integers(0, span, n_keys * 6),
            "v": rng.integers(-50, 50, n_keys * 6),
        }
    ).sort_values("__ts_us", ignore_index=True)  # the oracle reads windows in ts order
    q = pd.DataFrame(
        {
            "k": [f"k{i}" for i in rng.integers(0, n_keys + 3, 120)] + [None, None],
            "__ts_us": np.concatenate([rng.integers(0, span, 120), [span // 2, span]]),
        }
    )
    q["qi"] = np.arange(len(q))
    joint = pd.concat([q["k"], ev["k"]], ignore_index=True)
    codes = pd.factorize(joint, use_na_sentinel=True)[0]
    lcodes, rcodes = codes[: len(q)], codes[len(q) :]
    _, block = composite_layout(q["__ts_us"].to_numpy(), ev["__ts_us"].to_numpy())
    assert (codes.max() + 1 + 2) * block > COMPOSITE_LIMIT  # the split is exercised
    parts = SPLIT_GB.parts()
    calls = []

    def batch_kernel(lt, rt, lc, rc, base, block):
        assert (max(lc.max(initial=0), rc.max(initial=0)) + 2) * block <= COMPOSITE_LIMIT
        calls.append(lt.num_rows)
        mec = MultiKeyEventColumns(rt, rc, rt.column("__ts_us").to_numpy(), [], base, block)
        feats = compute_parts_multikey(mec, parts, lc, lt.column("__ts_us").to_numpy())
        for p in parts:
            lt = lt.append_column(p.output_name, feats[p.output_name])
        return lt

    lt = pa.Table.from_pandas(q, preserve_index=False)
    rt = pa.Table.from_pandas(ev, preserve_index=False)
    got = composite_apply(lt, rt, lcodes, rcodes, batch_kernel).to_pandas().set_index("qi")
    assert len(calls) > 1 and sum(calls) == len(q)
    assert sorted(got.index) == list(range(len(q)))
    for i, row in q.iterrows():
        for p in parts:
            m = (ev["k"] == row["k"]) & (ev["__ts_us"] < row["__ts_us"])
            if p.window.millis is not None:
                m &= ev["__ts_us"] >= row["__ts_us"] - p.window.millis * 1000
            want = _agg_slice(p, ev.loc[m, "v"])
            g = got.at[i, p.output_name]
            assert _eq(g.tolist() if isinstance(g, np.ndarray) else g, want), (p.output_name, i)
