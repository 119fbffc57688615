"""Brute-force oracle: O(queries × events) recomputation of every
AggregationPart with plain pandas filtering — deliberately shares no code with
chronon_spark.aggregators.kernels. Port of the reference's oracle pattern
(aggregator/src/test/scala/ai/chronon/aggregator/test/NaiveAggregator.scala:24-56),
with strict `ts' < ts` per BASELINE.json north_rule (include_equal reproduces
the reference's batch `<=`)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

from chronon_spark.api import AggregationPart, GroupBy, Op
from chronon_spark.resolution import tail_hop_millis


def _agg_slice(part: AggregationPart, vals: pd.Series) -> object:
    vals = vals.dropna()
    if len(vals) == 0:
        return None
    v = vals.to_numpy()
    op = part.op
    if op == Op.COUNT:
        return len(v)
    if op == Op.SUM:
        return v.sum()
    if op == Op.AVERAGE:
        return float(np.mean(v.astype(np.float64)))
    if op == Op.MIN:
        return min(v)
    if op == Op.MAX:
        return max(v)
    if op == Op.VARIANCE:
        return float(np.var(v.astype(np.float64)))
    if op == Op.SKEW:
        x = v.astype(np.float64)
        m2, m3 = np.var(x), np.mean((x - x.mean()) ** 3)
        if len(x) < 3 or m2 <= 0:
            return None
        return float(m3 / m2**1.5)
    if op == Op.KURTOSIS:
        x = v.astype(np.float64)
        m2, m4 = np.var(x), np.mean((x - x.mean()) ** 4)
        if len(x) < 4 or m2 <= 0:
            return None
        return float(m4 / m2**2 - 3.0)
    if op == Op.FIRST:
        return v[0]
    if op == Op.LAST:
        return v[-1]
    if op == Op.FIRST_K:
        return list(v[: part.k])
    if op == Op.LAST_K:
        return list(v[-part.k :][::-1])
    if op == Op.TOP_K:
        return list(pd.Series(v).sort_values(ascending=False).head(part.k))
    if op == Op.BOTTOM_K:
        return list(pd.Series(v).sort_values().head(part.k))
    if op in (Op.UNIQUE_COUNT, Op.APPROX_UNIQUE_COUNT):
        return int(pd.Series(v).nunique())
    if op == Op.UNIQUE_TOP_K:
        return list(pd.Series(v).drop_duplicates().sort_values(ascending=False).head(part.k))
    if op == Op.HISTOGRAM:
        return {str(k): int(c) for k, c in pd.Series(v).astype(str).value_counts().items()}
    if op == Op.APPROX_PERCENTILE:
        return [float(x) for x in np.quantile(v.astype(np.float64), list(part.percentiles))]
    raise NotImplementedError(op)


def pylist(arr: pa.Array) -> list:
    """A kernel result (a typed ``pa.Array``) as Python values, maps as
    dicts — the shape ``_agg_slice`` returns."""
    vals = arr.to_pylist()
    if pa.types.is_map(arr.type):
        return [None if v is None else dict(v) for v in vals]
    return vals


def naive_features(
    events: pd.DataFrame,
    queries: pd.DataFrame,
    gb: GroupBy,
    key_mapping: dict[str, str] | None = None,
) -> pd.DataFrame:
    """One output row per query row: left columns + feature columns."""
    key_mapping = key_mapping or {k: k for k in gb.keys}
    ev = events.copy()
    ev["_ts"] = pd.to_datetime(ev[gb.time_column]).astype("datetime64[us]").astype("int64")  # micros
    order = ["_ts"] + [c for c in gb.tie_breakers if c in ev.columns]
    ev = ev.sort_values(order, kind="stable")
    parts = gb.parts()
    out_rows = []
    q = queries.copy()
    q["_ts"] = pd.to_datetime(q["ts"]).astype("datetime64[us]").astype("int64")
    for _, row in q.iterrows():
        feats = {}
        sub = ev
        for lk, rk in key_mapping.items():
            sub = sub[sub[rk] == row[lk]]
        for part in parts:
            if gb.include_equal:
                m = sub["_ts"] <= row["_ts"]
            else:
                m = sub["_ts"] < row["_ts"]
            if part.window.millis is not None:
                start = row["_ts"] - part.window.millis * 1000
                if gb.sawtooth:
                    hop = tail_hop_millis(part.window.millis) * 1000
                    start = (start // hop) * hop
                m = m & (sub["_ts"] >= start)
            win = sub[m]
            if part.bucket is None:
                feats[part.output_name] = _agg_slice(part, win[part.input_column])
            else:
                d = {}
                for bv, g in win.dropna(subset=[part.bucket]).groupby(part.bucket):
                    r = _agg_slice(part, g[part.input_column])
                    if r is not None:
                        d[str(bv)] = r
                feats[part.output_name] = d or None
        out_rows.append({**row.drop("_ts").to_dict(), **feats})
    return pd.DataFrame(out_rows)


def assert_frames_allclose(got: pd.DataFrame, want: pd.DataFrame, sort_by: list[str], atol=1e-5):
    """Reference-style comparison (Comparison.scala:96-119): floats allclose
    at 1e-5, maps as sorted items, everything else exact."""
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    g = got.sort_values(sort_by, kind="stable").reset_index(drop=True)
    w = want.sort_values(sort_by, kind="stable").reset_index(drop=True)
    assert set(g.columns) == set(w.columns), (set(g.columns) ^ set(w.columns))
    for c in w.columns:
        for i in range(len(w)):
            a, b = g[c].iloc[i], w[c].iloc[i]
            assert _eq(a, b, atol), f"col {c} row {i}: engine={a!r} oracle={b!r}\nleft row: {w.iloc[i].to_dict()}"


def _isnull(x) -> bool:
    if x is None:
        return True
    if isinstance(x, (list, np.ndarray, dict)):
        return False
    try:
        return bool(pd.isna(x))
    except (TypeError, ValueError):
        return False


def _eq(a, b, atol) -> bool:
    if _isnull(a) or _isnull(b):
        return _isnull(a) and _isnull(b)
    if isinstance(b, dict):
        return isinstance(a, dict) and sorted(a) == sorted(b) and all(_eq(a[k], b[k], atol) for k in b)
    if isinstance(b, (list, np.ndarray)):
        a = list(a) if a is not None else None
        b = list(b)
        return a is not None and len(a) == len(b) and all(_eq(x, y, atol) for x, y in zip(a, b))
    if isinstance(b, (float, np.floating)) or isinstance(a, (float, np.floating)):
        return bool(np.isclose(float(a), float(b), rtol=0, atol=atol))
    if isinstance(b, (int, np.integer)):
        return int(a) == int(b)
    if isinstance(b, pd.Timestamp):
        return pd.Timestamp(a) == b
    return a == b
