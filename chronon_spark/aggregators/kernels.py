"""Vectorized range-aggregation kernels for the sawtooth as-of operator.

Given the events of MANY entity keys and Q query timestamps that each carry
their key's code, compute every AggregationPart's value over the half-open
window ``[window_start(q), q)`` (strict ``ts' < ts`` — zero temporal leakage;
the reference's inclusive batch boundary is available via ``include_equal``).
Events live in one composite int64 index ``key_code * block + (ts − base)``
(``MultiKeyEventColumns``, laid out by ``composite_layout``), so one
``searchsorted`` resolves every key's windows at once; a single key is the
all-zero-codes case.

This replaces the reference's row-at-a-time JVM sawtooth
(reference: aggregator/.../windowing/SawtoothAggregator.scala:165-243 — a
sorted-merge two-pointer over queries × events) with numpy prefix scans +
``searchsorted``: O((E+Q)·logE) per batch, fully vectorized. It is the "head
exact" half of the sawtooth; tail hop rounding (Resolution.scala) is the
optional ``sawtooth=True`` mode, and the tiled strategy
(operators/tiles.py) bounds per-key state the way the reference's
BatchIr{collapsed, tailHops} does (SawtoothMutationAggregator.scala:79-110).

Null semantics follow the reference (row/ColumnAggregator.scala): null inputs
are skipped; an empty window yields NULL for every op (including COUNT).

Ops whose per-query work is not expressible as a prefix scan (top_k,
bottom_k, histogram/frequent/heavy-hitters, unique_count, unique_top_k,
approx_percentile) gather every window into ONE flat array per chunk and run
a single segmented lexsort: run-length encoding gives distinct counts and
histograms, boundary gathers give the k-lists, vectorized interpolation the
percentiles. Total work stays O(sum of window sizes · log), but it is one
numpy pass instead of Q python-level loop iterations; `_GATHER_BUDGET`
chunks the queries so the flat gather stays memory-bounded (and tiles bound
window sizes at scale).

Results are typed Arrow on the way out, as the inputs are on the way in:
every kernel returns a ``pa.Array`` of its part's output type. Scalars are
numpy values plus a mask, lists (``_lists``) and maps (``_maps``,
``group_map``) are built from the range lengths as offsets, and list values
are taken from the column's Arrow values by index, never boxed into Python
objects. A NaN in a float result is left to ``nan_to_null``, which
``asof_join.kernel_output`` applies once per feature column.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from chronon_spark.api import AggregationPart, Op
from chronon_spark.resolution import tail_hop_millis

__all__ = ["MultiKeyEventColumns", "composite_layout", "compute_parts_multikey"]

_US_D = 86_400_000_000  # one day in micros — the largest hop size
# every composite index ``code * block + rel_ts`` stays below this bound
COMPOSITE_LIMIT = 2**62


def _is_integral(t: pa.DataType) -> bool:
    return pa.types.is_integer(t) or pa.types.is_boolean(t)


class _ColumnSeries:
    """Non-null, ts-sorted values of one input column (arrays auto-exploded).

    ``ts`` is int64 epoch-micros (composite); ``values`` the matching
    ``pa.Array``. ``vals``, its numpy image, is read only by the ops that
    compute on values, so FIRST/LAST(_K) over a string column never build
    Python strings: they take from ``values``. Built once per (key-group,
    column), shared across all windows/ops on that column.
    """

    __slots__ = ("ts", "_values", "_vals", "_src", "_idx")

    def __init__(self, ts: np.ndarray, values: pa.Array | None):
        self.ts = ts
        self._values = values
        self._vals = None
        self._src: _ColumnSeries | None = None
        self._idx = None

    def take(self, idx: np.ndarray) -> _ColumnSeries:
        """The entries at ``idx``; their values are gathered when first read,
        numpy ones from this series' numpy image."""
        out = _ColumnSeries(self.ts[idx], None)
        out._src, out._idx = self, idx
        return out

    @property
    def type(self) -> pa.DataType:
        return self._src.type if self._values is None else self._values.type

    @property
    def values(self) -> pa.Array:
        if self._values is None:
            self._values = self._src.values.take(self._idx)
        return self._values

    @property
    def vals(self) -> np.ndarray:
        if self._vals is None:
            self._vals = _numpy(self._values) if self._src is None else self._src.vals[self._idx]
        return self._vals

    def bounds(self, q_starts: np.ndarray, q_ends_ts: np.ndarray, side: str) -> tuple[np.ndarray, np.ndarray]:
        """Map query windows to index ranges [s, e) into this column's arrays."""
        s = np.searchsorted(self.ts, q_starts, side="left")
        e = np.searchsorted(self.ts, q_ends_ts, side=side)
        return s, np.maximum(e, s)


class MultiKeyEventColumns:
    """Bucket-wide event store: EVERY key's events in one structure, sorted by
    (key_code, ts, tie_breakers), addressed through a composite int64 index
    ``key_code * block + (ts − base)``.

    Every ``_kernel`` primitive (prefix sums, sparse tables, flat-range
    gathers, per-query slice loops) is range-local, so with per-query [s, e)
    ranges confined to their key's segment the SAME kernels run unchanged
    across all keys of an Arrow batch at once — one searchsorted for the
    whole batch instead of a slice + sort + dispatch per key.

    ``events`` is the batch's ``pa.Table``; ``base`` and ``block`` come from
    ``composite_layout``.
    """

    def __init__(
        self,
        events: pa.Table,
        key_codes: np.ndarray,
        ts_us: np.ndarray,
        tie_breakers: list[str],
        base_ts_us: int,
        block_us: int,
    ):
        self.base = base_ts_us
        self.block = block_us
        # Columns are gathered lazily and per-column: a whole-table take
        # would copy every column, including heavy text payloads the parts
        # never read.
        self._raw = events
        comp = key_codes.astype(np.int64) * block_us + (ts_us - base_ts_us)
        ties = [_numpy(events.column(c)) for c in tie_breakers if c in events.column_names]
        self._order = np.lexsort(tuple(reversed([comp] + ties)))
        self.comp = comp[self._order]
        self._cols: dict[str, _ColumnSeries] = {}

    def _take(self, name: str) -> pa.Array:
        return self._raw.column(name).take(self._order).combine_chunks()

    def is_map(self, name: str) -> bool:
        return pa.types.is_map(self._raw.schema.field(name).type)

    def column(self, name: str) -> _ColumnSeries:
        """Compacted (non-null, arrays exploded) series keyed by composite ts."""
        if name not in self._cols:
            arr, comp = self._take(name), self.comp
            if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
                arr, comp = _explode(arr, comp)
            self._cols[name] = valid_series(arr, comp)
        return self._cols[name]

    def pair(self, name: str, bucket: str) -> tuple[np.ndarray, np.ndarray, pa.Array]:
        """(comp, bucket_strs, vals) where BOTH value and bucket are non-null,
        in composite-ts order — the bucketed ``_grouped_kernel`` input. The
        per-bucket kernels are range-local like everything else, so grouping
        by bucket across ALL keys at once is safe: each query's [s, e) range
        stays inside its key's composite segment."""
        col, bk = self._take(name), self._take(bucket)
        mask = _is_valid(col) & _is_valid(bk)
        keep = pa.array(mask)
        return self.comp[mask], _numpy(bk.filter(keep).cast(pa.string())), col.filter(keep)

    def map_entries(self, name: str) -> tuple[np.ndarray, np.ndarray, pa.Array]:
        """(comp_repeated, map_keys, vals) of every non-null map entry, in
        composite-ts order — the per-map-key ``_grouped_kernel`` input
        (reference: row/MapColumnAggregator.scala, output Map[key -> agg])."""
        entries, comp = _explode(self._take(name), self.comp)
        keys, vals = entries.field(0), entries.field(1)
        mask = _is_valid(vals)
        keep = pa.array(mask)
        return comp[mask], _numpy(keys.filter(keep).cast(pa.string())), vals.filter(keep)


def _numpy(arr) -> np.ndarray:
    """numpy values of an Arrow array (strings and nested values -> object)."""
    return arr.to_numpy(zero_copy_only=False)


def _is_valid(arr: pa.Array) -> np.ndarray:
    if not arr.null_count:
        return np.ones(len(arr), bool)
    return _numpy(arr.is_valid())


def valid_series(arr: pa.Array, comp: np.ndarray) -> _ColumnSeries:
    """The non-null entries of ``arr`` at their composite ts, read from its
    validity bitmap."""
    if arr.null_count:
        comp, arr = comp[_is_valid(arr)], arr.drop_null()
    return _ColumnSeries(comp, arr)


def _explode(arr: pa.Array, comp: np.ndarray) -> tuple[pa.Array, np.ndarray]:
    """Flatten a list column (a map column into its key/value structs),
    repeating each row's composite ts once per element."""
    if pa.types.is_map(arr.type):
        arr = arr.cast(pa.list_(pa.struct([arr.type.key_field, arr.type.item_field])))
    lens = _numpy(pc.list_value_length(arr).fill_null(0))
    return pc.list_flatten(arr), np.repeat(comp, lens)


def composite_layout(q_ts: np.ndarray, r_ts: np.ndarray) -> tuple[int, int]:
    """(base, block) of the composite index ``code * block + (ts − base)``
    over one batch's query and event timestamps. ``base`` is day-aligned so
    sawtooth hop rounding (1d/1h/5m all divide a day) commutes with the
    rebasing; ``block`` exceeds every relative ts so windows clamped to the
    block start never cross into another key."""
    lo = int(min(q_ts.min(), r_ts.min(initial=q_ts.min())))
    hi = int(max(q_ts.max(), r_ts.max(initial=q_ts.max())))
    base = (lo // _US_D) * _US_D
    return base, (hi - base) + 2


def compute_parts_multikey(
    mec: MultiKeyEventColumns,
    parts: list[AggregationPart],
    q_key_codes: np.ndarray,
    q_ts: np.ndarray,
    include_equal: bool = False,
    sawtooth: bool = False,
) -> dict[str, pa.Array]:
    """Compute every AggregationPart for Q query timestamps (int64 micros)
    over MANY keys at once: queries carry their key code (< 0: null key,
    empty windows); window ranges are resolved in composite space.
    Returns {output_name: ``pa.Array`` of length Q, typed as the part's
    output}. Bucketed and map-typed parts run through ``_grouped_kernel`` on
    composite coordinates — the group slicing is per (bucket|map key) across
    ALL entity keys, and each query's range stays inside its key's
    segment."""
    side = "right" if include_equal else "left"
    kc = q_key_codes.astype(np.int64)
    rel_q = q_ts - mec.base
    comp_q = kc * mec.block + rel_q
    # null-key queries (code < 0): empty range regardless
    nullkey = kc < 0
    if nullkey.any():
        comp_q = np.where(nullkey, np.int64(-1), comp_q)
    out: dict[str, pa.Array] = {}
    for part in parts:
        w_us = None if part.window.millis is None else part.window.millis * 1000
        if w_us is None:
            rel_start = np.zeros(len(q_ts), np.int64)
        else:
            abs_start = q_ts - w_us
            if sawtooth:
                hop_us = tail_hop_millis(part.window.millis) * 1000
                abs_start = (abs_start // hop_us) * hop_us
            rel_start = np.maximum(abs_start - mec.base, 0)
        comp_start = np.where(nullkey, np.int64(0), kc * mec.block + rel_start)
        if part.bucket is not None:
            comp_e, bks, bvals = mec.pair(part.input_column, part.bucket)
            out[part.output_name] = _grouped_kernel(part, comp_e, bks, bvals, comp_start, comp_q, side)
            continue
        if mec.is_map(part.input_column):
            comp_rep, mkeys, mvals = mec.map_entries(part.input_column)
            out[part.output_name] = _grouped_kernel(part, comp_rep, mkeys, mvals, comp_start, comp_q, side)
            continue
        cs = mec.column(part.input_column)
        s, e = cs.bounds(comp_start, comp_q, side)
        out[part.output_name] = _kernel(part, cs, s, e)
    return out


# ---------------------------------------------------------------- kernels


def _flat_ranges(starts: np.ndarray, ends: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized concatenation of index ranges [starts_i, ends_i)."""
    lens = (ends - starts).astype(np.int64)
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, np.int64), lens
    offsets = np.repeat(np.cumsum(lens) - lens, lens)
    flat = np.arange(total, dtype=np.int64) - offsets + np.repeat(starts, lens)
    return flat, lens


def _offsets(lens: np.ndarray) -> np.ndarray:
    out = np.zeros(len(lens) + 1, np.int32)
    np.cumsum(lens, out=out[1:])
    return out


def _lists(lens: np.ndarray, values: pa.Array, null: np.ndarray) -> pa.Array:
    """One list per query: consecutive runs of ``values``, ``lens[i]`` long
    for query i; NULL where ``null``."""
    return pa.ListArray.from_arrays(pa.array(_offsets(lens)), values, mask=pa.array(null, pa.bool_()))


def _maps(lens: np.ndarray, keys: pa.Array, items: pa.Array, null: np.ndarray) -> pa.Array:
    """One map per query from consecutive runs of (key, item) entries; a
    NULL map (``null``, always zero entries) takes a null offset, as
    ``MapArray`` has no mask."""
    offsets = pa.array(_offsets(lens), mask=np.append(null, False))
    return pa.MapArray.from_arrays(offsets, keys, items)


def group_map(n_rows: int, groups: np.ndarray, per_group: list[pa.Array]) -> pa.Array:
    """Map[group -> value] per query from one kernel result per group:
    each group's non-null values, keys in ``groups`` order (first
    appearance); NULL where no group has a value."""
    hits = [np.flatnonzero(_is_valid(v)) for v in per_group]
    q_idx = np.concatenate(hits)
    order = np.argsort(q_idx, kind="stable")
    g_idx = np.repeat(np.arange(len(hits)), [len(h) for h in hits])[order]
    items = pa.concat_arrays([v.take(h) for v, h in zip(per_group, hits)]).take(order)
    lens = np.bincount(q_idx, minlength=n_rows)
    return _maps(lens, pa.array(np.asarray(groups)[g_idx], pa.string()), items, lens == 0)


def nan_to_null(arr: pa.Array) -> pa.Array:
    """The engine's NaN rule: a NaN in a float output reads NULL, at any
    depth of a list or map (Spark's pandas conversion did the same)."""
    t = arr.type
    if pa.types.is_floating(t):
        nan = pc.is_nan(arr)
        return pc.if_else(nan, pa.scalar(None, t), arr) if pc.any(nan).as_py() else arr
    if pa.types.is_map(t):
        items = nan_to_null(arr.items)
        if items is arr.items:
            return arr
        child = pa.StructArray.from_arrays([arr.keys, items], fields=[t.key_field, t.item_field])
    elif pa.types.is_list(t):
        child = nan_to_null(arr.values)
        if child is arr.values:
            return arr
    else:
        return arr
    return pa.Array.from_buffers(t, len(arr), arr.buffers()[:2], arr.null_count, arr.offset, [child])


def _prefix(vals: np.ndarray, power: int = 1, shift: float = 0.0) -> np.ndarray:
    v = vals.astype(np.float64) - shift
    if power > 1:
        v = v**power
    out = np.empty(len(v) + 1, np.float64)
    out[0] = 0.0
    np.cumsum(v, out=out[1:])
    return out


def int_range_sum(vals: np.ndarray, s: np.ndarray, e: np.ndarray) -> np.ndarray:
    """Exact int64 sums of ``vals`` over each range [s, e)."""
    p = np.concatenate(([0], np.cumsum(vals.astype(np.int64))))
    return p[e] - p[s]


def _sparse_table(vals: np.ndarray, take_min: bool) -> list[np.ndarray]:
    tables = [vals]
    k = 1
    while (1 << k) <= len(vals):
        prev = tables[-1]
        half = 1 << (k - 1)
        a, b = prev[:-half], prev[half:]
        tables.append(np.where((a <= b) if take_min else (a >= b), a, b))
        k += 1
    return tables


def range_extreme(vals: np.ndarray, s: np.ndarray, e: np.ndarray, take_min: bool) -> np.ndarray:
    """MIN or MAX of ``vals`` over each range [s, e), by sparse table; an
    empty range's slot holds an arbitrary value (the caller masks it)."""
    tables = _sparse_table(vals, take_min)
    n = e - s
    out = np.zeros(len(s), vals.dtype)
    pos = n > 0
    if not pos.any():
        return out
    j = np.zeros(len(s), np.int64)
    j[pos] = np.floor(np.log2(n[pos])).astype(np.int64)
    for jj in np.unique(j[pos]):
        m = pos & (j == jj)
        t = tables[jj]
        a = t[s[m]]
        b = t[e[m] - (1 << jj)]
        out[m] = np.where((a <= b) if take_min else (a >= b), a, b)
    return out


def _moments(cs: _ColumnSeries, s: np.ndarray, e: np.ndarray, upto: int):
    """Range central moments via globally-mean-shifted power prefix sums
    (shift-invariance keeps float64 cancellation in check)."""
    n = (e - s).astype(np.float64)
    shift = float(np.mean(cs.vals)) if len(cs.vals) else 0.0
    p1 = _prefix(cs.vals, 1, shift)
    p2 = _prefix(cs.vals, 2, shift)
    with np.errstate(invalid="ignore", divide="ignore"):
        s1 = p1[e] - p1[s]
        s2 = p2[e] - p2[s]
        mean_d = s1 / n
        m2 = s2 / n - mean_d**2
        res = {"n": n, "mean": mean_d + shift, "m2": np.maximum(m2, 0.0)}
        if upto >= 3:
            p3 = _prefix(cs.vals, 3, shift)
            s3 = p3[e] - p3[s]
            res["m3"] = s3 / n - 3 * mean_d * s2 / n + 2 * mean_d**3
        if upto >= 4:
            p4 = _prefix(cs.vals, 4, shift)
            s4 = p4[e] - p4[s]
            res["m4"] = s4 / n - 4 * mean_d * (p3[e] - p3[s]) / n + 6 * mean_d**2 * s2 / n - 3 * mean_d**4
    return res


def _kernel(part: AggregationPart, cs: _ColumnSeries, s: np.ndarray, e: np.ndarray) -> pa.Array:
    """Compute one AggregationPart over index ranges [s, e) of ``cs``: a
    ``pa.Array`` of the part's output type, NULL for an empty range (and
    where the op has no value, e.g. SKEW under 3 values). Scalars are typed
    values plus a mask; lists and maps take their offsets from the range
    lengths and their values from ``cs.values`` by index."""
    op = part.op
    n = e - s
    empty = n <= 0
    if op == Op.COUNT:
        return pa.array(n.astype(np.int64), mask=empty)
    if op == Op.SUM:
        if _is_integral(cs.type):
            return pa.array(int_range_sum(cs.vals, s, e), pa.int64(), mask=empty)
        p = _prefix(cs.vals)
        return pa.array(p[e] - p[s], pa.float64(), mask=empty)
    if op == Op.AVERAGE:
        p = _prefix(cs.vals)
        with np.errstate(invalid="ignore"):
            avg = np.divide(p[e] - p[s], n, out=np.full(len(n), np.nan), where=n > 0)
        return pa.array(avg, pa.float64(), mask=empty)
    if op in (Op.MIN, Op.MAX):
        return pa.array(range_extreme(cs.vals, s, e, op == Op.MIN), cs.type, mask=empty)
    if op == Op.VARIANCE:
        mo = _moments(cs, s, e, 2)
        return pa.array(mo["m2"], pa.float64(), mask=empty)
    if op == Op.SKEW:
        mo = _moments(cs, s, e, 3)
        with np.errstate(invalid="ignore", divide="ignore"):
            g1 = mo["m3"] / np.power(mo["m2"], 1.5)
        return pa.array(g1, pa.float64(), mask=empty | (n < 3) | (mo["m2"] <= 0))
    if op == Op.KURTOSIS:
        mo = _moments(cs, s, e, 4)
        with np.errstate(invalid="ignore", divide="ignore"):
            g2 = mo["m4"] / (mo["m2"] ** 2) - 3.0
        return pa.array(g2, pa.float64(), mask=empty | (n < 4) | (mo["m2"] <= 0))
    if op in (Op.FIRST, Op.LAST):
        idx = s if op == Op.FIRST else e - 1
        idx = np.clip(idx, 0, max(len(cs.ts) - 1, 0))
        return cs.values.take(pa.array(idx, mask=empty))
    if op == Op.FIRST_K:
        flat, lens = _flat_ranges(s, np.minimum(e, s + part.k))
        return _lists(lens, cs.values.take(flat), empty)
    if op == Op.LAST_K:
        # most-recent-first: gather e-1, e-2, ... down to max(s, e-k)
        lens = (e - np.maximum(s, e - part.k)).astype(np.int64)
        offs = np.repeat(np.cumsum(lens) - lens, lens)
        flat = np.repeat(e - 1, lens) - (np.arange(int(lens.sum()), dtype=np.int64) - offs)
        return _lists(lens, cs.values.take(flat), empty)
    if op == Op.UNIQUE_COUNT or op == Op.APPROX_UNIQUE_COUNT:
        cnt = np.zeros(len(s), np.int64)
        for lo, hi in _query_chunks(n):
            seg, _, vals, _ = _gather_sorted(cs.vals, s[lo:hi], e[lo:hi])
            cnt[lo:hi] = np.bincount(seg[_run_starts(seg, vals)], minlength=hi - lo)
        return pa.array(cnt, mask=empty)
    if op in (Op.TOP_K, Op.BOTTOM_K, Op.UNIQUE_TOP_K):
        # per chunk: the sorted positions to keep, as indices into cs
        klens, picks = [], []
        for lo, hi in _query_chunks(n):
            seg, lens, vals, src = _gather_sorted(cs.vals, s[lo:hi], e[lo:hi])
            if op == Op.UNIQUE_TOP_K:  # distinct values, ascending per seg
                runs = _run_starts(seg, vals)
                seg, src = seg[runs], src[runs]
                lens = np.bincount(seg, minlength=hi - lo).astype(np.int64)
            off = np.cumsum(lens) - lens
            if op == Op.BOTTOM_K:
                idx, kl = _flat_ranges(off, off + np.minimum(lens, part.k))
            else:
                idx, kl = _tail_desc(off, lens, part.k)
            klens.append(kl)
            picks.append(src[idx])
        return _lists(np.concatenate(klens), cs.values.take(np.concatenate(picks)), empty)
    if op in (Op.HISTOGRAM, Op.APPROX_FREQUENT_K, Op.APPROX_HEAVY_HITTERS_K):
        # HISTOGRAM truncates to the k most frequent when k is set (reference
        # finalize-time truncation, SimpleAggregators.scala:303-322);
        # APPROX_FREQUENT_K always keeps k (ItemsSketch is exact at this
        # state size — NO_FALSE_NEGATIVES at fixture scale)
        k = part.k if (part.k or op != Op.HISTOGRAM) else None
        svals = cs.vals.astype(str)
        runs_seg, runs_val, runs_cnt = [], [], []
        for lo, hi in _query_chunks(n):
            seg, _, vals, _ = _gather_sorted(svals, s[lo:hi], e[lo:hi])
            runs = _run_starts(seg, vals)
            runs_seg.append(seg[runs] + lo)
            runs_val.append(vals[runs])
            runs_cnt.append(np.diff(np.append(np.flatnonzero(runs), len(seg))))
        return hist_finalize(
            np.concatenate(runs_seg), np.concatenate(runs_val), np.concatenate(runs_cnt), len(s), k, empty
        )
    if op == Op.APPROX_PERCENTILE:
        qs = np.asarray(part.percentiles, np.float64)
        rows = []
        for lo, hi in _query_chunks(n):
            _, lens, vals, _ = _gather_sorted(cs.vals.astype(np.float64), s[lo:hi], e[lo:hi])
            rows.append(weighted_percentiles(lens, vals, np.ones(len(vals)), qs))
        return percentile_lists(np.concatenate(rows), empty)
    raise NotImplementedError(f"op {op}")


def weighted_percentiles(lens: np.ndarray, vals: np.ndarray, wts: np.ndarray, qs: np.ndarray) -> np.ndarray:
    """(segments x percentiles) estimates over values sorted by (segment,
    value), ``lens[i]`` of them in segment i, each with a weight: value j
    covers ranks [c_{j-1}, c_j) of its segment's cumulative weight c, and
    the estimate interpolates linearly at rank q*(W-1). With unit weights
    this is np.quantile's linear interpolation exactly, so the raw kernel
    and the tiled sketch (weights n/K) share it."""
    m = len(lens)
    cum = np.cumsum(wts)
    idx_end = np.cumsum(lens)
    idx_start = idx_end - lens
    nonz = lens > 0
    w_start = np.zeros(m)
    W = np.zeros(m)
    if len(cum):
        w_start[nonz] = np.where(idx_start[nonz] > 0, cum[idx_start[nonz] - 1], 0.0)
        W[nonz] = cum[idx_end[nonz] - 1] - w_start[nonz]
    top = np.maximum(W - 1, 0)

    def at_rank(r):
        if not len(vals):
            return np.zeros(m)
        idx = np.searchsorted(cum, w_start + np.minimum(r, top), side="right")
        return vals[np.clip(np.clip(idx, idx_start, np.maximum(idx_end - 1, idx_start)), 0, len(vals) - 1)]

    cols = []
    for q in qs:
        t = q * top
        t0 = np.floor(t)
        frac = t - t0
        cols.append(at_rank(t0) * (1 - frac) + at_rank(t0 + 1) * frac)
    return np.stack(cols, axis=1) if cols else np.zeros((m, 0))


def percentile_lists(rows: np.ndarray, null: np.ndarray) -> pa.Array:
    """One list<double> per query from a (queries x percentiles) array;
    NULL where ``null``."""
    lens = np.where(null, 0, rows.shape[1])
    return _lists(lens, pa.array(rows[~null].ravel(), pa.float64()), null)


def hist_finalize(
    run_seg: np.ndarray,
    run_val: np.ndarray,
    run_cnt: np.ndarray,
    n_rows: int,
    k: int | None,
    empty_mask: np.ndarray,
) -> pa.Array:
    """Per-segment value -> count maps from (segment, value, count) runs
    sorted by (segment, value), applying the reference's deterministic
    finalize-time truncation (count desc, value asc;
    SimpleAggregators.scala:303-322); keys stay value-ascending. Shared by
    the raw-event kernel (weight 1 per occurrence) and the tiled path
    (per-tile pre-counted weights)."""
    if k is not None and len(run_seg):
        order = np.lexsort((run_val, -run_cnt, run_seg))
        rank = np.arange(len(order)) - np.searchsorted(run_seg[order], run_seg[order], side="left")
        keep = np.zeros(len(order), bool)
        keep[order[rank < k]] = True
        run_seg, run_val, run_cnt = run_seg[keep], run_val[keep], run_cnt[keep]
    lens = np.bincount(run_seg, minlength=n_rows)
    return _maps(lens, pa.array(run_val, pa.string()), pa.array(run_cnt, pa.int64()), empty_mask)


# chunk budget: bounds the gathered flat array (sum of window sizes) per pass
_GATHER_BUDGET = 8_000_000


def _query_chunks(n: np.ndarray):
    """Yield [lo, hi) query slices whose total window volume stays under the
    gather budget (worst-case Q·W memory is bounded; asymptotics unchanged,
    the win is replacing Q python loops with vectorized passes). Zero
    queries yield one empty slice, so every caller has a typed result."""
    if not len(n):
        yield 0, 0
        return
    cum = np.cumsum(np.maximum(n, 0))
    lo = 0
    while lo < len(n):
        base = cum[lo - 1] if lo else 0
        hi = int(np.searchsorted(cum, base + _GATHER_BUDGET, side="right"))
        hi = max(hi, lo + 1)
        yield lo, min(hi, len(n))
        lo = min(hi, len(n))


def _gather_sorted(vals: np.ndarray, s: np.ndarray, e: np.ndarray):
    """Gather every query's window into one flat array and sort by
    (segment, value): one vectorized lexsort replaces per-query np.sort.
    Returns (seg, lens, sorted values, their indices into ``vals``)."""
    flat, lens = _flat_ranges(s, e)
    seg = np.repeat(np.arange(len(s), dtype=np.int64), lens)
    v = vals[flat]
    order = np.lexsort((v, seg))
    return seg[order], lens, v[order], flat[order]


def _run_starts(seg: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Boolean mask marking the first element of each (segment, value) run."""
    if not len(seg):
        return np.zeros(0, bool)
    first = np.empty(len(seg), bool)
    first[0] = True
    first[1:] = (seg[1:] != seg[:-1]) | (vals[1:] != vals[:-1])
    return first


def _tail_desc(off: np.ndarray, lens: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Per segment of an ascending-sorted flat array: the positions of its
    last min(k, len) values in DESCENDING order (top-k), and their counts."""
    klens = np.minimum(lens, k).astype(np.int64)
    total = int(klens.sum())
    offs = np.repeat(np.cumsum(klens) - klens, klens)
    idx = np.repeat(off + lens - 1, klens) - (np.arange(total, dtype=np.int64) - offs)
    return idx, klens


def _grouped_kernel(
    part: AggregationPart,
    ts: np.ndarray,
    group_vals: np.ndarray,
    vals: pa.Array,
    q_starts: np.ndarray,
    q_ts: np.ndarray,
    side: str,
) -> pa.Array:
    """Run one part's kernel per group value (bucket or map key), assembling
    a ``MapArray`` of group -> aggregate per query (``group_map``); NULL
    when no group has data.

    Group slicing is ONE factorize + stable argsort (within-group ts order
    preserved, so the searchsorted bounds stay valid) instead of a boolean
    scan per group — O(N log N) total where the scan form was O(N·B). Map
    keys follow factorize's first-appearance order, the pd.unique order of
    the scan form."""
    codes, uniques = pd.factorize(group_vals)
    order = np.argsort(codes, kind="stable")
    bounds = np.searchsorted(codes[order], np.arange(len(uniques) + 1))
    ts_s, vals_s = ts[order], vals.take(order)
    per_group = []
    for g in range(len(uniques)):
        lo, hi = int(bounds[g]), int(bounds[g + 1])
        cs = _ColumnSeries(ts_s[lo:hi], vals_s.slice(lo, hi - lo))
        per_group.append(_kernel(part, cs, *cs.bounds(q_starts, q_ts, side)))
    if not per_group:  # no group has data: the item type from an empty run
        nothing = np.zeros(len(q_ts), np.int64)
        per_group.append(_kernel(part, _ColumnSeries(ts_s, vals_s), nothing, nothing))
    return group_map(len(q_ts), uniques, per_group)
