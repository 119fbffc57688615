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


def _is_integral(arr: np.ndarray) -> bool:
    return arr.dtype.kind in ("i", "u", "b")


class _ColumnSeries:
    """Non-null, ts-sorted values of one input column (arrays auto-exploded).

    ``ts`` is int64 epoch-micros; ``vals`` the matching values. Built once per
    (key-group, column), shared across all windows/ops on that column.
    """

    __slots__ = ("ts", "vals")

    def __init__(self, ts: np.ndarray, vals: np.ndarray):
        self.ts = ts
        self.vals = vals

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
            self._cols[name] = _ColumnSeries(*valid_values(arr, comp))
        return self._cols[name]

    def pair(self, name: str, bucket: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(comp, bucket_strs, vals) where BOTH value and bucket are non-null,
        in composite-ts order — the bucketed ``_grouped_kernel`` input. The
        per-bucket kernels are range-local like everything else, so grouping
        by bucket across ALL keys at once is safe: each query's [s, e) range
        stays inside its key's composite segment."""
        col, bk = self._take(name), self._take(bucket)
        mask = _is_valid(col) & _is_valid(bk)
        keep = pa.array(mask)
        return self.comp[mask], _numpy(bk.filter(keep).cast(pa.string())), _numpy(col.filter(keep))

    def map_entries(self, name: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(comp_repeated, map_keys, vals) of every non-null map entry, in
        composite-ts order — the per-map-key ``_grouped_kernel`` input
        (reference: row/MapColumnAggregator.scala, output Map[key -> agg])."""
        entries, comp = _explode(self._take(name), self.comp)
        keys, vals = entries.field(0), entries.field(1)
        mask = _is_valid(vals)
        keep = pa.array(mask)
        return comp[mask], _numpy(keys.filter(keep).cast(pa.string())), _numpy(vals.filter(keep))


def _numpy(arr) -> np.ndarray:
    """numpy values of an Arrow array (strings and nested values -> object)."""
    return arr.to_numpy(zero_copy_only=False)


def _is_valid(arr: pa.Array) -> np.ndarray:
    if not arr.null_count:
        return np.ones(len(arr), bool)
    return _numpy(arr.is_valid())


def valid_values(arr: pa.Array, comp: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(comp, values) of the non-null entries of ``arr``, read from its
    validity bitmap."""
    if arr.null_count:
        comp, arr = comp[_is_valid(arr)], arr.drop_null()
    return comp, _numpy(arr)


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
) -> dict[str, np.ndarray]:
    """Compute every AggregationPart for Q query timestamps (int64 micros)
    over MANY keys at once: queries carry their key code (< 0: null key,
    empty windows); window ranges are resolved in composite space.
    Returns {output_name: object ndarray of length Q}. Bucketed and map-typed
    parts run through ``_grouped_kernel`` on composite coordinates — the
    group slicing is per (bucket|map key) across ALL entity keys, and each
    query's range stays inside its key's segment."""
    side = "right" if include_equal else "left"
    kc = q_key_codes.astype(np.int64)
    rel_q = q_ts - mec.base
    comp_q = kc * mec.block + rel_q
    # null-key queries (code < 0): empty range regardless
    nullkey = kc < 0
    if nullkey.any():
        comp_q = np.where(nullkey, np.int64(-1), comp_q)
    out: dict[str, np.ndarray] = {}
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


def _split_lists(flat_vals: np.ndarray, lens: np.ndarray, empty_is_null: bool = True) -> list:
    # python-list slicing: np.split builds one ndarray view per query (200k
    # allocations on a hot key) — ~10x slower than slicing one materialized list
    if not len(lens):
        return []
    flat = flat_vals.tolist()
    out = []
    pos = 0
    for n in lens.tolist():
        nxt = pos + n
        out.append(None if (empty_is_null and n == 0) else flat[pos:nxt])
        pos = nxt
    return out


def _prefix(vals: np.ndarray, power: int = 1, shift: float = 0.0) -> np.ndarray:
    v = vals.astype(np.float64) - shift
    if power > 1:
        v = v**power
    out = np.empty(len(v) + 1, np.float64)
    out[0] = 0.0
    np.cumsum(v, out=out[1:])
    return out


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


def _sparse_query(tables: list[np.ndarray], s: np.ndarray, e: np.ndarray, take_min: bool) -> np.ndarray:
    out = np.empty(len(s), object)
    n = e - s
    out[n <= 0] = None
    if not len(tables) or not len(tables[0]):
        out[:] = None
        return out
    j = np.zeros(len(s), np.int64)
    pos = n > 0
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


def _masked(vals: np.ndarray, null_mask: np.ndarray) -> np.ndarray:
    out = vals.astype(object)
    out[null_mask] = None
    return out


def _kernel(part: AggregationPart, cs: _ColumnSeries, s: np.ndarray, e: np.ndarray):
    """Compute one AggregationPart over index ranges; returns object ndarray/list."""
    op = part.op
    n = e - s
    empty = n <= 0
    if op in (Op.COUNT,):
        return _masked(n.astype(np.int64), empty)
    if op == Op.SUM:
        if _is_integral(cs.vals):
            p = np.concatenate(([0], np.cumsum(cs.vals.astype(np.int64))))
            return _masked(p[e] - p[s], empty)
        p = _prefix(cs.vals)
        return _masked(p[e] - p[s], empty)
    if op == Op.AVERAGE:
        p = _prefix(cs.vals)
        with np.errstate(invalid="ignore"):
            return _masked(np.divide(p[e] - p[s], n, out=np.full(len(n), np.nan), where=n > 0), empty)
    if op in (Op.MIN, Op.MAX):
        tables = _sparse_table(cs.vals, op == Op.MIN)
        return _sparse_query(tables, s, e, op == Op.MIN)
    if op == Op.VARIANCE:
        mo = _moments(cs, s, e, 2)
        return _masked(mo["m2"], empty)
    if op == Op.SKEW:
        mo = _moments(cs, s, e, 3)
        with np.errstate(invalid="ignore", divide="ignore"):
            g1 = mo["m3"] / np.power(mo["m2"], 1.5)
        return _masked(g1, empty | (n < 3) | (mo["m2"] <= 0))
    if op == Op.KURTOSIS:
        mo = _moments(cs, s, e, 4)
        with np.errstate(invalid="ignore", divide="ignore"):
            g2 = mo["m4"] / (mo["m2"] ** 2) - 3.0
        return _masked(g2, empty | (n < 4) | (mo["m2"] <= 0))
    if op == Op.FIRST:
        idx = np.minimum(s, len(cs.vals) - 1) if len(cs.vals) else s
        return _masked(cs.vals[idx] if len(cs.vals) else np.empty(len(s), object), empty)
    if op == Op.LAST:
        idx = np.maximum(e - 1, 0)
        return _masked(cs.vals[idx] if len(cs.vals) else np.empty(len(s), object), empty)
    if op == Op.FIRST_K:
        flat, lens = _flat_ranges(s, np.minimum(e, s + part.k))
        return _split_lists(cs.vals[flat], lens)
    if op == Op.LAST_K:
        # most-recent-first: gather e-1, e-2, ... down to max(s, e-k)
        starts = np.maximum(s, e - part.k)
        lens = (e - starts).astype(np.int64)
        total = int(lens.sum())
        if total:
            offs = np.repeat(np.cumsum(lens) - lens, lens)
            flat = np.repeat(e - 1, lens) - (np.arange(total, dtype=np.int64) - offs)
            return _split_lists(cs.vals[flat], lens)
        return _split_lists(np.empty(0, object), lens)
    if op == Op.UNIQUE_COUNT or op == Op.APPROX_UNIQUE_COUNT:
        out = np.empty(len(s), object)
        for lo, hi in _query_chunks(n):
            seg, lens, vals = _gather_sorted(cs.vals, s[lo:hi], e[lo:hi])
            runs = _run_starts(seg, vals)
            cnt = np.bincount(seg[runs], minlength=hi - lo)
            out[lo:hi] = _masked(cnt.astype(np.int64), lens <= 0)
        return out
    if op in (Op.TOP_K, Op.BOTTOM_K):
        out = np.empty(len(s), object)
        for lo, hi in _query_chunks(n):
            seg, lens, vals = _gather_sorted(cs.vals, s[lo:hi], e[lo:hi])
            off = np.cumsum(lens) - lens
            if op == Op.BOTTOM_K:
                flat, klens = _flat_ranges(off, off + np.minimum(lens, part.k))
                out[lo:hi] = _obj_array(_split_lists(vals[flat] if len(vals) else vals, klens))
            else:
                out[lo:hi] = _tail_desc(vals, off, lens, part.k)
        return out
    if op in (Op.HISTOGRAM, Op.APPROX_FREQUENT_K, Op.APPROX_HEAVY_HITTERS_K):
        out = np.empty(len(s), object)
        # HISTOGRAM truncates to the k most frequent when k is set (reference
        # finalize-time truncation, SimpleAggregators.scala:303-322);
        # APPROX_FREQUENT_K always keeps k (ItemsSketch is exact at this
        # state size — NO_FALSE_NEGATIVES at fixture scale)
        k = part.k if (part.k or op != Op.HISTOGRAM) else None
        svals = cs.vals.astype(str)
        for lo, hi in _query_chunks(n):
            seg, lens, vals = _gather_sorted(svals, s[lo:hi], e[lo:hi])
            runs = _run_starts(seg, vals)
            run_seg, run_val = seg[runs], vals[runs]
            bounds = np.concatenate([np.flatnonzero(runs), [len(seg)]])
            run_cnt = np.diff(bounds).astype(np.int64)
            out[lo:hi] = hist_finalize(run_seg, run_val, run_cnt, hi - lo, k, lens <= 0)
        return out
    if op == Op.UNIQUE_TOP_K:
        out = np.empty(len(s), object)
        for lo, hi in _query_chunks(n):
            seg, lens, vals = _gather_sorted(cs.vals, s[lo:hi], e[lo:hi])
            runs = _run_starts(seg, vals)
            useg, uvals = seg[runs], vals[runs]  # distinct, ascending per seg
            ulens = np.bincount(useg, minlength=hi - lo).astype(np.int64)
            uoff = np.cumsum(ulens) - ulens
            res = _tail_desc(uvals, uoff, ulens, part.k)
            res[lens <= 0] = None  # distinguish empty window from no values
            out[lo:hi] = res
        return out
    if op == Op.APPROX_PERCENTILE:
        out = np.empty(len(s), object)
        qs = np.asarray(part.percentiles, np.float64)
        for lo, hi in _query_chunks(n):
            seg, lens, vals = _gather_sorted(cs.vals.astype(np.float64), s[lo:hi], e[lo:hi])
            off = (np.cumsum(lens) - lens).astype(np.float64)
            cols = []
            for q in qs:
                # linear interpolation at q*(n-1) — identical to np.quantile
                pos = q * np.maximum(lens - 1, 0)
                fl = np.floor(pos)
                frac = pos - fl
                i0 = np.clip(off + fl, 0, max(len(vals) - 1, 0)).astype(np.int64)
                i1 = np.clip(i0 + 1, 0, max(len(vals) - 1, 0))
                hi_ok = (fl + 1) <= np.maximum(lens - 1, 0)
                v0 = vals[i0] if len(vals) else np.zeros(hi - lo)
                v1 = np.where(hi_ok, vals[i1] if len(vals) else 0.0, v0)
                cols.append(v0 * (1 - frac) + v1 * frac)
            stacked = np.stack(cols, axis=1) if cols else np.zeros((hi - lo, 0))
            out[lo:hi] = _obj_array(
                [None if lens[i] <= 0 else [float(x) for x in stacked[i]] for i in range(hi - lo)]
            )
        return out
    raise NotImplementedError(f"op {op}")


def hist_finalize(
    run_seg: np.ndarray,
    run_val: np.ndarray,
    run_cnt: np.ndarray,
    n_rows: int,
    k: int | None,
    empty_mask: np.ndarray,
) -> np.ndarray:
    """Assemble per-segment value->count dicts from (segment, value, count)
    runs, applying the reference's deterministic finalize-time truncation
    (count desc, value asc; SimpleAggregators.scala:303-322). Shared by the
    raw-event kernel (weight 1 per occurrence) and the tiled path (per-tile
    pre-counted weights)."""
    if k is not None and len(run_seg):
        order = np.lexsort((run_val, -run_cnt, run_seg))
        run_seg, run_val, run_cnt = run_seg[order], run_val[order], run_cnt[order]
        rank = np.arange(len(run_seg)) - np.searchsorted(run_seg, run_seg, side="left")
        keep = rank < k
        run_seg, run_val, run_cnt = run_seg[keep], run_val[keep], run_cnt[keep]
    counts_per_seg = np.bincount(run_seg, minlength=n_rows) if len(run_seg) else np.zeros(n_rows, np.int64)
    cuts = np.cumsum(counts_per_seg)[:-1]
    vs = np.split(run_val, cuts)
    csplit = np.split(run_cnt.astype(np.int64), cuts)
    return _obj_array(
        [
            None if empty_mask[i] else dict(sorted(zip(vs[i].tolist(), csplit[i].tolist())))
            for i in range(n_rows)
        ]
    )


# chunk budget: bounds the gathered flat array (sum of window sizes) per pass
_GATHER_BUDGET = 8_000_000


def _query_chunks(n: np.ndarray):
    """Yield [lo, hi) query slices whose total window volume stays under the
    gather budget (worst-case Q·W memory is bounded; asymptotics unchanged,
    the win is replacing Q python loops with vectorized passes)."""
    if not len(n):
        return
    cum = np.cumsum(np.maximum(n, 0))
    lo = 0
    while lo < len(n):
        base = cum[lo - 1] if lo else 0
        hi = int(np.searchsorted(cum, base + _GATHER_BUDGET, side="right"))
        hi = max(hi, lo + 1)
        yield lo, min(hi, len(n))
        lo = min(hi, len(n))


def _obj_array(items: list) -> np.ndarray:
    """Object ndarray from a python list WITHOUT numpy's 2D broadcast of
    equal-length inner lists."""
    arr = np.empty(len(items), object)
    for i, x in enumerate(items):
        arr[i] = x
    return arr


def _gather_sorted(vals: np.ndarray, s: np.ndarray, e: np.ndarray):
    """Gather every query's window into one flat array and sort by
    (segment, value): one vectorized lexsort replaces per-query np.sort."""
    flat, lens = _flat_ranges(s, e)
    seg = np.repeat(np.arange(len(s), dtype=np.int64), lens)
    v = vals[flat] if len(flat) else vals[:0]
    order = np.lexsort((v, seg))
    return seg[order], lens, v[order]


def _run_starts(seg: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Boolean mask marking the first element of each (segment, value) run."""
    if not len(seg):
        return np.zeros(0, bool)
    first = np.empty(len(seg), bool)
    first[0] = True
    first[1:] = (seg[1:] != seg[:-1]) | (vals[1:] != vals[:-1])
    return first


def _tail_desc(vals: np.ndarray, off: np.ndarray, lens: np.ndarray, k: int) -> np.ndarray:
    """Per segment of an ascending-sorted flat array: the last min(k, len)
    values in DESCENDING order (top-k)."""
    klens = np.minimum(lens, k).astype(np.int64)
    total = int(klens.sum())
    if total == 0:
        return _obj_array(_split_lists(np.empty(0, object), klens))
    offs = np.repeat(np.cumsum(klens) - klens, klens)
    idx = np.repeat(off + lens - 1, klens) - (np.arange(total, dtype=np.int64) - offs)
    return _obj_array(_split_lists(vals[idx], klens))


def _grouped_kernel(
    part: AggregationPart,
    ts: np.ndarray,
    group_vals: np.ndarray,
    vals: np.ndarray,
    q_starts: np.ndarray,
    q_ts: np.ndarray,
    side: str,
) -> np.ndarray:
    """Run one part's kernel per group value (bucket or map key), assembling
    Map[group -> aggregate] per query; NULL when no group has data.

    Group slicing is ONE factorize + stable argsort (within-group ts order
    preserved, so the searchsorted bounds stay valid) instead of a boolean
    scan per group — O(N log N) total where the scan form was O(N·B).
    Dict assembly touches only queries whose kernel value is non-NULL
    (flatnonzero), so sparse buckets cost proportional to their hits, not
    to Q. Group iteration order is factorize's first-appearance order —
    identical to the pd.unique order of the scan form, so map key order
    (and any downstream serialization) is unchanged."""
    res = np.empty(len(q_ts), object)
    res[:] = None
    if not len(ts):
        return res
    codes, uniques = pd.factorize(group_vals)
    order = np.argsort(codes, kind="stable")
    sorted_codes = codes[order]
    bounds = np.searchsorted(sorted_codes, np.arange(len(uniques) + 1))
    ts_s, vals_s = ts[order], vals[order]
    acc: list[dict | None] = [None] * len(q_ts)
    for g in range(len(uniques)):
        lo, hi = int(bounds[g]), int(bounds[g + 1])
        cs = _ColumnSeries(ts_s[lo:hi], vals_s[lo:hi])
        s, e = cs.bounds(q_starts, q_ts, side)
        kv = _kernel(part, cs, s, e)
        key = str(uniques[g])
        # element-wise `kv != None` is unsafe here: list-output kernels put
        # ndarrays in kv, whose __ne__ broadcasts — the stray truthiness let
        # None-valued bucket keys leak into the map for order/extreme ops
        nonnull = np.fromiter((v is not None for v in kv), bool, len(kv))
        for i in np.flatnonzero(nonnull):
            d = acc[i]
            if d is None:
                d = acc[i] = {}
            d[key] = kv[i]
    for i, d in enumerate(acc):
        res[i] = d
    return res
