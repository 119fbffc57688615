"""Batch-IR upload + fetch-time merge: the reference's online-serving data
path, re-expressed as Spark batch jobs.

Reference anatomy:
- ``GroupByUpload`` writes, per key at ``batchEndTs``, a
  ``FinalBatchIr{collapsed, tailHops}`` (spark/.../GroupByUpload.scala:43-120,
  schema SawtoothMutationAggregator.scala:30-66): *collapsed* aggregates every
  event in ``[tail_i + tailBuffer, batchEnd)`` for window i
  (tail_i = batchEnd − window; tailBuffer default 2 d), while events inside
  ``(tail_i, tail_i + tailBuffer)`` stay as per-hop tail IRs.
- At fetch time ``SawtoothOnlineAggregator.lambdaAggregateIr``
  (SawtoothOnlineAggregator.scala:86-126) clones the collapsed IR, adds
  streaming rows with ``batchEndTs <= ts < queryTs`` (strict head), and merges
  tail hops with ``hopStart >= round(queryTs − w, hop)``
  (mergeTailHops, SawtoothMutationAggregator.scala:159-184).
- ``ConsistencyJob`` (spark/.../stats/ConsistencyJob.scala:96-154) re-runs the
  offline backfill over logged fetch requests and diffs — our
  ``tests/test_upload_fetch.py`` does exactly that: fetch == sawtooth backfill.

Spark-first shape: the collapsed IRs are ONE whole-stage-codegen
``groupBy(keys)`` with per-part conditional aggregates; tail hops are a
``groupBy(keys, hop)`` over the (narrow) tail-buffer slice collected into a
sorted array per key; the fetch merge is the same cogroup + Arrow kernel
pattern as the as-of join.

Per-op IR shapes (mirroring the reference ColumnAggregator IRs):
- COUNT/SUM/MIN/MAX/AVERAGE        -> scalar partials
- VARIANCE/SKEW/KURTOSIS           -> raw power sums (abelian re-expression
  of the reference's Welford IRs; finalized by central-moment algebra)
- FIRST/LAST/FIRST_K/LAST_K        -> bounded (ts, tie..., value) entry lists
  (the reference's bounded ArrayDeque IRs, SimpleAggregators.scala:200-260);
  requires ``tie_breakers`` for a total order
- TOP_K/BOTTOM_K/UNIQUE_TOP_K      -> k-extreme value lists (pigeonhole-exact)
- UNIQUE_COUNT/APPROX_UNIQUE_COUNT -> distinct-value sets (exact; the CPC
  sketch at SimpleAggregators.scala:499 is the lossy 100 TB variant)
- HISTOGRAM/FREQUENT/HEAVY_HITTERS -> value->count maps (two-level groupBy)
- bucketed SCALAR parts              -> per-bucket partial lists (collapsed +
  per-hop), finalized to Map[bucket -> agg] at fetch
- APPROX_PERCENTILE                  -> quantile-sketch partials (systematic
  samples + uniform weight, shared with operators/tiles.qsk_agg_expr — the
  reference's KLL IR role; exact while nothing compacts, rank error bounded
  by volume/512 otherwise)
NOT uploadable: bucketed non-scalar ops.

Valid fetch range: ``batchEndTs <= queryTs < batchEndTs + tailBuffer`` (after
that the reference re-uploads a fresh batch; we assert the same contract).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from chronon_spark.api import GroupBy, Op
from chronon_spark.operators.asof_join import coarse_bucket_count, ensure_ts_us, hash_bucket
from chronon_spark.resolution import tail_hop_millis
from chronon_spark.types import part_output_type

_SCALAR_OPS = {Op.COUNT, Op.SUM, Op.MIN, Op.MAX, Op.AVERAGE}
_MOMENT_OPS = {Op.VARIANCE, Op.SKEW, Op.KURTOSIS}
_ORDER_OPS = {Op.FIRST, Op.LAST, Op.FIRST_K, Op.LAST_K}
_EXTREME_OPS = {Op.TOP_K, Op.BOTTOM_K, Op.UNIQUE_TOP_K}
_SET_OPS = {Op.UNIQUE_COUNT, Op.APPROX_UNIQUE_COUNT}
_HIST_OPS = {Op.HISTOGRAM, Op.APPROX_FREQUENT_K, Op.APPROX_HEAVY_HITTERS_K}

UPLOAD_OPS = (
    _SCALAR_OPS | _MOMENT_OPS | _ORDER_OPS | _EXTREME_OPS | _SET_OPS | _HIST_OPS | {Op.APPROX_PERCENTILE}
)
TAIL_BUFFER_MS = 2 * 86_400_000  # reference default: Window(2, DAYS)

_TS_US = "__ts_us"


def _check(gb: GroupBy) -> list:
    parts = gb.parts()
    bad = [p.op for p in parts if p.op not in UPLOAD_OPS]
    if bad:
        raise ValueError(f"batch-IR upload supports {sorted(o.value for o in UPLOAD_OPS)}; got {bad}")
    bad_bk = [p.op for p in parts if p.bucket and p.op not in _SCALAR_OPS]
    if bad_bk:
        raise ValueError(
            f"bucketed batch-IR upload supports scalar ops {sorted(o.value for o in _SCALAR_OPS)}; got {bad_bk}"
        )
    if not gb.sawtooth:
        raise ValueError("batch-IR upload requires sawtooth=True (hop-rounded window tails)")
    if any(p.op in _ORDER_OPS for p in parts) and not gb.tie_breakers:
        raise ValueError("first/last(_k) IRs need tie_breakers for a total event order")
    return parts


def _pow_upto(op: Op) -> int:
    return 2 if op == Op.VARIANCE else (3 if op == Op.SKEW else 4)


def _entry_k(p) -> int:
    return 1 if p.op in (Op.FIRST, Op.LAST) else int(p.k)


def build_batch_irs(
    events: DataFrame,
    gb: GroupBy,
    batch_end_ts_us: int,
    tail_buffer_ms: int = TAIL_BUFFER_MS,
) -> DataFrame:
    """One row per key: per-part collapsed IR columns ``__c{i}_*`` plus a
    time-sorted tail-hop array ``__tails_{i}`` whose struct carries the
    part's IR family (scalar stats / power sums / entry lists / value lists /
    value-count maps)."""
    parts = _check(gb)
    _check_alignment(parts, batch_end_ts_us)
    # the serving IR path has no Decimal rewrite (aggregators/decimal.py is
    # a batch as-of concern); a fractional decimal would silently round
    # through the float64 IR columns — refuse with the exact alternatives
    dec_bad = sorted(
        {
            f.name
            for f in events.schema.fields
            if f.name in {p.input_column for p in parts}
            and isinstance(f.dataType, T.DecimalType)
            and not (f.dataType.scale == 0 and f.dataType.precision <= 18)
        }
    )
    if dec_bad:
        raise ValueError(
            f"batch-IR upload does not support fractional DECIMAL inputs {dec_bad} — "
            "project to DECIMAL(p,0) (exact unscaled) or DOUBLE in the source query"
        )
    buf_us = tail_buffer_ms * 1000
    ev = ensure_ts_us(events, gb.time_column).where(F.col(_TS_US) < batch_end_ts_us)
    for k in gb.keys:
        ev = ev.where(F.col(k).isNotNull())
    tie_cols = [t for t in gb.tie_breakers if t in events.columns and t not in gb.keys]

    def entry_struct(c: str, cond):
        fields = [F.col(_TS_US).alias("t")]
        fields += [F.col(t).alias(f"b{i}") for i, t in enumerate(tie_cols)]
        fields.append(F.col(c).alias("v"))
        return F.when(cond & F.col(c).isNotNull(), F.struct(*fields))

    # collapsed: one conditional-aggregate pass (whole-stage codegen, map-side
    # combine — the 100 TB bulk of history reduces to one row per key here)
    aggs = []
    hist_parts: list[tuple[int, object]] = []
    bucket_parts: list[tuple[int, object]] = []
    for i, p in enumerate(parts):
        c = F.col(p.input_column)
        if p.window.millis is None:
            cond = F.lit(True)
        else:
            tail = batch_end_ts_us - p.window.millis * 1000
            cond = F.col(_TS_US) >= F.lit(tail + buf_us)
        val = F.when(cond, c)
        if p.bucket:
            bucket_parts.append((i, cond))
            continue  # per-bucket IRs built below (two-level agg)
        if p.op in (Op.COUNT, Op.SUM, Op.AVERAGE) or p.op in _MOMENT_OPS:
            aggs.append(F.count(val).alias(f"__c{i}_cnt"))
        if p.op in (Op.SUM, Op.AVERAGE) or p.op in _MOMENT_OPS:
            aggs.append(F.sum(val.cast("double")).alias(f"__c{i}_sm"))
        if p.op == Op.MIN:
            aggs.append(F.min(val).alias(f"__c{i}_mn"))
        if p.op == Op.MAX:
            aggs.append(F.max(val).alias(f"__c{i}_mx"))
        if p.op in _MOMENT_OPS:
            for pw in range(2, _pow_upto(p.op) + 1):
                aggs.append(F.sum(F.pow(val.cast("double"), F.lit(pw))).alias(f"__c{i}_p{pw}"))
        if p.op in (Op.FIRST, Op.FIRST_K):
            aggs.append(
                F.slice(F.sort_array(F.collect_list(entry_struct(p.input_column, cond))), 1, _entry_k(p)).alias(
                    f"__c{i}_ent"
                )
            )
        if p.op in (Op.LAST, Op.LAST_K):
            aggs.append(
                F.slice(
                    F.sort_array(F.collect_list(entry_struct(p.input_column, cond)), asc=False), 1, _entry_k(p)
                ).alias(f"__c{i}_ent")
            )
        if p.op == Op.TOP_K:
            aggs.append(F.slice(F.sort_array(F.collect_list(val), asc=False), 1, p.k).alias(f"__c{i}_ext"))
        if p.op == Op.BOTTOM_K:
            aggs.append(F.slice(F.sort_array(F.collect_list(val)), 1, p.k).alias(f"__c{i}_ext"))
        if p.op == Op.UNIQUE_TOP_K:
            aggs.append(F.slice(F.sort_array(F.collect_set(val), asc=False), 1, p.k).alias(f"__c{i}_ext"))
        if p.op in _SET_OPS:
            aggs.append(F.collect_set(val).alias(f"__c{i}_set"))
        if p.op == Op.APPROX_PERCENTILE:
            from chronon_spark.operators.tiles import qsk_agg_expr

            aggs.append(qsk_agg_expr(val, 512).alias(f"__c{i}_qsk"))
        if p.op in _HIST_OPS:
            hist_parts.append((i, cond))
    if not aggs:  # every part bucketed: keep a row-count anchor
        aggs = [F.count(F.lit(1)).alias("__ir_rows")]
    out = ev.groupBy(*gb.keys).agg(*aggs)
    for i, cond in bucket_parts:
        p = parts[i]
        c, b = p.input_column, p.bucket
        st_aggs, st_fields = _bucket_scalar_aggs(p, F.col(c))
        bk = (
            ev.where(cond & F.col(c).isNotNull() & F.col(b).isNotNull())
            .select(*gb.keys, F.col(b).cast("string").alias("__b"), c)
            .groupBy(*gb.keys, "__b")
            .agg(*st_aggs)
            .groupBy(*gb.keys)
            .agg(F.collect_list(F.struct("__b", *st_fields)).alias(f"__c{i}_bk"))
        )
        out = out.join(bk, on=gb.keys, how="full")
    for i, cond in hist_parts:
        c = parts[i].input_column
        vc = (
            ev.where(cond & F.col(c).isNotNull())
            .select(*gb.keys, F.col(c).cast("string").alias("__v"))
            .groupBy(*gb.keys, "__v")
            .agg(F.count("*").alias("__n"))
            .groupBy(*gb.keys)
            .agg(F.collect_list(F.struct("__v", "__n")).alias(f"__c{i}_hist"))
        )
        out = out.join(vc, on=gb.keys, how="full")

    # tail hops: ONE slice scan + ONE two-level aggregation PER HOP SIZE —
    # a per-part pipeline would re-scan the tail slice P times (at 100 TB
    # each scan is multi-TB of IO and its own shuffle); per-part tail ranges
    # [tail_i, tail_i + buffer) are enforced with conditional aggregates
    # inside the shared groupBy instead. hist/bucket parts keep their
    # dedicated (key, hop, value) pipelines (they need an extra level).
    hop_groups: dict[int, list[int]] = {}
    for i, p in enumerate(parts):
        if p.window.millis is None:
            out = out.withColumn(f"__tails_{i}", F.lit(None).cast(_tail_type()))
            continue
        hop_us = tail_hop_millis(p.window.millis) * 1000
        tail = batch_end_ts_us - p.window.millis * 1000
        c = F.col(p.input_column)
        # >= tail: an event exactly at batchEnd - window must land in the tail
        # hops (collapsed starts at tail + buf), or fetch undercounts vs the
        # sawtooth backfill whose hop-rounded window start is inclusive;
        # hops below a query's rounded wstart are filtered at fetch time
        if p.bucket or p.op in _HIST_OPS:
            sl = ev.where(
                (F.col(_TS_US) >= tail) & (F.col(_TS_US) < min(tail + buf_us, batch_end_ts_us))
            ).withColumn("__hop", (F.col(_TS_US) / F.lit(hop_us)).cast("long") * F.lit(hop_us))
            if p.bucket:
                st_aggs, st_fields = _bucket_scalar_aggs(p, c)
                hops = (
                    sl.where(c.isNotNull() & F.col(p.bucket).isNotNull())
                    .select(*gb.keys, "__hop", F.col(p.bucket).cast("string").alias("__b"), p.input_column)
                    .groupBy(*gb.keys, "__hop", "__b")
                    .agg(*st_aggs)
                    .groupBy(*gb.keys, "__hop")
                    .agg(F.collect_list(F.struct("__b", *st_fields)).alias("bent"))
                    .groupBy(*gb.keys)
                    .agg(
                        F.sort_array(F.collect_list(F.struct(F.col("__hop").alias("hop"), "bent"))).alias(
                            f"__tails_{i}"
                        )
                    )
                )
            else:
                hops = (
                    sl.where(c.isNotNull())
                    .select(*gb.keys, "__hop", c.cast("string").alias("__v"))
                    .groupBy(*gb.keys, "__hop", "__v")
                    .agg(F.count("*").alias("__n"))
                    .groupBy(*gb.keys, "__hop")
                    .agg(F.collect_list(F.struct("__v", "__n")).alias("hmap"))
                    .groupBy(*gb.keys)
                    .agg(
                        F.sort_array(F.collect_list(F.struct(F.col("__hop").alias("hop"), "hmap"))).alias(
                            f"__tails_{i}"
                        )
                    )
                )
            out = out.join(hops, on=gb.keys, how="full")
            continue
        hop_groups.setdefault(hop_us, []).append(i)

    for hop_us, idxs in hop_groups.items():
        tails = {i: batch_end_ts_us - parts[i].window.millis * 1000 for i in idxs}
        lo = min(tails.values())
        hi = min(max(tails.values()) + buf_us, batch_end_ts_us)
        sl = ev.where((F.col(_TS_US) >= lo) & (F.col(_TS_US) < hi)).withColumn(
            "__hop", (F.col(_TS_US) / F.lit(hop_us)).cast("long") * F.lit(hop_us)
        )
        lvl1: list = []  # per-part partial aggregates over (keys, hop)
        lvl2: list = []  # per-part (presence cond, hop-entry struct) builders
        for i in idxs:
            p = parts[i]
            c = F.col(p.input_column)
            cond = (F.col(_TS_US) >= tails[i]) & (
                F.col(_TS_US) < min(tails[i] + buf_us, batch_end_ts_us)
            )
            val = F.when(cond, c)
            pre = f"__t{i}_"
            if p.op in _ORDER_OPS:
                asc = p.op in (Op.FIRST, Op.FIRST_K)
                lvl1.append(
                    F.slice(
                        F.sort_array(F.collect_list(entry_struct(p.input_column, cond)), asc=asc),
                        1,
                        _entry_k(p),
                    ).alias(f"{pre}ent")
                )
                stat_names = [f"{pre}ent"]
                present = F.size(F.col(f"{pre}ent")) > 0
            elif p.op in _EXTREME_OPS:
                coll = F.collect_set(val) if p.op == Op.UNIQUE_TOP_K else F.collect_list(val)
                lvl1.append(
                    F.slice(F.sort_array(coll, asc=p.op == Op.BOTTOM_K), 1, p.k).alias(f"{pre}ext")
                )
                stat_names = [f"{pre}ext"]
                present = F.size(F.col(f"{pre}ext")) > 0
            elif p.op in _SET_OPS:
                lvl1.append(F.collect_set(val).alias(f"{pre}st"))
                stat_names = [f"{pre}st"]
                present = F.size(F.col(f"{pre}st")) > 0
            elif p.op == Op.APPROX_PERCENTILE:
                from chronon_spark.operators.tiles import qsk_agg_expr

                lvl1.append(qsk_agg_expr(val, 512).alias(f"{pre}qsk"))
                stat_names = [f"{pre}qsk"]
                present = F.col(f"{pre}qsk").isNotNull()
            elif p.op in _MOMENT_OPS:
                lvl1.append(F.count(val).alias(f"{pre}cnt"))
                lvl1.append(F.sum(val.cast("double")).alias(f"{pre}sm"))
                lvl1 += [
                    F.sum(F.pow(val.cast("double"), F.lit(pw))).alias(f"{pre}p{pw}")
                    for pw in range(2, _pow_upto(p.op) + 1)
                ]
                stat_names = [f"{pre}cnt", f"{pre}sm"] + [
                    f"{pre}p{pw}" for pw in range(2, _pow_upto(p.op) + 1)
                ]
                present = F.col(f"{pre}cnt") > 0
            else:
                lvl1 += [
                    F.count(val).alias(f"{pre}cnt"),
                    F.sum(val.cast("double")).alias(f"{pre}sm"),
                    F.min(val.cast("double")).alias(f"{pre}mn"),
                    F.max(val.cast("double")).alias(f"{pre}mx"),
                ]
                stat_names = [f"{pre}cnt", f"{pre}sm", f"{pre}mn", f"{pre}mx"]
                present = F.col(f"{pre}cnt") > 0
            lvl2.append((i, present, stat_names))
        per_hop = sl.groupBy(*gb.keys, "__hop").agg(*lvl1)
        # collect_list drops nulls: a (key, hop) row where THIS part saw no
        # in-range values contributes no tail entry (same as the old per-part
        # pipeline, whose slice filter kept the row out entirely)
        hops = per_hop.groupBy(*gb.keys).agg(
            *[
                F.sort_array(
                    F.collect_list(
                        F.when(
                            present,
                            F.struct(
                                F.col("__hop").alias("hop"),
                                *[F.col(n).alias(n[len(f"__t{i}_") :]) for n in stat_names],
                            ),
                        )
                    )
                ).alias(f"__tails_{i}")
                for i, present, stat_names in lvl2
            ]
        )
        out = out.join(hops, on=gb.keys, how="full")
    return out


def _bucket_scalar_aggs(p, c):
    """Scalar partial exprs + struct field names for one bucketed part."""
    st_aggs = [F.count(c).alias("cnt")]
    st_fields = ["cnt"]
    if p.op in (Op.SUM, Op.AVERAGE):
        st_aggs.append(F.sum(c.cast("double")).alias("sm"))
        st_fields.append("sm")
    if p.op == Op.MIN:
        st_aggs.append(F.min(c.cast("double")).alias("mn"))
        st_fields.append("mn")
    if p.op == Op.MAX:
        st_aggs.append(F.max(c.cast("double")).alias("mx"))
        st_fields.append("mx")
    return st_aggs, st_fields


def _check_alignment(parts, batch_end_ts_us: int) -> None:
    """tail_i = batchEnd − window must sit on a hop boundary, or collapsed
    events leak relative to the hop-rounded window start. In the reference's
    deployment batchEnd is a midnight partition boundary and windows are whole
    hours/days, which guarantees this — we assert instead of assuming."""
    for p in parts:
        if p.window.millis is None:
            continue
        hop_us = tail_hop_millis(p.window.millis) * 1000
        if (batch_end_ts_us - p.window.millis * 1000) % hop_us:
            raise ValueError(
                f"window {p.window.spec}: batch_end - window not aligned to its {hop_us}us hop"
            )


def _tail_type() -> T.ArrayType:
    return T.ArrayType(
        T.StructType(
            [
                T.StructField("hop", T.LongType()),
                T.StructField("cnt", T.LongType()),
                T.StructField("sm", T.DoubleType()),
                T.StructField("mn", T.DoubleType()),
                T.StructField("mx", T.DoubleType()),
            ]
        )
    )


def fetch_features(
    queries: DataFrame,
    batch_irs: DataFrame,
    streaming: DataFrame,
    gb: GroupBy,
    batch_end_ts_us: int,
    left_time_column: str = "ts",
    tail_buffer_ms: int = TAIL_BUFFER_MS,
) -> DataFrame:
    """Batch-simulated online fetch: for every query row (key, ts), merge its
    key's batch IR + tail hops + streaming rows into final feature values —
    ``lambdaAggregateIr`` (SawtoothOnlineAggregator.scala:86-126) as a cogroup
    kernel. Strict head (``rowTs < queryTs``), exactly the engine default.

    Scalar/moment merges are vectorized across a key's queries; collection
    merges (entry lists, sets, histograms) walk tail hops per query — the
    serving-path shape, where a key's hop count is bounded by window/hop and
    the candidate lists are k-bounded."""
    parts = _check(gb)
    _check_alignment(parts, batch_end_ts_us)
    # valid range is [batchEnd, batchEnd + tailBuffer): beyond the buffer the
    # collapsed IR still contains events OLDER than the query's window start,
    # so results would be silently wrong — reject, mirroring the reference's
    # GroupByServingInfo valid-range contract
    valid_end_us = batch_end_ts_us + tail_buffer_ms * 1000

    st = ensure_ts_us(streaming, gb.time_column).where(F.col(_TS_US) >= batch_end_ts_us)
    for k in gb.keys:
        st = st.where(F.col(k).isNotNull())
    tie_cols = [t for t in gb.tie_breakers if t in streaming.columns and t not in gb.keys]
    in_cols = sorted(
        {p.input_column for p in parts} | set(tie_cols) | {p.bucket for p in parts if p.bucket}
    )
    st = st.select(*gb.keys, _TS_US, *in_cols).withColumn("__is_ir", F.lit(False))

    ir_cols = [c for c in batch_irs.columns if c.startswith("__c") or c.startswith("__tails_")]
    # dtypes once per frame, null columns in one projection: .dtypes analyzes
    # the (deep, multi-join) IR plan on the driver, and a withColumn chain
    # re-analyzes it per column — O(cols) analyzer passes of a plan whose
    # analysis is itself O(plan size)
    st_types = dict(st.dtypes)
    ir_types = dict(batch_irs.dtypes)
    ir = batch_irs.withColumns(
        {
            _TS_US: F.lit(-1).cast("long"),
            "__is_ir": F.lit(True),
            **{c: F.lit(None).cast(st_types[c]) for c in in_cols},
        }
    )
    st_u = st.withColumns({c: F.lit(None).cast(ir_types[c]) for c in ir_cols})
    order = gb.keys + [_TS_US, "__is_ir"] + in_cols + ir_cols
    union = ir.select(*order).unionByName(st_u.select(*order))
    union = union.select(*[F.col(c).alias(f"__r_{c}") for c in union.columns])

    l = ensure_ts_us(queries, left_time_column)
    left_cols = [f.name for f in queries.schema.fields]
    right_types = {f.name: f.dataType for f in streaming.schema.fields}
    feat_fields = [
        T.StructField(p.output_name, part_output_type(p, right_types[p.input_column]), True)
        for p in parts
    ]
    out_schema = T.StructType(list(queries.schema.fields) + feat_fields)
    feat_names = [f.name for f in feat_fields]
    part_list = list(parts)
    integral = [isinstance(part_output_type(p, right_types[p.input_column]), T.LongType) for p in parts]

    def one_key(q_ts: np.ndarray, ir_rec: dict | None, sidx: np.ndarray, SG: dict) -> dict:
        """Merge ONE key's batch IR + tail hops + stream rows for its queries.

        All pandas work (sort, null masks, column extraction) happened once
        per Arrow batch in ``fn``; this kernel only slices the batch-global
        numpy arrays in ``SG`` with this key's stream positions ``sidx`` —
        per-key pandas ops were the serving fetch's dominant cost (profiled:
        dropna/sort_values/__getitem__ × keys ≫ the merge math itself)."""

        def _c(name):
            v = ir_rec.get(name) if ir_rec is not None else None
            return v if v is not None and not (np.isscalar(v) and pd.isna(v)) else None

        def _lst(v):
            return list(v) if isinstance(v, (list, np.ndarray)) else []

        ts_k = SG["ts"][sidx]
        out: dict = {}
        for i, (p, fname) in enumerate(zip(part_list, feat_names)):
            col = p.input_column
            # streaming slice per query: [max(batchEnd, window_start), q)
            m = SG["ok"][col][sidx]
            s_ts = ts_k[m]
            s_raw = SG["raw"][col][sidx][m].tolist()
            if p.window.millis is None:
                wstart = np.full(len(q_ts), -(2**62), "int64")
            else:
                hop_us = tail_hop_millis(p.window.millis) * 1000
                wstart = ((q_ts - p.window.millis * 1000) // hop_us) * hop_us
            ss = np.searchsorted(s_ts, np.maximum(wstart, batch_end_ts_us), side="left")
            se = np.maximum(np.searchsorted(s_ts, q_ts, side="left"), ss)

            # tail hops relevant per query: hop >= wstart (upper bound already
            # enforced at build: hop < tail + buffer). Tail entries stay a
            # plain list of dicts — a pd.DataFrame per (key, part) costs more
            # than the whole merge at serving-path key counts
            tails_raw = _c(f"__tails_{i}")
            tl_list = (
                list(tails_raw) if isinstance(tails_raw, (list, np.ndarray)) and len(tails_raw) else []
            )
            t_hop = np.fromiter((e["hop"] for e in tl_list), "int64", len(tl_list))
            ti = np.searchsorted(t_hop, wstart, side="left")  # tails sorted by hop
            # upper bound: tails/tiles whose hop starts at/after the query ts
            # are excluded — a no-op for batch tails (all < batchEnd <= q) but
            # required once streaming tiles are merged in (fetch_features_tiled)
            te = np.maximum(np.searchsorted(t_hop, q_ts, side="left"), ti)

            def _tcol(colname):
                return [e.get(colname) for e in tl_list]

            def _tail_sum(colname):
                vals = np.fromiter(
                    (np.nan if e.get(colname) is None else float(e[colname]) for e in tl_list),
                    "float64",
                    len(tl_list),
                )
                cs = np.concatenate([[0.0], np.nancumsum(vals)])
                return cs[te] - cs[ti]

            c_cnt = float(_c(f"__c{i}_cnt")) if _c(f"__c{i}_cnt") is not None else 0.0

            if p.bucket is not None:
                # Map[bucket -> scalar]: collapsed per-bucket partials + tail
                # per-(hop, bucket) partials + bucket-masked stream rows,
                # merged per query in the serving-path loop
                mb = m & SG["ok"][p.bucket][sidx]
                b_ts = ts_k[mb]
                bv = SG["raw"][col][sidx][mb]
                b_vals = bv.astype("float64") if len(bv) else np.empty(0)
                b_bk = [str(x) for x in SG["raw"][p.bucket][sidx][mb]]
                bss = np.searchsorted(b_ts, np.maximum(wstart, batch_end_ts_us), side="left")
                bse = np.maximum(np.searchsorted(b_ts, q_ts, side="left"), bss)
                hop_bents = _tcol("bent")
                c_bk = {
                    e["__b"]: [e.get("cnt") or 0, e.get("sm"), e.get("mn"), e.get("mx")]
                    for e in _lst(_c(f"__c{i}_bk"))
                }
                ot = part_output_type(p, right_types[col])
                intg = isinstance(getattr(ot, "valueType", ot), T.LongType)

                def _bmerge(dst, bname, cnt0, sm0, mn0, mx0):
                    cur = dst.get(bname)
                    if cur is None:
                        dst[bname] = [cnt0, sm0, mn0, mx0]
                        return
                    cur[0] += cnt0
                    if sm0 is not None:
                        cur[1] = sm0 if cur[1] is None else cur[1] + sm0
                    if mn0 is not None:
                        cur[2] = mn0 if cur[2] is None else min(cur[2], mn0)
                    if mx0 is not None:
                        cur[3] = mx0 if cur[3] is None else max(cur[3], mx0)

                vals_out = []
                for j in range(len(q_ts)):
                    agg = {bn: list(st) for bn, st in c_bk.items()}
                    for h in range(int(ti[j]), int(te[j])):
                        for e in _lst(hop_bents[h]):
                            _bmerge(agg, e["__b"], e.get("cnt") or 0, e.get("sm"), e.get("mn"), e.get("mx"))
                    for idx in range(int(bss[j]), int(bse[j])):
                        v = float(b_vals[idx])
                        _bmerge(agg, b_bk[idx], 1, v, v, v)
                    m = {}
                    for bn, (cnt0, sm0, mn0, mx0) in agg.items():
                        if cnt0 <= 0:
                            continue
                        if p.op == Op.COUNT:
                            m[bn] = int(cnt0)
                        elif p.op == Op.SUM:
                            m[bn] = int(round(sm0)) if intg else float(sm0)
                        elif p.op == Op.AVERAGE:
                            m[bn] = float(sm0 / cnt0)
                        elif p.op == Op.MIN:
                            m[bn] = int(round(mn0)) if intg else float(mn0)
                        else:
                            m[bn] = int(round(mx0)) if intg else float(mx0)
                    vals_out.append(m or None)
                out[fname] = vals_out
            elif p.op in (Op.COUNT, Op.SUM, Op.AVERAGE) or p.op in _MOMENT_OPS:
                s_vals = np.asarray(s_raw, dtype="float64") if s_raw else np.empty(0)
                n = c_cnt + _tail_sum("cnt") + (se - ss)
                if p.op == Op.COUNT:
                    out[fname] = [None if v <= 0 else int(v) for v in n]
                    continue
                c_sm = float(_c(f"__c{i}_sm")) if _c(f"__c{i}_sm") is not None else 0.0
                scs = np.concatenate([[0.0], np.cumsum(s_vals)])
                total = c_sm + _tail_sum("sm") + (scs[se] - scs[ss])
                if p.op == Op.SUM:
                    out[fname] = [
                        None if nv <= 0 else (int(round(v)) if integral[i] else float(v))
                        for v, nv in zip(total, n)
                    ]
                elif p.op == Op.AVERAGE:
                    out[fname] = [None if nv <= 0 else float(v / nv) for v, nv in zip(total, n)]
                else:
                    # moments: merged raw power sums -> central-moment algebra
                    upto = _pow_upto(p.op)
                    S = {1: total}
                    for pw in range(2, upto + 1):
                        c_p = float(_c(f"__c{i}_p{pw}")) if _c(f"__c{i}_p{pw}") is not None else 0.0
                        pcs = np.concatenate([[0.0], np.cumsum(s_vals**pw)])
                        S[pw] = c_p + _tail_sum(f"p{pw}") + (pcs[se] - pcs[ss])
                    with np.errstate(invalid="ignore", divide="ignore"):
                        mu = S[1] / n
                        m2 = np.maximum(S[2] / n - mu**2, 0.0)
                        if p.op == Op.VARIANCE:
                            vo, bad = m2, n <= 0
                        elif p.op == Op.SKEW:
                            m3 = S[3] / n - 3 * mu * S[2] / n + 2 * mu**3
                            vo, bad = m3 / np.power(m2, 1.5), (n < 3) | (m2 <= 0)
                        else:
                            m4 = S[4] / n - 4 * mu * S[3] / n + 6 * mu**2 * S[2] / n - 3 * mu**4
                            vo, bad = m4 / (m2**2) - 3.0, (n < 4) | (m2 <= 0)
                    res = vo.astype(object)
                    res[bad | (n <= 0)] = None
                    out[fname] = res
            elif p.op in (Op.MIN, Op.MAX):
                s_vals = np.asarray(s_raw, dtype="float64") if s_raw else np.empty(0)
                take_min = p.op == Op.MIN
                stat, cstat = ("mn", f"__c{i}_mn") if take_min else ("mx", f"__c{i}_mx")
                c_v = _c(cstat)
                t_vals = np.fromiter(
                    (np.nan if e.get(stat) is None else float(e[stat]) for e in tl_list),
                    "float64",
                    len(tl_list),
                )
                # NaN (all-null hop) mapped to the identity so it never wins
                if len(t_vals):
                    ident = np.inf if take_min else -np.inf
                    t_safe = np.nan_to_num(t_vals, nan=ident)
                vals_out = []
                for j in range(len(q_ts)):
                    cand = []
                    if c_v is not None:
                        cand.append(float(c_v))
                    if len(t_vals) and te[j] > ti[j]:
                        seg_t = t_safe[ti[j] : te[j]]
                        v_t = seg_t.min() if take_min else seg_t.max()
                        if np.isfinite(v_t):
                            cand.append(float(v_t))
                    if se[j] > ss[j]:
                        seg = s_vals[ss[j] : se[j]]
                        cand.append(float(seg.min() if take_min else seg.max()))
                    if not cand:
                        vals_out.append(None)
                    else:
                        v = min(cand) if take_min else max(cand)
                        vals_out.append(int(round(v)) if integral[i] else v)
                out[fname] = vals_out
            elif p.op in _ORDER_OPS:
                k = _entry_k(p)
                asc = p.op in (Op.FIRST, Op.FIRST_K)
                hop_ents = _tcol("ent")
                c_ent = [e["v"] for e in _lst(_c(f"__c{i}_ent"))]
                # merged tails straddle the collapsed region: batch tail hops
                # precede it (< batchEnd), stream tiles follow it (>= batchEnd,
                # fetch_features_tiled) — the chronological walk splits at tb
                tb = int(np.searchsorted(t_hop, batch_end_ts_us, side="left"))
                vals_out = []
                for j in range(len(q_ts)):
                    lo_hi = (int(ti[j]), min(int(te[j]), tb))  # batch tails
                    hi_hi = (max(int(ti[j]), tb), int(te[j]))  # stream tiles
                    if asc:  # chronological: tails -> collapsed -> tiles -> stream
                        acc = []
                        for h in range(*lo_hi):
                            acc += [e["v"] for e in _lst(hop_ents[h])]
                            if len(acc) >= k:
                                break
                        if len(acc) < k:
                            acc += c_ent
                        if len(acc) < k:
                            for h in range(*hi_hi):
                                acc += [e["v"] for e in _lst(hop_ents[h])]
                                if len(acc) >= k:
                                    break
                        if len(acc) < k:
                            acc += s_raw[ss[j] : se[j]][: k - len(acc)]
                    else:  # most-recent-first: stream -> tiles -> collapsed -> tails
                        acc = s_raw[ss[j] : se[j]][: -k - 1 : -1] if se[j] > ss[j] else []
                        if len(acc) < k:
                            for h in range(hi_hi[1] - 1, hi_hi[0] - 1, -1):
                                acc += [e["v"] for e in _lst(hop_ents[h])]
                                if len(acc) >= k:
                                    break
                        if len(acc) < k:
                            acc += c_ent
                        if len(acc) < k:
                            for h in range(lo_hi[1] - 1, lo_hi[0] - 1, -1):
                                acc += [e["v"] for e in _lst(hop_ents[h])]
                                if len(acc) >= k:
                                    break
                    acc = acc[:k]
                    if p.op in (Op.FIRST, Op.LAST):
                        vals_out.append(acc[0] if acc else None)
                    else:
                        vals_out.append(acc or None)
                out[fname] = vals_out
            elif p.op in _EXTREME_OPS:
                hop_ext = _tcol("ext")
                c_ext = _lst(_c(f"__c{i}_ext"))
                vals_out = []
                for j in range(len(q_ts)):
                    cand = list(c_ext)
                    for h in range(int(ti[j]), int(te[j])):
                        cand += _lst(hop_ext[h])
                    cand += s_raw[ss[j] : se[j]]
                    if not cand:
                        vals_out.append(None)
                    elif p.op == Op.TOP_K:
                        vals_out.append(sorted(cand, reverse=True)[: p.k])
                    elif p.op == Op.BOTTOM_K:
                        vals_out.append(sorted(cand)[: p.k])
                    else:
                        vals_out.append(sorted(set(cand), reverse=True)[: p.k])
                out[fname] = vals_out
            elif p.op in _SET_OPS:
                hop_sets = [set(_lst(v)) for v in _tcol("st")]
                c_set = set(_lst(_c(f"__c{i}_set")))
                vals_out = []
                for j in range(len(q_ts)):
                    u = set(c_set)
                    for h in range(int(ti[j]), int(te[j])):
                        u |= hop_sets[h]
                    seg = s_raw[ss[j] : se[j]]
                    if seg:
                        u = u | set(seg)
                    vals_out.append(len(u) if u else None)
                out[fname] = vals_out
            elif p.op == Op.APPROX_PERCENTILE:
                hop_qsk = _tcol("qsk")
                c_qsk = _c(f"__c{i}_qsk")
                qs = np.asarray(p.percentiles, np.float64)
                vals_out = []
                for j in range(len(q_ts)):
                    vs, ws = [], []
                    if c_qsk is not None:
                        vs += list(c_qsk["s"])
                        ws += [float(c_qsk["w"])] * len(c_qsk["s"])
                    for h in range(int(ti[j]), int(te[j])):
                        e = hop_qsk[h]
                        if isinstance(e, dict):
                            vs += list(e["s"])
                            ws += [float(e["w"])] * len(e["s"])
                    seg = s_raw[ss[j] : se[j]]
                    vs += [float(x) for x in seg]
                    ws += [1.0] * len(seg)
                    if not vs:
                        vals_out.append(None)
                        continue
                    v = np.asarray(vs, np.float64)
                    w = np.asarray(ws, np.float64)
                    o = np.argsort(v, kind="stable")
                    v, w = v[o], w[o]
                    cum = np.cumsum(w)
                    W = cum[-1]

                    def at_rank(t):
                        # block i covers ranks [cum_{i-1}, cum_i)
                        idx = int(np.searchsorted(cum, min(t, max(W - 1, 0)), side="right"))
                        return v[min(idx, len(v) - 1)]

                    est = []
                    for q in qs:
                        t = q * max(W - 1, 0)
                        t0 = np.floor(t)
                        frac = t - t0
                        est.append(float(at_rank(t0) * (1 - frac) + at_rank(t0 + 1) * frac))
                    vals_out.append(est)
                out[fname] = vals_out
            else:  # histogram family
                hop_maps = _tcol("hmap")
                c_hist = Counter({e["__v"]: e["__n"] for e in _lst(_c(f"__c{i}_hist"))})
                k = p.k if (p.k or p.op != Op.HISTOGRAM) else None
                vals_out = []
                for j in range(len(q_ts)):
                    cnt = Counter(c_hist)
                    for h in range(int(ti[j]), int(te[j])):
                        for e in _lst(hop_maps[h]):
                            cnt[e["__v"]] += e["__n"]
                    for v in s_raw[ss[j] : se[j]]:
                        cnt[str(v)] += 1
                    if not cnt:
                        vals_out.append(None)
                        continue
                    items = list(cnt.items())
                    if k is not None:
                        # deterministic truncation: count desc, value asc
                        items = sorted(items, key=lambda kv: (-kv[1], kv[0]))[:k]
                    vals_out.append(dict(sorted(items)))
                out[fname] = vals_out
        return out

    def fn(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf):
            return pd.DataFrame(columns=left_cols + feat_names)
        rpdf = rpdf.rename(columns=lambda c: c[4:] if c.startswith("__r_") else c)
        q_ts = lpdf[_TS_US].to_numpy("int64")
        if (q_ts < batch_end_ts_us).any():
            raise ValueError("fetch ts < batchEndTs (reference raises the same)")
        if (q_ts >= valid_end_us).any():
            raise ValueError(
                "fetch ts >= batchEndTs + tailBuffer: batch IR valid range "
                "exceeded — rebuild IRs with a later batchEnd or a larger "
                "tail_buffer_ms"
            )

        def norm(k):
            return k if isinstance(k, tuple) else (k,)

        is_ir = rpdf["__is_ir"].to_numpy(bool)
        ir_pdf = rpdf[is_ir]
        # stream ordered by (ts, tie_breakers): the raw kernels' event order,
        # so first/last(_k) heads match the offline backfill exactly. ONE sort
        # and ONE to_numpy/notna pass per column for the whole Arrow batch.
        stream = rpdf[~is_ir].sort_values([_TS_US] + tie_cols, kind="stable")
        need = sorted({p.input_column for p in part_list} | {p.bucket for p in part_list if p.bucket})
        SG = {
            "ts": stream[_TS_US].to_numpy("int64"),
            "raw": {c: stream[c].to_numpy() for c in need},
            "ok": {c: stream[c].notna().to_numpy() for c in need},
        }
        # positional indices per key, frame order preserved => ts-ascending
        s_groups = (
            {norm(k): v for k, v in stream.groupby(gb.keys, sort=False).indices.items()}
            if len(stream)
            else {}
        )
        ir_recs: dict = {}
        if len(ir_pdf):
            kcols = [ir_pdf[k].tolist() for k in gb.keys]
            for j, rec in enumerate(ir_pdf.to_dict("records")):
                ir_recs[tuple(kc[j] for kc in kcols)] = rec
        empty_idx = np.empty(0, "int64")
        feat_cols = {f: np.empty(len(lpdf), dtype=object) for f in feat_names}
        # dropna=False: left rows with null keys must still emit (null features)
        l_groups = lpdf.groupby(gb.keys, sort=False, dropna=False).indices
        for k, lidx in l_groups.items():
            kk = norm(k)
            res = one_key(q_ts[lidx], ir_recs.get(kk), s_groups.get(kk, empty_idx), SG)
            for f, vals in res.items():
                tgt = feat_cols[f]
                # element-wise: a bulk fancy-index assign would coerce
                # equal-length list cells into a 2-D array and fail
                for jj, v in zip(lidx, vals):
                    tgt[jj] = v
        out_df = lpdf[left_cols].copy()
        for f in feat_names:
            out_df[f] = feat_cols[f]
        return out_df

    # coarse-bucket cogroup: one Arrow batch carries MANY keys (serving key
    # counts make per-key cogroup groups overhead-bound — the same lesson as
    # asof_join's coarse_buckets), per-key merge runs in-process above
    n_buckets = coarse_bucket_count(l.sparkSession)
    lb = hash_bucket(l, gb.keys, n_buckets, "__fb")
    rb = hash_bucket(union, [f"__r_{c}" for c in gb.keys], n_buckets, "__r___fb")
    grouped = lb.groupby(F.col("__fb")).cogroup(rb.groupby(F.col("__r___fb")))
    return grouped.applyInPandas(fn, schema=out_schema)


def fetch_features_tiled(
    queries: DataFrame,
    batch_irs: DataFrame,
    stream_tiles: DataFrame,
    gb: GroupBy,
    batch_end_ts_us: int,
    events_like: DataFrame,
    left_time_column: str = "ts",
    tail_buffer_ms: int = TAIL_BUFFER_MS,
) -> DataFrame:
    """TILED serving fetch: merge batch IRs with STREAMING TILES
    (streaming/groupby_stream.stream_hop_tiles output) instead of raw
    streaming rows — the reference's tiled GroupByServingInfo mode, where the
    Flink job writes per-(key, tile) IRs to the KV store and the fetcher
    merges batchIr + tile IRs (SawtoothOnlineAggregator + tiling,
    GroupByServingInfo semantics).

    Accuracy contract: tiles are hop-granular, so the head is exact only when
    every query timestamp is a tile-boundary multiple (asserted). At aligned
    timestamps the result equals the offline sawtooth backfill exactly
    (tests/test_upload_fetch.py); the raw-row ``fetch_features`` is the
    arbitrary-timestamp path.

    Mechanics: each stream tile is converted into the SAME per-part tail-hop
    struct the batch IR carries and concatenated onto ``__tails_{i}`` (batch
    tails all precede stream tiles in hop order), then the untiled fetch
    kernel runs unchanged with an empty raw-stream side.

    ``events_like`` supplies the event schema (input column types) only."""
    parts = _check(gb)
    _check_alignment(parts, batch_end_ts_us)
    hop_us = 1000 * min(tail_hop_millis(p.window.millis) for p in parts)

    q = ensure_ts_us(queries, left_time_column)
    n_misaligned = q.where(F.pmod(F.col(_TS_US), F.lit(hop_us)) != 0).limit(1).count()
    if n_misaligned:
        raise ValueError(
            f"tiled fetch needs tile-aligned query timestamps (multiples of {hop_us}us); "
            "use fetch_features (raw streaming rows) for arbitrary timestamps"
        )

    st = stream_tiles.withColumn(
        "__hop_us", F.unix_micros(F.col("tile_start").cast("timestamp"))
    ).where(F.col("__hop_us") >= batch_end_ts_us)
    hop = F.col("__hop_us").alias("hop")
    arr_aggs = []
    for i, p in enumerate(parts):
        c = p.input_column
        if p.bucket:
            # stream tile bucket IRs carry the union of stats across parts
            # sharing (col, bucket); project to THIS part's tail struct with
            # the same casts the batch tail builder applies
            def make_conv(p):
                # factory keeps the Spark HOF lambda single-argument
                def conv(e):
                    fs = [e["__b"].alias("__b"), e["cnt"].cast("long").alias("cnt")]
                    if p.op in (Op.SUM, Op.AVERAGE):
                        fs.append(e["sm"].cast("double").alias("sm"))
                    if p.op == Op.MIN:
                        fs.append(e["mn"].cast("double").alias("mn"))
                    if p.op == Op.MAX:
                        fs.append(e["mx"].cast("double").alias("mx"))
                    return F.struct(*fs)

                return conv

            entry = F.struct(hop, F.transform(F.col(f"{c}__bk__{p.bucket}"), make_conv(p)).alias("bent"))
            arr_aggs.append(F.sort_array(F.collect_list(entry)).alias(f"__st_{i}"))
            continue
        if p.op in _ORDER_OPS:
            fam = "firstk" if p.op in (Op.FIRST, Op.FIRST_K) else "lastk"
            entry = F.struct(hop, F.col(f"{c}__{fam}").alias("ent"))
        elif p.op in _EXTREME_OPS:
            fam = {Op.TOP_K: "topk", Op.BOTTOM_K: "bottomk", Op.UNIQUE_TOP_K: "utopk"}[p.op]
            entry = F.struct(hop, F.col(f"{c}__{fam}").alias("ext"))
        elif p.op in _SET_OPS:
            entry = F.struct(hop, F.col(f"{c}__set").alias("st"))
        elif p.op in _HIST_OPS:
            hmap = F.transform(
                F.col(f"{c}__hist"),
                lambda e: F.struct(e["__v"].alias("__v"), e["__c"].alias("__n")),
            )
            entry = F.struct(hop, hmap.alias("hmap"))
        elif p.op == Op.APPROX_PERCENTILE:
            entry = F.struct(hop, F.col(f"{c}__qsk").alias("qsk"))
        elif p.op in _MOMENT_OPS:
            fields = [hop, F.col(f"{c}__cnt").alias("cnt"), F.col(f"{c}__sum").cast("double").alias("sm")]
            fields += [
                F.col(f"{c}__pow{pw}").cast("double").alias(f"p{pw}")
                for pw in range(2, _pow_upto(p.op) + 1)
            ]
            entry = F.struct(*fields)
        else:
            entry = F.struct(
                hop,
                # cnt is only built for COUNT/SUM/AVERAGE/moment parts
                # (_tile_stats_needed) — a MIN/MAX-only column has no __cnt
                F.col(f"{c}__cnt").cast("long").alias("cnt")
                if f"{c}__cnt" in stream_tiles.columns
                else F.lit(None).cast("long").alias("cnt"),
                F.col(f"{c}__sum").cast("double").alias("sm")
                if f"{c}__sum" in stream_tiles.columns
                else F.lit(None).cast("double").alias("sm"),
                F.col(f"{c}__min").cast("double").alias("mn")
                if f"{c}__min" in stream_tiles.columns
                else F.lit(None).cast("double").alias("mn"),
                F.col(f"{c}__max").cast("double").alias("mx")
                if f"{c}__max" in stream_tiles.columns
                else F.lit(None).cast("double").alias("mx"),
            )
        arr_aggs.append(F.sort_array(F.collect_list(entry)).alias(f"__st_{i}"))
    per_key = st.groupBy(*gb.keys).agg(*arr_aggs)

    merged = batch_irs.join(per_key, on=gb.keys, how="full")
    # dtypes once per frame + one projection (see fetch_features: a
    # withColumn/drop chain re-analyzes the joined plan per part)
    pk_types = dict(per_key.dtypes)
    bt_types = dict(batch_irs.dtypes)
    tail_exprs = {}
    for i, p in enumerate(parts):
        stc = F.coalesce(F.col(f"__st_{i}"), F.array().cast(pk_types[f"__st_{i}"]))
        if p.window.millis is None:
            # unbounded: batch side is collapsed-only (typed-null tails) —
            # the stream tiles ARE the tail array
            tail_exprs[f"__tails_{i}"] = stc
        else:
            bt = F.coalesce(F.col(f"__tails_{i}"), F.array().cast(bt_types[f"__tails_{i}"]))
            # batch tails end before batchEnd <= every stream tile: concat stays hop-sorted
            tail_exprs[f"__tails_{i}"] = F.concat(bt, stc)
    merged = merged.withColumns(tail_exprs).drop(*[f"__st_{i}" for i in range(len(parts))])

    return fetch_features(
        queries, merged, events_like.limit(0), gb, batch_end_ts_us, left_time_column, tail_buffer_ms
    )
