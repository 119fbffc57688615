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
sorted array per key. The fetch merge is the tiled backfill's kernel
(operators/tiles.ir_merge_kernel): the IR table is reshaped JVM-side into
tile rows, and the streaming rows are the kernel's head events.

Per-op IR shapes (mirroring the reference ColumnAggregator IRs):
- COUNT/SUM/MIN/MAX/AVERAGE        -> scalar partials in the input type (an
  integral sum stays BIGINT, exact above 2^53)
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
NOT uploadable: bucketed non-scalar ops, fractional DECIMAL inputs
(``DECIMAL(p<=18, 0)`` is read as BIGINT).

Valid fetch range: ``batchEndTs <= queryTs < batchEndTs + tailBuffer`` (after
that the reference re-uploads a fresh batch; we assert the same contract).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from chronon_spark.aggregators.decimal import rewrite_decimal_inputs
from chronon_spark.api import GroupBy, Op
from chronon_spark.operators.asof_join import cogroup_apply, ensure_ts_us
from chronon_spark.operators.tiles import ir_merge_kernel, ir_tile_column, qsk_agg_expr
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
_LO_US = "__lo_us"


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


def _integral_inputs(events: DataFrame, gb: GroupBy) -> DataFrame:
    """``events`` with its ``DECIMAL(p<=18, 0)`` inputs cast to BIGINT (the
    decimal rewrite's in-place case, aggregators/decimal.py). The IRs have
    no rescale step, so a fractional decimal is refused with the exact
    alternatives instead of rounding through double IR columns."""
    dec_bad = sorted(
        {
            f.name
            for f in events.schema.fields
            if f.name in {p.input_column for p in gb.parts()}
            and isinstance(f.dataType, T.DecimalType)
            and not (f.dataType.scale == 0 and f.dataType.precision <= 18)
        }
    )
    if dec_bad:
        raise ValueError(
            f"batch-IR upload does not support fractional DECIMAL inputs {dec_bad} — "
            "project to DECIMAL(p,0) (exact unscaled) or DOUBLE in the source query"
        )
    return rewrite_decimal_inputs(events, gb)[0]


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
    """One row per key: per-part collapsed IR columns ``__c{i}_{field}`` plus,
    for a bounded window, a time-sorted tail-hop array ``__tails_{i}`` of
    ``struct(hop, field...)`` with the same fields — the part's IR family
    (scalar partials / power sums / entry lists / value lists / value-count
    maps / per-bucket partials)."""
    parts = _check(gb)
    _check_alignment(parts, batch_end_ts_us)
    buf_us = tail_buffer_ms * 1000
    ev = ensure_ts_us(_integral_inputs(events, gb), gb.time_column).where(F.col(_TS_US) < batch_end_ts_us)
    for k in gb.keys:
        ev = ev.where(F.col(k).isNotNull())
    tie_cols = [t for t in gb.tie_breakers if t in events.columns and t not in gb.keys]

    def entry_struct(c: str, cond):
        fields = [F.col(_TS_US).alias("t")]
        fields += [F.col(t).alias(f"b{i}") for i, t in enumerate(tie_cols)]
        fields.append(F.col(c).alias("v"))
        return F.when(cond & F.col(c).isNotNull(), F.struct(*fields))

    def part_aggs(p, cond) -> list[tuple[str, object]]:
        """(field, partial aggregate) of part ``p`` over the events where
        ``cond`` holds; histogram and bucketed parts build theirs in a
        two-level aggregation instead."""
        val = F.when(cond, F.col(p.input_column))
        aggs = []
        if p.op in (Op.COUNT, Op.SUM, Op.AVERAGE) or p.op in _MOMENT_OPS:
            aggs.append(("cnt", F.count(val)))
        if p.op in (Op.SUM, Op.AVERAGE) or p.op in _MOMENT_OPS:
            aggs.append(("sm", F.sum(val)))  # input type, as in the tiles
        if p.op in _MOMENT_OPS:
            aggs += [
                (f"p{pw}", F.sum(F.pow(val.cast("double"), F.lit(pw))))
                for pw in range(2, _pow_upto(p.op) + 1)
            ]
        if p.op == Op.MIN:
            aggs.append(("mn", F.min(val)))
        if p.op == Op.MAX:
            aggs.append(("mx", F.max(val)))
        if p.op in _ORDER_OPS:
            ents = F.collect_list(entry_struct(p.input_column, cond))
            asc = p.op in (Op.FIRST, Op.FIRST_K)
            aggs.append(("ent", F.slice(F.sort_array(ents, asc=asc), 1, _entry_k(p))))
        if p.op in _EXTREME_OPS:
            coll = F.collect_set(val) if p.op == Op.UNIQUE_TOP_K else F.collect_list(val)
            aggs.append(("ext", F.slice(F.sort_array(coll, asc=p.op == Op.BOTTOM_K), 1, p.k)))
        if p.op in _SET_OPS:
            aggs.append(("st", F.collect_set(val)))
        if p.op == Op.APPROX_PERCENTILE:
            aggs.append(("qsk", qsk_agg_expr(val, 512)))
        return aggs

    # collapsed: one conditional-aggregate pass (whole-stage codegen, map-side
    # combine — the 100 TB bulk of history reduces to one row per key here)
    aggs = []
    hist_parts: list[tuple[int, object]] = []
    bucket_parts: list[tuple[int, object]] = []
    for i, p in enumerate(parts):
        if p.window.millis is None:
            cond = F.lit(True)
        else:
            tail = batch_end_ts_us - p.window.millis * 1000
            cond = F.col(_TS_US) >= F.lit(tail + buf_us)
        if p.bucket:
            bucket_parts.append((i, cond))  # per-bucket IRs built below (two-level agg)
        elif p.op in _HIST_OPS:
            hist_parts.append((i, cond))
        else:
            aggs += [a.alias(f"__c{i}_{f}") for f, a in part_aggs(p, cond)]
    if not aggs:  # every part bucketed/hist: keep a row-count anchor
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
            .agg(F.collect_list(F.struct("__v", "__n")).alias(f"__c{i}_hmap"))
        )
        out = out.join(vc, on=gb.keys, how="full")

    # tail hops: ONE slice scan + ONE two-level aggregation PER HOP SIZE —
    # a per-part pipeline would re-scan the tail slice P times (at 100 TB
    # each scan is multi-TB of IO and its own shuffle); per-part tail ranges
    # [tail_i, tail_i + buffer) are enforced with conditional aggregates
    # inside the shared groupBy instead. hist/bucket parts keep their
    # dedicated (key, hop, value) pipelines (they need an extra level).
    # Unbounded windows are collapsed-only: no tail column.
    hop_groups: dict[int, list[int]] = {}
    for i, p in enumerate(parts):
        if p.window.millis is None:
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
                    .agg(F.collect_list(F.struct("__b", *st_fields)).alias("bk"))
                    .groupBy(*gb.keys)
                    .agg(
                        F.sort_array(F.collect_list(F.struct(F.col("__hop").alias("hop"), "bk"))).alias(
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
        lvl2: list = []  # per-part (presence cond, tail field names)
        for i in idxs:
            cond = (F.col(_TS_US) >= tails[i]) & (
                F.col(_TS_US) < min(tails[i] + buf_us, batch_end_ts_us)
            )
            fields = part_aggs(parts[i], cond)
            lvl1 += [a.alias(f"__t{i}_{f}") for f, a in fields]
            lvl2.append((i, _present(fields[0][0], F.col(f"__t{i}_{fields[0][0]}")), [f for f, _ in fields]))
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
                                *[F.col(f"__t{i}_{f}").alias(f) for f in names],
                            ),
                        )
                    )
                ).alias(f"__tails_{i}")
                for i, present, names in lvl2
            ]
        )
        out = out.join(hops, on=gb.keys, how="full")
    return out


def _present(field: str, col):
    """A (key, hop) partial that saw at least one in-range value."""
    if field == "cnt":
        return col > 0
    if field in ("ent", "ext", "st"):
        return F.size(col) > 0
    return col.isNotNull()


def _bucket_scalar_aggs(p, c):
    """Scalar partial exprs + struct field names for one bucketed part; the
    per-bucket sum stays double, as in the bucketed tiles."""
    st_aggs = [F.count(c).alias("cnt")]
    st_fields = ["cnt"]
    if p.op in (Op.SUM, Op.AVERAGE):
        st_aggs.append(F.sum(c.cast("double")).alias("sm"))
        st_fields.append("sm")
    if p.op == Op.MIN:
        st_aggs.append(F.min(c).alias("mn"))
        st_fields.append("mn")
    if p.op == Op.MAX:
        st_aggs.append(F.max(c).alias("mx"))
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


def _ir_tiles(batch_irs: DataFrame, gb: GroupBy, parts: list, batch_end_ts_us: int) -> DataFrame:
    """The IR table as the kernel's tile rows, one generator pass: per key one
    row at ``batchEnd − 1`` carrying every part's collapsed IR, and one row
    per tail hop of part i at ``hop + hop_i − 1`` (1 µs before the hop end,
    the tiled path's rule). Part i's stats are ``__p{i}__{stat}``
    (tiles.ir_tile_column): two parts on one column have different
    collapsed IRs. ``__lo_us`` is the oldest event ts in a collapsed row's
    entry lists, which the composite layout must cover (a lifetime LAST_K
    keeps events older than every tile row and query)."""
    names = []  # (part index, IR field)
    for col in batch_irs.columns:
        if col.startswith("__c"):
            i, field = col[3:].split("_", 1)
            names.append((int(i), field))

    def tile_row(ts, lo, tail_part=None, e=None):
        cols = [ts.alias(_TS_US), lo.alias(_LO_US)]
        for j, field in names:
            stat, x = ir_tile_column(parts[j], field, e[field] if j == tail_part else F.col(f"__c{j}_{field}"))
            if tail_part is not None and j != tail_part:
                x = F.when(F.lit(False), x)  # typed null: another part's row
            cols.append(x.alias(f"__p{j}__{stat}"))
        return F.struct(*cols)

    def tail_row(i, hop_i):  # factory: Spark HOF lambdas take exactly one argument
        return lambda e: tile_row(e["hop"] + (hop_i - 1), F.lit(None).cast("long"), i, e)

    ent_t = [F.array_min(F.transform(F.col(f"__c{j}_ent"), lambda x: x["t"])) for j, f in names if f == "ent"]
    lo = ent_t[0] if len(ent_t) == 1 else (F.least(*ent_t) if ent_t else F.lit(None).cast("long"))
    rows = [F.array(tile_row(F.lit(batch_end_ts_us - 1), lo))]
    for i, p in enumerate(parts):
        if p.window.millis is not None:
            hop_i = tail_hop_millis(p.window.millis) * 1000
            rows.append(F.transform(F.coalesce(F.col(f"__tails_{i}"), F.array()), tail_row(i, hop_i)))
    return batch_irs.select(*gb.keys, F.inline(F.concat(*rows)))


def _merge(
    queries: DataFrame,
    tiles: DataFrame,
    heads: DataFrame,
    gb: GroupBy,
    parts: list,
    batch_end_ts_us: int,
    left_time_column: str,
    tail_buffer_ms: int,
    hop_us: int | None = None,
    head_start_us: int | None = None,
) -> DataFrame:
    """Run the IR-merge kernel over ``tiles`` (``_ir_tiles`` rows, plus stream
    tiles) and the ``heads`` events for every query row; the head starts at
    ``head_start_us``, else at the ``hop_us`` floor of the query ts."""
    tie_cols = [t for t in gb.tie_breakers if t in heads.columns and t not in gb.keys]
    head_cols = sorted({p.input_column for p in parts} | {p.bucket for p in parts if p.bucket} | set(tie_cols))
    for k in gb.keys:
        heads = heads.where(F.col(k).isNotNull())
    heads = heads.select(*gb.keys, _TS_US, *head_cols)
    union = tiles.withColumn("__is_tile", F.lit(True)).unionByName(
        heads.withColumn("__is_tile", F.lit(False)), allowMissingColumns=True
    )
    union = union.select(*[F.col(c).alias(f"__r_{c}") for c in union.columns])

    input_types = {f.name: f.dataType for f in heads.schema.fields}
    feat_fields = [
        T.StructField(p.output_name, part_output_type(p, input_types[p.input_column]), True) for p in parts
    ]
    out_schema = T.StructType(list(queries.schema.fields) + feat_fields)
    merge = functools.partial(
        ir_merge_kernel,
        parts=list(parts),
        feat_names=[f.name for f in feat_fields],
        stat_prefixes=[f"__p{i}" for i in range(len(parts))],
        tie_cols=tie_cols,
        arrow_schema=to_arrow_schema(out_schema),
        hop_us=hop_us,
        head_start_us=head_start_us,
    )
    # valid range is [batchEnd, batchEnd + tailBuffer): beyond the buffer the
    # collapsed IR still contains events OLDER than the query's window start,
    # so results would be silently wrong — reject, mirroring the reference's
    # GroupByServingInfo valid-range contract
    valid_end_us = batch_end_ts_us + tail_buffer_ms * 1000

    def kernel(lt, rt, lcodes, rcodes, base, block):
        q_ts = lt.column(_TS_US).to_numpy()
        if (q_ts < batch_end_ts_us).any():
            raise ValueError("fetch ts < batchEndTs (reference raises the same)")
        if (q_ts >= valid_end_us).any():
            raise ValueError(
                "fetch ts >= batchEndTs + tailBuffer: batch IR valid range "
                "exceeded — rebuild IRs with a later batchEnd or a larger "
                "tail_buffer_ms"
            )
        return merge(lt, rt, lcodes, rcodes, base, block)

    l = ensure_ts_us(queries, left_time_column)
    return cogroup_apply(l, union, gb.keys, gb.keys, "auto", out_schema, kernel, lo_column=_LO_US)


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
    ``lambdaAggregateIr`` (SawtoothOnlineAggregator.scala:86-126). Strict head
    (``rowTs < queryTs``), exactly the engine default.

    The kernel is the tiled backfill's (operators/tiles.ir_merge_kernel):
    the IR table becomes its tile rows (``_ir_tiles``) and the streaming rows
    at/after batchEnd its head events, with the head starting at batchEnd.
    One output row per query row, null features for a null key."""
    parts = _check(gb)
    _check_alignment(parts, batch_end_ts_us)
    heads = ensure_ts_us(_integral_inputs(streaming, gb), gb.time_column).where(
        F.col(_TS_US) >= batch_end_ts_us
    )
    tiles = _ir_tiles(batch_irs, gb, parts, batch_end_ts_us)
    return _merge(
        queries, tiles, heads, gb, parts, batch_end_ts_us, left_time_column, tail_buffer_ms,
        head_start_us=batch_end_ts_us,
    )


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

    Mechanics: each stream tile becomes one more tile row of the IR-merge
    kernel (1 µs before its hop end, each part's stats under its
    ``__p{i}__`` names); there are no head events,
    and the head starts at the query's tile boundary, so every stream tile
    before the query is in the tail.

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

    ir = _ir_tiles(batch_irs, gb, parts, batch_end_ts_us)
    st = stream_tiles.withColumn(
        "__hop_us", F.unix_micros(F.col("tile_start").cast("timestamp"))
    ).where(F.col("__hop_us") >= batch_end_ts_us)
    cols = [*gb.keys, (F.col("__hop_us") + (hop_us - 1)).alias(_TS_US)]
    for f in ir.schema.fields:
        if not f.name.startswith("__p"):
            continue
        i, stat = f.name[3:].split("__", 1)
        src = F.col(f"{parts[int(i)].input_column}__{stat}")
        if stat.startswith("bk__"):
            # stream bucket IRs carry the union of stats across the parts
            # sharing (col, bucket): keep this part's fields
            src = F.transform(src, _struct_fields(f.dataType.elementType))
        cols.append(src.alias(f.name))
    tiles = ir.unionByName(st.select(*cols), allowMissingColumns=True)
    heads = ensure_ts_us(_integral_inputs(events_like, gb).limit(0), gb.time_column)
    return _merge(
        queries, tiles, heads, gb, parts, batch_end_ts_us, left_time_column, tail_buffer_ms, hop_us=hop_us
    )


def _struct_fields(t: T.StructType):
    """Spark HOF lambda: the fields of struct type ``t`` out of a wider struct."""
    return lambda e: F.struct(*[e[f.name].alias(f.name) for f in t.fields])
