"""Tiled sawtooth as-of join: bounded per-key state for the FULL op set.

The reference's hop-tile architecture (HopsAggregator.scala:36-175 +
SawtoothMutationAggregator's BatchIr{collapsed, tailHops}) re-expressed
Spark-first:

1. **Tile build** — ONE JVM `groupBy(keys, hop_start)` producing partial IRs.
   Whole-stage codegen, map-side combine, shuffle payload = one small row per
   (key, hop) instead of every raw event. Per-op IR shapes mirror the
   reference's ColumnAggregator IRs (aggregator/.../row/ColumnAggregator.scala,
   SimpleAggregators.scala):
     - sum/count/min/max/average  -> scalar partials
     - variance/skew/kurtosis    -> raw power sums (cnt, sum, sum^2..sum^4);
       the reference carries (count, mean, M2..) Welford IRs — power sums are
       the abelian re-expression (binomial-rebased at finalize)
     - first/last/first_k/last_k -> per-tile bounded entry lists
       sorted by (ts, tie_breakers) — the reference's bounded
       ArrayDeque IRs (SimpleAggregators.scala:200-260)
     - top_k/bottom_k/unique_top_k -> per-tile k-extreme value lists
       (pigeonhole: any value in the window's global top-k is in its own
       tile's top-k)
     - unique_count              -> per-tile distinct sets (exact; the CPC
       sketch at SimpleAggregators.scala:499 is the lossy 100 TB variant —
       Spark-side `hll_sketch_agg`/`hll_union` is the drop-in when
       approximate counts are acceptable)
     - histogram/frequent/heavy_hitters -> per-tile value->count maps built
       by a two-level groupBy ((keys,hop,value) count, then collect per
       (keys,hop)) — both shuffles run on pre-reduced data
2. **Head restriction** — a query's window head is exact only inside its own
   hop, so raw events are needed ONLY in hops that contain at least one
   query for that key: a broadcast-able left-semi join on (key, hop) prunes
   the rest.
3. **Kernel** — tiles and head events enter the cogroup as one union frame
   (marker column). Scalar partials merge as range sums / sparse-table
   min-max; collection IRs are flattened to (composite_ts, value[, weight])
   entry arrays ONCE per column. Per query, the tail entries and then the
   head events are gathered into one contiguous range (``_tail_head``) and
   run through the SAME vectorized kernel as the raw path
   (`aggregators/kernels._kernel`); the histogram and percentile sketches
   use the same gather — the reference's `lambdaAggregateIr` merge of
   collapsed IR + tail hops (SawtoothOnlineAggregator.scala:86-126).
   ``ir_merge_kernel`` is the engine's one IR-merge kernel: the serving
   fetch (jobs/upload.py) runs it too, with each key's batch IR reshaped
   into tile rows (``ir_tile_column``) and its streaming rows as the head.

Exactness: every supported op is EXACT and equal to `asof_join(...,
sawtooth=True)` (asserted by tests/test_tiles_slicing.py), because
  - window tails cover whole hops (wstart is a multiple of every part's tail
    hop, which is a multiple of the tile hop), so entry-level ts bounds and
    tile-level inclusion coincide;
  - entry lists carry the original (ts, tie_breakers) so cross-tile ordering
    is reconstructed exactly;
  - per-tile k-truncation is lossless for first/last/top/bottom/unique-top
    (supersets of any window's k-extremes).
Order ops require `tie_breakers` to make the event order total (the north
rule's stable turn ordering); with ties left unbroken the raw path's
input-order fallback is not reproducible from tiles (nor across shuffles).

APPROX_PERCENTILE is tiled as a SKETCH (matching the reference's KLL IR,
SimpleAggregators.scala:545 — inherently lossy): each tile stores up to
``QSK_K`` systematic samples of its sorted values with a uniform weight
(n/K), a one-level KLL-style compactor. Rank error of a merged estimate is
bounded by (tail volume)/QSK_K + the head is exact — asserted by a
rank-error-bound test. Exact percentiles need the raw values: use the plain
or sliced path when exactness matters.

Bucketed parts tile as a map of per-bucket IRs (the reference's
BucketedColumnAggregator): scalar partials AND the collection IRs
(entry/extreme lists, distinct sets, value counts) carry per bucket slot;
only bucketed moments and the percentile sketch stay on the plain path.

Moment-op caveat: raw power sums lose precision when |mean| >> stddev
(classic cancellation); the raw path's globally-shifted prefix sums
(kernels._moments) do not. Equivalence holds to ~1e-9 relative at realistic
magnitudes; for pathological columns keep moments on the plain path.

When to use which. The numbers below are history: measured at local[32]
on an older tree, before the Arrow kernel boundary. On a 4-core host, the
traced benchmark input (perfbench, 200k turns) builds 173k tile rows, so
little is pre-aggregated there, and a tiled call takes about 1.6x a plain
call.
- many keys + queries sparse in (key, hop): tiled wins — 4M events / 2000
  keys / 2000 queries: 8.5 s vs 21 s plain (the cogroup moves 80k tile rows
  + the 2.5% of raw events in query hops instead of all 4M raw rows);
- small inputs or queries dense in hops: plain wins (the tile/semi-join
  stages are fixed overhead and the head set approaches the full stream);
- per-key event counts beyond Arrow-batch memory: tiled is the ONLY path
  for decomposable ops (bounded per-key state), sliced for order ops;
- serving (batch IRs + streaming rows or stream tiles): the same kernel,
  reached through jobs/upload.fetch_features(_tiled).
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from chronon_spark.aggregators.kernels import (
    MultiKeyEventColumns,
    _ColumnSeries,
    _flat_ranges,
    _kernel,
    _numpy,
    _prefix,
    _query_chunks,
    _run_starts,
    group_map,
    hist_finalize,
    int_range_sum,
    percentile_lists,
    range_extreme,
    valid_series,
    weighted_percentiles,
)
from chronon_spark.api import AggregationPart, GroupBy, Op
from chronon_spark.operators.asof_join import (
    _TS_US,
    apply_derivations,
    cogroup_apply,
    ensure_ts_us,
    kernel_output,
)
from chronon_spark.resolution import tail_hop_millis
from chronon_spark.types import part_output_type

_SCALAR_OPS = {Op.COUNT, Op.SUM, Op.MIN, Op.MAX, Op.AVERAGE}
_MOMENT_OPS = {Op.VARIANCE, Op.SKEW, Op.KURTOSIS}
_ORDER_OPS = {Op.FIRST, Op.LAST, Op.FIRST_K, Op.LAST_K}
_EXTREME_OPS = {Op.TOP_K, Op.BOTTOM_K, Op.UNIQUE_TOP_K}
_SET_OPS = {Op.UNIQUE_COUNT, Op.APPROX_UNIQUE_COUNT}
_HIST_OPS = {Op.HISTOGRAM, Op.APPROX_FREQUENT_K, Op.APPROX_HEAVY_HITTERS_K}

TILED_OPS = (
    _SCALAR_OPS | _MOMENT_OPS | _ORDER_OPS | _EXTREME_OPS | _SET_OPS | _HIST_OPS | {Op.APPROX_PERCENTILE}
)

# per-tile quantile-sketch size: rank error of the tail estimate is bounded by
# (tail event volume) / QSK_K; 512 keeps a 13d x 1d-hop window under ~0.2%%
# rank error per 100k-event tail while a tile row stays ~4 KB
QSK_K = 512


def _op_family(op: Op) -> str | None:
    """Which per-tile collection IR (if any) an op reads."""
    if op in (Op.FIRST, Op.FIRST_K):
        return "firstk"
    if op in (Op.LAST, Op.LAST_K):
        return "lastk"
    if op == Op.TOP_K:
        return "topk"
    if op == Op.BOTTOM_K:
        return "bottomk"
    if op == Op.UNIQUE_TOP_K:
        return "utopk"
    if op in _SET_OPS:
        return "set"
    if op in _HIST_OPS:
        return "hist"
    return None


def _tile_stats_needed(gb: GroupBy) -> dict[str, dict[str, int | None]]:
    """Which per-column tile stats each input column needs.

    Values: max k for bounded-list stats, highest power for ``pow``,
    None for unparameterized stats."""
    need: dict[str, dict[str, int | None]] = {}
    for p in gb.parts():
        d = need.setdefault(p.input_column, {})
        if p.bucket:
            continue  # bucketed parts read their own per-bucket tile IRs
        if p.op in (Op.COUNT, Op.AVERAGE, Op.SUM) or p.op in _MOMENT_OPS:
            d["cnt"] = None  # SUM needs cnt for empty-window NULL semantics
        if p.op in (Op.SUM, Op.AVERAGE) or p.op in _MOMENT_OPS:
            d["sum"] = None
        if p.op == Op.MIN:
            d["min"] = None
        if p.op == Op.MAX:
            d["max"] = None
        if p.op in _MOMENT_OPS:
            upto = 2 if p.op == Op.VARIANCE else (3 if p.op == Op.SKEW else 4)
            d["pow"] = max(d.get("pow") or 0, upto)
        fam = _op_family(p.op)
        if fam in ("firstk", "lastk", "topk", "bottomk", "utopk"):
            k = 1 if p.op in (Op.FIRST, Op.LAST) else int(p.k)
            d[fam] = max(d.get(fam) or 0, k)
        elif fam in ("set", "hist"):
            d[fam] = None
        if p.op == Op.APPROX_PERCENTILE:
            d["qsk"] = QSK_K
    return need


def _tile_bucket_stats(
    gb: GroupBy, scalar_only: bool = False
) -> dict[tuple[str, str], dict[str, int | None]]:
    """Per-(input column, bucket column) tile stats for bucketed parts —
    the reference's BucketedColumnAggregator carries the SAME per-op IR
    inside each bucket's map slot (row/ColumnAggregator.scala), so bucketed
    tiles mirror the unbucketed IR per bucket: scalar partials, bounded
    entry/extreme lists, distinct sets, value->count histograms.

    ``scalar_only=True`` is the streaming tile builder's contract (its
    post-agg run-length fold only covers scalar partials); moments and the
    percentile sketch stay on the plain path per bucket everywhere (per-
    bucket power sums / sketches are where the map-of-IR payload stops
    paying for itself — use the plain/sliced strategies)."""
    out: dict[tuple[str, str], dict[str, int | None]] = {}
    for p in gb.parts():
        if not p.bucket:
            continue
        if p.op in _MOMENT_OPS or p.op == Op.APPROX_PERCENTILE or p.op not in TILED_OPS:
            raise ValueError(
                f"tiled bucketed parts do not support {p.op} by {p.bucket} — use the plain path"
            )
        if scalar_only and p.op not in _SCALAR_OPS:
            raise ValueError(
                f"streaming tiles support scalar bucketed ops {sorted(o.value for o in _SCALAR_OPS)}; "
                f"got {p.op} by {p.bucket} — use the batch tiled path"
            )
        st = out.setdefault((p.input_column, p.bucket), {})
        st["cnt"] = None  # anchor: every bucketed part needs per-bucket counts
        if p.op in (Op.SUM, Op.AVERAGE):
            st["sm"] = None
        if p.op == Op.MIN:
            st["mn"] = None
        if p.op == Op.MAX:
            st["mx"] = None
        fam = _op_family(p.op)
        if fam in ("firstk", "lastk", "topk", "bottomk", "utopk"):
            k = 1 if p.op in (Op.FIRST, Op.LAST) else int(p.k)
            st[fam] = max(st.get(fam) or 0, k)
        elif fam in ("set", "hist"):
            st[fam] = None
    return out


def qsk_agg_expr(col, K: int):
    """Quantile-sketch partial: sorted values, systematically sampled to K
    with a uniform per-sample weight n/K (one-level KLL compactor). Shared by
    the tile builder and the batch-IR upload; NULL when no values. The input
    column expression may carry a conditional (upload's collapsed slice)."""
    arr = F.sort_array(F.collect_list(col.cast("double")))
    n = F.size(arr)
    sampled = F.when(n <= K, arr).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.lit(K - 1)),
            lambda i: F.element_at(arr, ((i * n) / F.lit(K)).cast("int") + 1),
        )
    )
    w = F.when(n <= K, F.lit(1.0)).otherwise(n.cast("double") / F.lit(K))
    return F.when(n > 0, F.struct(sampled.alias("s"), w.alias("w")))


def validate_tiled_spec(gb: GroupBy) -> list:
    """Pre-flight the tiled-strategy contract (also called by the backfill
    entrypoint BEFORE any partition computes): supported ops, bounded
    windows, tie-breakers for order ops, scalar-only buckets."""
    if not gb.sawtooth:
        # the tiled kernel always hop-rounds window starts (sawtooth
        # semantics) — a non-sawtooth GroupBy would silently diverge from the
        # plain/sliced/skew strategies instead of erroring
        raise ValueError("tiled strategy requires sawtooth=True (window tails are hop-rounded)")
    parts = gb.parts()
    bad = [p.op for p in parts if p.op not in TILED_OPS]
    if bad:
        raise ValueError(f"tiled path supports {sorted(o.value for o in TILED_OPS)}; got {bad}")
    if any(p.window.millis is None for p in parts):
        raise ValueError("tiled path requires bounded windows")
    order_parts = [p for p in parts if p.op in _ORDER_OPS]
    if order_parts and not gb.tie_breakers:
        raise ValueError(
            "tiled first/last(_k) needs tie_breakers for a total event order "
            "(per-tile truncation is order-dependent)"
        )
    _tile_bucket_stats(gb)  # raises on non-scalar bucketed ops
    return parts


def tile_agg_exprs(
    need: dict[str, dict[str, int | None]], tie_cols: list[str]
) -> tuple[list, list[str]]:
    """Per-column tile aggregation expressions over a frame that carries
    ``__ts_us`` + the input/tie columns. Shared by the batch tile builder and
    the streaming tile builder (streaming/groupby_stream.stream_hop_tiles) so
    their IR schemas stay merge-compatible. Histogram columns are returned
    separately: batch builds them with a two-level groupBy, streaming with a
    post-aggregation expression (chained streaming aggregations are not
    supported)."""

    def entry_struct(c: str):
        fields = [F.col(_TS_US).alias("t")]
        fields += [F.col(t).alias(f"b{i}") for i, t in enumerate(tie_cols)]
        fields.append(F.col(c).alias("v"))
        return F.when(F.col(c).isNotNull(), F.struct(*fields))

    aggs: list = []
    hist_cols: list[str] = []
    for c in sorted(need):
        stats = need[c]
        if "cnt" in stats:
            aggs.append(F.count(c).alias(f"{c}__cnt"))
        if "sum" in stats:
            aggs.append(F.sum(c).alias(f"{c}__sum"))
        if "min" in stats:
            aggs.append(F.min(c).alias(f"{c}__min"))
        if "max" in stats:
            aggs.append(F.max(c).alias(f"{c}__max"))
        if "pow" in stats:
            for pw in range(2, (stats["pow"] or 2) + 1):
                aggs.append(F.sum(F.pow(F.col(c).cast("double"), F.lit(pw))).alias(f"{c}__pow{pw}"))
        if "firstk" in stats:
            aggs.append(
                F.slice(F.sort_array(F.collect_list(entry_struct(c))), 1, stats["firstk"]).alias(f"{c}__firstk")
            )
        if "lastk" in stats:
            aggs.append(
                F.slice(
                    F.sort_array(F.collect_list(entry_struct(c)), asc=False), 1, stats["lastk"]
                ).alias(f"{c}__lastk")
            )
        if "topk" in stats:
            aggs.append(F.slice(F.sort_array(F.collect_list(c), asc=False), 1, stats["topk"]).alias(f"{c}__topk"))
        if "bottomk" in stats:
            aggs.append(F.slice(F.sort_array(F.collect_list(c)), 1, stats["bottomk"]).alias(f"{c}__bottomk"))
        if "utopk" in stats:
            aggs.append(F.slice(F.sort_array(F.collect_set(c), asc=False), 1, stats["utopk"]).alias(f"{c}__utopk"))
        if "set" in stats:
            aggs.append(F.collect_set(c).alias(f"{c}__set"))
        if "qsk" in stats:
            aggs.append(qsk_agg_expr(F.col(c), int(stats["qsk"])).alias(f"{c}__qsk"))
        if "hist" in stats:
            hist_cols.append(c)
    return aggs, hist_cols


# batch-IR field (jobs/upload.py) -> tile stat; the order/extreme families
# and the bucket map take their names from the part
_IR_TILE_STATS = {"cnt": "cnt", "sm": "sum", "mn": "min", "mx": "max", "st": "set", "qsk": "qsk"}


def ir_tile_column(p: AggregationPart, field: str, col) -> tuple[str, object]:
    """One batch-IR field of part ``p`` (a collapsed column or a tail-hop
    struct field, jobs/upload.build_batch_irs) as ``(stat, expr)``: the tile
    stat the IR-merge kernel reads and the value in the tile format above."""
    if field == "hmap":  # value counts: __n -> __c
        return "hist", F.transform(col, lambda e: F.struct(e["__v"].alias("__v"), e["__n"].alias("__c")))
    if field == "bk":
        return f"bk__{p.bucket}", col
    if field in ("ent", "ext"):
        return _op_family(p.op), col
    if field.startswith("p"):  # power sums p{pw}
        return f"pow{field[1:]}", col
    return _IR_TILE_STATS[field], col


def build_hop_tiles(
    events: DataFrame,
    gb: GroupBy,
    keys: list[str] | None = None,
    hop_ms: int | None = None,
) -> DataFrame:
    """Standalone batch hop-tile builder: one row per (keys, __hop) carrying
    every per-column IR the GroupBy's parts need (the reference's
    HopsAggregator output, HopsAggregator.scala:36-175). ``__hop`` is the hop
    index (tile start = __hop * hop). Streaming twin:
    streaming/groupby_stream.stream_hop_tiles (same stat columns)."""
    keys = keys or gb.keys
    if hop_ms is None:
        hop_ms = min(tail_hop_millis(p.window.millis) for p in gb.parts())
    hop_us = hop_ms * 1000
    r = ensure_ts_us(events, gb.time_column)
    for k in keys:
        r = r.where(F.col(k).isNotNull())
    need = _tile_stats_needed(gb)
    tie_cols = [t for t in gb.tie_breakers if t in events.columns and t not in keys]
    head_cols = sorted(need) + [t for t in tie_cols if t not in need]
    hop_col = (F.col(_TS_US) / F.lit(hop_us)).cast("long")
    aggs, hist_cols = tile_agg_exprs(need, tie_cols)
    if not aggs:  # every part bucketed/hist: keep a row-count anchor per tile
        aggs = [F.count(F.lit(1)).alias("__tile_rows")]
    tiles = (
        r.select(*keys, hop_col.alias("__hop"), _TS_US, *head_cols)
        .groupBy(*keys, "__hop")
        .agg(*aggs)
    )
    for c in hist_cols:
        # two-level: value counts shrink map-side, then one small row per tile.
        # The join keys match the tile agg's output partitioning, so only the
        # (already tiny) value-count side pays an exchange.
        vc = (
            r.select(*keys, hop_col.alias("__hop"), F.col(c).cast("string").alias("__v"))
            .where(F.col("__v").isNotNull())
            .groupBy(*keys, "__hop", "__v")
            .agg(F.count("*").alias("__c"))
            .groupBy(*keys, "__hop")
            .agg(F.collect_list(F.struct("__v", "__c")).alias(f"{c}__hist"))
        )
        tiles = tiles.join(vc, on=keys + ["__hop"], how="left")
    for (c, b), st in _tile_bucket_stats(gb).items():
        # bucketed IRs: (keys, hop, bucket) partials collected into one list
        # per tile — the same two-level shape as histogram tiles. Each
        # bucket slot carries the SAME per-op IR as the unbucketed tile
        # (scalar partials, bounded (ts, ties, value) entry lists, k-extreme
        # lists, distinct sets, value->count pairs) — the reference's
        # BucketedColumnAggregator layout (map of per-bucket IRs).
        def bk_entry_struct():
            fields = [F.col(_TS_US).alias("t")]
            fields += [F.col(t).alias(f"b{i}") for i, t in enumerate(tie_cols)]
            fields.append(F.col(c).alias("v"))
            return F.struct(*fields)

        # per-bucket partials at (keys, hop, bucket) grain. Scalars collect
        # into the array<struct> IR column; collection IRs flatten into
        # SEPARATE per-family columns of array<struct<__b, ...>> — each
        # element tagged with its bucket. Nesting stays at list<struct>
        # depth, the layout the kernel's per-bucket slicing reads with one
        # list_flatten per column. The flatten(collect_list(transform(...)))
        # runs JVM-side — the nested intermediate never crosses Arrow.
        agg2 = [F.count(c).alias("cnt")]
        struct_fields = ["__b", "cnt"]
        if "sm" in st:
            agg2.append(F.sum(F.col(c).cast("double")).alias("sm"))
            struct_fields.append("sm")
        if "mn" in st:
            agg2.append(F.min(c).alias("mn"))
            struct_fields.append("mn")
        if "mx" in st:
            agg2.append(F.max(c).alias("mx"))
            struct_fields.append("mx")
        if "firstk" in st:
            agg2.append(
                F.slice(F.sort_array(F.collect_list(bk_entry_struct())), 1, st["firstk"]).alias("firstk")
            )
        if "lastk" in st:
            agg2.append(
                F.slice(
                    F.sort_array(F.collect_list(bk_entry_struct()), asc=False), 1, st["lastk"]
                ).alias("lastk")
            )
        if "topk" in st:
            agg2.append(F.slice(F.sort_array(F.collect_list(c), asc=False), 1, st["topk"]).alias("topk"))
        if "bottomk" in st:
            agg2.append(F.slice(F.sort_array(F.collect_list(c)), 1, st["bottomk"]).alias("bottomk"))
        if "utopk" in st:
            agg2.append(F.slice(F.sort_array(F.collect_set(c), asc=False), 1, st["utopk"]).alias("utopk"))
        if "set" in st:
            agg2.append(F.collect_set(c).alias("vset"))
        base2 = r.where(F.col(c).isNotNull() & F.col(b).isNotNull()).select(
            *keys,
            hop_col.alias("__hop"),
            F.col(b).cast("string").alias("__b"),
            _TS_US,
            *sorted({c, *tie_cols} - set(keys)),
        )
        bt = base2.groupBy(*keys, "__hop", "__b").agg(*agg2)
        if "hist" in st:
            # per-bucket value counts: one extra pre-reduced level, joined
            # back at the (keys, hop, bucket) grain both sides already
            # hash-partition on
            vc2 = (
                base2.select(*keys, "__hop", "__b", F.col(c).cast("string").alias("__v"))
                .groupBy(*keys, "__hop", "__b", "__v")
                .agg(F.count("*").alias("__c"))
                .groupBy(*keys, "__hop", "__b")
                .agg(F.collect_list(F.struct("__v", "__c")).alias("hist"))
            )
            bt = bt.join(vc2, on=keys + ["__hop", "__b"])

        def tagged(arr_field: str, payload):
            return F.flatten(
                F.collect_list(F.transform(F.col(arr_field), payload))
            ).alias(f"{c}__bk_{arr_field}__{b}")

        final_aggs = [F.collect_list(F.struct(*struct_fields)).alias(f"{c}__bk__{b}")]
        ent_payload = lambda e: F.struct(  # noqa: E731
            F.col("__b").alias("__b"),
            e["t"].alias("t"),
            *[e[f"b{i}"].alias(f"b{i}") for i in range(len(tie_cols))],
            e["v"].alias("v"),
        )
        val_payload = lambda e: F.struct(F.col("__b").alias("__b"), e.alias("v"))  # noqa: E731
        if "firstk" in st:
            final_aggs.append(tagged("firstk", ent_payload))
        if "lastk" in st:
            final_aggs.append(tagged("lastk", ent_payload))
        if "topk" in st:
            final_aggs.append(tagged("topk", val_payload))
        if "bottomk" in st:
            final_aggs.append(tagged("bottomk", val_payload))
        if "utopk" in st:
            final_aggs.append(tagged("utopk", val_payload))
        if "set" in st:
            final_aggs.append(tagged("vset", val_payload))
        if "hist" in st:
            final_aggs.append(
                tagged(
                    "hist",
                    lambda e: F.struct(
                        F.col("__b").alias("__b"), e["__v"].alias("__v"), e["__c"].alias("__c")
                    ),
                )
            )
        bt = bt.groupBy(*keys, "__hop").agg(*final_aggs)
        tiles = tiles.join(bt, on=keys + ["__hop"], how="left")
    return tiles


def _range_sum(vals: np.ndarray, s: np.ndarray, e: np.ndarray) -> np.ndarray:
    p = _prefix(vals)
    return p[e] - p[s]


def tiled_sawtooth_asof_join(
    left: DataFrame,
    right: DataFrame,
    gb: GroupBy,
    left_time_column: str = "ts",
    key_mapping: dict[str, str] | None = None,
    prefix: str | None = None,
    coarse_buckets: int | str | None = "auto",
    prefilter: str | None = None,
) -> DataFrame:
    """Sawtooth-mode PITC as-of join where the window tail reads pre-
    aggregated hop tiles instead of raw events. ``coarse_buckets`` as in
    asof_join: cogroup on hash(keys) %% N so one Arrow batch carries many
    keys and searchsorted in composite-index space resolves them at once.
    ``prefilter`` pushes the left key set into the right scan before the
    tile build (asof_join.prefilter_right_keys — IN-list or semi-join)."""
    # Decimal inputs: JVM-side unscaled-int64/double rewrite before the tile
    # build (see aggregators/decimal.py), rescaled back after
    from chronon_spark.aggregators.decimal import rewrite_decimal_inputs

    right, gb_dec, dec_post = rewrite_decimal_inputs(right, gb)
    if dec_post is not None:
        from chronon_spark.aggregators.decimal import EXACT_OPS, _U

        bad = [
            a
            for a in gb_dec.aggregations
            if a.buckets and a.input_column.endswith(_U) and a.op in EXACT_OPS
        ]
        if bad:
            # bucketed tile partials are double-typed (per-bucket "sm"
            # structs) — an unscaled int64 through them would silently lose
            # cents above 2^53; the plain/sliced/skew strategies are exact
            raise ValueError(
                "bucketed Decimal aggregations are not supported on the tiled "
                f"strategy (ops {sorted(a.op.value for a in bad)}) — use the "
                "plain, sliced, or skew strategy, which keep them exact"
            )
        out = tiled_sawtooth_asof_join(
            left, right, gb_dec, left_time_column=left_time_column,
            key_mapping=key_mapping, prefix=prefix,
            coarse_buckets=coarse_buckets, prefilter=prefilter,
        )
        return apply_derivations(dec_post(out, prefix), gb.derivations)
    parts = validate_tiled_spec(gb)
    hop_ms = min(tail_hop_millis(p.window.millis) for p in parts)
    hop_us = hop_ms * 1000

    key_mapping = key_mapping or {k: k for k in gb.keys}
    left_keys = list(key_mapping.keys())
    right_keys = [key_mapping[k] for k in left_keys]

    if prefilter:
        from chronon_spark.operators.asof_join import prefilter_right_keys

        right = prefilter_right_keys(left, right, key_mapping, mode=prefilter)
    r = ensure_ts_us(right, gb.time_column)
    for k in right_keys:
        r = r.where(F.col(k).isNotNull())
    l = ensure_ts_us(left, left_time_column)

    need = _tile_stats_needed(gb)
    _tile_bucket_stats(gb)  # validates bucketed ops up front
    in_cols = sorted(need)
    bucket_cols = sorted({p.bucket for p in parts if p.bucket})
    tie_cols = [t for t in gb.tie_breakers if t in right.columns and t not in right_keys]
    head_cols = in_cols + [b for b in bucket_cols if b not in in_cols]
    head_cols += [t for t in tie_cols if t not in head_cols]
    hop_col = (F.col(_TS_US) / F.lit(hop_us)).cast("long")

    # 1) tile build: one JVM shuffle on (keys, hop) — shared with the
    # standalone/streaming builders
    tiles = (
        build_hop_tiles(right, gb, keys=right_keys, hop_ms=hop_ms)
        # tile timestamp = 1µs before hop end: the strict '<' kernel then
        # includes a tile iff the hop lies fully inside [wstart, q)
        .withColumn(_TS_US, (F.col("__hop") + 1) * F.lit(hop_us) - F.lit(1))
        .drop("__hop")
        .withColumn("__is_tile", F.lit(True))
    )

    # 2) head events: raw rows only in hops that contain >=1 query of the key
    # no .distinct(): left-semi ignores duplicate build rows, and dropping
    # the dedup saves a whole shuffle stage (the hop set is small either way)
    q_hops = l.select(
        *[F.col(k).alias(rk) for k, rk in key_mapping.items()], hop_col.alias("__hop")
    )
    heads = (
        r.withColumn("__hop", hop_col)
        .join(q_hops, on=right_keys + ["__hop"], how="leftsemi")
        .drop("__hop")
        .select(*right_keys, _TS_US, *head_cols)
        .withColumn("__is_tile", F.lit(False))
    )

    # 3) union (null-mated) — the cogroup's right side
    union = tiles.unionByName(heads, allowMissingColumns=True)
    union = union.select(*[F.col(c).alias(f"__r_{c}") for c in union.columns])

    right_types = {f.name: f.dataType for f in right.schema.fields}
    feat_fields = [
        T.StructField(
            f"{prefix}_{p.output_name}" if prefix else p.output_name,
            part_output_type(p, right_types[p.input_column]),
            True,
        )
        for p in parts
    ]
    out_schema = T.StructType(list(left.schema.fields) + feat_fields)
    kernel = functools.partial(
        ir_merge_kernel,
        parts=list(parts),
        feat_names=[f.name for f in feat_fields],
        stat_prefixes=[p.input_column for p in parts],
        tie_cols=tie_cols,
        arrow_schema=to_arrow_schema(out_schema),
        hop_us=hop_us,
    )
    out = cogroup_apply(l, union, left_keys, right_keys, coarse_buckets, out_schema, kernel)
    return apply_derivations(out, gb.derivations)


def _tail_head(
    es: np.ndarray, ee: np.ndarray, hs: np.ndarray, he: np.ndarray, n_tail: int
) -> tuple[np.ndarray, np.ndarray]:
    """The tail+head gather: every query's tail entries [es, ee) then its
    head events [hs, he) (offset by ``n_tail``) as one contiguous run of
    indices into concat(tail, head). Returns (flat indices, per-query run
    lengths)."""
    starts = np.column_stack([es, hs + n_tail]).ravel()
    flat, lens = _flat_ranges(starts, np.column_stack([ee, he + n_tail]).ravel())
    return flat, lens.reshape(-1, 2).sum(axis=1)


def _merged_kernel(
    p: AggregationPart,
    tail: _ColumnSeries,
    es: np.ndarray,
    ee: np.ndarray,
    head: _ColumnSeries,
    hs: np.ndarray,
    he: np.ndarray,
) -> pa.Array:
    """Order, extreme and set ops over tail entries then head events: each
    query's two ranges are gathered into one (``_tail_head``) and run
    through the raw kernel ``_kernel``; tail entries precede head events in
    time. FIRST(_K) keeps the first k of each side, LAST(_K) the last k."""
    if p.op in _ORDER_OPS:
        k = 1 if p.op in (Op.FIRST, Op.LAST) else p.k
        if p.op in (Op.FIRST, Op.FIRST_K):
            ee, he = np.minimum(ee, es + k), np.minimum(he, hs + k)
        else:
            es, hs = np.maximum(es, ee - k), np.maximum(hs, he - k)
    tv = tail.values if tail.type == head.type else tail.values.cast(head.type)
    both = _ColumnSeries(np.concatenate([tail.ts, head.ts]), pa.concat_arrays([tv, head.values]))
    pieces = []
    for lo, hi in _query_chunks((ee - es) + (he - hs)):
        flat, lens = _tail_head(es[lo:hi], ee[lo:hi], hs[lo:hi], he[lo:hi], len(tail.ts))
        e = np.cumsum(lens)
        pieces.append(_kernel(p, both.take(flat), e - lens, e))
    return pa.concat_arrays(pieces)


def _merged_extreme(
    tail: _ColumnSeries,
    ts_: np.ndarray,
    te: np.ndarray,
    head: _ColumnSeries,
    hs: np.ndarray,
    he: np.ndarray,
    take_min: bool,
) -> pa.Array:
    """MIN or MAX over tail partials [ts_, te) and head events [hs, he):
    typed values and validity merged with np.where. The head value wins
    only when strictly smaller (larger), so an unordered NaN pair keeps the
    tail's."""
    tv = range_extreme(tail.vals, ts_, te, take_min)
    hv = range_extreme(head.vals, hs, he, take_min)
    tnull, hnull = te <= ts_, he <= hs
    both = ~tnull & ~hnull
    pick_h = tnull.copy()
    pick_h[both] = (hv[both] < tv[both]) if take_min else (hv[both] > tv[both])
    return pa.array(np.where(pick_h, hv, tv), head.type, mask=tnull & hnull)


def ir_merge_kernel(
    lt: pa.Table,
    rt: pa.Table,
    lcodes: np.ndarray,
    rcodes: np.ndarray,
    base: int,
    block: int,
    *,
    parts: list[AggregationPart],
    feat_names: list[str],
    stat_prefixes: list[str],
    tie_cols: list[str],
    arrow_schema: pa.Schema,
    hop_us: int | None = None,
    head_start_us: int | None = None,
) -> pa.Table:
    """The one IR-merge kernel: per query, merge the tile rows in its window
    tail with the exact head events — the reference's ``lambdaAggregateIr``
    merge of collapsed IR + tail hops + streaming rows
    (SawtoothOnlineAggregator.scala:86-126). A ``cogroup_apply`` batch kernel
    for both the tiled backfill and the serving fetch (jobs/upload.py).

    ``rt`` holds tile rows (``__is_tile``) and head events. Part ``i`` reads
    its tile stats from ``{stat_prefixes[i]}__{stat}`` (the ``tile_agg_exprs``
    names) and its head values from its input column. A part's tail is the
    tile rows (and IR entries) in ``[wstart, head)``, its head the events in
    ``[head, q)``, where ``head = max(head start, wstart)`` and the head
    start is ``head_start_us`` when given, else the ``hop_us`` floor of the
    query ts. Unbounded windows take every tile row of the key.

    Scalar partials merge as range sums (MIN/MAX: ``_merged_extreme``);
    order, extreme and set ops gather each query's tail entries and head
    events into one range for the raw kernel (``_merged_kernel``), and the
    histogram and percentile sketches use the same gather. Every feature is
    a ``pa.Array`` of its ``arrow_schema`` field type.

    Whole-batch in composite-index space: code·block + (ts−base) makes every
    searchsorted resolve ALL keys of the Arrow batch at once (same layout as
    kernels.MultiKeyEventColumns, from kernels.composite_layout); clamping
    window offsets to [0, block) keeps ranges inside their key's segment."""
    q_ts = lt.column(_TS_US).to_numpy()
    r_ts = rt.column(_TS_US).to_numpy()
    is_tile = _numpy(rt.column("__is_tile"))
    tcomp_all = rcodes[is_tile].astype(np.int64) * block + (r_ts[is_tile] - base)
    torder = np.argsort(tcomp_all, kind="stable")
    tile_rows, tcomp_all = rt.filter(is_tile).take(torder), tcomp_all[torder]
    # head events in the raw kernel's event store, ordered by (comp,
    # tie_breakers), so first/last(_k) heads match the plain path exactly
    head_events = MultiKeyEventColumns(
        rt.filter(~is_tile), rcodes[~is_tile], r_ts[~is_tile], tie_cols, base, block
    )
    tile_code_base = (tcomp_all // block) * block
    n_ties = len(tie_cols)

    def filled(stat_col: str) -> np.ndarray:
        """One tile partial per tile; NULL (no value in the tile) reads 0."""
        return _numpy(tile_rows.column(stat_col).fill_null(0))

    def flat_lists(stat_col: str) -> tuple[np.ndarray, pa.Array]:
        """(per-tile entry counts, flattened entries) of a list IR column."""
        col = tile_rows.column(stat_col).combine_chunks()
        return _numpy(pc.list_value_length(col).fill_null(0)), pc.list_flatten(col)

    entry_cache: dict[str, tuple] = {}

    def entries(stat_col: str, kind: str) -> tuple:
        """Flatten one tile collection column into sorted entries.

        kind='ts'    -> series of values at their own (ts, ties) order
        kind='value' -> series of values at their tile's comp
        kind='hist'  -> (tile_comp, values, weights)
        kind='qsk'   -> (tile_comp, samples, weights)
        Entry-level ts bounds equal tile-level inclusion because window
        starts are hop multiples (module docstring)."""
        if stat_col in entry_cache:
            return entry_cache[stat_col]
        if kind == "qsk":
            # struct{s: sorted samples, w: per-sample weight} per tile
            s_arr, w_arr = tile_rows.column(stat_col).combine_chunks().flatten()
            lens = _numpy(pc.list_value_length(s_arr).fill_null(0))
            out = (
                np.repeat(tcomp_all, lens),
                _numpy(pc.list_flatten(s_arr)).astype(np.float64),
                np.repeat(_numpy(w_arr.fill_null(0)), lens),
            )
        else:
            lens, flat = flat_lists(stat_col)
            if kind == "ts":
                comp = np.repeat(tile_code_base, lens) + (_numpy(flat.field("t")) - base)
                ties = [_numpy(flat.field(f"b{i}")) for i in range(n_ties)]
                order = np.lexsort(tuple(reversed([comp] + ties)))
                out = _ColumnSeries(comp[order], flat.field("v").take(order))
            elif kind == "hist":  # comp already ascending (tiles sorted)
                out = (np.repeat(tcomp_all, lens), _numpy(flat.field("__v")), _numpy(flat.field("__c")))
            else:  # value entries: bound by the tile's own comp
                out = _ColumnSeries(np.repeat(tcomp_all, lens), flat)
        entry_cache[stat_col] = out
        return out

    bucket_cache: dict = {}

    def bucket_series(pre: str, c: str, b: str):
        """Flatten one per-bucket tile IR column + the bucket-masked head
        events into per-bucket-code contiguous slices (stable sort on
        (bucket_code, comp)); codes are shared between tiles and heads."""
        ck = (pre, c, b)
        if ck in bucket_cache:
            return bucket_cache[ck]
        lens, flat = flat_lists(f"{pre}__bk__{b}")
        tcomp_e = np.repeat(tcomp_all, lens)
        tb = _numpy(flat.field("__b"))
        hcomp_b, hb, hvals_b = head_events.pair(c, b)
        codes, uniques = pd.factorize(np.concatenate([tb, hb]))
        tcd, hcd = codes[: len(tb)], codes[len(tb) :]
        tord = np.lexsort((tcomp_e, tcd))
        tcomp_e, tcd = tcomp_e[tord], tcd[tord]
        stats = {
            nm: flat.field(nm).take(tord)
            for nm in ("cnt", "sm", "mn", "mx")
            if flat.type.get_field_index(nm) >= 0
        }
        # heads come in (comp, tie_breakers) order, so a stable sort on
        # the bucket gives the raw kernel's exact event order per bucket:
        # per-bucket first/last(_k) match the plain grouped path
        hord = np.argsort(hcd, kind="stable")
        hcomp_b, hvals_b, hcd = hcomp_b[hord], hvals_b.take(hord), hcd[hord]
        nb = len(uniques)
        tlo = np.searchsorted(tcd, np.arange(nb + 1))
        hlo = np.searchsorted(hcd, np.arange(nb + 1))
        res = (uniques, tcomp_e, stats, tlo, hcomp_b, hvals_b, hlo)
        bucket_cache[ck] = res
        return res

    bucket_entry_cache: dict = {}

    def bucket_entries(pre: str, c: str, b: str, fam: str, kind: str) -> tuple:
        """Flatten one per-bucket collection IR column (each element
        tagged with its bucket, `{pre}__bk_{fam}__{b}`) into arrays laid
        out bucket-contiguously: an `elo` offset table indexing each
        bucket's slice, the entries' comp, their values (Arrow; numpy
        strings for 'hist') and, for 'hist', their weights. Bucket codes
        come from bucket_series' factorize so slices line up with the
        scalar IRs and the head slices."""
        ck = (pre, b, fam)
        if ck in bucket_entry_cache:
            return bucket_entry_cache[ck]
        uniques = bucket_series(pre, c, b)[0]
        field = {"set": "vset"}.get(fam, fam)
        lens, flat = flat_lists(f"{pre}__bk_{field}__{b}")
        tcomp_rep = np.repeat(tcomp_all, lens)
        # a bucket present in any collection entry always has tile rows
        # in the scalar IR column (cnt is collected unconditionally at
        # the same grain), so factorize covered it
        ebkt = pd.Index(uniques).get_indexer(_numpy(flat.field("__b")))
        if kind == "ts":
            comp = np.repeat(tile_code_base, lens) + (_numpy(flat.field("t")) - base)
            ties = [_numpy(flat.field(f"b{i}")) for i in range(n_ties)]
            order = np.lexsort(tuple(reversed([ebkt, comp] + ties)))
            out_t: tuple = (comp[order], flat.field("v").take(order))
        else:
            order = np.lexsort((tcomp_rep, ebkt))
            if kind == "hist":
                out_t = (tcomp_rep[order], _numpy(flat.field("__v"))[order], _numpy(flat.field("__c"))[order])
            else:  # plain value entries, bound by their tile's comp
                out_t = (tcomp_rep[order], flat.field("v").take(order))
        elo = np.searchsorted(ebkt[order], np.arange(len(uniques) + 1))
        res = (elo, *out_t)
        bucket_entry_cache[ck] = res
        return res

    nullkey = lcodes < 0
    kbase = lcodes.astype(np.int64) * block
    comp_q = np.where(nullkey, np.int64(-1), kbase + (q_ts - base))
    if head_start_us is None:
        head_start = (q_ts // hop_us) * hop_us
    else:
        head_start = np.full(len(q_ts), head_start_us, np.int64)

    def comp_at(ts: np.ndarray) -> np.ndarray:
        return np.where(nullkey, np.int64(0), kbase + np.clip(ts - base, 0, block - 1))

    def ranges(ts: np.ndarray, lo: np.ndarray, hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        s = np.searchsorted(ts, lo, side="left")
        return s, np.maximum(np.searchsorted(ts, hi, side="left"), s)

    out: dict[str, pa.Array] = {}
    for p, fname, pre in zip(parts, feat_names, stat_prefixes):
        typ = arrow_schema.field(fname).type
        if p.window.millis is None:  # unbounded: from the key's segment start
            wstart = np.full(len(q_ts), base, np.int64)
        else:
            p_hop_us = tail_hop_millis(p.window.millis) * 1000
            wstart = ((q_ts - p.window.millis * 1000) // p_hop_us) * p_hop_us
        comp_w = comp_at(wstart)
        # a window that starts after the head start (a 90m window queried a
        # day after batchEnd) reads head events only
        comp_h = comp_at(np.maximum(head_start, wstart))
        c = p.input_column
        k = p.k if (p.k or p.op != Op.HISTOGRAM) else None  # histogram truncation

        if p.bucket is not None:
            # Map[bucket -> agg]: per-bucket tile IRs merged with
            # bucket-masked head events; iteration is per BUCKET (each
            # pass vectorized over all queries), the same shape as
            # kernels._grouped_kernel. Scalars merge range partials;
            # collection IRs reuse the SAME merges as unbucketed parts.
            uniques, tcomp_e, bstats, tlo, hcomp_b, hvals_b, hlo = bucket_series(pre, c, p.bucket)
            fam = _op_family(p.op)
            if fam is not None:
                kind = "ts" if p.op in _ORDER_OPS else ("hist" if p.op in _HIST_OPS else "value")
                elo, ecomp, evals, *ewts = bucket_entries(pre, c, p.bucket, fam, kind)
            per_group = []
            for g in range(len(uniques)):
                head = _ColumnSeries(hcomp_b[hlo[g] : hlo[g + 1]], hvals_b[hlo[g] : hlo[g + 1]])
                s2, e2 = ranges(head.ts, comp_h, comp_q)
                if fam is not None:
                    eg = slice(elo[g], elo[g + 1])
                    es, ee = ranges(ecomp[eg], comp_w, comp_h)
                    if p.op in _HIST_OPS:
                        per_group.append(_hist2(evals[eg], ewts[0][eg], es, ee, head.vals, s2, e2, k))
                    else:
                        tail = _ColumnSeries(ecomp[eg], evals[eg])
                        per_group.append(_merged_kernel(p, tail, es, ee, head, s2, e2))
                    continue
                tg = slice(tlo[g], tlo[g + 1])
                s1, e1 = ranges(tcomp_e[tg], comp_w, comp_h)
                if p.op in (Op.MIN, Op.MAX):
                    nm = "mn" if p.op == Op.MIN else "mx"
                    tail = _ColumnSeries(tcomp_e[tg], bstats[nm][tg])
                    per_group.append(_merged_extreme(tail, s1, e1, head, s2, e2, p.op == Op.MIN))
                    continue
                cnt_g = int_range_sum(_numpy(bstats["cnt"][tg]), s1, e1) + (e2 - s2)
                vals_g = cnt_g
                if p.op != Op.COUNT:
                    sm_g = _range_sum(_numpy(bstats["sm"][tg]), s1, e1) + _range_sum(head.vals, s2, e2)
                    if p.op == Op.AVERAGE:
                        vals_g = np.divide(sm_g, cnt_g, out=np.zeros(len(sm_g)), where=cnt_g > 0)
                    else:  # bucketed tile sums are double: an integral SUM rounds back
                        vals_g = np.round(sm_g).astype(np.int64) if pa.types.is_integer(typ.item_type) else sm_g
                per_group.append(pa.array(vals_g, typ.item_type, mask=cnt_g <= 0))
            out[fname] = group_map(len(q_ts), uniques, per_group) if per_group else pa.nulls(len(q_ts), typ)
            continue

        hcs = head_events.column(c)
        hs, he = ranges(hcs.ts, comp_h, comp_q)

        if p.op in (Op.COUNT, Op.SUM, Op.AVERAGE) or p.op in _MOMENT_OPS:
            # tail: tiles fully inside [wstart, head)
            ts_idx_s, ts_idx_e = ranges(tcomp_all, comp_w, comp_h)
            n = int_range_sum(filled(f"{pre}__cnt"), ts_idx_s, ts_idx_e) + (he - hs)  # non-null values
            if p.op == Op.COUNT:
                out[fname] = pa.array(n, typ, mask=n <= 0)
                continue
            if p.op == Op.SUM and pa.types.is_integer(typ):
                # exact int64 path: integral tile partials and heads both
                # arrive as int64, so >2^53 sums (incl. the Decimal
                # rewrite's unscaled values) never round through float64
                total_i = int_range_sum(filled(f"{pre}__sum"), ts_idx_s, ts_idx_e)
                out[fname] = pa.array(total_i + int_range_sum(hcs.vals, hs, he), typ, mask=n <= 0)
                continue
            hvals = hcs.vals.astype(np.float64)
            total = _range_sum(filled(f"{pre}__sum"), ts_idx_s, ts_idx_e) + _range_sum(hvals, hs, he)
            if p.op == Op.SUM:
                out[fname] = pa.array(total, typ, mask=n <= 0)
                continue
            with np.errstate(invalid="ignore", divide="ignore"):
                if p.op == Op.AVERAGE:
                    out[fname] = pa.array(total / n, typ, mask=n <= 0)
                    continue
                # moments from merged raw power sums (same central-moment
                # algebra as kernels._moments at shift 0)
                upto = 2 if p.op == Op.VARIANCE else (3 if p.op == Op.SKEW else 4)
                S = {1: total}
                for pw in range(2, upto + 1):
                    s_t = _range_sum(filled(f"{pre}__pow{pw}"), ts_idx_s, ts_idx_e)
                    p_h = _prefix(hvals, pw)
                    S[pw] = s_t + (p_h[he] - p_h[hs])
                mu = S[1] / n
                m2 = np.maximum(S[2] / n - mu**2, 0.0)
                if p.op == Op.VARIANCE:
                    vals_out, bad = m2, n <= 0
                elif p.op == Op.SKEW:
                    m3 = S[3] / n - 3 * mu * S[2] / n + 2 * mu**3
                    vals_out = m3 / np.power(m2, 1.5)
                    bad = (n < 3) | (m2 <= 0)
                else:
                    m4 = S[4] / n - 4 * mu * S[3] / n + 6 * mu**2 * S[2] / n - 3 * mu**4
                    vals_out = m4 / (m2**2) - 3.0
                    bad = (n < 4) | (m2 <= 0)
            out[fname] = pa.array(vals_out, typ, mask=bad | (n <= 0))
        elif p.op in (Op.MIN, Op.MAX):
            take_min = p.op == Op.MIN
            tcol = tile_rows.column(f"{pre}__{'min' if take_min else 'max'}").combine_chunks()
            tail = valid_series(tcol, tcomp_all)
            out[fname] = _merged_extreme(tail, *ranges(tail.ts, comp_w, comp_h), hcs, hs, he, take_min)
        elif p.op == Op.APPROX_PERCENTILE:
            ecomp, evals, ewts = entries(f"{pre}__qsk", "qsk")
            es, ee = ranges(ecomp, comp_w, comp_h)
            out[fname] = _qsk2(evals, ewts, es, ee, hcs.vals, hs, he, np.asarray(p.percentiles, np.float64))
        elif p.op in _HIST_OPS:
            ecomp, evals, ewts = entries(f"{pre}__hist", "hist")
            es, ee = ranges(ecomp, comp_w, comp_h)
            out[fname] = _hist2(evals, ewts, es, ee, hcs.vals, hs, he, k)
        else:  # order, extreme and set ops: raw kernel over tail + head
            tail = entries(f"{pre}__{_op_family(p.op)}", "ts" if p.op in _ORDER_OPS else "value")
            out[fname] = _merged_kernel(p, tail, *ranges(tail.ts, comp_w, comp_h), hcs, hs, he)
    return kernel_output(lt, [out[f] for f in feat_names], arrow_schema)


def _hist2(
    evals: np.ndarray,
    ewts: np.ndarray,
    es: np.ndarray,
    ee: np.ndarray,
    hvals: np.ndarray,
    hs: np.ndarray,
    he: np.ndarray,
    k: int | None,
) -> pa.Array:
    """Weighted histogram over tile (value, count) entries + weight-1 head
    events, gathered per query by ``_tail_head``; finalize (incl.
    deterministic k-truncation) shared with the raw kernel via
    kernels.hist_finalize."""
    n = (ee - es) + (he - hs)
    vals_all = np.concatenate([evals.astype(str), hvals.astype(str)])
    wts_all = np.concatenate([ewts.astype(np.int64), np.ones(len(hvals), np.int64)])
    runs_seg, runs_val, runs_cnt = [], [], []
    for lo, hi in _query_chunks(n):
        flat, lens = _tail_head(es[lo:hi], ee[lo:hi], hs[lo:hi], he[lo:hi], len(evals))
        seg = np.repeat(np.arange(hi - lo, dtype=np.int64), lens)
        vals, wts = vals_all[flat], wts_all[flat]
        order = np.lexsort((vals, seg))
        seg, vals, wts = seg[order], vals[order], wts[order]
        runs = _run_starts(seg, vals)
        wprefix = np.concatenate(([0], np.cumsum(wts)))
        runs_seg.append(seg[runs] + lo)
        runs_val.append(vals[runs])
        runs_cnt.append(np.diff(wprefix[np.append(np.flatnonzero(runs), len(seg))]))
    return hist_finalize(
        np.concatenate(runs_seg), np.concatenate(runs_val), np.concatenate(runs_cnt), len(n), k, n <= 0
    )


def _qsk2(
    evals: np.ndarray,
    ewts: np.ndarray,
    es: np.ndarray,
    ee: np.ndarray,
    hvals: np.ndarray,
    hs: np.ndarray,
    he: np.ndarray,
    qs: np.ndarray,
) -> pa.Array:
    """Weighted-quantile estimate over tile sketch samples (weight n/K) +
    exact head events (weight 1), gathered per query by ``_tail_head``
    (kernels.weighted_percentiles): with all weights 1 it is EXACTLY the
    raw kernel's interpolation, so the sketch is only approximate where
    tiles actually compacted."""
    n = (ee - es) + (he - hs)
    vals_all = np.concatenate([evals, hvals.astype(np.float64)])
    wts_all = np.concatenate([ewts.astype(np.float64), np.ones(len(hvals))])
    rows = []
    for lo, hi in _query_chunks(n):
        flat, lens = _tail_head(es[lo:hi], ee[lo:hi], hs[lo:hi], he[lo:hi], len(evals))
        seg = np.repeat(np.arange(hi - lo, dtype=np.int64), lens)
        vals, wts = vals_all[flat], wts_all[flat]
        order = np.lexsort((vals, seg))
        rows.append(weighted_percentiles(lens, vals[order], wts[order], qs))
    return percentile_lists(np.concatenate(rows), n <= 0)
