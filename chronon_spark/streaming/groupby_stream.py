"""Streaming GroupBy: Structured Streaming equivalents of the engine's
windowed aggregations.

The reference runs the same GroupBy semantics through two streaming engines
(spark/.../streaming/GroupBy.scala:85-201 — row-level pass-through with
windows resolved at fetch; flink/.../FlinkJob.scala:95-118 — event-time
tumbling tiles sized by the smallest tail hop, 5-minute bounded
out-of-orderness watermark). We use idiomatic Structured Streaming:

- `stream_tumbling_agg` / `stream_hop_tiles`: `F.window` event-time windows
  with a watermark; tiles are keyed by (entity, tile_start) exactly like the
  reference's tiled IRs (api/.../TilingUtils.scala), so a downstream
  fetcher can merge them with batch tiles from `operators/tiles.py` — the
  tile schema is the same (cnt/sum/min/max per column).
- `stream_sessionize`: `F.session_window` gap sessions (the reference has no
  session operator anywhere — north-rule addition).

All aggregation stays JVM-side (built-in functions; update/merge handled by
Spark's stateful operators). Late data beyond the watermark is dropped —
identical to the reference's Flink watermark contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.resolution import smallest_tail_hop_millis


def _dur(spec: str) -> str:
    """'5m' → '5 minutes' (Spark interval string)."""
    from chronon_spark.api import Window

    ms = Window(spec).millis
    return f"{ms // 1000} seconds"


def stream_tumbling_agg(
    stream: DataFrame,
    keys: list[str],
    size: str,
    aggs: dict[str, Column],
    time_col: str = "ts",
    watermark: str = "5m",
) -> DataFrame:
    """Event-time tumbling aggregation with bounded out-of-orderness
    (reference default: 5 minutes, FlinkJob.scala:95-118)."""
    w = stream.withWatermark(time_col, _dur(watermark))
    out = w.groupBy(*keys, F.window(time_col, _dur(size)).alias("__w")).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return out.select(
        *keys, F.col("__w.start").alias("window_start"), F.col("__w.end").alias("window_end"), *aggs
    )


def stream_hop_tiles(
    stream: DataFrame,
    gb: GroupBy,
    time_col: str = "ts",
    watermark: str = "5m",
) -> DataFrame:
    """Streaming tile builder: partial IRs per (keys, tile_start), tile size =
    smallest tail hop across the GroupBy's windows (Resolution.scala:65-86).
    Stat columns are generated by the SAME expression factory as the batch
    tile builder (operators/tiles.tile_agg_exprs) for the full op set —
    scalar partials, power-sum moments, bounded (ts, tie, value) entry lists,
    k-extreme lists, distinct sets, value->count maps — so batch + streaming
    tiles merge associatively (the reference's Flink tile producer writes the
    same IRs, flink/.../FlinkJob semantics).

    Histogram maps can't use the batch two-level groupBy here (chained
    streaming aggregations are unsupported): the values are collected per
    tile and folded into (__v, __c) structs by a post-aggregation sort +
    run-length expression — still JVM-side, O(tile_size · log tile_size)
    per tile regardless of value cardinality."""
    from chronon_spark.operators.tiles import (
        _TS_US,
        _tile_bucket_stats,
        _tile_stats_needed,
        tile_agg_exprs,
    )

    hop_ms = smallest_tail_hop_millis([p.window.millis for p in gb.parts()])
    need = _tile_stats_needed(gb)
    bucket_stats = _tile_bucket_stats(gb, scalar_only=True)  # streaming fold is scalar-only
    tie_cols = [t for t in gb.tie_breakers if t in stream.columns and t not in gb.keys]
    aggs, hist_cols = tile_agg_exprs(need, tie_cols)
    hist_aggs = [
        F.collect_list(F.col(c).cast("string")).alias(f"{c}__histraw") for c in hist_cols
    ]
    # bucketed scalar IRs: batch uses a two-level groupBy; streaming collects
    # (bucket, value) pairs and folds per-bucket partials in a post-agg
    # expression (same output struct as operators/tiles.build_hop_tiles)
    bucket_aggs = [
        F.collect_list(
            F.when(
                F.col(c).isNotNull() & F.col(b).isNotNull(),
                F.struct(F.col(b).cast("string").alias("__b"), F.col(c).alias("v")),
            )
        ).alias(f"{c}__bkraw__{b}")
        for (c, b) in bucket_stats
    ]
    if not aggs and not hist_aggs and not bucket_aggs:
        raise ValueError("no tileable aggregations in GroupBy")
    w = stream.withColumn(
        _TS_US, F.unix_micros(F.col(time_col).cast("timestamp"))
    ).withWatermark(time_col, _dur(watermark))
    out = w.groupBy(
        *gb.keys, F.window(time_col, f"{hop_ms // 1000} seconds").alias("__w")
    ).agg(*aggs, *hist_aggs, *bucket_aggs)
    # value->count fold via sort + run-length scan: O(n log n) per tile
    # instead of the re-filter-per-distinct O(n·d) form — a hot tile with a
    # high-cardinality histogram column stays linear-ish, and everything is
    # still codegen (no Python). Run starts are found on the SORTED array, so
    # count(x) = next_start - start.
    def _run_bounds(srt, key_of):
        n = F.size(srt)
        idx = F.sequence(F.lit(1), n)

        def is_start(i):
            # when() keeps element_at(srt, 0) unevaluated at i == 1 (ANSI)
            return F.when(i == 1, F.lit(True)).otherwise(
                key_of(F.element_at(srt, i)) != key_of(F.element_at(srt, i - 1))
            )

        starts = F.filter(idx, is_start)
        nexts = F.concat(
            F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))), F.array(n + 1)
        )
        return n, starts, nexts

    for c in hist_cols:
        raw = F.col(f"{c}__histraw")
        srt = F.array_sort(raw)
        n, starts, nexts = _run_bounds(srt, lambda e: e)

        def make_hist_run(srt):
            def run(s, e2):
                return F.struct(
                    F.element_at(srt, s).alias("__v"), (e2 - s).cast("long").alias("__c")
                )

            return run

        out = out.withColumn(
            f"{c}__hist", F.when(n > 0, F.zip_with(starts, nexts, make_hist_run(srt)))
        ).drop(f"{c}__histraw")
    for (c, b), st in bucket_stats.items():
        raw = F.col(f"{c}__bkraw__{b}")
        # array_sort on struct orders by (__b, v): buckets become contiguous
        # runs; per-bucket stats fold over the run slice — each element is
        # visited once across all buckets (was: re-filter raw per bucket)
        srt = F.array_sort(raw)
        n, starts, nexts = _run_bounds(srt, lambda e: e["__b"])

        def make_bucket_run(srt, st):
            # factory keeps the Spark HOF lambda at its declared arity
            # (pyspark introspects the signature; extra default args break it)
            def run(s, e2):
                sub = F.slice(srt, s, e2 - s)
                vs = F.transform(sub, lambda e: e["v"])
                fields = [
                    F.element_at(srt, s)["__b"].alias("__b"),
                    (e2 - s).cast("long").alias("cnt"),
                ]
                if "sm" in st:
                    fields.append(
                        F.aggregate(vs, F.lit(0.0), lambda a, v: a + v.cast("double")).alias("sm")
                    )
                if "mn" in st:
                    fields.append(F.array_min(vs).alias("mn"))
                if "mx" in st:
                    fields.append(F.array_max(vs).alias("mx"))
                return F.struct(*fields)

            return run

        out = out.withColumn(
            f"{c}__bk__{b}", F.when(n > 0, F.zip_with(starts, nexts, make_bucket_run(srt, st)))
        ).drop(f"{c}__bkraw__{b}")
    stat_cols = [a for a in out.columns if "__" in a and a != "__w"]
    return out.select(*gb.keys, F.col("__w.start").alias("tile_start"), *stat_cols)


DECOMPOSABLE = {Op.COUNT, Op.SUM, Op.AVERAGE, Op.MIN, Op.MAX}


def stream_running_features(stream: DataFrame, gb: GroupBy, time_col: str = "ts") -> DataFrame:
    """Custom stateful operator: per-key RUNNING lifetime features, one output
    row per input event — the reference's fire-per-element trigger semantics
    (flink/.../window/Trigger.scala:13-56 AlwaysFireOnElementTrigger), built
    on `applyInPandasWithState` (Arrow-batched, no per-row Python).

    Each emitted row carries the aggregate of every event strictly BEFORE it
    (prior micro-batches via the keyed state IR + earlier rows of the same
    batch via a prefix scan) — the same zero-leakage `ts' < ts` contract as
    the batch as-of join, which the parity test asserts. Supports the
    decomposable ops over unbounded (lifetime) windows; state per key is one
    fixed-size IR row (cnt/sum/min/max per input column).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from chronon_spark.types import part_output_type

    parts = gb.parts()
    bad = [p.op for p in parts if p.op not in DECOMPOSABLE]
    if bad:
        raise ValueError(f"stream_running_features supports {sorted(o.value for o in DECOMPOSABLE)}; got {bad}")
    if any(p.window.millis is not None for p in parts):
        raise ValueError("stream_running_features computes lifetime (unbounded) windows only")
    in_cols = sorted({p.input_column for p in parts})
    tie = list(gb.tie_breakers)

    right_types = {f.name: f.dataType for f in stream.schema.fields}
    # inputs whose SUM is BIGINT keep BIGINT state and int64 scans (exact
    # above 2^53)
    integral = {
        c: isinstance(part_output_type(Aggregation(c, Op.SUM).parts()[0], right_types[c]), T.LongType)
        for c in in_cols
    }
    state_fields = []
    for c in in_cols:
        st_type = T.LongType() if integral[c] else T.DoubleType()
        state_fields += [
            T.StructField(f"{c}__cnt", T.LongType()),
            T.StructField(f"{c}__sm", st_type),
            T.StructField(f"{c}__mn", st_type),
            T.StructField(f"{c}__mx", st_type),
        ]
    state_schema = T.StructType(state_fields)
    feat_fields = [
        T.StructField(p.output_name, part_output_type(p, right_types[p.input_column]), True)
        for p in parts
    ]
    out_schema = T.StructType(list(stream.schema.fields) + feat_fields)
    in_names = [f.name for f in stream.schema.fields]
    # Spark hands an integer column that holds nulls to pandas as float64,
    # which rounds above 2^53: each non-key one crosses as a non-null int64
    # plus a null flag, and fn rebuilds the nullable column
    carried = {
        f.name: f"__null_{f.name}"
        for f in stream.schema.fields
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
        and f.name not in gb.keys
    }
    carrier = stream.select(
        *[F.coalesce(c, F.lit(0)).cast("long").alias(c) if c in carried else c for c in in_names],
        *[F.col(c).isNull().alias(flag) for c, flag in carried.items()],
    )

    def fn(key, pdfs, state: GroupState):
        names = [f.name for f in state_fields]
        if state.exists:
            st = dict(zip(names, state.get))
        else:
            st = {n: (0 if n.endswith("__cnt") else None) for n in names}
        # materialize ALL Arrow chunks before sorting: a micro-batch larger
        # than arrow maxRecordsPerBatch arrives as multiple chunks that are
        # NOT time-ordered — scanning them independently with state merged
        # in between would let an early-ts row in a later chunk see later
        # events (violating strict ts' < ts)
        chunks = [p for p in pdfs if len(p)]
        for pdf in ([pd.concat(chunks, ignore_index=True)] if chunks else []):
            for c, flag in carried.items():
                pdf[c] = pd.arrays.IntegerArray(pdf[c].to_numpy(np.int64), pdf[flag].to_numpy(bool))
            pdf = pdf.sort_values([time_col] + tie, kind="stable").reset_index(drop=True)
            out = pdf[in_names].copy()
            # strict ts' < ts, same as the batch as-of kernel: a row sees only
            # STRICTLY EARLIER timestamps, so duplicate-ts rows exclude each
            # other (searchsorted-left prefix index, not row position)
            ts_arr = pdf[time_col].to_numpy()
            idx = np.searchsorted(ts_arr, ts_arr, side="left")
            stats = {}
            for c in in_cols:
                if integral[c]:
                    ok = pdf[c].notna().to_numpy()
                    v = pdf[c].fillna(0).to_numpy().astype(np.int64)
                    zero, top, bottom = 0, np.iinfo(np.int64).max, np.iinfo(np.int64).min
                else:
                    v = pd.to_numeric(pdf[c], errors="coerce").to_numpy("float64")
                    ok = ~np.isnan(v)
                    zero, top, bottom = 0.0, np.inf, -np.inf
                py = int if integral[c] else float
                s_cnt, s_sm = st[f"{c}__cnt"], st[f"{c}__sm"]
                s_mn, s_mx = st[f"{c}__mn"], st[f"{c}__mx"]
                pc, ps = np.cumsum(ok), np.cumsum(np.where(ok, v, zero))
                pmn = np.minimum.accumulate(np.where(ok, v, top))
                pmx = np.maximum.accumulate(np.where(ok, v, bottom))
                stats[c] = (
                    np.concatenate([[0], pc])[idx] + s_cnt,
                    np.concatenate([[zero], ps])[idx] + (s_sm or zero),
                    np.minimum(np.concatenate([[top], pmn])[idx], top if s_mn is None else s_mn),
                    np.maximum(np.concatenate([[bottom], pmx])[idx], bottom if s_mx is None else s_mx),
                )
                if pc[-1]:
                    st[f"{c}__cnt"] = int(s_cnt + pc[-1])
                    st[f"{c}__sm"] = py((s_sm or zero) + ps[-1])
                    st[f"{c}__mn"] = py(pmn[-1] if s_mn is None else min(s_mn, pmn[-1]))
                    st[f"{c}__mx"] = py(pmx[-1] if s_mx is None else max(s_mx, pmx[-1]))
            for p in parts:
                cnt, sm, mn, mx = stats[p.input_column]
                py = int if integral[p.input_column] else float
                if p.op == Op.COUNT:
                    vals, py = cnt, int
                elif p.op == Op.AVERAGE:
                    vals, py = sm / np.maximum(cnt, 1), float
                else:
                    vals = {Op.SUM: sm, Op.MIN: mn, Op.MAX: mx}[p.op]
                # object dtype: a list of ints and Nones would become float64
                out[p.output_name] = pd.Series(
                    [None if n <= 0 else py(x) for n, x in zip(cnt, vals)], index=out.index, dtype=object
                )
            yield out
        state.update(tuple(st[n] for n in names))

    return carrier.groupBy(*gb.keys).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_sessionize(
    stream: DataFrame,
    keys: list[str],
    gap: str,
    aggs: dict[str, Column] | None = None,
    time_col: str = "ts",
    watermark: str = "5m",
) -> DataFrame:
    """Gap-based session windows over a stream (`F.session_window` — dynamic
    event-time sessions closed when no event arrives within `gap`)."""
    aggs = aggs or {"n_turns": F.count(F.lit(1))}
    w = stream.withWatermark(time_col, _dur(watermark))
    out = w.groupBy(*keys, F.session_window(time_col, _dur(gap)).alias("__s")).agg(
        *[c.alias(n) for n, c in aggs.items()]
    )
    return out.select(
        *keys,
        F.col("__s.start").alias("session_start"),
        F.col("__s.end").alias("session_end"),
        *aggs,
    )
