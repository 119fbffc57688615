"""Point-in-time-correct as-of join: the engine's core operator.

Plan shape (the skew-free design, reference:
spark/src/main/scala/ai/chronon/spark/join/UnionJoin.scala:26-240): both sides
shuffle ONCE on the entity keys, then each key's (queries, events) meet inside
a single vectorized kernel — no row explosion on skewed keys, no per-query
probe join. Where the reference unions null-mated structs +
collect_list + mapPartitions, we use the idiomatic PySpark equivalent:
``left.groupby(keys).cogroup(right.groupby(keys)).applyInArrow(...)`` — each
co-group arrives as two ``pyarrow`` tables whose columns are read into numpy
through their validity bitmaps (nullable BIGINT stays int64, exact above
2^53), and kernels.py runs the sawtooth (searchsorted + prefix scans,
reference SawtoothAggregator.scala:165-243).

Scale notes (100 TB / 1000 executors):
- one shuffle per join part, partitioned by entity key; AQE skew-join and
  `salt_partitions` (time-sliced replication, operators/slicing.py) handle
  hot keys;
- window-rewind scan pruning: callers should filter the right side to
  [left_min_ts - max_window, left_max_ts) — see `rewind_filter`
  (reference: GroupBy.getIntersectedRange, GroupBy.scala:741-788);
- per-key memory is bounded by the tiled strategy (operators/tiles.py) for
  decomposable ops, mirroring the reference's BatchIr{collapsed, tailHops}.
"""

from __future__ import annotations

import importlib

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from chronon_spark.aggregators.kernels import (
    _US_D,
    COMPOSITE_LIMIT,
    MultiKeyEventColumns,
    composite_layout,
    compute_parts_multikey,
    nan_to_null,
)
from chronon_spark.api import Accuracy, GroupBy, Join, JoinPart
from chronon_spark.types import part_output_type

_TS_US = "__ts_us"


def apply_derivations(out: DataFrame, derivations: dict[str, str] | None) -> DataFrame:
    """Post-aggregation projection (reference GroupBy/Join derivations,
    Extensions.scala:1261-1296): '*' passes every existing column through,
    named entries are Spark SQL expressions over key + feature columns.
    Shared by every physical strategy (plain / tiled / sliced / skew-split)
    so derived schemas agree across paths."""
    if not derivations:
        return out
    exprs = [F.col(c) for c in out.columns] if "*" in derivations else []
    exprs += [F.expr(e).alias(n) for n, e in derivations.items() if n != "*"]
    return out.select(*exprs)


def ensure_ts_us(df: DataFrame, col: str, out: str = _TS_US) -> DataFrame:
    """Add int64 epoch-micros column derived from a timestamp/long column."""
    t = dict(df.dtypes)[col]
    if t.startswith("timestamp"):
        # parquet yields TIMESTAMP_NTZ; session tz is pinned UTC so the cast
        # is lossless and matches DuckDB's naive-as-UTC reading
        return df.withColumn(out, F.unix_micros(F.col(col).cast("timestamp")))
    if t in ("bigint", "int"):
        # assume epoch millis (the reference's convention, GroupBy.scala:630)
        return df.withColumn(out, F.col(col).cast("long") * F.lit(1000))
    raise ValueError(f"time column {col} has unsupported type {t}")


def rewind_filter(right: DataFrame, gb: GroupBy, left_min_ts_us: int, left_max_ts_us: int) -> DataFrame:
    """Prune the event scan to [min_query - max_window, max_query): at 100 TB
    this is the single biggest saving (scan only what any window can reach)."""
    r = ensure_ts_us(right, gb.time_column)
    mw = gb.max_window_millis
    if mw is not None:
        r = r.where(F.col(_TS_US) >= F.lit(left_min_ts_us - mw * 1000))
    side = "<=" if gb.include_equal else "<"
    r = r.where(F.expr(f"{_TS_US} {side} {left_max_ts_us}"))
    return r.drop(_TS_US)


# Reference small-mode cutoff: <=5000 distinct left keys hardcode an IN list
# into the right side's WHERE (JoinUtils.injectKeyFilter, JoinUtils.scala:234-285,
# cutoff catalog/TableUtils.scala:54-57). Above it, the reference builds a bloom
# filter (Join.scala:268-285); our Spark-first equivalent is a broadcast
# left-semi join (exact, and AQE can still convert it at runtime).
SMALL_MODE_KEY_LIMIT = 5000


def prefilter_right_keys(
    left: DataFrame,
    right: DataFrame,
    key_mapping: dict[str, str],
    mode: str = "auto",
    small_limit: int = SMALL_MODE_KEY_LIMIT,
) -> DataFrame:
    """Push the left side's key set into the right-side scan.

    Semantics-neutral for the as-of join (right events whose keys never appear
    on the left can't contribute to any output row), but at 100 TB it turns a
    full event-stream scan into a keyed slice:

    - ``'in'`` — literal ``key IN (...)`` predicate, one per key column.
      Catalyst pushes it into the parquet/Iceberg scan (``PushedFilters: In``)
      so row groups whose stats exclude the keys are never read.
    - ``'semi'`` — ``right LEFT SEMI JOIN broadcast(distinct left keys)``:
      no scan pushdown, but events are dropped before the cogroup shuffle.
    - ``'bloom'`` — the reference's large-left mode (Join.scala:268-285):
      a distributed bloom bitmap over the left key tuples, probed by an
      Arrow-vectorized `mightContain` on the right scan. False positives
      only pass extra events (dropped by the cogroup), so exactness is
      preserved. Use past the broadcast budget (~10^7 distinct tuples).
    - ``'auto'`` — collect up to ``small_limit`` distinct keys; IN-list if the
      left is small, else semi-join.
    """
    if mode not in ("in", "semi", "bloom", "auto"):
        raise ValueError(
            f"unknown prefilter mode {mode!r}; expected one of 'in', 'semi', "
            "'bloom', 'auto' (check spark.chronon.backfill.prefilter)"
        )
    left_keys = list(key_mapping.keys())
    right_keys = [key_mapping[k] for k in left_keys]
    if mode == "bloom":
        from chronon_spark.operators.bloom import bloom_filter_keys

        return bloom_filter_keys(left, right, key_mapping)
    if mode in ("auto", "in"):
        rows = left.select(*left_keys).distinct().limit(small_limit + 1).collect()
        if len(rows) <= small_limit:
            for lk, rk in key_mapping.items():
                vals = sorted({r[lk] for r in rows if r[lk] is not None})
                right = right.where(F.col(rk).isin(vals))
            return right
        if mode == "in":
            raise ValueError(f"left has >{small_limit} distinct keys; use mode='semi'")
    keys_df = left.select(*[F.col(lk).alias(rk) for lk, rk in key_mapping.items()]).distinct()
    return right.join(F.broadcast(keys_df), on=right_keys, how="left_semi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    gb: GroupBy,
    left_time_column: str = "ts",
    key_mapping: dict[str, str] | None = None,
    prefix: str | None = None,
    coarse_buckets: int | str | None = "auto",
    prefilter: str | None = None,
) -> DataFrame:
    """For every left row, aggregate right-side events with ts strictly before
    the left row's ts (per window). Output = left columns + one column per
    AggregationPart. Exactly one output row per left row (the reference's
    cardinality invariant, UnionJoinTest.scala:79-81).

    Inside each Arrow batch the whole-batch vectorized kernel
    (compute_parts_multikey) resolves every key's windows in one pass.
    ``coarse_buckets`` picks the cogroup grouping (see ``cogroup_apply``):
    ``N`` cogroups on ``hash(keys) % N`` so one batch carries many keys —
    measured 2× end-to-end over per-key cogroup even where the per-key
    grouping could reuse an upstream exchange; ``"auto"`` (default) sizes N
    to 4× the session's shuffle partitions; ``None`` forces one cogroup
    group per key (exchange-reuse-friendly).
    """
    key_mapping = key_mapping or {k: k for k in gb.keys}
    left_keys = list(key_mapping.keys())
    right_keys = [key_mapping[k] for k in left_keys]
    if set(right_keys) != set(gb.keys):
        raise ValueError(f"key_mapping values {right_keys} != group-by keys {gb.keys}")
    # Decimal inputs: JVM-side rewrite to unscaled-int64 / double variants
    # before the Arrow boundary (reference ColumnAggregator.scala:279-423
    # Decimal dispatch), then rescale the outputs back — see aggregators/decimal.py
    from chronon_spark.aggregators.decimal import rewrite_decimal_inputs

    right, gb_dec, dec_post = rewrite_decimal_inputs(right, gb)
    if dec_post is not None:
        out = asof_join(
            left, right, gb_dec, left_time_column=left_time_column,
            key_mapping=key_mapping, prefix=prefix,
            coarse_buckets=coarse_buckets, prefilter=prefilter,
        )
        return apply_derivations(dec_post(out, prefix), gb.derivations)
    if prefilter:
        right = prefilter_right_keys(left, right, key_mapping, mode=prefilter)
    parts = gb.parts()
    right_types = {f.name: f.dataType for f in right.schema.fields}
    feat_fields = []
    for p in parts:
        name = f"{prefix}_{p.output_name}" if prefix else p.output_name
        feat_fields.append(T.StructField(name, part_output_type(p, right_types[p.input_column]), True))
    out_schema = T.StructType(list(left.schema.fields) + feat_fields)

    # project the right side to only what the kernels need (column pruning
    # reaches the parquet scan via Catalyst)
    needed = sorted({p.input_column for p in parts} | {p.bucket for p in parts if p.bucket} | set(right_keys) | set(gb.tie_breakers))
    r = ensure_ts_us(right.select(*needed, gb.time_column), gb.time_column)
    # drop events with null keys (reference: GroupBy.scala:641-642)
    for k in right_keys:
        r = r.where(F.col(k).isNotNull())
    # Alias every right column to a fresh name: left and right often share
    # lineage (self-as-of), and cogroup grouping exprs would otherwise resolve
    # against the SAME attribute ids, letting Catalyst prune right-side
    # columns the kernel needs. Fresh aliases => fresh exprIds => no collision.
    r = r.select(*[F.col(c).alias(f"__r_{c}") for c in r.columns])
    l = ensure_ts_us(left, left_time_column)

    tie = list(gb.tie_breakers)
    include_equal, sawtooth = gb.include_equal, gb.sawtooth
    part_list = list(parts)
    arrow_schema = to_arrow_schema(out_schema)

    def batch_kernel(lt: pa.Table, rt: pa.Table, lcodes, rcodes, base, block) -> pa.Table:
        q_ts = lt.column(_TS_US).to_numpy()
        r_ts = rt.column(_TS_US).to_numpy()
        mec = MultiKeyEventColumns(rt, rcodes, r_ts, tie, base, block)
        feats = compute_parts_multikey(mec, part_list, lcodes, q_ts, include_equal, sawtooth)
        return kernel_output(lt, [feats[p.output_name] for p in part_list], arrow_schema)

    out = cogroup_apply(l, r, left_keys, right_keys, coarse_buckets, out_schema, batch_kernel)
    return apply_derivations(out, gb.derivations)


def kernel_output(lt: pa.Table, feats: list[pa.Array], schema: pa.Schema) -> pa.Table:
    """The batch result: the left columns of ``schema`` passed through from
    ``lt``, then the kernels' feature arrays. Each must already be a
    ``pa.Array`` of its field's type (a ``TypeError`` names the column
    otherwise); the one rule applied here is ``kernels.nan_to_null``."""
    fields = list(schema)
    n_left = len(fields) - len(feats)
    cols = [lt.column(f.name).cast(f.type) for f in fields[:n_left]]
    for v, f in zip(feats, fields[n_left:]):
        if not isinstance(v, pa.Array) or not v.type.equals(f.type):
            got = v.type if isinstance(v, pa.Array) else type(v).__name__
            raise TypeError(f"feature column {f.name!r}: expected a pa.Array of {f.type}, got {got}")
        cols.append(nan_to_null(v))
    return pa.Table.from_arrays(cols, schema=schema)


def coarse_bucket_count(session) -> int:
    """``"auto"`` coarse-bucket count: 4× the session's shuffle partitions
    (at least 64), so one Arrow batch carries many keys."""
    try:
        sp = int(session.conf.get("spark.sql.shuffle.partitions", "64"))
    except ValueError:  # conf can be the string "auto" under AQE-managed envs
        sp = session.sparkContext.defaultParallelism or 64
    return max(sp * 4, 64)


def hash_bucket(df: DataFrame, keys: list[str], n_buckets: int, name: str) -> DataFrame:
    """``df`` plus column ``name`` = ``hash(keys) % n_buckets``, the coarse
    cogroup grouping."""
    return df.withColumn(name, F.pmod(F.xxhash64(*keys), F.lit(n_buckets)))


def _key_codes(lt: pa.Table, rt: pa.Table, left_keys: list[str], right_keys: list[str]) -> np.ndarray:
    """Dense codes of the batch's key tuples, queries first then events;
    a query with any null key component gets -1 (it matches no event)."""
    codes = None
    for lk, rk in zip(left_keys, right_keys):
        lcol = lt.column(lk).combine_chunks()
        joint = pa.concat_arrays([lcol, rt.column(rk).combine_chunks().cast(lcol.type)])
        enc = joint.dictionary_encode()
        c = enc.indices.fill_null(-1).to_numpy().astype(np.int64)
        if codes is None:
            codes = c
        else:
            null = (codes < 0) | (c < 0)
            codes = pd.factorize(codes * len(enc.dictionary) + c)[0]
            codes[null] = -1
    return codes


def cogroup_apply(
    l: DataFrame,
    r: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    coarse_buckets: int | str | None,
    out_schema: T.StructType,
    batch_kernel,
    lo_column: str | None = None,
) -> DataFrame:
    """Cogroup the queries ``l`` with the ``__r_``-aliased right side ``r``
    and run ``batch_kernel(lt, rt, lcodes, rcodes, base, block)`` on each
    batch's ``pyarrow`` tables in composite-index space
    (``composite_apply``); the kernel returns a ``pa.Table`` of
    ``out_schema``.

    ``coarse_buckets=N`` cogroups on ``hash(keys) % N`` and factorizes the
    keys of each batch into codes; ``"auto"`` sizes N with
    ``coarse_bucket_count``; ``None`` cogroups on the raw keys, one code per
    group. ``lo_column`` names a right-side column of timestamps the layout
    must also cover (events inside a row older than the row's own ts)."""
    if coarse_buckets == "auto":
        coarse_buckets = coarse_bucket_count(l.sparkSession)
    arrow_schema = to_arrow_schema(out_schema)

    def fn(lt: pa.Table, rt: pa.Table) -> pa.Table:
        if not lt.num_rows:
            return arrow_schema.empty_table()
        rt = rt.rename_columns([c[4:] if c.startswith("__r_") else c for c in rt.column_names])
        if coarse_buckets:
            codes = _key_codes(lt, rt, left_keys, right_keys)
        else:
            codes = np.zeros(lt.num_rows + rt.num_rows, np.int64)
        lcodes, rcodes = codes[: lt.num_rows], codes[lt.num_rows :]
        return composite_apply(lt, rt, lcodes, rcodes, batch_kernel, lo_column)

    if coarse_buckets:
        lb = hash_bucket(l, left_keys, coarse_buckets, "__b")
        rb = hash_bucket(r, [f"__r_{c}" for c in right_keys], coarse_buckets, "__r___b")
        grouped = lb.groupby(F.col("__b")).cogroup(rb.groupby(F.col("__r___b")))
    else:
        grouped = l.groupby(*[F.col(c) for c in left_keys]).cogroup(
            r.groupby(*[F.col(f"__r_{c}") for c in right_keys])
        )
    return grouped.applyInArrow(fn, schema=out_schema)


def composite_apply(
    lt: pa.Table, rt: pa.Table, lcodes, rcodes, batch_kernel, lo_column: str | None = None
) -> pa.Table:
    """Run ``batch_kernel`` over one batch laid out by
    ``kernels.composite_layout`` over the query, event and ``lo_column``
    timestamps. When ``(n_codes + 2) * block`` exceeds
    ``COMPOSITE_LIMIT`` (many keys over a very wide ts span) the batch is
    cut into runs of key codes that fit, each renumbered from 0 and run
    through the same kernel; null-key queries (code < 0) ride with the
    first run. The common case is one run and no copy."""
    q_ts = lt.column(_TS_US).to_numpy()
    r_ts = rt.column(_TS_US).to_numpy()
    if lo_column:
        r_ts = np.concatenate([r_ts, rt.column(lo_column).drop_null().to_numpy()])
    base, block = composite_layout(q_ts, r_ts)
    n_codes = int(max(lcodes.max(initial=-1), rcodes.max(initial=-1))) + 1
    per_run = COMPOSITE_LIMIT // block - 2
    if n_codes <= per_run:
        return batch_kernel(lt, rt, lcodes, rcodes, base, block)
    if per_run < 1:
        raise OverflowError(f"a {block} µs time span does not fit the composite index")
    lrun = np.where(lcodes < 0, 0, lcodes // per_run)
    rrun = np.where(rcodes < 0, 0, rcodes // per_run)
    pieces = []
    for run in np.unique(lrun):
        lsel, rsel = lrun == run, rrun == run
        lc, rc = lcodes[lsel], rcodes[rsel]
        shift = int(run) * per_run
        pieces.append(
            batch_kernel(
                lt.filter(lsel), rt.filter(rsel), np.where(lc < 0, lc, lc - shift),
                np.where(rc < 0, rc, rc - shift), base, block,
            )
        )
    return pa.concat_tables(pieces)


# strategy name -> (module, as-of join function), imported on lookup because
# tiles and slicing import this module; every function takes (left, right,
# gb, left_time_column=, key_mapping=, prefix=, prefilter=)
STRATEGIES = {
    "plain": ("chronon_spark.operators.asof_join", "asof_join"),
    "tiled": ("chronon_spark.operators.tiles", "tiled_sawtooth_asof_join"),
    "sliced": ("chronon_spark.operators.slicing", "sliced_asof_join"),
    "skew": ("chronon_spark.operators.slicing", "skew_split_asof_join"),
}


def strategy_join(name: str):
    """The as-of join function of physical strategy ``name``."""
    if name not in STRATEGIES:
        raise ValueError(f"unknown strategy {name!r} ({'/'.join(STRATEGIES)})")
    module, fn = STRATEGIES[name]
    return getattr(importlib.import_module(module), fn)


def compute_join(left: DataFrame, join: Join, prefilter: str | None = None) -> DataFrame:
    """Multi-part PITC join + derivations (reference: JoinBase.computeJoinOpt,
    spark/.../JoinBase.scala:255-404). Parts are chained — each part is one
    key-shuffle that passes accumulated columns through, avoiding a row-id
    merge stage (the reference merges part tables back with coalescedJoin)."""
    out = left
    if join.skew_keys:
        for col, vals in join.skew_keys.items():
            out = out.where(~F.col(col).isin(vals) | F.col(col).isNull())
    for jp in join.join_parts:
        right = jp.right_df
        # SNAPSHOT-accuracy part: features as of the most recent midnight
        # before the left row (reference decision table EVENTS x EVENTS x
        # SNAPSHOT -> -1d shift + ts_ds join, batch/JoinPartJob.scala:217-247,
        # day-shift JoinUtils.scala:401-423) — expressed as an as-of at the
        # day-truncated query timestamp.
        tc = join.left_time_column
        if jp.group_by.accuracy == Accuracy.SNAPSHOT:
            # derive the midnight from normalized micros, NOT from a cast of
            # the raw column: a bigint left ts is epoch MILLIS (the reference
            # convention, GroupBy.scala:630) and cast-to-timestamp would read
            # it as seconds, silently shifting the snapshot into the future
            snap = "__snapshot_ts"
            out = ensure_ts_us(out, tc, out="__snap_us")
            out = out.withColumn(
                snap, F.timestamp_micros(F.expr(f"(__snap_us div {_US_D}) * {_US_D}"))
            ).drop("__snap_us")
            tc = snap
        join_fn = strategy_join(jp.strategy or "plain")
        out = join_fn(
            out, right, jp.group_by, left_time_column=tc,
            key_mapping=jp.key_mapping, prefix=jp.prefix, prefilter=prefilter,
        )
        if tc == "__snapshot_ts":
            out = out.drop(tc)
    out = apply_derivations(out, join.derivations)
    return out
