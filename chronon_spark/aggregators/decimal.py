"""Decimal input support for the aggregation kernels.

Reference parity (aggregator/src/main/scala/ai/chronon/aggregator/row/
ColumnAggregator.scala:279-423): the reference dispatch accepts DecimalType
into SUM / UNIQUE_COUNT / MIN / MAX / TOP_K / BOTTOM_K exactly
(java.math.BigDecimal) and UPCASTS it to Double for AVERAGE / VARIANCE /
SKEW / KURTOSIS (bigDecimalToDouble) and to Float for the percentile sketch
(bigDecimalToFloat); the histogram / frequent-items family has no Decimal
branch (mismatchException).

The numpy kernels are long/double-based, so the equivalent Spark-first shape
is a JVM-side rewrite BEFORE the applyInArrow boundary — no per-row Python,
no ``decimal128`` column reaches a kernel, and the casts ride whole-stage
codegen:

- exact ops: scale to the unscaled integer representation
  (``value * 10^s AS BIGINT`` — exact decimal arithmetic; precision <= 18 so
  the unscaled value fits int64), run the integral kernel, then rescale
  outputs back to ``DECIMAL(38, s)`` with exact decimal division (divisor
  declared ``DECIMAL(s+1, 0)`` so Spark's quotient scale ``max(6, s+2)``
  always covers the true scale — no rounding anywhere);
- moment/percentile ops: ``CAST(value AS DOUBLE)``, the reference's
  documented upcast;
- scale-0 inputs with precision <= 18 (top-level, or the elements of an
  array/map input) are cast to BIGINT in place: already integral, so no
  rescale is needed and the output types stay long
  (``types.part_output_type``).

Exactness bound (documented divergence): SUM is exact while the windowed
UNSCALED sum fits int64 (|sum| < 9.2e18 / 10^s in value terms — e.g.
~9.2e16 for DECIMAL(18,2) money); the reference's BigDecimal sum is
unbounded. Precision > 18 is rejected with a clear message instead of a
silent double cast.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Callable

from pyspark.sql import DataFrame, functions as F, types as T

from chronon_spark.api import GroupBy, Op

# ops where the unscaled-int64 representation preserves the reference's
# exact-BigDecimal semantics (sum/selection/distinctness commute with the
# 10^s scaling)
EXACT_OPS = frozenset(
    {
        Op.SUM,
        Op.COUNT,
        Op.MIN,
        Op.MAX,
        Op.FIRST,
        Op.LAST,
        Op.FIRST_K,
        Op.LAST_K,
        Op.TOP_K,
        Op.BOTTOM_K,
        Op.UNIQUE_COUNT,
        Op.APPROX_UNIQUE_COUNT,
        Op.UNIQUE_TOP_K,
    }
)
# ops the reference upcasts to double/float (bigDecimalToDouble/Float)
DOUBLE_OPS = frozenset({Op.AVERAGE, Op.VARIANCE, Op.SKEW, Op.KURTOSIS, Op.APPROX_PERCENTILE})
# value-typed outputs that need rescaling back to decimal
_RESCALE_SCALAR = frozenset({Op.SUM, Op.MIN, Op.MAX, Op.FIRST, Op.LAST})
_RESCALE_LIST = frozenset({Op.FIRST_K, Op.LAST_K, Op.TOP_K, Op.BOTTOM_K, Op.UNIQUE_TOP_K})

_U = "__decu"  # unscaled-int64 variant suffix
_D = "__decd"  # double-upcast variant suffix


def _rescale_sql(src: str, scale: int) -> str:
    """Exact unscaled-long -> DECIMAL(38, scale) SQL fragment. The dividend is
    DECIMAL(19,0), just wide enough for any long: a DECIMAL(38,0) dividend
    leaves the quotient no room and Spark clamps its scale to 6."""
    div = 10**scale
    return (
        f"CAST(CAST({src} AS DECIMAL(19,0)) / CAST({div} AS DECIMAL({scale + 1},0)) "
        f"AS DECIMAL(38,{scale}))"
    )


def _value_type(t: T.DataType) -> T.DataType:
    """The type an aggregation reads from ``t``: the element of an array
    (auto-exploded), the value of a map (per-key), else ``t`` itself."""
    if isinstance(t, T.ArrayType):
        return t.elementType
    if isinstance(t, T.MapType):
        return t.valueType
    return t


def _integral_decimal(t: T.DataType) -> bool:
    return isinstance(t, T.DecimalType) and t.scale == 0 and t.precision <= 18


def _to_bigint(col, t: T.DataType):
    if isinstance(t, T.ArrayType):
        return F.transform(col, lambda x: x.cast("bigint"))
    if isinstance(t, T.MapType):
        return F.transform_values(col, lambda _, v: v.cast("bigint"))
    return col.cast("bigint")


def rewrite_decimal_inputs(
    right: DataFrame, gb: GroupBy
) -> tuple[DataFrame, GroupBy, Callable[[DataFrame, str | None], DataFrame] | None]:
    """If any aggregation input column is DecimalType, return
    ``(right', gb', post)`` where ``right'`` carries the scaled/upcast
    variants, ``gb'`` aggregates them (derivations stripped — the caller
    re-applies the ORIGINAL derivations after ``post``), and
    ``post(df, prefix)`` renames/rescales the kernel outputs back to the
    original names and decimal types. ``post`` is None when no output needs
    renaming: no decimal inputs (the overwhelmingly common case costs one
    schema scan) or only scale-0 ones, cast to BIGINT in ``right'``.
    """
    dec = {
        f.name: f.dataType
        for f in right.schema.fields
        if isinstance(f.dataType, T.DecimalType)
    }
    used = {a.input_column for a in gb.aggregations}
    # nested decimals (array<decimal> auto-explode / map<_,decimal> per-key)
    # have no exact rewrite here and no reference dispatch branch either —
    # refuse loudly instead of silently upcasting elements to float64
    for f in right.schema.fields:
        elem = _value_type(f.dataType)
        if f.name not in used or elem is f.dataType:
            continue
        if isinstance(elem, T.DecimalType) and not _integral_decimal(elem):
            raise ValueError(
                f"aggregation input {f.name!r} is {f.dataType.simpleString()}: nested "
                "fractional decimals have no exact kernel path (and no reference dispatch "
                "branch) — project the elements to DOUBLE or DECIMAL(p,0) in the source query"
            )
    # scale-0 decimals with precision <= 18 are already integral: they cast
    # to BIGINT in place (keys excepted — their type decides the cogroup
    # hash) and need no rescale
    integral = sorted(
        f.name for f in right.schema.fields
        if f.name in used and f.name not in gb.keys and _integral_decimal(_value_type(f.dataType))
    )
    for c in integral:
        right = right.withColumn(c, _to_bigint(F.col(c), right.schema[c].dataType))
    targets = {c: t for c, t in dec.items() if c in used and not _integral_decimal(t)}
    for a in gb.aggregations:
        for b in a.buckets:
            if b in dec:
                raise ValueError(
                    f"bucket column {b!r} is {dec[b].simpleString()}; decimal bucket keys "
                    "are not supported — project it to STRING in the source query"
                )
    if not targets:
        return right, gb, None
    for c, t in targets.items():
        if t.precision > 18:
            raise ValueError(
                f"aggregation input {c!r} is {t.simpleString()}: precision > 18 does not fit "
                "the int64 unscaled representation the vectorized kernels use — project it to "
                "DOUBLE (accepting the reference's bigDecimalToDouble rounding) or reduce "
                "precision in the source query"
            )

    new_aggs = []
    add_long: set[str] = set()
    add_dbl: set[str] = set()
    for a in gb.aggregations:
        c = a.input_column
        if c not in targets:
            new_aggs.append(a)
        elif a.op in DOUBLE_OPS:
            add_dbl.add(c)
            new_aggs.append(replace(a, input_column=c + _D))
        elif a.op in EXACT_OPS:
            add_long.add(c)
            new_aggs.append(replace(a, input_column=c + _U))
        else:
            raise ValueError(
                f"operation {a.op} has no Decimal branch (reference "
                "row/ColumnAggregator.scala histogram/frequent family raises "
                f"mismatchException) — project {c!r} to STRING or LONG first"
            )

    r = right
    for c in sorted(add_long):
        s = targets[c].scale
        # decimal * integer literal is exact decimal arithmetic; p <= 18
        # guarantees the unscaled value fits int64, and BIGINT crosses the
        # Arrow boundary as int64 with a validity bitmap — exact above 2^53
        r = r.withColumn(c + _U, F.expr(f"CAST(`{c}` * {10**s} AS BIGINT)"))
    for c in sorted(add_dbl):
        r = r.withColumn(c + _D, F.col(c).cast("double"))

    gb2 = replace(gb, aggregations=new_aggs, derivations=None)

    # parallel parts lists: same (aggregation, window, bucket) order
    part_pairs = [
        (pn, po) for pn, po in zip(gb2.parts(), gb.parts()) if pn.output_name != po.output_name
    ]

    def post(df: DataFrame, prefix: str | None = None) -> DataFrame:
        pre = f"{prefix}_" if prefix else ""
        mapping: dict[str, tuple[str, object]] = {}
        for pn, po in part_pairs:
            src, dst = pre + pn.output_name, pre + po.output_name
            scale = targets[po.input_column].scale
            unscaled = pn.input_column.endswith(_U)
            if unscaled and pn.op in _RESCALE_SCALAR:
                if pn.bucket:  # Map[bucket -> long] -> Map[bucket -> decimal]
                    expr = F.expr(
                        f"transform_values(`{src}`, (bk, x) -> {_rescale_sql('x', scale)})"
                    )
                else:
                    expr = F.expr(_rescale_sql(f"`{src}`", scale))
            elif unscaled and pn.op in _RESCALE_LIST:
                if pn.bucket:  # Map[bucket -> array<long>] -> arrays of decimal
                    expr = F.expr(
                        f"transform_values(`{src}`, (bk, arr) -> "
                        f"transform(arr, x -> {_rescale_sql('x', scale)}))"
                    )
                else:
                    expr = F.expr(f"transform(`{src}`, x -> {_rescale_sql('x', scale)})")
            else:  # COUNT / UNIQUE_COUNT / double-upcast ops: rename only
                expr = F.col(src)
            mapping[src] = (dst, expr)
        return df.select(
            *[
                mapping[c][1].alias(mapping[c][0]) if c in mapping else F.col(c)
                for c in df.columns
            ]
        )

    return r, gb2, post
