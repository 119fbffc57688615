"""Analyzer-lite: pre-flight validation of GroupBy / Join specs against input
schemas, BEFORE any Spark job runs.

Reference: the Analyzer / Eval pass (spark/src/main/scala/ai/chronon/spark/
Analyzer.scala, spark/.../batch/Eval.scala) walks the conf against the input
tables and reports schema problems up front so a backfill never dies hours in.
This port validates the same classes of errors against DataFrame schemas:

- missing columns (keys, time column, tie-breakers, aggregation inputs,
  bucket columns, key-mapping sides);
- Date/Timestamp banned as aggregation inputs (reference
  aggregator/.../row/ColumnAggregator.scala:213-219 — users must project to
  a numeric first; the engine's own time column is exempt since it is
  normalized, not aggregated);
- op/input-type compatibility (numeric-only ops on non-numeric columns,
  vector/map inputs only where auto-explode supports them);
- bucket columns must be string-typed (reference bucketing contract);
- output-name collisions across a Join's parts after prefixing;
- derivation expressions must parse (Spark SQL syntax check, no execution).

All problems are collected and raised together in one AnalysisError.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, types as T

from chronon_spark.api import NUMERIC_OPS, GroupBy, Join, Op

_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType)
_BANNED_INPUT = (T.DateType, T.TimestampType, T.TimestampNTZType)


class AnalysisError(ValueError):
    """Every problem found by the pre-flight pass, joined into one message."""

    def __init__(self, errors: list[str]):
        self.errors = errors
        super().__init__("pre-flight analysis failed:\n- " + "\n- ".join(errors))


@dataclass
class AnalysisReport:
    errors: list[str]
    output_columns: list[str]

    def raise_if_failed(self) -> "AnalysisReport":
        if self.errors:
            raise AnalysisError(self.errors)
        return self


def _elem_type(dt: T.DataType) -> T.DataType:
    """Type an aggregation actually consumes after auto-explode."""
    if isinstance(dt, T.ArrayType):
        return dt.elementType
    if isinstance(dt, T.MapType):
        return dt.valueType
    return dt


def analyze_group_by(right: DataFrame, gb: GroupBy, where: str = "group_by") -> AnalysisReport:
    errors: list[str] = []
    fields = {f.name: f.dataType for f in right.schema.fields}

    for k in gb.keys:
        if k not in fields:
            errors.append(f"{where}: key column {k!r} not in input {sorted(fields)}")
    if gb.time_column not in fields:
        errors.append(f"{where}: time column {gb.time_column!r} not in input")
    else:
        tdt = fields[gb.time_column]
        if not isinstance(tdt, (T.TimestampType, T.TimestampNTZType, T.LongType, T.IntegerType)):
            errors.append(
                f"{where}: time column {gb.time_column!r} must be timestamp or epoch-millis "
                f"long (reference GroupBy.scala:630-638), got {tdt.simpleString()}"
            )
    for tb in gb.tie_breakers:
        if tb not in fields:
            errors.append(f"{where}: tie-breaker {tb!r} not in input")

    for agg in gb.aggregations:
        c = agg.input_column
        if c not in fields:
            errors.append(f"{where}: aggregation input {c!r} not in input {sorted(fields)}")
            continue
        dt = fields[c]
        if isinstance(_elem_type(dt), _BANNED_INPUT):
            errors.append(
                f"{where}: {c!r} is {dt.simpleString()} — Date/Timestamp are banned as "
                "aggregation inputs (reference ColumnAggregator.scala:213-219); project to "
                "an epoch long first"
            )
        if agg.op in NUMERIC_OPS and not isinstance(_elem_type(dt), _NUMERIC):
            errors.append(
                f"{where}: op {agg.op.value} needs a numeric input, {c!r} is {dt.simpleString()}"
            )
        if isinstance(dt, T.MapType) and agg.op in (Op.FIRST_K, Op.LAST_K, Op.FIRST, Op.LAST):
            errors.append(
                f"{where}: map-valued input {c!r} cannot feed order-sensitive op {agg.op.value}"
            )
        edt = _elem_type(dt)
        # scale-0 decimals with precision <= 18 are long-equivalent (the type
        # layer reads them as int64 exactly) — every op that takes a long
        # takes them; only fractional/high-precision decimals need dispatch
        if isinstance(edt, T.DecimalType) and not (edt.scale == 0 and edt.precision <= 18):
            # Decimal dispatch parity (reference ColumnAggregator.scala:279-423
            # + aggregators/decimal.py): exact ops ride the unscaled-int64
            # rewrite (precision <= 18), moment ops upcast to double, the
            # histogram/frequent family has no Decimal branch
            from chronon_spark.aggregators.decimal import DOUBLE_OPS, EXACT_OPS

            if edt is not dt:
                errors.append(
                    f"{where}: {c!r} is {dt.simpleString()} — nested fractional decimals "
                    "have no exact kernel path (and no reference dispatch branch); project "
                    "the elements to DOUBLE or DECIMAL(p,0) in the source query"
                )
            elif edt.precision > 18:
                errors.append(
                    f"{where}: {c!r} is {edt.simpleString()} — precision > 18 does not fit "
                    "the int64 unscaled representation the kernels use; project to DOUBLE "
                    "(accepting bigDecimalToDouble rounding) or reduce precision"
                )
            elif agg.op not in EXACT_OPS and agg.op not in DOUBLE_OPS:
                errors.append(
                    f"{where}: op {agg.op.value} has no Decimal branch (reference "
                    f"histogram/frequent mismatchException) — project {c!r} to STRING or LONG"
                )
        for b in agg.buckets:
            if b not in fields:
                errors.append(f"{where}: bucket column {b!r} not in input")
            elif not isinstance(fields[b], T.StringType):
                errors.append(
                    f"{where}: bucket column {b!r} must be string, got {fields[b].simpleString()}"
                )

    out_cols: list[str] = []
    try:
        parts = gb.parts()  # also surfaces duplicate output names
        out_cols = [p.output_name for p in parts]
    except ValueError as ex:
        errors.append(f"{where}: {ex}")

    if gb.derivations:
        out_cols = _check_derivations(right.sparkSession, gb.derivations, errors, where) or out_cols
    return AnalysisReport(errors, out_cols)


def _check_derivations(spark, derivations: dict[str, str], errors: list[str], where: str):
    # Spark 4 builds Columns lazily, so F.expr alone never parses; go to the
    # session's SQL parser directly (syntax only — resolution happens against
    # real columns at run time). Unavailable under Spark Connect: skip there.
    try:
        parser = spark._jsparkSession.sessionState().sqlParser()
    except Exception:  # noqa: BLE001
        return list(derivations)
    names = []
    for name, expr in derivations.items():
        if name == "*":
            continue
        names.append(name)
        try:
            parser.parseExpression(expr)
        except Exception as ex:  # noqa: BLE001
            msg = str(ex).splitlines()[0]
            errors.append(f"{where}: derivation {name!r} does not parse: {msg}")
    return names


def analyze_join(left: DataFrame, join: Join) -> AnalysisReport:
    """Validate every part of a Join against the left schema and each part's
    right schema; catches cross-part output collisions after prefixing."""
    errors: list[str] = []
    lfields = {f.name: f.dataType for f in left.schema.fields}
    if join.left_time_column not in lfields:
        errors.append(f"join: left time column {join.left_time_column!r} not in left input")

    seen: dict[str, int] = {}
    for i, jp in enumerate(join.join_parts):
        where = f"join part {i}" + (f" (prefix {jp.prefix!r})" if jp.prefix else "")
        gb = jp.group_by
        key_mapping = jp.key_mapping or {k: k for k in gb.keys}
        for lk, rk in key_mapping.items():
            if lk not in lfields:
                errors.append(f"{where}: key-mapping left column {lk!r} not in left input")
            if rk not in gb.keys:
                errors.append(f"{where}: key-mapping right column {rk!r} not a group-by key of {gb.keys}")
        missing = set(gb.keys) - set(key_mapping.values())
        if missing:
            errors.append(f"{where}: group-by keys {sorted(missing)} not covered by key mapping")
        rep = analyze_group_by(jp.right_df, gb, where=where)
        errors.extend(rep.errors)
        for c in rep.output_columns:
            name = f"{jp.prefix}_{c}" if jp.prefix else c
            if name in seen:
                errors.append(
                    f"{where}: output column {name!r} collides with part {seen[name]} — "
                    "set a distinct prefix"
                )
            seen[name] = i
    if join.derivations:
        _check_derivations(left.sparkSession, join.derivations, errors, "join")
    return AnalysisReport(errors, list(seen))


def analyze(left: DataFrame, obj: GroupBy | Join, right: DataFrame | None = None) -> AnalysisReport:
    """One-call pre-flight: raises AnalysisError listing every problem."""
    if isinstance(obj, Join):
        return analyze_join(left, obj).raise_if_failed()
    if right is None:
        raise ValueError("analyze(GroupBy) needs the right-side DataFrame")
    return analyze_group_by(right, obj).raise_if_failed()
