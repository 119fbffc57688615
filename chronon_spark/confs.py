"""Loader for the reference's COMPILED conf JSON — the Thrift-serialized
GroupBy / Join specs its Python DSL compiler emits (reference:
python/src/ai/chronon/group_by.py:480, python/src/ai/chronon/cli/compile/
serializer.py; fixture shape: api/src/test/resources/canary/compiled/...).

Parsing one of those files into :mod:`chronon_spark.api` objects makes this
engine a drop-in backfill runner for conf repos authored against the
reference: enum codes map 1:1 (thrift/api.thrift:198-230 Operation,
common.thrift:5-9 TimeUnit, api.thrift:275-278 Accuracy), ``Query`` selects/
wheres/timeColumn render through :mod:`chronon_spark.query`, and join parts
bind to DataFrames through a caller-supplied table resolver (the reference
resolves tables through its catalog; we take ``table name -> DataFrame``).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from chronon_spark.api import Accuracy, Aggregation, GroupBy, Join, JoinPart, Op
from chronon_spark.query import Query

# thrift/api.thrift:198-230 (codes are wire-stable)
OP_BY_CODE: dict[int, Op] = {
    0: Op.MIN,
    1: Op.MAX,
    2: Op.FIRST,
    3: Op.LAST,
    4: Op.UNIQUE_COUNT,
    5: Op.APPROX_UNIQUE_COUNT,
    6: Op.COUNT,
    7: Op.SUM,
    8: Op.AVERAGE,
    9: Op.VARIANCE,
    10: Op.SKEW,
    11: Op.KURTOSIS,
    12: Op.APPROX_PERCENTILE,
    13: Op.LAST_K,
    14: Op.FIRST_K,
    15: Op.TOP_K,
    16: Op.BOTTOM_K,
    17: Op.HISTOGRAM,
    18: Op.APPROX_FREQUENT_K,
    19: Op.APPROX_HEAVY_HITTERS_K,
    20: Op.UNIQUE_TOP_K,
}
# common.thrift:5-9
_TIME_UNIT = {0: "h", 1: "d", 2: "m"}
# serializer may emit enum NAMES instead of codes depending on protocol
_OP_BY_NAME = {op.name: op for op in Op}
_TIME_UNIT_BY_NAME = {"HOURS": "h", "DAYS": "d", "MINUTES": "m"}


def window_spec(w: dict | None) -> str | None:
    """``{"length": 3, "timeUnit": 1}`` -> ``"3d"``; None -> unbounded."""
    if w is None:
        return None
    tu = w.get("timeUnit", 0)
    unit = _TIME_UNIT[tu] if isinstance(tu, int) else _TIME_UNIT_BY_NAME[str(tu)]
    return f"{int(w['length'])}{unit}"


def _op(code) -> Op:
    if isinstance(code, int):
        return OP_BY_CODE[code]
    return _OP_BY_NAME[str(code)]


def parse_aggregation(d: dict) -> Aggregation:
    """One compiled ``Aggregation`` (thrift/api.thrift:238-264): operation
    code, optional windows, optional buckets, argMap carrying k/percentiles
    as STRINGS (the DSL stringifies args, group_by.py `Aggregation`)."""
    arg = d.get("argMap") or {}
    k = int(arg["k"]) if "k" in arg else None
    pct = tuple(json.loads(arg["percentiles"])) if "percentiles" in arg else (0.5,)
    windows = tuple(window_spec(w) for w in d["windows"]) if d.get("windows") else (None,)
    return Aggregation(
        d["inputColumn"],
        _op(d["operation"]),
        windows=windows,
        buckets=tuple(d.get("buckets") or ()),
        k=k,
        percentiles=pct,
    )


@dataclass
class LoadedSource:
    """One resolved source leg: a catalog table name + the row-level Query
    to render over it (+ the event-time column the spec declared). A
    joinSource leg carries the PARENT join instead of a table — binding it
    computes the parent's PITC backfill and scans the result (the
    reference's JoinSource chaining, api.thrift Source.joinSource; this
    engine's native form is "any join output is a source",
    contracts/ops.py chained_join_source)."""

    table: str
    query: Query
    time_column: str = "ts"
    cumulative: bool = False
    entity: bool = False  # entities source (snapshotTable)
    mutation_table: str | None = None
    join_source: "LoadedJoin | None" = None
    time_expr: str | None = None  # non-identifier timeColumn, rendered AS ts
    topic: bool = False  # source declares a streaming topic (accuracy inference)

    def bind(self, resolve: Callable[[str], DataFrame]) -> DataFrame:
        """Resolve the table and render selects/wheres. The time column is
        always carried through under its own name (the reference appends it
        to the select list when rendering, GroupBy.scala renderDataSourceQuery);
        an EXPRESSION timeColumn is rendered aliased to the reference's
        canonical `ts` (Constants.TimeColumn) since `expr AS expr` can't parse."""
        if self.join_source is not None:
            from chronon_spark.operators.asof_join import compute_join

            left_df, api_join = self.join_source.bind(resolve)
            df = compute_join(left_df, api_join)
        else:
            df = resolve(self.table)
        q = self.query
        tc, te = self.time_column, self.time_expr
        if q.selects:
            if te or tc not in q.selects:
                q = Query(
                    selects={**q.selects, tc: te or tc},
                    wheres=q.wheres,
                    setups=q.setups,
                )
            return q.apply(df)
        if te:
            # select-* conf with an expression timeColumn: run setups/wheres
            # on base columns, then materialize the canonical ts
            from pyspark.sql import functions as F

            for stmt in q.setups:
                df.sparkSession.sql(stmt)
            for w in q.wheres:
                df = df.where(w)
            return df.withColumn(tc, F.expr(te))
        return q.apply(df)


_BARE_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _time_fields(q: dict) -> dict:
    """timeColumn handling: a bare column name passes through; an EXPRESSION
    (legal in the reference, e.g. 'created_at * 1000') is aliased to the
    canonical `ts` at render time (the reference emits `<expr> as ts`,
    Constants.TimeColumn)."""
    tc = q.get("timeColumn") or "ts"
    if _BARE_IDENT.match(tc):
        return {"time_column": tc}
    return {"time_column": "ts", "time_expr": tc}


def _query_of(q: dict) -> Query:
    return Query(
        selects=q.get("selects"),
        wheres=list(q.get("wheres") or []),
        setups=list(q.get("setups") or []),
    )


def parse_source(d: dict) -> LoadedSource:
    """``{"events": {...}}`` / ``{"entities": {...}}`` (thrift/api.thrift:63-140)."""
    if "events" in d:
        ev = d["events"]
        q = ev.get("query") or {}
        return LoadedSource(
            table=ev["table"],
            query=_query_of(q),
            cumulative=bool(ev.get("isCumulative")),
            topic=bool(ev.get("topic")),
            **_time_fields(q),
        )
    if "entities" in d:
        en = d["entities"]
        q = en.get("query") or {}
        return LoadedSource(
            table=en["snapshotTable"],
            query=_query_of(q),
            entity=True,
            mutation_table=en.get("mutationTable"),
            topic=bool(en.get("mutationTopic")),
            **_time_fields(q),
        )
    if "joinSource" in d:
        js = d["joinSource"]
        q = js.get("query") or {}
        return LoadedSource(
            table="",
            query=_query_of(q),
            join_source=parse_join(js["join"]),
            **_time_fields(q),
        )
    raise ValueError(f"unsupported source shape: {sorted(d)} (events/entities/joinSource)")


def _derivations(lst) -> dict[str, str] | None:
    if not lst:
        return None
    return {d["name"]: d["expression"] for d in lst}


@dataclass
class LoadedGroupBy:
    name: str
    group_by: GroupBy
    sources: list[LoadedSource] = field(default_factory=list)

    def bind(self, resolve: Callable[[str], DataFrame]) -> DataFrame:
        """Union every source leg after rendering (multi-source GroupBys
        union aligned selects; sources/multi.py is the standalone operator)."""
        dfs = [s.bind(resolve) for s in self.sources]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out


def parse_group_by(d: dict) -> LoadedGroupBy:
    sources = [parse_source(s) for s in d.get("sources") or []]
    time_col = sources[0].time_column if sources else "ts"
    # a second source with a different effective time column would union in
    # with its time field NULL (allowMissingColumns) and silently drop every
    # one of its events from windows — refuse loudly instead
    for s in sources[1:]:
        if s.time_column != time_col:
            raise ValueError(
                f"multi-source GroupBy has mismatched time columns "
                f"{time_col!r} vs {s.time_column!r}; alias them to one name "
                f"in each source's selects (or use an expression timeColumn, "
                f"which renders AS ts)"
            )
    acc = d.get("accuracy")
    if acc is None:
        # reference inference (Extensions.scala:572-580): explicit accuracy
        # wins; otherwise TEMPORAL iff any source declares a streaming topic
        # (events.topic / entities.mutationTopic), else SNAPSHOT
        accuracy = Accuracy.TEMPORAL if any(s.topic for s in sources) else Accuracy.SNAPSHOT
    else:
        accuracy = Accuracy.SNAPSHOT if acc in (1, "SNAPSHOT") else Accuracy.TEMPORAL
    gb = GroupBy(
        keys=list(d["keyColumns"]),
        aggregations=[parse_aggregation(a) for a in d.get("aggregations") or []],
        time_column=time_col,
        accuracy=accuracy,
        derivations=_derivations(d.get("derivations")),
    )
    return LoadedGroupBy(
        name=(d.get("metaData") or {}).get("name", "<unnamed>"), group_by=gb, sources=sources
    )


@dataclass
class LoadedJoin:
    name: str
    left: LoadedSource
    parts: list[tuple[LoadedGroupBy, str | None, dict[str, str] | None]]
    derivations: dict[str, str] | None = None
    row_ids: list[str] | None = None
    skew_keys: dict[str, list[str]] | None = None  # col -> excluded hot values
    exec_conf: dict[str, str] | None = None  # metaData.executionInfo.conf, flattened

    def prefilter_mode(self, left_rows: int | None = None) -> str | None:
        """Key-pushdown mode the conf requests (reference knob parity,
        catalog/TableUtils.scala:54-63 + Join.scala:268-285):

        - ``spark.chronon.backfill.prefilter`` = in/semi/bloom/auto — explicit;
        - ``spark.chronon.backfill.bloomfilter.threshold`` = N — bloom applies
          when the left side is UNDER the threshold and small mode doesn't
          (reference Join.scala:273 ``skipBloomFilter = runSmallMode ||
          leftRowCount > threshold``; TableUtils.scala:62 "under this
          threshold ... use bloomfilter"). Tiny lefts take the exact
          small-mode/semi ``auto`` path (the reference's runSmallMode), and
          lefts ABOVE the threshold get NO prefilter — the reference exempts
          huge lefts because the bloom build itself would dominate.
        Returns None when the conf asks for neither (pushdown stays opt-in).
        """
        from chronon_spark.operators.asof_join import SMALL_MODE_KEY_LIMIT

        ec = self.exec_conf or {}
        explicit = ec.get("spark.chronon.backfill.prefilter")
        if explicit:
            return explicit
        thr = ec.get("spark.chronon.backfill.bloomfilter.threshold")
        if thr is not None and left_rows is not None:
            if left_rows <= SMALL_MODE_KEY_LIMIT:
                return "auto"  # runSmallMode: exact IN-list, bloom skipped
            return "bloom" if left_rows <= int(thr) else None
        return None

    def bind(self, resolve: Callable[[str], DataFrame]) -> tuple[DataFrame, Join]:
        """Resolve every leg into (left DataFrame, api.Join) ready for
        operators.asof_join.compute_join."""
        left_df = self.left.bind(resolve)
        jps = [
            JoinPart(
                lg.group_by,
                lg.bind(resolve),
                key_mapping=key_mapping,
                prefix=prefix,
            )
            for lg, prefix, key_mapping in self.parts
        ]
        return left_df, Join(
            left_time_column=self.left.time_column,
            join_parts=jps,
            derivations=self.derivations,
            skew_keys=self.skew_keys,
            row_ids=self.row_ids,
        )


def _flatten_exec_conf(md: dict) -> dict[str, str] | None:
    """metaData.executionInfo.conf, flattened one level: the reference's
    ConfigProperties nests per-mode maps ({"common": {...}, "backfill":
    {...}}); engine knobs are looked up by bare key regardless of mode.
    Precedence matches the reference's mode-over-common resolution: the
    "common" map is merged FIRST so any mode-specific map (e.g. "backfill")
    deterministically overrides a key present in both, regardless of JSON
    key order."""
    conf = ((md.get("executionInfo") or {}).get("conf")) or {}
    flat: dict[str, str] = {}
    common = conf.get("common")
    if isinstance(common, dict):
        flat.update({str(kk): str(vv) for kk, vv in common.items()})
    for k, v in conf.items():
        if k == "common":
            continue
        if isinstance(v, dict):
            flat.update({str(kk): str(vv) for kk, vv in v.items()})
        else:
            flat[str(k)] = str(v)
    return flat or None


def parse_join(d: dict) -> LoadedJoin:
    parts = []
    for p in d.get("joinParts") or []:
        lg = parse_group_by(p["groupBy"])
        parts.append((lg, p.get("prefix"), p.get("keyMapping")))
    return LoadedJoin(
        name=(d.get("metaData") or {}).get("name", "<unnamed>"),
        left=parse_source(d["left"]),
        parts=parts,
        derivations=_derivations(d.get("derivations")),
        row_ids=list(d["rowIds"]) if d.get("rowIds") else None,
        skew_keys={k: list(v) for k, v in d["skewKeys"].items()} if d.get("skewKeys") else None,
        exec_conf=_flatten_exec_conf(d.get("metaData") or {}),
    )


def load_conf(path: str) -> LoadedGroupBy | LoadedJoin:
    """Parse a compiled conf file; dispatch on shape (a Join carries
    ``left`` + ``joinParts``, a GroupBy carries ``keyColumns``)."""
    with open(path) as f:
        d = json.load(f)
    if "joinParts" in d or "left" in d:
        return parse_join(d)
    if "keyColumns" in d:
        return parse_group_by(d)
    raise ValueError(f"{path}: neither a compiled Join nor GroupBy conf")


def backfill_join_conf(
    spark: SparkSession,
    path: str,
    resolve: Callable[[str], DataFrame] | dict[str, DataFrame],
) -> DataFrame:
    """End-to-end: load a compiled Join conf and run the PITC backfill over
    resolver-supplied tables. ``resolve`` may be a dict of registered frames
    or a callable (e.g. ``spark.read.table`` against a real catalog)."""
    from chronon_spark.operators.asof_join import compute_join

    conf = load_conf(path)
    if not isinstance(conf, LoadedJoin):
        raise ValueError(f"{path} is a GroupBy conf; backfill_join_conf needs a Join")
    fn = resolve if callable(resolve) else (lambda t: resolve[t])
    left_df, join = conf.bind(fn)
    # conf-requested key pushdown; the row count for the bloom threshold is
    # only paid when that knob is actually set
    mode = conf.prefilter_mode()
    if mode is None and (conf.exec_conf or {}).get("spark.chronon.backfill.bloomfilter.threshold"):
        mode = conf.prefilter_mode(left_rows=left_df.count())
    return compute_join(left_df, join, prefilter=mode)


def run_conf_backfill(
    spark: SparkSession,
    path: str,
    resolve: Callable[[str], DataFrame] | dict[str, DataFrame],
    out_path: str,
    checkpoint_dir: str,
    step_days: int = 30,
) -> dict:
    """Partitioned, checkpoint-resumable backfill of a compiled/DSL Join conf
    — the conf-shaped twin of ``plans.manifest.run_partitioned_backfill``
    (same unfilled-partition resume, lifecycle-managed sink, per-partition
    lineage manifests with stage metrics), differing where confs differ:
    every part's right side comes from ITS OWN resolved source tables, so the
    per-partition scan pruning is a per-part window rewind on each right
    frame rather than one shared events slice."""
    import os
    import time as _time

    from dataclasses import replace

    from pyspark.sql import functions as F

    from chronon_spark.operators.asof_join import compute_join
    from chronon_spark.plans.manifest import (
        commit_range_manifests,
        contiguous_ranges,
        ds_of,
        join_semantic_hash,
        time_range_filter,
        unfilled_partitions,
    )
    from chronon_spark.plans.table_lifecycle import managed_table

    conf = load_conf(path)
    if not isinstance(conf, LoadedJoin):
        raise ValueError(f"{path} is a GroupBy conf; run_conf_backfill needs a Join")
    fn = resolve if callable(resolve) else (lambda t: resolve[t])
    left_df, join = conf.bind(fn)
    tcol = join.left_time_column
    left = left_df
    if "ds" not in left.columns:
        left = left.withColumn("ds", ds_of(left, tcol))
    os.makedirs(checkpoint_dir, exist_ok=True)
    # null ds (null left time) has no point-in-time semantics: drop before
    # planning — a None key would poison the sort and match no ds filter
    left = left.where(F.col("ds").isNotNull())
    # one job yields the partition list AND the per-ds left-row counts the
    # manifests record (same discipline as plans.manifest: no per-partition
    # count jobs in the loop)
    ds_counts = {r[0]: r[1] for r in left.groupBy("ds").count().collect()}
    all_ds = sorted(ds_counts)
    # conf-requested key pushdown: the bloom-threshold decision rides the
    # ds-count job above (total left rows are already known — no extra job).
    # The filter is built ONCE per part from the FULL left — a superset of
    # every per-ds left, so semantics-neutral — instead of per partition,
    # which with bloom would re-run the count+bitmap jobs for every ds.
    prefilter = conf.prefilter_mode(left_rows=sum(ds_counts.values()))
    if prefilter:
        from chronon_spark.operators.asof_join import prefilter_right_keys

        join = replace(
            join,
            join_parts=[
                replace(
                    jp,
                    right_df=prefilter_right_keys(
                        left,
                        jp.right_df,
                        jp.key_mapping or {k: k for k in jp.group_by.keys},
                        mode=prefilter,
                    ),
                )
                for jp in join.join_parts
            ],
        )
    gb_hash = join_semantic_hash(join)
    todo = unfilled_partitions(all_ds, checkpoint_dir, gb_hash)
    sink = managed_table(spark, out_path, partition_col="ds")
    total_out = 0
    # stepDays chunking (manifest.contiguous_ranges; reference
    # TableUtils.scala:403-499 + JoinBase.scala:347-368): one Spark job per
    # contiguous run of up to step_days partitions; manifests stay per-ds so
    # resume granularity is unchanged.
    spec_meta = {
        "join_parts": [
            {"prefix": jp.prefix, "parts": [jp.out_name(p) for p in jp.group_by.parts()]}
            for jp in join.join_parts
        ],
        "derivations": join.derivations,
    }
    for ds_range in contiguous_ranges(todo, step_days):
        t0 = _time.time()
        ds_lo, ds_hi = ds_range[0], ds_range[-1]
        q_part = left.where(F.col("ds").between(ds_lo, ds_hi))
        # per-part scan pruning (reference GroupBy.getIntersectedRange):
        # each right frame keeps only rows its windows can reach from any
        # day in the range
        hi = F.date_add(F.to_timestamp(F.lit(ds_hi)), 1).cast("timestamp")
        parts = []
        for jp in join.join_parts:
            mw = jp.group_by.max_window_millis
            lo = None
            if mw is not None:
                lo = F.to_timestamp(F.lit(ds_lo)) - F.expr(f"INTERVAL {mw // 1000} SECOND")
            rdf = time_range_filter(jp.right_df, jp.group_by.time_column, lo_ts=lo, hi_ts=hi)
            parts.append(replace(jp, right_df=rdf))
        out = compute_join(q_part, replace(join, join_parts=parts))
        sink.insert_partitions(out, auto_expand=True, semantic_hash=gb_hash)
        total_out += commit_range_manifests(
            sink, out_path, checkpoint_dir, ds_range, _time.time() - t0, gb_hash, spec_meta,
            lambda ds: {"conf": {"path": path, "name": conf.name}, "left_rows": ds_counts[ds]},
        )
    return {
        "partitions_total": len(all_ds),
        "partitions_computed": len(todo),
        "partitions_skipped_resume": len(all_ds) - len(todo),
        "ranges_computed": len(contiguous_ranges(todo, step_days)),
        "rows_out": total_out,
    }
