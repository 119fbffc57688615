"""Checkpoint-resumable partitioned backfill with per-partition lineage
manifests + per-stage metrics (north rule requirement).

Port of the reference's incremental-fill semantics (unfilledRanges,
catalog/TableUtils.scala:403-499; stepDays splitting JoinBase.scala:347-368)
re-expressed as: one manifest JSON per output `ds` partition; a rerun
computes only partitions without a manifest. Each manifest records input
lineage (paths, row counts, scan range) and stage metrics, so a partition is
auditable and the whole run is resumable after a kill at any point —
partition output is written before its manifest (manifest = commit marker).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import SparkSession, functions as F

from chronon_spark.api import GroupBy
# asof_join stays importable from here: perfbench/worker.py's traced runs
# look it up on this module
from chronon_spark.operators.asof_join import asof_join, compute_join, strategy_join  # noqa: F401
from chronon_spark.plans.table_lifecycle import ManagedTable, managed_table

ENGINE_VERSION = "0.1.0"


def group_by_semantic_hash(gb: GroupBy) -> str:
    """Stable hash of everything that changes the output values — a changed
    spec invalidates manifests and archives the sink (reference semantic-hash
    recompute detection, JoinUtils.tablesToRecompute:293-305)."""
    import hashlib

    spec = {
        "keys": gb.keys,
        "parts": [p.output_name for p in gb.parts()],
        "include_equal": gb.include_equal,
        "sawtooth": gb.sawtooth,
        "time_column": gb.time_column,
        "tie_breakers": gb.tie_breakers,
    }
    return hashlib.md5(json.dumps(spec, sort_keys=True).encode()).hexdigest()


def join_semantic_hash(join) -> str:
    """Join-level identity: every part's GroupBy hash + prefix + key mapping,
    plus join derivations and skew keys."""
    import hashlib

    spec = {
        "parts": [
            {
                "gb": group_by_semantic_hash(jp.group_by),
                "prefix": jp.prefix,
                "key_mapping": jp.key_mapping,
                "accuracy": getattr(jp.group_by.accuracy, "name", str(jp.group_by.accuracy)),
            }
            for jp in join.join_parts
        ],
        "derivations": join.derivations,
        "skew_keys": join.skew_keys,
        "left_time_column": join.left_time_column,
    }
    return hashlib.md5(json.dumps(spec, sort_keys=True).encode()).hexdigest()


def unfilled_partitions(
    all_parts: list[str], checkpoint_dir: str, semantic_hash: str | None = None
) -> list[str]:
    """A partition counts as done only if its manifest exists AND was written
    by the same spec (hash mismatch => recompute; the sink archives itself)."""
    done = set()
    if os.path.isdir(checkpoint_dir):
        for f in os.listdir(checkpoint_dir):
            if not f.endswith(".json"):
                continue
            if semantic_hash is not None:
                try:
                    with open(os.path.join(checkpoint_dir, f)) as fh:
                        if json.load(fh).get("semantic_hash") not in (None, semantic_hash):
                            continue
                except (OSError, json.JSONDecodeError):
                    continue
            done.add(f[:-5])
    return [p for p in all_parts if p not in done]


def contiguous_ranges(parts: list[str], step_days: int = 30) -> list[list[str]]:
    """Chunk sorted yyyy-MM-dd partition strings into runs of CONSECUTIVE
    calendar days, each run further split into chunks of at most
    ``step_days`` — the reference's stepDays fill-planning
    (catalog/TableUtils.scala:403-499 chunks unfilledRanges;
    JoinBase.scala:347-368 runs one job per stepDays slice). One Spark job
    then serves a whole chunk: a 3-year backfill becomes ~37 30-day jobs
    instead of ~1,100 sequential per-day driver round-trips, with resume
    granularity unchanged (manifests stay per-ds).

    A gap in the date sequence always starts a new range — a range must be
    contiguous so the range's [lo-rewind, hi+1d) event scan and BETWEEN left
    filter describe exactly its days."""
    import datetime as _dt

    if step_days < 1:
        raise ValueError(f"step_days must be >= 1, got {step_days}")
    out: list[list[str]] = []
    run: list[str] = []
    prev = None
    for ds in sorted(parts):
        d = _dt.date.fromisoformat(ds)
        if run and (prev is None or (d - prev).days != 1 or len(run) >= step_days):
            out.append(run)
            run = []
        run.append(ds)
        prev = d
    if run:
        out.append(run)
    return out


def ds_of(df, time_column: str):
    """yyyy-MM-dd Column of an event-time column that may be timestamp(-ntz)
    OR epoch-millis bigint (the reference's convention, GroupBy.scala:630 —
    date_format on a raw bigint raises DATATYPE_MISMATCH)."""
    t = dict(df.dtypes).get(time_column, "")
    c = F.col(time_column)
    if t in ("bigint", "int"):
        c = F.timestamp_millis(c.cast("long"))
    return F.date_format(c, "yyyy-MM-dd")


def time_range_filter(df, time_column: str, lo_ts=None, hi_ts=None):
    """Filter df to [lo_ts, hi_ts) where the bounds are TIMESTAMP Columns;
    adapts the comparison for epoch-millis bigint time columns (comparing a
    bigint to a timestamp literal raises, it does not coerce)."""
    t = dict(df.dtypes).get(time_column, "")
    c = F.col(time_column)
    if t in ("bigint", "int"):
        if lo_ts is not None:
            df = df.where(c >= F.unix_millis(lo_ts))
        if hi_ts is not None:
            df = df.where(c < F.unix_millis(hi_ts))
        return df
    if lo_ts is not None:
        df = df.where(c >= lo_ts)
    if hi_ts is not None:
        df = df.where(c < hi_ts)
    return df


def _parquet_rows(part_dir: str) -> int:
    """Row count of a partition's live files from parquet footers only —
    metadata reads (one footer per file), no Spark job, and still a real
    read-back check: a missing/corrupt committed file raises here."""
    import pyarrow.parquet as pq

    total = 0
    for f in os.listdir(part_dir):
        if f.startswith((".", "_")) or not os.path.isfile(os.path.join(part_dir, f)):
            continue
        total += pq.read_metadata(os.path.join(part_dir, f)).num_rows
    return total


def commit_range_manifests(
    sink, out_path: str, checkpoint_dir: str, ds_range: list[str], range_wall: float,
    semantic_hash: str, spec_meta: dict, inputs,
) -> int:
    """After one range job's write committed: read back each ds's row count
    and write its manifest (output-before-manifest = commit marker). Shared
    by the GroupBy/Join backfill and the conf backfill; ``inputs(ds)`` gives
    each manifest's input lineage. ``wall_sec`` is the ds's share of the
    range wall, so sums over manifests equal the job wall; ``range_wall_sec``
    is the whole job's. Returns the rows written over the range."""
    if isinstance(sink, ManagedTable):
        # read-back validation from parquet footers: proves the committed
        # files exist and are readable without a per-partition Spark job
        ds_out = {ds: _parquet_rows(os.path.join(out_path, f"ds={ds}")) for ds in ds_range}
        part_paths = {ds: os.path.join(out_path, f"ds={ds}") for ds in ds_range}
    else:
        # one count job per RANGE (not per partition)
        ds_out = {
            r[0]: r[1]
            for r in sink.read()
            .where(F.col("ds").between(ds_range[0], ds_range[-1]))
            .groupBy("ds")
            .count()
            .collect()
        }
        part_paths = {ds: f"{out_path}/ds={ds}" for ds in ds_range}  # logical refs
    total = 0
    for ds in ds_range:
        n_out = ds_out.get(ds, 0)
        total += n_out
        manifest = {
            "ds": ds,
            "engine_version": ENGINE_VERSION,
            "semantic_hash": semantic_hash,
            "inputs": inputs(ds),
            "output": {"path": part_paths[ds], "rows": n_out},
            "spec": spec_meta,
            "stage_metrics": {
                "wall_sec": round(range_wall / len(ds_range), 3),
                "range_wall_sec": round(range_wall, 3),
                "range": [ds_range[0], ds_range[-1]],
                "range_days": len(ds_range),
            },
            "completed_at_unix": int(time.time()),
        }
        tmp = os.path.join(checkpoint_dir, f".{ds}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, os.path.join(checkpoint_dir, f"{ds}.json"))
    return total


def run_partitioned_backfill(
    spark: SparkSession,
    events_path: str,
    queries_path: str,
    out_path: str,
    checkpoint_dir: str,
    gb: GroupBy | None = None,
    left_time_column: str = "ts",
    join_builder=None,
    strategy: str = "plain",
    out_format: str | None = None,
    step_days: int = 30,
) -> dict:
    """Single-GroupBy (``gb``) or multi-part Join (``join_builder``: a
    callable DataFrame -> api.Join binding the pruned events slice as every
    part's right side) — exactly one must be given.

    ``strategy`` picks the physical as-of plan for the GroupBy form (all
    equivalence-tested in tests/test_tiles_slicing.py):
      plain  — coarse-bucket cogroup (default);
      tiled  — hop-tile pre-aggregation (bounded per-key state; requires
               sawtooth=True and bounded windows);
      sliced — deterministic time-slice salting (bounded per-group state);
      skew   — per-key-count hot-key detection, salted path for hot keys
               only, plain path for the rest.
    The Join form orchestrates per-part strategies itself (compute_join)."""
    if (gb is None) == (join_builder is None):
        raise ValueError("pass exactly one of gb / join_builder")
    os.makedirs(checkpoint_dir, exist_ok=True)
    events = spark.read.parquet(events_path)
    queries = spark.read.parquet(queries_path)
    if "ds" not in queries.columns:
        queries = queries.withColumn("ds", ds_of(queries, left_time_column))
    # a left row with null ds (null event time) belongs to no partition and
    # has no point-in-time semantics — drop it BEFORE planning, or the None
    # key would poison the partition sort and match no per-ds filter
    queries = queries.where(F.col("ds").isNotNull())
    # one job yields both the partition list and the per-ds left-row counts
    # the manifests record — NOT one count job per partition in the loop
    ds_counts = {r[0]: r[1] for r in queries.groupBy("ds").count().collect()}
    all_parts = sorted(ds_counts)
    if gb is not None:
        gb_hash = group_by_semantic_hash(gb)
        mw_ms = gb.max_window_millis
        time_col = gb.time_column
        spec_meta = {
            "keys": gb.keys,
            "parts": [p.output_name for p in gb.parts()],
            "include_equal": gb.include_equal,
            "sawtooth": gb.sawtooth,
        }
    else:
        meta_join = join_builder(events)
        gb_hash = join_semantic_hash(meta_join)
        part_mws = [jp.group_by.max_window_millis for jp in meta_join.join_parts]
        mw_ms = None if any(m is None for m in part_mws) else max(part_mws)
        time_col = meta_join.join_parts[0].group_by.time_column
        spec_meta = {
            "join_parts": [
                {"prefix": jp.prefix, "parts": [jp.out_name(p) for p in jp.group_by.parts()]}
                for jp in meta_join.join_parts
            ],
            "derivations": meta_join.derivations,
        }
    if gb is not None:
        # fail the strategy contract BEFORE the first partition, like analyze()
        join_fn = strategy_join(strategy)
        if strategy == "tiled":
            from chronon_spark.operators.tiles import validate_tiled_spec

            validate_tiled_spec(gb)
    todo = unfilled_partitions(all_parts, checkpoint_dir, gb_hash)
    skipped = len(all_parts) - len(todo)
    # sink backend by ref shape: a path gets the parquet+JSON ManagedTable,
    # a bare name gets the catalog-table twin (spark.read.table / insertInto
    # dynamic overwrite); out_format="iceberg" (or any V2 provider) routes
    # writes through writeTo().overwritePartitions() + native snapshots
    sink = managed_table(spark, out_path, partition_col="ds", format=out_format)
    total_out = 0
    # stepDays chunking (contiguous_ranges): ONE Spark job fills a whole
    # contiguous run of up to step_days partitions — the per-row as-of
    # semantics make the union of per-ds jobs and one range job identical
    # (each left row only sees events in ITS OWN windows), so the only
    # change is job count. Manifests stay per-ds: resume granularity and
    # the kill/rerun contract are unchanged.
    for ds_range in contiguous_ranges(todo, step_days):
        t0 = time.time()
        ds_lo, ds_hi = ds_range[0], ds_range[-1]
        q_part = queries.where(F.col("ds").between(ds_lo, ds_hi))
        # window-rewind scan pruning: only events any window can reach
        # from any day in the range (reference: GroupBy.getIntersectedRange,
        # GroupBy.scala:741-788)
        lo = None
        if mw_ms is not None:
            lo = F.to_timestamp(F.lit(ds_lo)) - F.expr(f"INTERVAL {mw_ms // 1000} SECOND")
        hi = F.date_add(F.to_timestamp(F.lit(ds_hi)), 1).cast("timestamp")
        ev = time_range_filter(events, time_col, lo_ts=lo, hi_ts=hi)
        if gb is not None:
            out = join_fn(q_part, ev, gb, left_time_column=left_time_column)
        else:
            out = compute_join(q_part, join_builder(ev))
        # lifecycle-managed sink: dynamic partition overwrite + auto-expand +
        # archive when the spec hash changes (table_lifecycle.ManagedTable);
        # one write commits every partition in the range
        sink.insert_partitions(out, auto_expand=True, semantic_hash=gb_hash)
        total_out += commit_range_manifests(
            sink, out_path, checkpoint_dir, ds_range, time.time() - t0, gb_hash, spec_meta,
            lambda ds: {
                # the range job scanned events up to the END of the range
                "events": {"path": events_path, "scan_max_exclusive": f"{ds_hi}+1d",
                           "rewind_ms": mw_ms},
                "queries": {"path": queries_path, "rows": ds_counts[ds]},
            },
        )
    return {
        "partitions_total": len(all_parts),
        "partitions_computed": len(todo),
        "partitions_skipped_resume": skipped,
        "ranges_computed": len(contiguous_ranges(todo, step_days)),
        "rows_out": total_out,
    }


def partition_stats(spark: SparkSession, out_path: str, checkpoint_dir: str | None = None):
    """Per-partition table statistics WITHOUT scanning data — the reference's
    `IcebergPartitionStatsExtractor` (batch/iceberg/IcebergPartitionStatsExtractor.scala:
    walks Iceberg manifest files for per-partition row counts / sizes) over
    this engine's parquet+manifest catalog form:

    ``(ds, n_files, bytes, rows, semantic_hash, wall_sec)``

    Row counts come from parquet FOOTER metadata (``pyarrow.parquet``
    ``metadata.num_rows``), sizes from the filesystem, lineage fields from
    the backfill's per-partition manifest JSONs when ``checkpoint_dir`` is
    given. Cost is O(files) driver-side metadata reads — valid at any data
    scale because partition counts are calendar-bounded, not data-bounded.
    Returns a Spark DataFrame so downstream jobs (drift over partition sizes,
    freshness monitors) can compose it.
    """
    import pyarrow.parquet as pq

    rows = []
    for entry in sorted(os.listdir(out_path)):
        if not entry.startswith("ds="):
            continue
        ds = entry.split("=", 1)[1]
        pdir = os.path.join(out_path, entry)
        n_files = n_bytes = n_rows = 0
        for fn in os.listdir(pdir):
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(pdir, fn)
            n_files += 1
            n_bytes += os.path.getsize(fp)
            n_rows += pq.ParquetFile(fp).metadata.num_rows
        sem, wall = None, None
        if checkpoint_dir is not None:
            mp = os.path.join(checkpoint_dir, f"{ds}.json")
            if os.path.exists(mp):
                with open(mp) as f:
                    m = json.load(f)
                sem = m.get("semantic_hash")
                wall = m.get("stage_metrics", {}).get("wall_sec")
        rows.append((ds, n_files, n_bytes, n_rows, sem, wall))
    return spark.createDataFrame(
        rows, "ds string, n_files int, bytes long, rows long, semantic_hash string, wall_sec double"
    )
