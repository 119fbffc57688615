"""Unified run-mode CLI — the reference's `Driver.scala` verb dispatcher
(spark/src/main/scala/ai/chronon/spark/Driver.scala: one spark-submit
entrypoint, one subcommand per offline run mode) re-expressed over this
engine's job modules.

    spark-submit --py-files chronon_spark.zip -m chronon_spark.cli <verb> ...
    # or locally:
    python -m chronon_spark.cli <verb> ...

Verbs (reference verb → our job):

- ``group-by-backfill`` / ``join``   → plans.manifest.run_partitioned_backfill
  (per-``ds`` lineage manifests, checkpoint resume; same JSON specs as
  jobs/backfill.py)
- ``group-by-upload``                → jobs.upload.build_batch_irs (FinalBatchIr
  parquet for the fetch-time merge)
- ``staging-query-backfill``         → jobs.staging_query.run_staging_query
- ``analyze``                        → analyzer.analyze (pre-flight only, no
  execution; exit 1 with every problem listed)
- ``metadata-export``                → jobs.metadata.export_metadata
- ``check-partitions``               → plans.manifest.partition_stats
- ``build-comparison-table``         → jobs.compare.build_comparison_table
- ``consistency-metrics-compute``    → jobs.compare.compare_metrics over the
  comparison view
- ``summarize``                      → jobs.stats.summarize (the
  create-summary-dataset analogue)

Serving-infra verbs (``fetch``, ``metadata-upload``, ``group-by-streaming``,
``log-flattener``, ``group-by-upload-bulk-load``) are declared non-goals
(SURVEY.md §8): the offline data paths they consume ARE implemented
(jobs/upload.py builds + merges batch IRs; streaming/ covers the Structured
Streaming semantics) — the KV store and service wiring are not. The CLI
rejects them with that pointer instead of silently lacking them.
"""

from __future__ import annotations

import argparse
import json
import sys

_OUT_OF_SCOPE = {
    "fetch": "online KV fetcher service; offline merge: jobs/upload.py fetch_features",
    "metadata-upload": "KV store upload; offline export: `metadata-export`",
    "group-by-streaming": "Kafka runner; Structured Streaming API: chronon_spark/streaming/",
    "log-flattener": "serving-log flattening; offline observability: `summarize`, jobs/stats.py",
    "group-by-upload-bulk-load": "KV bulk load; batch IRs: `group-by-upload`",
}


def _spark(args):
    from chronon_spark.session import get_spark

    return get_spark("chronon-cli", master=args.master)


def _print_df(df, out: str | None) -> None:
    if out:
        df.write.mode("overwrite").parquet(out)
        print(json.dumps({"out": out, "rows": df.count()}))
    else:
        for row in df.collect():
            print(json.dumps(row.asDict(), default=str))


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None)


def cmd_backfill(args) -> int:
    from chronon_spark.jobs import backfill

    argv = [
        "--events", args.events, "--queries", args.queries,
        "--out", args.out, "--checkpoint", args.checkpoint,
    ]
    if args.master:
        argv += ["--master", args.master]
    if getattr(args, "join_spec", None):
        argv += ["--join", args.join_spec]
    elif getattr(args, "group_by", None):
        argv += ["--group-by", args.group_by]
    if getattr(args, "strategy", None):
        argv += ["--strategy", args.strategy]
    return backfill.main(argv)


def cmd_conf_backfill(args) -> int:
    """Resumable backfill of a compiled (or DSL-authored) Join conf — the
    drop-in runner for conf repos: tables resolve by name from --tables
    name=path pairs (parquet) or, with none given, from the session catalog
    (spark.read.table)."""
    from chronon_spark.confs import run_conf_backfill

    spark = _spark(args)
    if args.tables:
        paths = dict(kv.split("=", 1) for kv in args.tables)

        def resolve(name: str):
            if name not in paths:
                raise KeyError(f"table {name!r} not in --tables ({sorted(paths)})")
            return spark.read.parquet(paths[name])

    else:
        resolve = spark.read.table
    stats = run_conf_backfill(spark, args.conf, resolve, args.out, args.checkpoint)
    print(json.dumps(stats))
    return 0


def cmd_group_by_upload(args) -> int:
    from chronon_spark.jobs.backfill import parse_gb
    from chronon_spark.jobs.upload import build_batch_irs
    from chronon_spark.operators.asof_join import _US_D as US_D

    spark = _spark(args)
    events = spark.read.parquet(args.events)
    gb = parse_gb(args.group_by)
    import datetime as dt

    d = dt.date.fromisoformat(args.batch_end)
    batch_end_us = int(dt.datetime(d.year, d.month, d.day).timestamp()) * 1_000_000
    # day-align defensively (upload checks hop alignment itself)
    batch_end_us = (batch_end_us // US_D) * US_D
    irs = build_batch_irs(events, gb, batch_end_us)
    irs.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"out": args.out, "keys": irs.count(), "batch_end_ts_us": batch_end_us}))
    return 0


def cmd_staging_query(args) -> int:
    from chronon_spark.jobs.staging_query import run_staging_query

    sql = args.sql or open(args.sql_file).read()
    spark = _spark(args)
    stats = run_staging_query(
        spark, sql, args.start, args.end, args.out, args.checkpoint, step_days=args.step_days
    )
    print(json.dumps(stats))
    return 0


def cmd_analyze(args) -> int:
    from chronon_spark.analyzer import AnalysisError, analyze
    from chronon_spark.jobs.backfill import parse_gb, parse_join

    spark = _spark(args)
    events = spark.read.parquet(args.events)
    queries = spark.read.parquet(args.queries)
    try:
        if args.join_spec:
            analyze(queries, parse_join(args.join_spec)(events))
        else:
            analyze(queries, parse_gb(args.group_by), right=events)
    except AnalysisError as e:
        print(str(e), file=sys.stderr)
        return 1
    print(json.dumps({"analyze": "ok"}))
    return 0


def cmd_metadata_export(args) -> int:
    from chronon_spark.jobs.backfill import parse_gb
    from chronon_spark.jobs.metadata import export_metadata

    spark = _spark(args)
    events = spark.read.parquet(args.events)
    doc = export_metadata(events, parse_gb(args.group_by), args.out, name=args.name)
    print(json.dumps({"out": args.out, "semantic_hash": doc.get("semantic_hash")}))
    return 0


def cmd_check_partitions(args) -> int:
    from chronon_spark.plans.manifest import partition_stats

    spark = _spark(args)
    _print_df(partition_stats(spark, args.table, args.checkpoint), args.out)
    return 0


def cmd_comparison_table(args) -> int:
    from chronon_spark.jobs.compare import build_comparison_table

    spark = _spark(args)
    left = spark.read.parquet(args.left)
    right = spark.read.parquet(args.right)
    cmp_df = build_comparison_table(left, right, args.keys.split(","))
    _print_df(cmp_df, args.out)
    return 0


def cmd_consistency_metrics(args) -> int:
    from chronon_spark.jobs.compare import build_comparison_table, compare_metrics

    spark = _spark(args)
    left = spark.read.parquet(args.left)
    right = spark.read.parquet(args.right)
    keys = args.keys.split(",")
    _print_df(compare_metrics(build_comparison_table(left, right, keys), keys), args.out)
    return 0


def cmd_summarize(args) -> int:
    from chronon_spark.jobs.stats import summarize

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    cols = args.columns.split(",") if args.columns else None
    _print_df(summarize(df, columns=cols, approx=args.approx), args.out)
    return 0


def cmd_table_maintain(args) -> int:
    """Sink maintenance over the managed (snapshot-versioned) table:
    list snapshots / compact small files / expire old snapshots /
    time-travel read — the Iceberg maintenance verbs of the reference's
    TableUtils surface, on this engine's parquet+manifest catalog."""
    from chronon_spark.plans.table_lifecycle import managed_table

    spark = _spark(args)
    # path -> ManagedTable (JSON snapshot log); bare name -> CatalogTable
    # (Iceberg-native maintenance when that runtime is configured)
    t = managed_table(spark, args.table)
    if args.action == "snapshots":
        print(json.dumps(t.snapshots(), default=str))
    elif args.action == "compact":
        print(json.dumps(t.compact(target_file_bytes=args.target_file_mb * 1024 * 1024)))
    elif args.action == "expire":
        print(json.dumps(t.expire_snapshots(keep_last=args.keep_last)))
    elif args.action == "read":
        _print_df(t.read(version=args.version), args.out)
    return 0


def main(argv=None) -> int:
    from chronon_spark.operators.asof_join import STRATEGIES

    ap = argparse.ArgumentParser(prog="chronon_spark", description=__doc__)
    sub = ap.add_subparsers(dest="verb", required=True)

    for verb in ("group-by-backfill", "join"):
        p = sub.add_parser(verb)
        p.add_argument("--events", required=True)
        p.add_argument("--queries", required=True)
        p.add_argument("--out", required=True)
        p.add_argument("--checkpoint", required=True)
        if verb == "join":
            p.add_argument("--join", dest="join_spec", required=True)
        else:
            p.add_argument("--group-by", required=False, default=None)
            p.add_argument("--strategy", default="plain", choices=list(STRATEGIES))
        _add_common(p)
        p.set_defaults(fn=cmd_backfill)

    p = sub.add_parser("conf-backfill")
    p.add_argument("--conf", required=True, help="compiled/DSL Join conf JSON")
    p.add_argument("--tables", nargs="*", default=None, metavar="NAME=PATH",
                   help="table name -> parquet path; omit to resolve via the session catalog")
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    _add_common(p)
    p.set_defaults(fn=cmd_conf_backfill)

    p = sub.add_parser("group-by-upload")
    p.add_argument("--events", required=True)
    p.add_argument("--group-by", required=True)
    p.add_argument("--batch-end", required=True, help="exclusive batch end, YYYY-MM-DD")
    p.add_argument("--out", required=True)
    _add_common(p)
    p.set_defaults(fn=cmd_group_by_upload)

    p = sub.add_parser("staging-query-backfill")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--sql")
    g.add_argument("--sql-file")
    p.add_argument("--start", required=True)
    p.add_argument("--end", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--step-days", type=int, default=30)
    _add_common(p)
    p.set_defaults(fn=cmd_staging_query)

    p = sub.add_parser("analyze")
    p.add_argument("--events", required=True)
    p.add_argument("--queries", required=True)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--group-by")
    g.add_argument("--join", dest="join_spec")
    _add_common(p)
    p.set_defaults(fn=cmd_analyze)

    p = sub.add_parser("metadata-export")
    p.add_argument("--events", required=True)
    p.add_argument("--group-by", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--name", default="group_by")
    _add_common(p)
    p.set_defaults(fn=cmd_metadata_export)

    p = sub.add_parser("check-partitions")
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--out", default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_check_partitions)

    p = sub.add_parser("build-comparison-table")
    p.add_argument("--left", required=True)
    p.add_argument("--right", required=True)
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument("--out", default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_comparison_table)

    p = sub.add_parser("consistency-metrics-compute")
    p.add_argument("--left", required=True)
    p.add_argument("--right", required=True)
    p.add_argument("--keys", required=True)
    p.add_argument("--out", default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_consistency_metrics)

    p = sub.add_parser("summarize")
    p.add_argument("--table", required=True)
    p.add_argument("--columns", default=None)
    p.add_argument("--approx", action="store_true")
    p.add_argument("--out", default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_summarize)

    p = sub.add_parser("table-maintain")
    p.add_argument("action", choices=["snapshots", "compact", "expire", "read"])
    p.add_argument("--table", required=True)
    p.add_argument("--target-file-mb", type=int, default=512)
    p.add_argument("--keep-last", type=int, default=3)
    p.add_argument("--version", type=int, default=None)
    p.add_argument("--out", default=None)
    _add_common(p)
    p.set_defaults(fn=cmd_table_maintain)

    for verb, why in _OUT_OF_SCOPE.items():
        p = sub.add_parser(verb)
        p.set_defaults(fn=None, oos=why)

    args = ap.parse_args(argv)
    if args.fn is None:
        print(f"'{args.verb}' is serving infrastructure (out of scope): {args.oos}", file=sys.stderr)
        return 2
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
