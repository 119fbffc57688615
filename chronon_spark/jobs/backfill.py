"""spark-submit entrypoint: PITC feature backfill over a transcripts table.

    spark-submit --py-files chronon_spark.zip chronon_spark/jobs/backfill.py \
        --events /path/transcripts.parquet --queries /path/queries.parquet \
        --out /path/out --checkpoint /path/manifests [--partitions ds ...]

Runs the as-of join per `ds` partition with per-partition lineage manifests;
a rerun computes only partitions missing from the manifest dir
(reference semantics: unfilledRanges, catalog/TableUtils.scala:403-499).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_gb(spec: str):
    """JSON GroupBy spec -> api.GroupBy. Example:
    {"keys":["conv_id"],"aggs":[{"col":"turn_idx","op":"count","windows":["7d"]}],
     "time_column":"ts","tie_breakers":["turn_idx"]}"""
    from chronon_spark.api import Aggregation, GroupBy, Op

    d = json.loads(spec)
    known = {"col", "op", "windows", "buckets", "bucket", "k"}
    aggs = []
    for a in d["aggs"]:
        # fail loudly on typos — a silently dropped key (e.g. "bucket" when
        # the field was buckets-only) changes results without any signal
        unknown = set(a) - known
        if unknown:
            raise ValueError(f"unknown agg spec keys {sorted(unknown)}; known: {sorted(known)}")
        buckets = list(a.get("buckets", []))
        if a.get("bucket"):  # singular sugar
            buckets.append(a["bucket"])
        aggs.append(
            Aggregation(
                a["col"],
                Op(a["op"]),
                windows=tuple(a.get("windows", [None])),
                buckets=tuple(buckets),
                k=a.get("k"),
            )
        )
    return GroupBy(
        keys=d["keys"],
        aggregations=aggs,
        time_column=d.get("time_column", "ts"),
        tie_breakers=d.get("tie_breakers", []),
        include_equal=d.get("include_equal", False),
        sawtooth=d.get("sawtooth", False),
    )


def parse_join(spec: str):
    """JSON Join spec -> a builder (events DataFrame -> api.Join). Example:
    {"parts":[{"group_by":{...gb spec...},"prefix":"a","key_mapping":{"uid":"user_id"},
               "accuracy":"snapshot"}],
     "derivations":{"*":"*","r":"a_x_count_7d / 2.0"},
     "skew_keys":{"conv_id":["hot1"]}}
    Every part's right side is the (partition-pruned) events table."""
    from chronon_spark.api import Accuracy, Join, JoinPart

    d = json.loads(spec)

    def build(events):
        parts = []
        for p in d["parts"]:
            gb = parse_gb(json.dumps(p["group_by"]))
            if p.get("accuracy", "temporal").lower() == "snapshot":
                gb.accuracy = Accuracy.SNAPSHOT
            parts.append(
                JoinPart(
                    gb,
                    events,
                    key_mapping=p.get("key_mapping"),
                    prefix=p.get("prefix"),
                    strategy=p.get("strategy", "plain"),
                )
            )
        return Join(
            left_time_column=d.get("left_time_column", "ts"),
            join_parts=parts,
            derivations=d.get("derivations"),
            skew_keys=d.get("skew_keys"),
        )

    return build


DEFAULT_GB = json.dumps(
    {
        "keys": ["conv_id"],
        "aggs": [
            {"col": "turn_idx", "op": "count", "windows": ["7d", "1h", None]},
            {"col": "turn_idx", "op": "sum", "windows": ["7d"]},
            {"col": "text", "op": "last_k", "windows": ["2d"], "k": 5},
        ],
        "tie_breakers": ["turn_idx"],
    }
)


def main(argv=None) -> int:
    from chronon_spark.operators.asof_join import STRATEGIES

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--events", required=True)
    ap.add_argument("--queries", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True, help="lineage-manifest dir (resume state)")
    ap.add_argument("--group-by", default=None, help="JSON GroupBy spec")
    ap.add_argument("--join", default=None, help="JSON multi-part Join spec (see parse_join)")
    ap.add_argument(
        "--strategy",
        default="plain",
        choices=list(STRATEGIES),
        help="physical as-of plan for --group-by runs (tiled needs sawtooth:true)",
    )
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--step-days",
        type=int,
        default=30,
        help="fill contiguous unfilled partitions in chunks of up to this "
        "many days per Spark job (reference stepDays, JoinBase.scala:347-368); "
        "1 = one job per partition",
    )
    ap.add_argument(
        "--out-format",
        default=None,
        help="sink table format when --out is a catalog name (e.g. iceberg "
        "routes writes through the V2 writeTo/overwritePartitions path)",
    )
    args = ap.parse_args(argv)
    if args.group_by and args.join:
        ap.error("--group-by and --join are mutually exclusive")

    from chronon_spark.plans.manifest import run_partitioned_backfill
    from chronon_spark.session import get_spark

    spark = get_spark("chronon-backfill", master=args.master)
    # pre-flight (Analyzer.scala analogue): fail on spec/schema problems
    # BEFORE any partition computes, not hours into the backfill
    from chronon_spark.analyzer import analyze

    events_df = spark.read.parquet(args.events)
    queries_df = spark.read.parquet(args.queries)
    gb = join_builder = None
    if args.join:
        join_builder = parse_join(args.join)
        analyze(queries_df, join_builder(events_df))
    else:
        gb = parse_gb(args.group_by or DEFAULT_GB)
        analyze(queries_df, gb, right=events_df)
    t0 = time.time()
    stats = run_partitioned_backfill(
        spark,
        events_path=args.events,
        queries_path=args.queries,
        out_path=args.out,
        checkpoint_dir=args.checkpoint,
        gb=gb,
        join_builder=join_builder,
        strategy=args.strategy,
        out_format=args.out_format,
        step_days=args.step_days,
    )
    stats["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(stats))
    return 0


if __name__ == "__main__":
    sys.exit(main())
