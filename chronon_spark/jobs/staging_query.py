"""StagingQuery: free-form Spark SQL with date macros and fill-what's-missing
partition semantics.

Reference: thrift/api.thrift:69-110 (the StagingQuery conf) and the macro
substitution in spark/.../batch/StagingQuery.scala:114-137. Supported macros:

- ``{{ start_date }}`` / ``{{ end_date }}``  — bounds of the range being
  computed (quoted date strings);
- ``{{ latest_date }}``                      — last partition of the range;
- ``{{ max_date(table=<view>) }}``           — max `ds` in another table.

Like the reference, runs are split into steps (`step_days`) and only missing
output partitions are computed (`unfilled_partitions` — the same manifest
mechanism the backfill job uses, plans/manifest.py).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession

_MAX_DATE_RE = re.compile(r"\{\{\s*max_date\(table=([\w.]+)\)\s*\}\}")


def render_macros(
    spark: SparkSession, sql: str, start_date: str, end_date: str, latest_date: str | None = None
) -> str:
    """Substitute the reference's template macros with quoted literals."""
    out = sql
    out = re.sub(r"\{\{\s*start_date\s*\}\}", f"'{start_date}'", out)
    out = re.sub(r"\{\{\s*end_date\s*\}\}", f"'{end_date}'", out)
    out = re.sub(r"\{\{\s*latest_date\s*\}\}", f"'{latest_date or end_date}'", out)

    def max_date(m: re.Match) -> str:
        table = m.group(1)
        row = spark.sql(f"SELECT MAX(ds) FROM {table}").first()
        if row is None or row[0] is None:
            raise ValueError(f"max_date(table={table}): table has no ds partitions")
        return f"'{row[0]}'"

    return _MAX_DATE_RE.sub(max_date, out)


def _date_range(start: str, end: str) -> list[str]:
    d0 = dt.date.fromisoformat(start)
    d1 = dt.date.fromisoformat(end)
    return [(d0 + dt.timedelta(days=i)).isoformat() for i in range((d1 - d0).days + 1)]


def run_staging_query(
    spark: SparkSession,
    sql: str,
    start_date: str,
    end_date: str,
    out_path: str,
    checkpoint_dir: str,
    step_days: int = 30,
    setups: list[str] | None = None,
) -> dict:
    """Execute a StagingQuery over [start_date, end_date], stepped, resumable.

    The query must produce a `ds` column; each step writes its partitions and
    commits a step manifest. A rerun recomputes only steps whose manifest is
    missing (the reference's unfilledRanges / skipFirstHole contract).
    """
    from chronon_spark.plans.manifest import unfilled_partitions
    from chronon_spark.plans.table_lifecycle import rebalanced

    for s in setups or []:
        spark.sql(s)
    os.makedirs(checkpoint_dir, exist_ok=True)
    days = _date_range(start_date, end_date)
    steps = [days[i : i + step_days] for i in range(0, len(days), step_days)]
    computed = skipped = rows = 0
    for step in steps:
        s0, s1 = step[0], step[-1]
        step_key = f"{s0}_{s1}"
        if not unfilled_partitions([step_key], checkpoint_dir):
            skipped += 1
            continue
        t0 = time.time()
        rendered = render_macros(spark, sql, s0, s1, latest_date=s1)
        df: DataFrame = spark.sql(rendered)
        if "ds" not in df.columns:
            raise ValueError("StagingQuery output must include a 'ds' column")
        rebalanced(df, "ds").write.mode("overwrite").partitionBy("ds").parquet(
            os.path.join(out_path, step_key)
        )
        n = spark.read.parquet(os.path.join(out_path, step_key)).count()
        rows += n
        manifest = {
            "step": step_key,
            "rendered_sql": rendered,
            "rows": n,
            "stage_metrics": {"wall_sec": round(time.time() - t0, 3)},
            "completed_at_unix": int(time.time()),
        }
        tmp = os.path.join(checkpoint_dir, f".{step_key}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, os.path.join(checkpoint_dir, f"{step_key}.json"))
        computed += 1
    return {"steps_total": len(steps), "steps_computed": computed, "steps_skipped_resume": skipped, "rows_out": rows}
