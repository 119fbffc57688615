"""One benchmark run, in the child process that run.py starts: Spark session,
warm-up calls, the timed window, per-call output checks, and the metrics.

run.py owns everything outside the measurement: input generation, the
expected values, the process session and its clean-up. This process prints one
detail line and then the result line on stdout.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402

from chronon_spark.jobs.upload import build_batch_irs, fetch_features  # noqa: E402
from chronon_spark.plans.manifest import run_partitioned_backfill  # noqa: E402
from chronon_spark.session import get_spark  # noqa: E402

from perfbench import check, tracing  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    TILED_CALLS,
    TILED_WARMUP_CALLS,
    TIMED_BACKFILLS,
    TIMED_FETCHES,
    TIMED_UPLOADS,
    WARMUP_CALLS,
    WORKLOADS,
    group_by,
)

TICKS = os.sysconf("SC_CLK_TCK")


def descendants_cpu_s(root: int) -> float:
    """User+sys CPU seconds of every process below ``root`` (the JVM, the
    Python worker daemon and its workers), reaped children included."""
    children: dict[int, list[int]] = {}
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited while scanning
        fields = raw[raw.rfind(")") + 2 :].split()
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    total, todo = 0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        f = stats[pid]
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        todo.extend(children.get(pid, []))
    return total / TICKS


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this VM wanted to
    run, summed over CPUs (the steal column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICKS


class Bench:
    """Calls into the engine, their timings, checks and (traced) spans."""

    def __init__(self, spark, cfg: dict, tracer: tracing.EventLogTracer | None):
        self.spark, self.cfg, self.tracer = spark, cfg, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[dict]] = {}
        self.ir_column: str | None = None  # serving: a column only the IR table has
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.cfg["work"], "calls", f"{tag}-{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def call(self, kind: str, fn, verify, timed: bool) -> object:
        """Run ``fn`` once as one operation; time it, then ``verify`` its
        result outside the timing. Exceptions and failed checks both count as
        failed operations."""
        self.attempted += 1
        span = self.tracer.start(kind) if self.tracer else None
        cpu0, steal0 = descendants_cpu_s(os.getpid()), host_steal_s()
        t0 = time.perf_counter()
        result, err = None, None
        try:
            result = fn()
        except Exception:  # one failed operation; the run goes on and reports it
            err = traceback.format_exc(limit=3)
        dur = time.perf_counter() - t0
        cpu, steal = descendants_cpu_s(os.getpid()) - cpu0, host_steal_s() - steal0
        if span is not None:
            self.tracer.stop(span)
        if err is None:
            try:
                bad = verify(result)
            except Exception:
                bad = [traceback.format_exc(limit=3)]
            if bad:
                err = f"{kind}: " + "; ".join(bad[:3])
        if err is not None:
            self.failed += 1
            self.errors.append(err)
        sample = {"dur_s": dur, "cpu_s": cpu, "steal_s": steal, "timed": timed, "span": span}
        self.samples.setdefault(kind, []).append(sample)
        return result


def _traced_wrap(tracer, module, attr: str) -> None:
    """Nested span around a layer's public function: the plan-building part
    of the call (the functions return lazy DataFrames)."""
    fn = getattr(module, attr)

    def wrapped(*a, **kw):
        span = tracer.start(attr)
        try:
            return fn(*a, **kw)
        finally:
            tracer.stop(span)

    setattr(module, attr, wrapped)


def backfill_calls(b: Bench, strategy: str, warmup: int, timed: int, inputs: dict, want) -> float:
    """``warmup`` then ``timed`` backfill calls; returns when the timed ones began."""
    gb = group_by(with_decimal=True)
    n_q = inputs["fingerprint"]["rows"]["queries"]
    n_ds = inputs["query_days"]

    def one(is_timed: bool) -> None:
        out, ck = b.fresh_dir("out"), b.fresh_dir("ckpt")

        def verify(res: dict) -> list[str]:
            bad = []
            if res["partitions_computed"] != n_ds or res["rows_out"] != n_q:
                bad.append(f"backfill summary {res}")
            if len([f for f in os.listdir(ck) if f.endswith(".json")]) != n_ds:
                bad.append("missing per-ds manifests")
            return bad + check.check_backfill(out, n_q, want)

        b.call(
            f"backfill_{strategy}",
            lambda: run_partitioned_backfill(
                b.spark, inputs["paths"]["events"], inputs["paths"]["queries"], out, ck,
                gb=gb, strategy=strategy,
            ),
            verify, is_timed,
        )
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)

    for _ in range(warmup):
        one(False)
    t_first = time.time()
    for _ in range(timed):
        one(True)
    return t_first


def run_backfill(b: Bench, inputs: dict, want) -> float:
    t_first = backfill_calls(b, "plain", WARMUP_CALLS, TIMED_BACKFILLS, inputs, want)
    if b.tracer is not None:
        backfill_calls(b, "tiled", TILED_WARMUP_CALLS, TILED_CALLS, inputs, want)
    return t_first


def run_serving(b: Bench, inputs: dict, want) -> float:
    """Warm-up uploads and fetches, then the timed uploads and the timed
    fetches on the last upload's IR table; returns when the first timed
    upload began."""
    gb = group_by(with_decimal=False)
    batch_end = inputs["batch_end_us"]
    events = b.spark.read.parquet(inputs["paths"]["events"])
    queries = b.spark.read.parquet(inputs["paths"]["fetch_queries"])
    n_q = inputs["fingerprint"]["rows"]["fetch_queries"]

    def uploads(n: int, timed: bool) -> str:
        """``n`` uploads into fresh IR directories; keeps only the last."""
        ir_dir = None
        for _ in range(n):
            if ir_dir:
                shutil.rmtree(ir_dir, ignore_errors=True)
            ir_dir = b.fresh_dir("ir")
            b.call(
                "build_batch_irs",
                lambda: build_batch_irs(events, gb, batch_end).write.parquet(ir_dir),
                lambda _: [] if pq.ParquetDataset(ir_dir).read(columns=["conv_id"]).num_rows == inputs["ir_keys"]
                else ["IR table row count is not the number of keys with history"],
                timed,
            )
        return ir_dir

    def fetches(ir_dir: str, n: int, timed: bool) -> None:
        irs = b.spark.read.parquet(ir_dir)
        for _ in range(n):
            b.call(
                "fetch_features",
                lambda: fetch_features(queries, irs, events, gb, batch_end).toPandas(),
                lambda pdf: check.check_fetch(pdf, n_q, want),
                timed,
            )
        shutil.rmtree(ir_dir, ignore_errors=True)

    ir_dir = uploads(WARMUP_CALLS, False)
    # a column only the IR table has marks its scan in the fetch plans
    b.ir_column = next(c for c in pq.ParquetDataset(ir_dir).schema.names if c not in events.columns)
    fetches(ir_dir, WARMUP_CALLS, False)
    t_first = time.time()
    fetches(uploads(TIMED_UPLOADS, True), TIMED_FETCHES, True)
    return t_first


def timed_calls(b: Bench, kind: str) -> list[dict]:
    return [s for s in b.samples.get(kind, []) if s["timed"]]


def e2e_metrics(b: Bench, kinds: tuple[str, ...], setup_s: float) -> tuple[dict, dict]:
    """End-to-end metrics over the timed calls (BENCHMARK.json).

    setup_s: worker process start to the first timed call: session start,
      input reads and every warm-up call.
    turns_per_s: input turns / the median wall time of the workload's
      operation. backfill_plain: one run_partitioned_backfill call.
      serving_fetch: serving one batch, the median upload (build_batch_irs
      plus the IR write) plus the median fetch_features call, so a slower
      upload and a slower fetch both move it; the fetch's streaming side is
      the whole event table.
    cpu_s_per_mturn: user+sys CPU of the JVM and Python workers in the same
      operation (medians per call kind, summed), per million input turns.

    The detail line adds each call kind's median and slowest wall time
    (p50_s, max_s): on serving_fetch, upload time and fetch latency.
    """
    turns = b.cfg["inputs"]["fingerprint"]["rows"]["events"]
    op_s = sum(statistics.median(s["dur_s"] for s in timed_calls(b, k)) for k in kinds)
    op_cpu_s = sum(statistics.median(s["cpu_s"] for s in timed_calls(b, k)) for k in kinds)
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "turns_per_s": {"value": turns / op_s, "unit": "turns/s"},
        "cpu_s_per_mturn": {"value": op_cpu_s / (turns / 1e6), "unit": "s/Mturn"},
    }
    info = {
        "calls": {k: len(timed_calls(b, k)) for k in kinds},
        "p50_s": {k: statistics.median(s["dur_s"] for s in timed_calls(b, k)) for k in kinds},
        "max_s": {k: max(s["dur_s"] for s in timed_calls(b, k)) for k in kinds},
    }
    return metrics, info


LAYER_METRICS = [
    ("scan.ms", "ms"), ("scan.bytes", "bytes"), ("scan.rows", "rows"),
    ("exchange.bytes", "bytes"), ("exchange.records", "records"), ("exchange.write_ms", "ms"),
    ("asof_join.sort_ms", "ms"), ("asof_join.python_ms", "ms"), ("asof_join.to_python_bytes", "bytes"),
    ("asof_join.from_python_bytes", "bytes"), ("asof_join.task_skew", "ratio"),
    ("tiles.build_ms", "ms"), ("tiles.rows", "rows"), ("tiles.python_ms", "ms"), ("tiles.to_python_bytes", "bytes"),
    ("tiles.call_ms", "ms"),
    ("sink.write_ms", "ms"), ("sink.bytes", "bytes"), ("sink.files", "files"), ("manifest.driver_ms", "ms"),
    ("upload.agg_ms", "ms"), ("upload.ir_rows", "rows"), ("upload.ir_bytes", "bytes"),
    ("fetch.python_ms", "ms"), ("fetch.exchange_bytes", "bytes"), ("fetch.ir_rows_in", "rows"),
    ("fetch.useful_ratio", "ratio"), ("fetch.driver_ms", "ms"),
    ("python.boot_ms", "ms"), ("python.init_ms", "ms"), ("gc_ms", "ms"), ("cpu.util", "ratio"),
]


def ir_hint(b: Bench) -> str | None:
    """Text that only the IR table's scan node shows: one of its columns."""
    return f"{b.ir_column}#" if b.ir_column else None


def layer_metrics(b: Bench, kind: str, inputs: dict) -> dict:
    """Per-layer metrics of a traced run. Per-call values are medians over
    the timed calls; Python worker start-up is the run's total, because it
    happens in the first calls. A layer a workload does not run reads 0."""
    def totals(kind: str) -> list[dict]:
        return [s["layers"] for s in timed_calls(b, kind)]

    def med(key: str, calls: list[dict] | None = None) -> float:
        return statistics.median(t.get(key, 0.0) for t in (per_call if calls is None else calls))

    timed = timed_calls(b, kind)
    per_call = totals(kind)

    v = {k: 0.0 for k, _ in LAYER_METRICS}
    v.update({
        "scan.ms": med("scan.ms"), "scan.bytes": med("scan.bytes"), "scan.rows": med("scan.rows"),
        "exchange.bytes": med("exchange.bytes"), "exchange.records": med("exchange.records"),
        "exchange.write_ms": med("exchange.write_ns") / 1e6,
        "asof_join.sort_ms": med("cogroup.sort_ms"), "asof_join.task_skew": med("cogroup.task_skew"),
        "gc_ms": med("gc_ms"),
        "cpu.util": statistics.median(s["cpu_s"] / (s["dur_s"] * b.cfg["cores"]) for s in timed),
    })
    if kind == "backfill_plain":
        tiled = totals("backfill_tiled")
        v.update({
            "sink.write_ms": med("sink.commit_ms"), "sink.bytes": med("sink.bytes"),
            "sink.files": med("sink.files"), "manifest.driver_ms": med("driver_ms"),
            "asof_join.python_ms": med("python.run_ms"),
            "asof_join.to_python_bytes": med("python.sent_bytes"),
            "asof_join.from_python_bytes": med("python.returned_bytes"),
            "tiles.build_ms": med("tiles.build_ms", tiled), "tiles.rows": med("tiles.rows", tiled),
            "tiles.python_ms": med("python.run_ms", tiled), "tiles.to_python_bytes": med("python.sent_bytes", tiled),
            "tiles.call_ms": 1000 * statistics.median(s["dur_s"] for s in timed_calls(b, "backfill_tiled")),
        })
    else:
        up = totals("build_batch_irs")
        ir_rows = med("ir_scan.rows")
        v.update({
            "upload.agg_ms": statistics.median(t.get("run_ms", 0.0) for t in up),
            "upload.ir_rows": statistics.median(t.get("sink.rows", 0.0) for t in up),
            "upload.ir_bytes": statistics.median(t.get("sink.bytes", 0.0) for t in up),
            "fetch.python_ms": med("python.run_ms"), "fetch.exchange_bytes": med("exchange.bytes"),
            "fetch.ir_rows_in": ir_rows, "fetch.driver_ms": med("driver_ms"),
            "fetch.useful_ratio": inputs["fetch_distinct_keys"] / ir_rows if ir_rows else 0.0,
        })
    every = [s["layers"] for ss in b.samples.values() for s in ss]
    v["python.boot_ms"] = sum(t.get("python.boot_ms", 0.0) for t in every)
    v["python.init_ms"] = sum(t.get("python.init_ms", 0.0) for t in every)
    return {k: {"value": v[k], "unit": unit} for k, unit in LAYER_METRICS}


def span_summary(tracer: tracing.EventLogTracer) -> dict:
    """"parent/name" -> [count, median ms], nested plan-building spans included."""
    by: dict[str, list[float]] = {}
    for s in tracer.spans:
        by.setdefault(f"{s.parent}/{s.name}" if s.parent else s.name, []).append(s.ms)
    return {k: [len(v), round(statistics.median(v), 3)] for k, v in by.items()}


def main(cfg: dict) -> int:
    kinds = WORKLOADS[cfg["workload"]]
    inputs = cfg["inputs"]
    with open(cfg["expected"], "rb") as f:  # written by run.py for this run
        want = pickle.load(f)
    conf = {"spark.sql.warehouse.dir": os.path.join(cfg["work"], "warehouse")}
    if cfg["trace"]:
        conf.update(tracing.event_log_conf(os.path.join(cfg["work"], "eventlog")))
    spark = get_spark("perfbench", master=f"local[{cfg['cores']}]", extra_conf=conf)
    session_s = time.time() - cfg["t0"]
    tracer = None
    if cfg["trace"]:
        tracer = tracing.EventLogTracer(spark, os.path.join(cfg["work"], "eventlog"))
        import chronon_spark.operators.tiles as tiles_mod
        import chronon_spark.plans.manifest as manifest_mod

        _traced_wrap(tracer, manifest_mod, "asof_join")
        _traced_wrap(tracer, tiles_mod, "tiled_sawtooth_asof_join")
    b = Bench(spark, cfg, tracer)
    runner = run_serving if cfg["workload"] == "serving_fetch" else run_backfill
    setup_s = runner(b, inputs, want) - cfg["t0"]
    e2e, info = e2e_metrics(b, kinds, setup_s)
    metrics = e2e
    if tracer is not None:
        for ss in b.samples.values():
            for s in ss:
                s["layers"] = tracing.span_totals(s["span"], tracer.acc, ir_hint(b))
        metrics = layer_metrics(b, kinds[-1], inputs)
        info["spans"] = span_summary(tracer)
        info["per_call"] = {
            kind: [{k: round(v, 3) for k, v in s["layers"].items()} for s in ss] for kind, ss in b.samples.items()
        }
        info["e2e_traced"] = {k: m["value"] for k, m in e2e.items()} | {"p50_s": info["p50_s"]}
        tracer.close()
    info.update({
        "session_s": session_s,
        "warmup_s": {k: [round(s["dur_s"], 4) for s in v if not s["timed"]] for k, v in b.samples.items()},
        "timed_s": {k: [round(s["dur_s"], 4) for s in v if s["timed"]] for k, v in b.samples.items()},
        "timed_cpu_s": {k: [round(s["cpu_s"], 2) for s in v if s["timed"]] for k, v in b.samples.items()},
        "timed_steal_share": {
            k: [round(s["steal_s"] / (s["dur_s"] * cfg["cores"]), 4) for s in v if s["timed"]]
            for k, v in b.samples.items()
        },
        "errors": b.errors[:5],
    })
    spark.stop()
    print(json.dumps({"detail": info}))
    ok = b.failed == 0 and all(math.isfinite(m["value"]) for m in metrics.values())
    print(json.dumps({"correct": ok, "attempted": b.attempted, "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(json.loads(sys.argv[1])))
