"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. This process generates the seeded inputs and
the expected values (neither counts as set-up), then starts worker.py in its
own session with the harness environment: ``PYTHONPATH`` for Spark's
Python workers, ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's temp dir inside
the checkout, and ``local[<cores>]``. When the worker ends, every process left
in its session is killed and waited for, the work directory is removed, and the
worker's result line is printed last.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 160  # start to the worker's end; clean-up takes at most 15 s more
DRIVER_MEMORY = "2g"


def host_probe_ms() -> float:
    """Fixed single-thread work (hashing 64 MiB), to show host drift."""
    block = bytes(range(256)) * 4096
    t = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(block)
    return (time.perf_counter() - t) * 1000.0


def _session_alive(sid: int) -> list[int]:
    """Live processes of session ``sid``. Sessions, not process groups: the
    PySpark worker daemon moves itself into a process group of its own."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2 :].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def stop_session(sid: int) -> None:
    """Kill what is left of the worker's session and wait until it is gone."""
    for sig, grace_s in ((signal.SIGTERM, 5), (signal.SIGKILL, 10)):
        end = time.time() + grace_s
        for pid in _session_alive(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while time.time() < end:
            if not _session_alive(sid):
                return
            time.sleep(0.1)


def prepare(seed: int, work: str, serving: bool) -> tuple[dict, object]:
    """Inputs, the input fingerprint and the expected rows for this seed."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from perfbench import check, inputs
    from perfbench.workloads import SIZES, group_by

    t = time.perf_counter()
    gen = inputs.generate(seed, SIZES, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t
    events = pq.read_table(gen["paths"]["events"])
    queries = pq.read_table(gen["paths"]["queries"])
    fetch_q = pq.read_table(gen["paths"]["fetch_queries"])
    before_end = events.filter(pc.less(events.column("ts").cast("int64"), gen["batch_end_us"]))
    rng = np.random.default_rng(seed + 1)
    t = time.perf_counter()
    left = fetch_q if serving else queries
    ids = check.sample_query_ids(rng, events, left)
    want = check.expected_rows(events, left, ids, group_by(with_decimal=not serving))
    expect_s = time.perf_counter() - t
    gen.update({
        "input_gen_s": gen_s,
        "expected_s": expect_s,
        "query_days": len(pc.unique(queries.column("ds"))),
        "ir_keys": len(pc.unique(before_end.column("conv_id"))),
        "fetch_distinct_keys": len(pc.unique(fetch_q.column("conv_id"))),
    })
    return gen, want


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # The timed window is a fixed count of calls (workloads.py) that takes
    # about BENCHMARK.json's run_seconds on a 4-core host; see README.md.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    for need in ("chronon_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a full checkout", file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    try:
        probe_before = host_probe_ms()
        gen, want = prepare(args.seed, work, args.workload == "serving_fetch")
        expected = os.path.join(work, "expected.pkl")
        with open(expected, "wb") as f:
            pickle.dump(want, f)
        cfg = {
            "workload": args.workload, "trace": args.trace,
            "work": work, "inputs": gen, "expected": expected,
            "cores": len(os.sched_getaffinity(0)), "t0": time.time(),
        }
        env = dict(
            os.environ,
            PYTHONPATH=ROOT,
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            TMPDIR=os.path.join(work, "tmp"),
            JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        )
        proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), json.dumps(cfg)],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, start_new_session=True, text=True,
        )
        try:
            out, _ = proc.communicate(timeout=max(DEADLINE_S - (time.time() - t_start), 1))
        except subprocess.TimeoutExpired:
            stop_session(proc.pid)
            proc.wait()
            print(f"perfbench: worker passed the {DEADLINE_S}s deadline", file=sys.stderr)
            return 1
        finally:
            stop_session(proc.pid)
        lines = [line for line in out.splitlines() if line.startswith("{")]
        if proc.returncode != 0 or len(lines) < 2:
            print(f"perfbench: worker exited {proc.returncode} without a result", file=sys.stderr)
            return 1
        detail = json.loads(lines[-2])["detail"]
        detail.update({
            "workload": args.workload, "seed": args.seed, "fingerprint": gen["fingerprint"],
            "input_gen_s": gen["input_gen_s"], "expected_s": gen["expected_s"],
            "host_probe_ms": [probe_before, host_probe_ms()],
        })
        print(json.dumps({"detail": detail}))
        print(lines[-1])
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
