"""Steadiness proof for the benchmark: repeated runs, spreads and traced checks.

    python3 perfbench/prove.py --out perfbench/results [--seeds 10] [--traced 2]

For each of two sets and each workload, runs the benchmark once per seed (set k uses
seeds k*100+1 .. k*100+seeds; workloads interleaved, so host drift falls on
all of them alike) with BENCHMARK.json's ``run_seconds``. Then runs each
workload ``--traced`` times traced at one seed. Writes ``runs.json`` (every
run's result and detail line) and ``summary.md`` (per workload and metric:
median, quartiles and IQR/median of each set, the change between the sets'
medians against the bound, tracing overhead, and whether every per-layer
count repeated exactly across the traced runs). Beside the gated metrics it
shows each call kind's median wall time from the detail line, ungated.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

SETS = 2
COUNT_UNITS = {"bytes", "rows", "records", "files"}


def ungated(workload: str) -> list[dict]:
    """Per-call-kind median wall times from the detail line, shown beside the gated metrics."""
    return [{"name": f"p50_s.{k}", "better": "lower", "bound": None} for k in WORKLOADS[workload]]


def value(run: dict, name: str, traced: bool = False) -> float:
    if name.startswith("p50_s."):
        src = run["detail"]["e2e_traced"] if traced else run["detail"]
        return src["p50_s"][name.split(".", 1)[1]]
    return run["detail"]["e2e_traced"][name] if traced else run["result"]["metrics"][name]["value"]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    lines = p.stdout.splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode, "wall_s": time.time() - t}
    if p.returncode == 0 and len(lines) >= 2:
        rec["result"] = json.loads(lines[-1])
        rec["detail"] = json.loads(lines[-2])["detail"]
    else:
        rec["stderr_tail"] = p.stderr[-3000:]
    metrics = rec.get("result", {}).get("metrics", {})
    progress = {k: rec[k] for k in ("workload", "seed", "trace", "rc", "wall_s")}
    print(json.dumps(progress | {"metrics": {k: round(v["value"], 4) for k, v in metrics.items()}}), flush=True)
    return rec


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    q = statistics.quantiles(vals, n=4)
    return q[0], statistics.median(vals), q[2]


def summarize(bench: dict, runs: list[dict]) -> str:
    out = ["# Benchmark steadiness", ""]
    bad = [r for r in runs if "result" not in r or not r["result"]["correct"] or r["result"]["failed"]]
    attempted = sum(r["result"]["attempted"] for r in runs if "result" in r)
    failed = sum(r["result"]["failed"] for r in runs if "result" in r)
    out.append(f"{len(runs)} runs, {attempted} operations attempted, {failed} failed, "
               f"{len(bad)} runs not correct or not finished.")
    walls = [r["wall_s"] for r in runs]
    out.append(f"Run wall time: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s.")
    probes = [p for r in runs if "detail" in r for p in r["detail"]["host_probe_ms"]]
    out.append(f"Host probe (64 MiB sha256, one thread): {min(probes):.1f}-{max(probes):.1f} ms, "
               f"median {statistics.median(probes):.1f} ms.")
    fps = {(r["workload"], r["seed"], r["detail"]["fingerprint"]["sha256"]) for r in runs if "detail" in r}
    by_seed: dict[int, set] = {}
    for _, seed, sha in fps:
        by_seed.setdefault(seed, set()).add(sha)
    out.append("Input fingerprint per seed identical across workloads and runs: "
               f"{all(len(v) == 1 for v in by_seed.values())}.")
    out += ["", "## End-to-end metrics (untraced runs)", "",
            "| workload | metric | bound | "
            + " | ".join(f"set {k + 1} median [q1, q3] (IQR/median)" for k in range(SETS))
            + " | change of median | within bound |",
            "|---|---|---|" + "---|" * SETS + "---|---|"]
    for wl in [w["name"] for w in bench["workloads"]]:
        for m in bench["end_to_end"] + ungated(wl):
            cells, meds, spreads = [], [], []
            for k in range(SETS):
                vals = [value(r, m["name"]) for r in runs
                        if r["workload"] == wl and r["trace"] == 0 and r.get("set") == k and "result" in r]
                if len(vals) < 2:
                    cells.append("n/a")
                    continue
                q1, med, q3 = quartiles(vals)
                meds.append(med)
                spreads.append((q3 - q1) / med)
                cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] ({spreads[-1]:.3f})")
            change, ok = "n/a", "n/a"
            if len(meds) == 2:
                rel = (meds[1] - meds[0]) / meds[0]
                worse = rel if m["better"] == "lower" else -rel
                change = f"{rel:+.3f}"
                if m["bound"] is None:
                    ok = "ungated"
                elif m["name"] != "setup_s" and max(spreads) > m["bound"]:
                    ok = "unresolved: spread above bound"
                else:
                    ok = str(worse <= m["bound"])
            out.append(f"| {wl} | {m['name']} | {m['bound'] or '-'} | " + " | ".join(cells) + f" | {change} | {ok} |")
    traced = [r for r in runs if r["trace"] == 1 and "result" in r]
    if traced:
        out += ["", "## Traced runs", "", "Tracing overhead: median of the traced runs' end-to-end values "
                "against the untraced median of set 1 (same workload).", "",
                "| workload | metric | traced | untraced | overhead |", "|---|---|---|---|---|"]
        for wl in [w["name"] for w in bench["workloads"]]:
            tr = [r for r in traced if r["workload"] == wl]
            if not tr:
                continue
            for m in bench["end_to_end"] + ungated(wl):
                tv = statistics.median(value(r, m["name"], traced=True) for r in tr)
                untraced = [r for r in runs if r["workload"] == wl and r["trace"] == 0 and r.get("set") == 0]
                uv = statistics.median(value(r, m["name"]) for r in untraced if "result" in r)
                out.append(f"| {wl} | {m['name']} | {tv:.4g} | {uv:.4g} | {(tv - uv) / uv:+.3f} |")
        out += ["", "Per-layer metrics, one value per traced run (same seed); counts checked for exact repeats:", "",
                "| workload | metric | unit | values | repeats exactly |", "|---|---|---|---|---|"]
        for wl in [w["name"] for w in bench["workloads"]]:
            tr = [r for r in traced if r["workload"] == wl]
            for m in bench["per_layer"]:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in tr]
                same = "yes" if len(set(vals)) == 1 else (
                    f"no, spread {(max(vals) - min(vals)) / max(abs(max(vals)), 1e-12):.3g}"
                    if m["unit"] in COUNT_UNITS else "(not a count)")
                out.append(f"| {wl} | {m['name']} | {m['unit']} | {', '.join(f'{v:.6g}' for v in vals)} | {same} |")
    return "\n".join(out) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--traced", type=int, default=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for k in range(SETS):
        for i in range(args.seeds):
            for w in bench["workloads"]:
                rec = run_once(w["name"], k * 100 + i + 1, bench["run_seconds"], 0)
                rec["set"] = k
                runs.append(rec)
    for _ in range(args.traced):
        for w in bench["workloads"]:
            runs.append(run_once(w["name"], 1, bench["run_seconds"], 1))
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "runs.json"), "w") as f:
        json.dump(runs, f, indent=1)
    with open(os.path.join(args.out, "summary.md"), "w") as f:
        f.write(summarize(bench, runs))
    return 0


if __name__ == "__main__":
    sys.exit(main())
