"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Throughput context: `turns_per_sec` = input transcript rows / as-of-join
seconds (the BASELINE.json headline metric). Scaling-efficiency evidence
(local[8] vs local[32]) lives in tools/scaling_bench.py → BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

BENCH_QUERIES = [
    "asof_join_features",
    "trailing_window_features",
    "sessionize",
    "lag_lead",
    "tumbling_1d",
    "hopping_1h_15m",
    "sawtooth_13d",
    "sawtooth_13d_tiled",
    "sawtooth_tiled_rich",
    "sawtooth_tiled_bucketed",
    "serving_fetch",
    "serving_fetch_tiled",
    "sawtooth_13d_sliced",
    "sawtooth_13d_skew_split",
    "snapshot_daily",
    "asof_order_ops",
    "asof_moments",
    "join_multi_part",
    "join_snapshot_accuracy",
    "entity_state_cdc",
    "chained_join_source",
    "cumulative_events_scan",
    "stats_summary",
    "drift_psi",
    "drift_numeric_lp",
    "drift_series",
    "approx_sketch_daily",
    "doc_stats",
    "repetition_quality",
    "dedup_minhash_lsh",
    "dedup_incremental",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_simhash",
    "embedding_topk",
    "embedding_near_dups",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "multi_source_union",
    "label_join_forward",
    "external_contextual",
    "compare_metrics_drift",
    "doc_chunks",
    "transcript_stats",
    "doc_fingerprints",
    "dedup_winnow_overlap",
    "tfidf_topk",
    "decontaminate",
    "pii_scrub",
    "log_flatten",
    "stream_stats_tiles",
    # added round 3 (kept after the r01/r02-comparable block so the leading
    # set matches BENCH_r02 exactly and cross-round ratios hold)
    "unigram_logppl",
    "segment_dedup",
    "semdedup",
    "vector_map_inputs",
    "role_transitions",
    "embedding_clusters",
    "ann_ivf_trained",
    "segment_dedup_rewrite",
    "curate_corpus",
    # added round 4: full registry coverage (VERDICT r3 "Next round" #8) —
    # the 24 previously-unbenched queries, appended so the leading blocks
    # stay position-comparable with BENCH_r02/r03. This block includes the
    # sink-writing jobs (tempdir parquet IO is part of their real cost) and
    # the drained-stream queries (micro-batch latency included).
    "asof_histogram_ops",
    "asof_lifetime",
    "asof_bucketed_sum",
    "twostack_trailing",
    "drift_categorical_lp",
    "url_domains",
    "dedup_exact",
    "quality_topk_per_lang",
    "pack_bins",
    "sample_split",
    "stratified_lang_sample",
    "corpus_mixture",
    "lang_quality",
    "media_features",
    "staging_query_macros",
    "bootstrap_covered",
    "partition_stats_meta",
    "modular_join_merge",
    "conf_backfill_resume",
    "managed_table_lifecycle",
    "catalog_table_v2",
    "stream_running",
    "stream_enrich_fetch",
    "stream_dedup_exact",
    # added round 4 (late): bloom key pushdown + DSIR data selection
    "asof_prefilter_bloom",
    "dsir_weights",
    # added round 5: exact Decimal aggregation + CDC serving fetch
    "asof_decimal_sum",
    "serving_fetch_cdc",
]


def ambient_probe() -> dict:
    """Fixed-work single-thread probes so each bench JSON carries its own
    host calibration: the sandbox's available CPU and memory bandwidth drift
    several-fold between runs (see BASELINE.md), so absolute query times are
    only comparable after dividing by these."""
    import hashlib

    import numpy as np

    t0 = time.time()
    h = hashlib.sha256(b"x")
    for _ in range(1_000_000):
        h = hashlib.sha256(h.digest())
    cpu_ms = (time.time() - t0) * 1000
    a = np.random.default_rng(0).random(20_000_000)
    t0 = time.time()
    s = 0.0
    for _ in range(4):
        s += a.sum()
    membw_ms = (time.time() - t0) * 1000
    return {"ambient_cpu_ms": round(cpu_ms, 1), "ambient_membw_ms": round(membw_ms, 1)}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    import __spark_entry__ as entry_mod
    from chronon_spark.session import get_spark

    spark = get_spark("chronon-bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    qs = entry_mod.queries()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    # JVM + codegen + Python-worker warmup (not measured): run the flagship
    # once so the first timed query isn't charged for worker startup
    qs["asof_join_features"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    # min of 2 runs per query (adaptively up to 4): the sandbox host's
    # ambient load drifts by up to 10x between windows (see ambient_* probes)
    # and is one-sided noise — the minimum is the engine's throughput, a
    # single sample is the host's mood. When the two samples disagree by
    # >25% the window was noisy, so keep sampling (two more at most) until
    # two samples agree within 25% of the min. Re-runs reuse the warm
    # JVM/codegen but NOT cached data (noop sink, no persist), so each is a
    # true re-execution.
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        if name not in qs:
            continue
        samples: list[float] = []
        while True:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            if len(samples) >= 2:
                lo = min(samples)
                if sum(1 for s in samples if s <= lo * 1.25) >= 2 or len(samples) >= 4:
                    break
        timings[name] = round(min(samples), 3)
    total = round(sum(timings.values()), 3)
    asof_sec = timings.get("asof_join_features", 1e-9)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
        "events_rows": n_events,
        "turns_per_sec_asof": round(n_events / asof_sec, 1),
        **ambient_probe(),
    }
    line = json.dumps(payload)
    print(line)
    # stdout tails can get clipped by capture harnesses (r02 lost the JSON
    # head that way) — the file copy is the durable artifact
    try:
        (Path(__file__).resolve().parent / "BENCH.json").write_text(line + "\n")
    except OSError:
        pass
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
