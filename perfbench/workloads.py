"""The benchmark's workloads: one shared input, one shared GroupBy, three ways
of driving the engine.

Every workload reads the same seeded input (inputs.py) and aggregates it with
the same GroupBy on ``conv_id`` (sawtooth windows, ``turn_idx`` tie-breaker):
COUNT over 1h/1d/7d, SUM over 1d/7d and AVERAGE over 7d of ``n_chars``, SUM
over 7d of the DECIMAL(18,2) ``cost``, and LAST_K(3) over 1d of ``text``.
The serving GroupBy drops the decimal part, because ``build_batch_irs``
refuses fractional decimals by design.
"""

from __future__ import annotations

from chronon_spark.api import Aggregation, GroupBy, Op

from perfbench.inputs import Sizes

# 1/10 of the 2M-turn shape the engine is usually sized against. The whole
# benchmark (48 runs, each with a fresh JVM and a ~15 s cold first call) has
# to fit in under an hour on a 4-core host, so one run gets about a minute.
# A warm call still carries a fixed cost of ~1.6 s (job scheduling, Python
# worker start per task) that does not grow with the input: measured at 200k
# and 400k turns, it is about half of a plain backfill call at this size
# (README.md).
SIZES = Sizes(turns=200_000, convs=2_000, queries=22_000, fetch_queries=500)

# Warm-up calls before the timed window, per call kind: the first call is
# cold, and warm calls keep getting faster for ~10 calls (a backfill from
# ~4 s to ~3 s). The timed window is a fixed count of calls, not a fixed
# length, so that a run always holds the same calls of that slope and both
# commits of a comparison measure the same work. Four warm-up calls instead
# of two did not narrow the spread between runs (five seeds each, ~15%: it
# comes from host drift between runs, not from the slope), so three; the
# counts fit 48 runs in under an hour.
WARMUP_CALLS = 3
TIMED_BACKFILLS = 6
TIMED_UPLOADS = 5
TIMED_FETCHES = 5


def _aggregations(with_decimal: bool) -> list[Aggregation]:
    aggs = [
        Aggregation("turn_idx", Op.COUNT, windows=("1h", "1d", "7d")),
        Aggregation("n_chars", Op.SUM, windows=("1d", "7d")),
        Aggregation("n_chars", Op.AVERAGE, windows=("7d",)),
        Aggregation("text", Op.LAST_K, windows=("1d",), k=3),
    ]
    if with_decimal:
        aggs.insert(3, Aggregation("cost", Op.SUM, windows=("7d",)))
    return aggs


def group_by(with_decimal: bool) -> GroupBy:
    return GroupBy(
        keys=["conv_id"],
        aggregations=_aggregations(with_decimal),
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )


# The tiled backfill strategy is measured in the traced run of backfill_plain
# (TILED_* below), not as a workload of its own. Its warm calls take ~1.6x a
# plain call and its cold call ~15 s, so within this benchmark's time budget a
# run holds only ~3 tiled calls, and five seeds spread 25% (IQR/median) on
# their median call time: wider than any bound the benchmark may set.
TILED_WARMUP_CALLS = 1
TILED_CALLS = 2

# workload -> the call kinds of its timed window, in the order they run
WORKLOADS = {
    # The flagship path that ROADMAP directions 2 and 3 change: one
    # 30-day range job through the cogroup shuffle, the Python as-of kernel
    # and the decimal rewrite. Isolates exchange.* and asof_join.* (sort,
    # Python time, bytes to and from Python, task skew from the hot keys);
    # scan.* and sink.* are a small share. Its traced run also runs the
    # same input and GroupBy on the tiled path, where the work moves to the
    # JVM hop-tile aggregate and the tile merge in operators/tiles.py: that
    # isolates tiles.* (build_ms, rows, Python time and bytes, call_ms), the
    # numbers ROADMAP direction 3(d) needs to decide whether that path stays.
    "backfill_plain": ("backfill_plain",),
    # Batch-IR uploads at a day-20 batch end (build_batch_irs plus the IR
    # table write), then a closed loop from one client, each call one
    # fetch_features on a fixed batch of query rows in the valid
    # [batchEnd, batchEnd+2d) range. Fetch cost is set by the IR table (one
    # row per key), not by the query count, so this is where an upload- or
    # fetch-path change shows (upload.*, fetch.*) and the backfill shows
    # nothing; the backfill-only layers (asof_join.python_ms, tiles.*,
    # sink.*) stay at zero here.
    "serving_fetch": ("build_batch_irs", "fetch_features"),
}
