"""Equivalence tests for the scale paths: the tiled sawtooth join and the
time-sliced join must produce EXACTLY what the plain cogroup as-of join
produces (same engine, different physical strategy — the reference asserts
the same invariant between UnionJoin and the classic temporalEvents path).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import Aggregation, GroupBy, Op
from chronon_spark.operators.asof_join import asof_join
from chronon_spark.operators.slicing import sliced_asof_join
from chronon_spark.operators.tiles import tiled_sawtooth_asof_join
from chronon_spark.sources.synth import synth_transcripts


@pytest.fixture(scope="module")
def tdf(spark):
    pdf = synth_transcripts(n_rows=8000, n_convs=40)  # hot keys: ~200 turns/conv
    return spark.createDataFrame(pdf).withColumn(
        "tus", F.unix_micros(F.col("ts").cast("timestamp"))
    ).cache()


def _collect(df, feat_cols):
    pdf = df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    return pdf[["conv_id", "turn_idx"] + feat_cols]


def _assert_same(a: pd.DataFrame, b: pd.DataFrame):
    assert len(a) == len(b)
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = (x.isna() & y.isna()) | ((x - y).abs() < 1e-9)
        else:
            ok = (x.isna() & y.isna()) | (x == y)
        assert ok.all(), f"col {c}: {int((~ok).sum())} diffs\n{a[~ok].head()}\n{b[~ok].head()}"


GB_SAW = GroupBy(
    keys=["conv_id"],
    aggregations=[
        Aggregation("turn_idx", Op.COUNT, windows=("13d", "3h")),
        Aggregation("n_chars", Op.SUM, windows=("13d",)),
        Aggregation("n_chars", Op.AVERAGE, windows=("3h",)),
        Aggregation("n_chars", Op.MIN, windows=("13d",)),
        Aggregation("n_chars", Op.MAX, windows=("3h",)),
    ],
    tie_breakers=["turn_idx"],
    sawtooth=True,
)


def test_tiled_equals_plain_sawtooth(spark, tdf):
    left = tdf.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    feats = [p.output_name for p in GB_SAW.parts()]
    plain = _collect(asof_join(left, tdf, GB_SAW), feats)
    tiled = _collect(tiled_sawtooth_asof_join(left, tdf, GB_SAW), feats)
    _assert_same(plain, tiled)


def test_tiled_percentile_sketch_error_bound(spark):
    """Tiled APPROX_PERCENTILE is a per-tile quantile sketch (systematic
    samples, weight n/K — the reference's KLL IR role). Contract: the
    estimate's rank error is bounded by tail_volume/QSK_K, and it is EXACT
    when no tile exceeds QSK_K values. Uses hot keys so tiles genuinely
    compact (>512 values per (conv, day))."""
    import numpy as np

    from chronon_spark.operators.tiles import QSK_K

    pdf = synth_transcripts(n_rows=40000, n_convs=3)
    pdf["tus"] = pdf["ts"].astype("int64")
    tdf2 = spark.createDataFrame(pdf)
    qs = (0.1, 0.5, 0.9)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("n_chars", Op.APPROX_PERCENTILE, windows=("13d",), percentiles=qs)
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    left = tdf2.where((F.col("role") == "user") & (F.col("turn_idx") % 41 == 0)).select(
        "conv_id", "turn_idx", "tus", "ts"
    )
    feat = gb.parts()[0].output_name
    out = tiled_sawtooth_asof_join(left, tdf2, gb).toPandas()
    assert len(out) > 100
    # at least one tile must have compacted or the bound test is vacuous
    day_us = 86_400_000_000
    tile_counts = pdf.dropna(subset=["n_chars"]).groupby(
        ["conv_id", pdf["tus"] // day_us]
    ).size()
    assert (tile_counts > QSK_K).any(), "fixture too small to exercise compaction"

    ev = pdf.dropna(subset=["n_chars"])
    checked = 0
    for _, r in out.iterrows():
        est = r[feat]
        wstart = ((r["tus"] - 13 * day_us) // day_us) * day_us
        w = ev[(ev.conv_id == r.conv_id) & (ev.tus >= wstart) & (ev.tus < r.tus)]
        vals = np.sort(w["n_chars"].to_numpy(np.float64))
        n = len(vals)
        if n == 0:
            assert est is None
            continue
        eps = n / QSK_K + 2  # rank-error bound + interpolation slack
        for q, e in zip(qs, est):
            rk = q * (n - 1)
            lo_v = vals[max(0, int(np.floor(rk - eps)))]
            hi_v = vals[min(n - 1, int(np.ceil(rk + eps)))]
            assert lo_v - 1e-9 <= e <= hi_v + 1e-9, (r.conv_id, q, e, lo_v, hi_v, n)
        checked += 1
    assert checked > 100


def test_tiled_order_ops_need_tie_breakers(tdf):
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("n_chars", Op.LAST_K, windows=("1d",), k=2)],
        sawtooth=True,
    )
    left = tdf.limit(1)
    with pytest.raises(ValueError, match="tie_breakers"):
        tiled_sawtooth_asof_join(left, tdf, gb)


GB_FULL = GroupBy(
    keys=["conv_id"],
    aggregations=[
        # order ops (per-tile bounded entry lists carrying (ts, ties))
        Aggregation("text", Op.FIRST, windows=("13d",)),
        Aggregation("text", Op.LAST, windows=("3h",)),
        Aggregation("text", Op.FIRST_K, windows=("13d",), k=3),
        Aggregation("text", Op.LAST_K, windows=("2d", "3h"), k=3),
        # extreme-value ops (per-tile k-extreme pigeonhole lists)
        Aggregation("n_chars", Op.TOP_K, windows=("13d",), k=4),
        Aggregation("n_chars", Op.BOTTOM_K, windows=("2d",), k=4),
        Aggregation("n_chars", Op.UNIQUE_TOP_K, windows=("13d",), k=4),
        # distinct (per-tile sets)
        Aggregation("role", Op.UNIQUE_COUNT, windows=("13d", "3h")),
        Aggregation("role", Op.APPROX_UNIQUE_COUNT, windows=("2d",)),
        # histogram family (per-tile value->count maps, two-level build)
        Aggregation("tool", Op.HISTOGRAM, windows=("13d",)),
        Aggregation("tool", Op.HISTOGRAM, windows=("2d",), k=2),
        Aggregation("tool", Op.APPROX_FREQUENT_K, windows=("13d",), k=2),
        Aggregation("tool", Op.APPROX_HEAVY_HITTERS_K, windows=("13d",), k=2),
        # moments (per-tile raw power sums, binomial finalize)
        Aggregation("n_chars", Op.VARIANCE, windows=("13d",)),
        Aggregation("n_chars", Op.SKEW, windows=("13d",)),
        Aggregation("n_chars", Op.KURTOSIS, windows=("13d",)),
    ],
    tie_breakers=["turn_idx"],
    sawtooth=True,
)

_MOMENT_COLS = {"n_chars_variance_13d", "n_chars_skew_13d", "n_chars_kurtosis_13d"}


def _canon_complex(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(sorted(v.items()))
                if isinstance(v, dict)
                else (tuple(v) if isinstance(v, (list, tuple)) or hasattr(v, "__len__") and not isinstance(v, str) else v)
            )
    return df


def test_tiled_full_ops_equal_plain(spark, tdf):
    """Every tiled op family — order, extreme, distinct, histogram, moments —
    must reproduce the plain sawtooth path exactly (moments to float
    tolerance: raw-power-sum vs shifted-prefix finalize)."""
    left = tdf.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    feats = [p.output_name for p in GB_FULL.parts()]
    plain = _canon_complex(_collect(asof_join(left, tdf, GB_FULL), feats))
    tiled = _canon_complex(_collect(tiled_sawtooth_asof_join(left, tdf, GB_FULL), feats))
    assert len(plain) == len(tiled)
    for c in plain.columns:
        x, y = plain[c], tiled[c]
        if c in _MOMENT_COLS:
            xv, yv = x.astype(float), y.astype(float)
            ok = (xv.isna() & yv.isna()) | ((xv - yv).abs() <= 1e-7 + 1e-7 * yv.abs())
        elif x.dtype.kind == "f" or y.dtype.kind == "f":
            ok = (x.isna() & y.isna()) | ((x - y).abs() < 1e-9)
        else:
            ok = (x.isna() & y.isna()) | (x == y)
        assert ok.all(), f"col {c}: {int((~ok).sum())} diffs\n{plain[~ok].head()}\n{tiled[~ok].head()}"


def test_sliced_equals_plain(spark, tdf):
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("2d",)),
            Aggregation("n_chars", Op.SUM, windows=("2d",)),
            Aggregation("text", Op.LAST_K, windows=("1d",), k=3),
        ],
        tie_breakers=["turn_idx"],
    )
    left = tdf.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    feats = [p.output_name for p in gb.parts()]
    plain = _collect(asof_join(left, tdf, gb), feats)
    sliced = _collect(sliced_asof_join(left, tdf, gb, slice_span="1d"), feats)
    # list column: compare as tuples
    for df in (plain, sliced):
        df["text_last_k3_1d"] = df["text_last_k3_1d"].map(
            lambda v: tuple(v) if isinstance(v, (list, tuple)) or v is not None and hasattr(v, "__iter__") else v
        )
    _assert_same(plain, sliced)


def test_sliced_sawtooth_boundary(spark, tdf):
    """Sawtooth + slicing: the rounded-down tail must still see events one
    hop beyond the nominal window (the replication-reach regression)."""
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("2d",))],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    left = tdf.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    feats = [p.output_name for p in gb.parts()]
    plain = _collect(asof_join(left, tdf, gb), feats)
    sliced = _collect(sliced_asof_join(left, tdf, gb, slice_span="1d"), feats)
    _assert_same(plain, sliced)


def test_coarse_buckets_equal_per_key(spark, tdf):
    """coarse_buckets batches many keys per Arrow group — values must be
    identical to the per-key cogroup, including left rows with NULL keys."""
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("2d",)),
            Aggregation("text", Op.LAST_K, windows=("1d",), k=2),
        ],
        tie_breakers=["turn_idx"],
    )
    left = (
        tdf.where(F.col("role") == "user")
        .select("conv_id", "turn_idx", "ts")
        # inject null-key left rows (must survive with null features)
        .withColumn("conv_id", F.when(F.col("turn_idx") % 97 == 0, None).otherwise(F.col("conv_id")))
    )
    feats = [p.output_name for p in gb.parts()]
    plain = _collect(asof_join(left, tdf, gb), feats)
    coarse = _collect(asof_join(left, tdf, gb, coarse_buckets=64), feats)
    for df in (plain, coarse):
        df["text_last_k2_1d"] = df["text_last_k2_1d"].map(lambda v: tuple(v) if v is not None else v)
    # align: conv_id may be null — sort on turn_idx too
    plain = plain.sort_values(["conv_id", "turn_idx"], na_position="first").reset_index(drop=True)
    coarse = coarse.sort_values(["conv_id", "turn_idx"], na_position="first").reset_index(drop=True)
    _assert_same(plain, coarse)


def test_sliced_rejects_unbounded(tdf):
    gb = GroupBy(keys=["conv_id"], aggregations=[Aggregation("turn_idx", Op.COUNT, windows=(None,))])
    with pytest.raises(ValueError, match="bounded"):
        sliced_asof_join(tdf.limit(1), tdf, gb)


def test_tiled_bucketed_scalar_equal_plain(spark, tdf):
    """Bucketed scalar ops through the tiled path: per-(key, hop, bucket)
    tile partials + bucket-masked head events must reproduce the plain
    path's Map[bucket -> agg] exactly."""
    import numpy as np

    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("n_chars", Op.SUM, windows=("13d",), buckets=("role",)),
            Aggregation("n_chars", Op.COUNT, windows=("3h",), buckets=("role",)),
            Aggregation("n_chars", Op.AVERAGE, windows=("13d",), buckets=("role",)),
            Aggregation("n_chars", Op.MIN, windows=("13d",), buckets=("tool",)),
            Aggregation("n_chars", Op.MAX, windows=("3h",), buckets=("tool",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    left = tdf.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    feats = [p.output_name for p in gb.parts()]
    plain = _collect(asof_join(left, tdf, gb), feats)
    tiled = _collect(tiled_sawtooth_asof_join(left, tdf, gb), feats)
    assert len(plain) == len(tiled)
    for c in feats:
        for i in range(len(plain)):
            a, b = plain[c].iloc[i], tiled[c].iloc[i]
            if a is None or b is None:
                assert a is None and b is None, (c, i, a, b)
                continue
            assert sorted(a) == sorted(b), (c, i, a, b)
            for k in a:
                x, y = a[k], b[k]
                assert (x is None) == (y is None)
                if isinstance(x, float):
                    assert abs(x - y) < 1e-9 * max(1.0, abs(x)), (c, i, k, x, y)
                else:
                    assert x == y, (c, i, k, x, y)


def test_tiled_bucketed_nonscalar_equal_plain(spark, tdf):
    """Bucketed order/extreme/set/histogram ops through the tiled path: each
    bucket slot carries the same collection IR as the unbucketed tile
    (the reference's BucketedColumnAggregator layout) and must reproduce the
    plain path's Map[bucket -> agg] exactly."""
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("text", Op.LAST_K, windows=("13d",), k=2, buckets=("role",)),
            Aggregation("text", Op.FIRST, windows=("3h",), buckets=("role",)),
            Aggregation("n_chars", Op.TOP_K, windows=("13d",), k=3, buckets=("role",)),
            Aggregation("n_chars", Op.UNIQUE_COUNT, windows=("13d",), buckets=("role",)),
            Aggregation("tool", Op.HISTOGRAM, windows=("13d",), buckets=("role",)),
            Aggregation("tool", Op.APPROX_FREQUENT_K, windows=("13d",), k=2, buckets=("role",)),
            # mixed with scalars on the same (column, bucket) pair
            Aggregation("n_chars", Op.SUM, windows=("3h",), buckets=("role",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    left = tdf.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    feats = [p.output_name for p in gb.parts()]
    plain = _collect(asof_join(left, tdf, gb), feats)
    tiled = _collect(tiled_sawtooth_asof_join(left, tdf, gb), feats)
    assert len(plain) == len(tiled)

    def canon(v):
        if isinstance(v, dict):
            return tuple(sorted((k, canon(x)) for k, x in v.items()))
        if isinstance(v, (list, tuple)) or (hasattr(v, "__len__") and not isinstance(v, str)):
            return tuple(canon(x) for x in v)
        return v

    for c in feats:
        for i in range(len(plain)):
            a, b = plain[c].iloc[i], tiled[c].iloc[i]
            if a is None or b is None:
                assert a is None and b is None, (c, i, a, b)
                continue
            assert canon(a) == canon(b), (c, i, a, b)


def test_tiled_bucketed_moments_percentile_rejected(tdf):
    for agg in (
        Aggregation("n_chars", Op.VARIANCE, windows=("1d",), buckets=("role",)),
        Aggregation("n_chars", Op.APPROX_PERCENTILE, windows=("1d",), buckets=("role",)),
    ):
        gb = GroupBy(
            keys=["conv_id"],
            aggregations=[agg],
            tie_breakers=["turn_idx"],
            sawtooth=True,
        )
        with pytest.raises(ValueError, match="plain path"):
            tiled_sawtooth_asof_join(tdf.limit(1), tdf, gb)


def test_derivations_agree_across_strategies(spark, tdf):
    """GroupBy-level derivations must produce the same schema and values on
    every physical strategy (plain / tiled / sliced) — previously only the
    plain path applied them."""
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("13d",)),
            Aggregation("n_chars", Op.SUM, windows=("13d",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
        derivations={"*": "*", "chars_per_turn": "n_chars_sum_13d / turn_idx_count_13d"},
    )
    left = tdf.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")
    feats = ["turn_idx_count_13d", "n_chars_sum_13d", "chars_per_turn"]
    plain = _collect(asof_join(left, tdf, gb), feats)
    tiled = _collect(tiled_sawtooth_asof_join(left, tdf, gb), feats)
    sliced = _collect(sliced_asof_join(left, tdf, gb, slice_span="7d"), feats)
    _assert_same(plain, tiled)
    _assert_same(plain, sliced)


def test_join_part_strategy_dispatch(spark, tdf):
    """JoinPart.strategy picks the physical plan per part inside a multi-part
    join; mixed-strategy joins must equal the all-plain join."""
    from chronon_spark.api import Join, JoinPart
    from chronon_spark.operators.asof_join import compute_join

    gb_saw = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("13d",))],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    gb2 = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("n_chars", Op.SUM, windows=("2d",))],
        tie_breakers=["turn_idx"],
    )
    left = tdf.where(F.col("role") == "user").select("conv_id", "turn_idx", "ts")

    def run(s1, s2):
        j = Join(
            left_time_column="ts",
            join_parts=[
                JoinPart(gb_saw, tdf, strategy=s1),
                JoinPart(gb2, tdf, prefix="p2", strategy=s2),
            ],
            derivations={"*": "*", "dbl": "turn_idx_count_13d * 2"},
        )
        return (
            compute_join(left, j)
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )

    base = run("plain", "plain")
    mixed = run("tiled", "skew")
    assert base.equals(mixed[base.columns])
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown strategy"):
        run("bogus", "plain")


def test_tiled_requires_sawtooth(spark, tdf):
    """The tiled kernel always hop-rounds window starts (sawtooth semantics):
    a non-sawtooth GroupBy must fail the preflight loudly instead of silently
    diverging from the plain/sliced/skew strategies (r02 ADVICE)."""
    left = tdf.limit(5).select("conv_id", "ts")
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("13d",))],
        tie_breakers=["turn_idx"],
        sawtooth=False,
    )
    with pytest.raises(ValueError, match="sawtooth"):
        tiled_sawtooth_asof_join(left, tdf, gb)


def test_composite_overflow_split_plain_and_tiled(spark):
    """One cogroup batch (coarse_buckets=1) of 600 keys whose epoch-millis
    events span ~280 years: (600 + 2) * block passes the composite index's
    2**62 bound, so both operators cut the batch into runs of key codes that
    fit. Both must still match a brute-force replay, null keys included."""
    import numpy as np

    from chronon_spark.resolution import tail_hop_millis

    rng = np.random.default_rng(3)
    day_ms = 86_400_000
    n_keys, per_key = 600, 4
    span_ms = 280 * 365 * day_ms
    centers = rng.integers(0, span_ms - 60 * day_ms, n_keys)
    ev = pd.DataFrame(
        {
            "k": np.repeat([f"k{i}" for i in range(n_keys)], per_key),
            "t": np.repeat(centers, per_key) + rng.integers(0, 40 * day_ms, n_keys * per_key),
            "v": rng.integers(-100, 100, n_keys * per_key),
        }
    ).sort_values("t", ignore_index=True)
    ev["seq"] = np.arange(len(ev))  # tie-breaker: the replay's ts order
    # null-key queries sit inside every key's windows: whichever key gets
    # code 0 in the batch, a null key must not read its events
    keys = [f"k{i}" for i in rng.integers(0, n_keys, 900)] + ["k_none"] + [None] * n_keys
    q = pd.DataFrame(
        {
            "qid": np.arange(len(keys)),
            "k": keys,
            "t": np.concatenate(
                [centers[[int(k[1:]) for k in keys[:900]]] + rng.integers(0, 60 * day_ms, 900),
                 [5], centers + 35 * day_ms]
            ),
        }
    )
    gb = GroupBy(
        keys=["k"],
        aggregations=[
            Aggregation("v", Op.COUNT, windows=("30d", "7d")),
            Aggregation("v", Op.SUM, windows=("30d",)),
            Aggregation("v", Op.MAX, windows=("7d",)),
            Aggregation("v", Op.LAST_K, windows=("30d",), k=2),
        ],
        time_column="t",
        tie_breakers=["seq"],
        sawtooth=True,
    )
    ev_df = spark.createDataFrame(ev, "k string, t bigint, v bigint, seq bigint")
    q_df = spark.createDataFrame(q, "qid bigint, k string, t bigint")
    parts = gb.parts()
    by_key = {k: g for k, g in ev.groupby("k")}
    want = {}
    for qid, k, t in q.itertuples(index=False):
        g = by_key.get(k, ev.iloc[0:0])
        for p in parts:
            hop = tail_hop_millis(p.window.millis)
            start = (t - p.window.millis) // hop * hop
            vals = g["v"][(g["t"] >= start) & (g["t"] < t)]
            want[(qid, p.output_name)] = (
                None if not len(vals)
                else len(vals) if p.op == Op.COUNT
                else int(vals.sum()) if p.op == Op.SUM
                else int(vals.max()) if p.op == Op.MAX
                else [int(x) for x in vals[::-1][: p.k]]
            )
    for join in (asof_join, tiled_sawtooth_asof_join):
        out = join(q_df, ev_df, gb, left_time_column="t", coarse_buckets=1).toPandas()
        assert sorted(out["qid"]) == list(q["qid"])
        for row in out.itertuples(index=False):
            for p in parts:
                got = getattr(row, p.output_name)
                got = None if got is None or (isinstance(got, float) and np.isnan(got)) else got
                if isinstance(got, np.ndarray):
                    got = [int(x) for x in got]
                elif got is not None:
                    got = int(got)
                assert got == want[(row.qid, p.output_name)], (join.__name__, row.qid, p.output_name)
