"""Output checks, run outside the timed window of every call.

The expected values come from the repository's brute-force reference
``tests/oracle.naive_features`` (imported, never modified). It is computed
once per run, before Spark starts, on a seeded sample of query rows that
always includes hot-key rows and rows whose ts equals an event ts of the same
key. Only the sampled keys' events are handed to the reference: it filters by
key first, so the result is the same and the cost stays small.

Comparison rules: counts and decimal sums exact, doubles within 1e-9
relative, LAST_K lists element by element, nulls only against nulls.
"""

from __future__ import annotations

import decimal
import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads

from chronon_spark.api import GroupBy

from perfbench.inputs import HOT_CONVS

SAMPLE_HOT = 6
SAMPLE_BOUNDARY = 6
SAMPLE_RANDOM = 12
REL_TOL = 1e-9


def sample_query_ids(rng: np.random.Generator, events: pa.Table, queries: pa.Table) -> np.ndarray:
    """Seeded sample: hot-key rows, rows on an event ts, and random rows."""
    hot = {f"conv_{i:06d}" for i in range(HOT_CONVS)}
    conv = queries.column("conv_id").to_pylist()
    q_ts = queries.column("ts").cast(pa.int64()).to_numpy()
    ev_pairs = set(zip(events.column("conv_id").to_pylist(), events.column("ts").cast(pa.int64()).to_numpy().tolist()))
    ids = queries.column("query_id").to_numpy()
    is_hot = np.array([c in hot for c in conv])
    on_event = np.array([(c, int(t)) in ev_pairs for c, t in zip(conv, q_ts)])

    def pick(mask, n):
        pool = ids[mask]
        return rng.choice(pool, size=min(n, len(pool)), replace=False) if len(pool) else pool

    chosen = np.concatenate([pick(is_hot, SAMPLE_HOT), pick(on_event & ~is_hot, SAMPLE_BOUNDARY)])
    rest = ~np.isin(ids, chosen)
    return np.sort(np.concatenate([chosen, pick(rest, SAMPLE_RANDOM)]))


def expected_rows(events: pa.Table, queries: pa.Table, ids: np.ndarray, gb: GroupBy) -> pd.DataFrame:
    """The reference's output for the sampled query ids."""
    from tests.oracle import naive_features

    q = queries.filter(pc.is_in(queries.column("query_id"), pa.array(ids))).to_pandas()
    ev = events.filter(pc.is_in(events.column("conv_id"), pa.array(q["conv_id"].unique()))).to_pandas()
    return naive_features(ev, q, gb).set_index("query_id").sort_index()


def _null(x) -> bool:
    if x is None:
        return True
    if isinstance(x, float):
        return math.isnan(x)
    return False


def _same(a, b) -> bool:
    if _null(a) or _null(b):
        return _null(a) and _null(b)
    if isinstance(b, decimal.Decimal) or isinstance(a, decimal.Decimal):
        return decimal.Decimal(a) == decimal.Decimal(b)
    if isinstance(b, (list, tuple, np.ndarray)):
        a = list(a) if isinstance(a, (list, tuple, np.ndarray)) else None
        return a is not None and len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(b, (float, np.floating)) or isinstance(a, (float, np.floating)):
        a, b = float(a), float(b)
        return abs(a - b) <= REL_TOL * max(abs(a), abs(b))
    if isinstance(b, (int, np.integer)):
        return int(a) == int(b)
    if isinstance(b, pd.Timestamp):  # parquet may carry a UTC zone, the reference none
        a = pd.Timestamp(a)
        return (a.tz_convert(None) if a.tzinfo else a) == b
    return a == b


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Mismatch messages between engine rows and reference rows, both indexed
    by query_id; empty when they agree."""
    if list(got.index) != list(want.index):
        return [f"sampled query ids differ: {sorted(set(got.index) ^ set(want.index))[:5]}"]
    bad = []
    for col in want.columns:
        if col not in got.columns:
            bad.append(f"missing column {col}")
            continue
        for qid in want.index:
            a, b = got.at[qid, col], want.at[qid, col]
            if not _same(a, b):
                bad.append(f"query_id {qid} {col}: engine={a!r} reference={b!r}")
    return bad


def check_ids(got_ids: np.ndarray, n_queries: int) -> list[str]:
    """Exactly one output row per query row (query ids are 0..n-1)."""
    if len(got_ids) != n_queries:
        return [f"{len(got_ids)} output rows for {n_queries} query rows"]
    if not np.array_equal(np.sort(got_ids), np.arange(n_queries)):
        return ["output query ids are not exactly the query rows"]
    return []


def check_backfill(out_dir: str, n_queries: int, want: pd.DataFrame) -> list[str]:
    ds = pads.dataset(out_dir, format="parquet", partitioning="hive")
    bad = check_ids(ds.to_table(columns=["query_id"]).column("query_id").to_numpy(), n_queries)
    rows = ds.to_table(
        columns=list(want.columns) + ["query_id"],
        filter=pads.field("query_id").isin(want.index.to_numpy()),
    ).to_pandas()
    return bad + compare(rows.set_index("query_id").sort_index(), want)


def check_fetch(pdf: pd.DataFrame, n_queries: int, want: pd.DataFrame) -> list[str]:
    bad = check_ids(pdf["query_id"].to_numpy(), n_queries)
    rows = pdf[pdf["query_id"].isin(want.index)].set_index("query_id").sort_index()
    return bad + compare(rows, want)
