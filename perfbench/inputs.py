"""Seeded transcript and query inputs owned by the benchmark.

The benchmark does not use ``chronon_spark.sources.synth``: that module is
program code, and a change to it would change the benchmark's inputs. This
generator is pure numpy + pyarrow, so it runs in well under a second at the
benchmark's size and never starts Spark.

Shape (every count scales with ``Sizes``):
- events: ``conv_id`` string, ``turn_idx`` int32 (unique within a
  conversation, the tie-breaker), ``role`` string, ``text`` string with
  nulls, ``n_chars`` double (integer-valued, null where text is null),
  ``cost`` DECIMAL(18,2) with nulls, ``ts`` timestamp[us], ``ds`` string.
  Two hot conversations hold ``HOT_SHARE`` of the turns each, and a share of
  turns copies another turn's timestamp in the same conversation.
- queries: ``conv_id``, ``query_id`` int64 (unique), ``ts``, ``ds``. The key
  follows the event skew, a share of rows sits exactly on an event ts, and a
  share duplicates earlier (key, ts) points under a new id.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
N_DAYS = 30
HOT_CONVS = 2
HOT_SHARE = 0.10  # of all turns, per hot conversation
DUP_TS_SHARE = 0.01
NULL_TEXT_SHARE = 0.02
NULL_COST_SHARE = 0.02
BOUNDARY_SHARE = 0.05  # query rows whose ts equals an event ts
DUP_QUERY_SHARE = 0.05
ROLES = ["user", "assistant", "system", "tool"]
SERVING_BATCH_END_DAY = 20  # batch end = BASE + 20 days, midnight aligned
SERVING_TAIL_BUFFER_DAYS = 2  # the fetch path's valid range after batch end


@dataclass(frozen=True)
class Sizes:
    turns: int
    convs: int
    queries: int
    fetch_queries: int


def _ds(ts_us: np.ndarray) -> pa.Array:
    days = ((ts_us - BASE_US) // DAY_US).astype(np.int32)
    labels = pa.array([f"2024-01-{d + 1:02d}" for d in range(N_DAYS)])
    return labels.take(pa.array(days))


def _ts(ts_us: np.ndarray) -> pa.Array:
    return pa.array(ts_us, pa.int64()).cast(pa.timestamp("us"))


def _decimal_18_2(unscaled: np.ndarray, valid: np.ndarray) -> pa.Array:
    """DECIMAL(18,2) straight from int64 cents: little-endian int128 words
    (low = value, high = sign extension) plus a validity bitmap."""
    words = np.empty((len(unscaled), 2), dtype=np.int64)
    words[:, 0] = unscaled
    words[:, 1] = np.where(unscaled < 0, -1, 0)
    bitmap = pa.array(valid).buffers()[1]
    return pa.Array.from_buffers(
        pa.decimal128(18, 2), len(unscaled), [bitmap, pa.py_buffer(words.tobytes())],
        null_count=int((~valid).sum()),
    )


def make_events(rng: np.random.Generator, sz: Sizes) -> pa.Table:
    n = sz.turns
    p = np.full(sz.convs, (1 - HOT_CONVS * HOT_SHARE) / (sz.convs - HOT_CONVS))
    p[:HOT_CONVS] = HOT_SHARE
    conv = rng.choice(sz.convs, size=n, p=p / p.sum())
    ts = BASE_US + rng.integers(0, N_DAYS * DAY_US, size=n)
    # duplicate timestamps inside one conversation (tie-breaker exercised)
    n_dup = int(n * DUP_TS_SHARE)
    src, dst = rng.integers(0, n, size=n_dup), rng.integers(0, n, size=n_dup)
    ts[dst], conv[dst] = ts[src], conv[src]
    order = np.lexsort((ts, conv))
    conv, ts = conv[order], ts[order]
    starts = np.r_[0, np.flatnonzero(np.diff(conv)) + 1]
    run_start = np.repeat(starts, np.diff(np.r_[starts, n]))
    turn_idx = (np.arange(n) - run_start).astype(np.int32)
    role = rng.integers(0, len(ROLES), size=n)
    n_chars = rng.integers(1, 2000, size=n).astype(np.float64)
    text_null = rng.random(n) < NULL_TEXT_SHARE
    n_chars[text_null] = np.nan
    # text = "<role>-<n_chars>", built from a dictionary: a few thousand
    # distinct strings, no per-row Python formatting
    vocab = pa.array([f"{r}-{c}" for r in ROLES for c in range(2000)])
    text = vocab.take(pa.array(role * 2000 + np.nan_to_num(n_chars).astype(np.int64), mask=text_null))
    cost_valid = rng.random(n) >= NULL_COST_SHARE
    cost = _decimal_18_2(rng.integers(1, 100_000, size=n), cost_valid)
    conv_ids = pa.array([f"conv_{i:06d}" for i in range(sz.convs)])
    return pa.table(
        {
            "conv_id": conv_ids.take(pa.array(conv)),
            "turn_idx": pa.array(turn_idx),
            "role": pa.array(ROLES).take(pa.array(role)),
            "text": text,
            "n_chars": pa.array(n_chars, from_pandas=True),
            "cost": cost,
            "ts": _ts(ts),
            "ds": _ds(ts),
        }
    )


def make_queries(rng: np.random.Generator, events: pa.Table, n: int, lo_us: int, hi_us: int) -> pa.Table:
    """``n`` query rows with ts in [lo_us, hi_us). Keys follow the event skew
    (drawn from random events), so hot keys carry hot query traffic."""
    ev_conv = events.column("conv_id")
    ev_ts = events.column("ts").cast(pa.int64()).to_numpy()
    in_range = np.flatnonzero((ev_ts >= lo_us) & (ev_ts < hi_us))
    pick = in_range[rng.integers(0, len(in_range), size=n)]
    conv = ev_conv.take(pa.array(pick))
    ts = lo_us + rng.integers(0, hi_us - lo_us, size=n)
    n_b = int(n * BOUNDARY_SHARE)
    ts[:n_b] = ev_ts[pick[:n_b]]  # exactly on an event ts of the same key
    n_d = int(n * DUP_QUERY_SHARE)
    if n_d:  # same (key, ts) as an earlier row, new query_id
        src = rng.integers(0, n - n_d, size=n_d)
        ts[n - n_d :] = ts[src]
        conv = pa.concat_arrays([conv.combine_chunks()[: n - n_d], conv.combine_chunks().take(pa.array(src))])
    return pa.table({"conv_id": conv, "query_id": pa.array(np.arange(n, dtype=np.int64)), "ts": _ts(ts), "ds": _ds(ts)})


def fingerprint(tables: dict[str, pa.Table]) -> dict:
    """Row counts plus a sha256 over every column's values, so a parent run and
    a change run can be shown to have read the same input."""
    h = hashlib.sha256()
    rows = {}
    for name in sorted(tables):
        t = tables[name]
        rows[name] = t.num_rows
        for col in t.column_names:
            h.update(f"{name}.{col}".encode())
            for chunk in t.column(col).chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return {"rows": rows, "sha256": h.hexdigest()}


def generate(seed: int, sz: Sizes, out_dir: str) -> dict:
    """Write events.parquet, queries.parquet and fetch_queries.parquet under
    ``out_dir``; return their paths and the input fingerprint."""
    rng = np.random.default_rng(seed)
    events = make_events(rng, sz)
    queries = make_queries(rng, events, sz.queries, BASE_US, BASE_US + N_DAYS * DAY_US)
    batch_end = BASE_US + SERVING_BATCH_END_DAY * DAY_US
    fetch_q = make_queries(rng, events, sz.fetch_queries, batch_end, batch_end + SERVING_TAIL_BUFFER_DAYS * DAY_US)
    tables = {"events": events, "queries": queries, "fetch_queries": fetch_q}
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return {"paths": paths, "fingerprint": fingerprint(tables), "batch_end_us": batch_end}
