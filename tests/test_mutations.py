"""CDC / entity-mutation semantics vs a brute-force pandas oracle that
replays the state row-by-row (reference test model: MutationsTest +
the self-consistent snapshot/mutation generator in DataFrameGen)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from chronon_spark.api import Op
from chronon_spark.operators.mutations import entity_last_value_asof, entity_state_asof

BASE = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def fixtures(spark):
    """One account's balance history via CDC + a second untouched account."""
    snap_schema = T.StructType(
        [T.StructField("acct", T.StringType()), T.StructField("balance", T.DoubleType())]
    )
    # state at 2024-01-01 00:00: a=100 (two rows: 60+40), b=10
    snapshot = spark.createDataFrame(
        [("a", 60.0), ("a", 40.0), ("b", 10.0)], snap_schema
    )
    mut_schema = T.StructType(
        [
            T.StructField("acct", T.StringType()),
            T.StructField("balance", T.DoubleType()),
            T.StructField("mutation_ts", T.TimestampType()),
            T.StructField("is_before", T.BooleanType()),
        ]
    )
    # 02:00 update a: 60 -> 75 (before+after pair); 05:00 insert a: +5;
    # 07:00 delete a's 40 row (before only)
    mutations = spark.createDataFrame(
        [
            ("a", 60.0, BASE + dt.timedelta(hours=2), True),
            ("a", 75.0, BASE + dt.timedelta(hours=2), False),
            ("a", 5.0, BASE + dt.timedelta(hours=5), False),
            ("a", 40.0, BASE + dt.timedelta(hours=7), True),
        ],
        mut_schema,
    )
    left_schema = T.StructType(
        [T.StructField("acct", T.StringType()), T.StructField("ts", T.TimestampType())]
    )
    left = spark.createDataFrame(
        [
            ("a", BASE + dt.timedelta(hours=1)),   # state: {60, 40}
            ("a", BASE + dt.timedelta(hours=3)),   # {75, 40}
            ("a", BASE + dt.timedelta(hours=6)),   # {75, 40, 5}
            ("a", BASE + dt.timedelta(hours=8)),   # {75, 5}
            ("b", BASE + dt.timedelta(hours=8)),   # {10}
            ("a", BASE),                            # strictly-before: EMPTY state
        ],
        left_schema,
    )
    return snapshot, mutations, left


def test_state_aggregation_with_reversal(spark, fixtures):
    snapshot, mutations, left = fixtures
    out = (
        entity_state_asof(left, snapshot, mutations, ["acct"], "balance", "2024-01-01")
        .toPandas()
        .sort_values(["acct", "ts"])
        .reset_index(drop=True)
    )
    expect = [
        ("a", 100.0, 2, 50.0),
        ("a", 115.0, 2, 57.5),
        ("a", 120.0, 3, 40.0),
        ("a", 80.0, 2, 40.0),
        ("b", 10.0, 1, 10.0),
    ]
    got = out[out.balance_state_sum.notna()]
    assert list(got["acct"]) == [e[0] for e in expect]
    assert list(got["balance_state_sum"]) == pytest.approx([e[1] for e in expect])
    assert list(got["balance_state_count"]) == [e[2] for e in expect]
    assert list(got["balance_state_avg"]) == pytest.approx([e[3] for e in expect])
    # the query AT the base midnight sees nothing (strict ts' < ts, zero leakage)
    at_base = out[(out.acct == "a") & (out.ts == BASE)]
    assert at_base["balance_state_sum"].isna().all()


def test_state_rejects_non_abelian(spark, fixtures):
    snapshot, mutations, left = fixtures
    with pytest.raises(ValueError, match="abelian"):
        entity_state_asof(
            left, snapshot, mutations, ["acct"], "balance", "2024-01-01", ops=(Op.MAX,)
        )


def test_last_value_asof(spark, fixtures):
    _, mutations, left = fixtures
    out = (
        entity_last_value_asof(left, mutations, ["acct"], "balance")
        .toPandas()
        .sort_values(["acct", "ts"])
        .reset_index(drop=True)
    )
    a = out[out.acct == "a"]
    # after-images: 75 @2h, 5 @5h  -> asof 1h: None; 3h: 75; 6h: 5; 8h: 5
    vals = list(a["balance_asof"])
    assert pd.isna(vals[0]) and pd.isna(vals[1])  # BASE and 1h rows (sorted by ts: BASE first)
    assert vals[2] == 75.0 and vals[3] == 5.0 and vals[4] == 5.0


def test_random_state_matches_pandas_replay(spark):
    """Randomized CDC stream vs a pandas replay oracle."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows, state = [], {}
    live = {}  # id -> value
    next_id = 0
    t = BASE
    events = []
    for _ in range(300):
        t = t + dt.timedelta(minutes=int(rng.integers(1, 30)))
        acct = f"k{rng.integers(0, 4)}"
        action = rng.choice(["ins", "upd", "del"])
        key_live = [i for i, (a, _) in live.items() if a == acct]
        if action == "ins" or not key_live:
            v = float(rng.integers(1, 100))
            live[next_id] = (acct, v)
            next_id += 1
            rows.append((acct, v, t, False))
        elif action == "upd":
            i = key_live[int(rng.integers(0, len(key_live)))]
            old = live[i][1]
            v = float(rng.integers(1, 100))
            rows.append((acct, old, t, True))
            rows.append((acct, v, t, False))
            live[i] = (acct, v)
        else:
            i = key_live[int(rng.integers(0, len(key_live)))]
            rows.append((acct, live[i][1], t, True))
            del live[i]
        events.append((t, {a: [val for (aa, val) in live.values() if aa == a] for a in {acct}}))

    mut_schema = T.StructType(
        [
            T.StructField("acct", T.StringType()),
            T.StructField("balance", T.DoubleType()),
            T.StructField("mutation_ts", T.TimestampType()),
            T.StructField("is_before", T.BooleanType()),
        ]
    )
    mutations = spark.createDataFrame(rows, mut_schema)
    snapshot = spark.createDataFrame([], "acct string, balance double")
    # queries 1 µs after each event => state INCLUDING that event
    qs = [(f"k{k}", t + dt.timedelta(microseconds=1)) for t, _ in [events[i] for i in range(0, 300, 7)] for k in range(4)]
    left = spark.createDataFrame(qs, "acct string, ts timestamp")
    out = entity_state_asof(left, snapshot, mutations, ["acct"], "balance", "2024-01-01").toPandas()

    # pandas replay oracle
    mdf = pd.DataFrame(rows, columns=["acct", "balance", "mutation_ts", "is_before"])
    for _, r in out.iterrows():
        sub = mdf[(mdf.acct == r.acct) & (mdf.mutation_ts < r.ts)]
        s = sub[~sub.is_before].balance.sum() - sub[sub.is_before].balance.sum()
        n = (~sub.is_before).sum() - sub.is_before.sum()
        if n == 0:
            assert pd.isna(r.balance_state_sum)
        else:
            assert r.balance_state_sum == pytest.approx(s), (r.acct, r.ts)
            assert r.balance_state_count == n


def test_replay_non_abelian_ops(spark, fixtures):
    """Windowed + non-abelian ops over the mutating table — the surface the
    reference's delete-based mutation path cannot express (ColumnAggregator.
    delete is unimplemented for order/set ops, BaseAggregator.scala:60)."""
    from chronon_spark.api import Aggregation
    from chronon_spark.operators.mutations import entity_state_replay_asof

    snapshot, mutations, left = fixtures
    out = (
        entity_state_replay_asof(
            left,
            snapshot,
            mutations,
            ["acct"],
            "balance",
            "2024-01-01",
            [
                Aggregation("balance", Op.MIN, windows=(None,)),
                Aggregation("balance", Op.MAX, windows=(None,)),
                Aggregation("balance", Op.COUNT, windows=(None,)),
                Aggregation("balance", Op.UNIQUE_COUNT, windows=(None,)),
                Aggregation("balance", Op.LAST_K, windows=(None,), k=2),
                Aggregation("balance", Op.HISTOGRAM, windows=(None,)),
                Aggregation("balance", Op.MIN, windows=("4h",)),
            ],
        )
        .toPandas()
        .sort_values(["acct", "ts"])
        .reset_index(drop=True)
    )
    # states: a@0h: {} | a@1h: {60,40} | a@3h: {75,40} | a@6h: {75,40,5}
    #         a@8h: {75,5} | b@8h: {10}
    assert pd.isna(out.loc[0, "balance_state_min"])  # strictly-before base: empty
    assert list(out["balance_state_min"].iloc[1:]) == [40.0, 40.0, 5.0, 5.0, 10.0]
    assert list(out["balance_state_max"].iloc[1:]) == [60.0, 75.0, 75.0, 75.0, 10.0]
    assert list(out["balance_state_count"].iloc[1:]) == [2, 2, 3, 2, 1]
    assert list(out["balance_state_unique_count"].iloc[1:]) == [2, 2, 3, 2, 1]
    assert [list(x) for x in out["balance_state_last_k2"].iloc[1:]] == [
        [60.0, 40.0],  # both ets=midnight -> value-desc tie order
        [75.0, 40.0],
        [5.0, 75.0],
        [5.0, 75.0],
        [10.0],
    ]
    assert dict(out["balance_state_histogram"].iloc[3]) == {"40.0": 1, "5.0": 1, "75.0": 1}
    # windowed MIN: event-ts filter excludes the midnight snapshot rows once
    # the 4h window moves past them (b's only row has ets=midnight -> NULL)
    got_w = out["balance_state_min_4h"]
    assert pd.isna(got_w.iloc[0]) and pd.isna(got_w.iloc[5])
    assert list(got_w.iloc[1:5]) == [40.0, 40.0, 5.0, 5.0]


def test_replay_matches_multiset_oracle_randomized(spark):
    """Randomized CDC stream: replay operator vs a pure-python multiset
    oracle that tracks FIFO instance lifetimes exactly."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    live: dict = {}  # well-formed CDC: before-images only of LIVE versions
    t = BASE
    for _ in range(250):
        t = t + dt.timedelta(minutes=int(rng.integers(1, 40)))
        acct = f"k{rng.integers(0, 3)}"
        action = rng.choice(["ins", "upd", "del"])
        v = float(rng.integers(1, 12))  # small value space -> real collisions
        key_live = live.setdefault(acct, [])
        if action == "ins" or not key_live:
            rows.append((acct, v, t, False))
            key_live.append(v)
        elif action == "upd":
            old = key_live[int(rng.integers(0, len(key_live)))]
            rows.append((acct, old, t, True))
            rows.append((acct, v, t, False))
            key_live.remove(old)
            key_live.append(v)
        else:
            old = key_live[int(rng.integers(0, len(key_live)))]
            rows.append((acct, old, t, True))
            key_live.remove(old)

    mutations = spark.createDataFrame(
        rows, "acct string, balance double, mutation_ts timestamp, is_before boolean"
    )
    snapshot = spark.createDataFrame([], "acct string, balance double")
    qs = [
        (f"k{k}", BASE + dt.timedelta(minutes=int(m)))
        for m in np.linspace(30, 250 * 20, 40)
        for k in range(3)
    ]
    left = spark.createDataFrame(qs, "acct string, ts timestamp")
    from chronon_spark.api import Aggregation
    from chronon_spark.operators.mutations import entity_state_replay_asof

    W = "6h"
    out = entity_state_replay_asof(
        left,
        snapshot,
        mutations,
        ["acct"],
        "balance",
        "2024-01-01",
        [
            Aggregation("balance", Op.MIN, windows=(None, W)),
            Aggregation("balance", Op.MAX, windows=(None,)),
            Aggregation("balance", Op.COUNT, windows=(None, W)),
            Aggregation("balance", Op.SUM, windows=(None,)),
            Aggregation("balance", Op.UNIQUE_COUNT, windows=(None,)),
            Aggregation("balance", Op.HISTOGRAM, windows=(W,)),
        ],
    ).toPandas()

    # oracle: FIFO instance pairing per (acct, value)
    import collections

    insts = []  # (acct, val, ets, vf, vt)
    fifo: dict = collections.defaultdict(list)
    for acct, v, mts, is_before in rows:
        if not is_before:
            fifo[(acct, v)].append([acct, v, mts, mts, None])
            insts.append(fifo[(acct, v)][-1])
        else:
            open_ = [i for i in fifo[(acct, v)] if i[4] is None]
            if open_:
                open_[0][4] = mts
                fifo[(acct, v)].remove(open_[0])
    wus = dt.timedelta(hours=6)
    for _, r in out.iterrows():
        vis = [
            i for i in insts
            if i[0] == r.acct and i[3] < r.ts and (i[4] is None or i[4] >= r.ts)
        ]
        vals = [i[1] for i in vis]
        w_vals = [i[1] for i in vis if r.ts - wus <= i[2] < r.ts]
        if vals:
            assert r.balance_state_min == min(vals), (r.acct, r.ts)
            assert r.balance_state_max == max(vals)
            assert r.balance_state_count == len(vals)
            assert r.balance_state_sum == pytest.approx(sum(vals))
            assert r.balance_state_unique_count == len(set(vals))
        else:
            assert pd.isna(r.balance_state_min) and pd.isna(r.balance_state_sum)
        if w_vals:
            assert r["balance_state_min_6h"] == min(w_vals)
            assert r["balance_state_count_6h"] == len(w_vals)
            want_h = collections.Counter(str(v) for v in w_vals)
            assert dict(r["balance_state_histogram_6h"]) == dict(want_h)
        else:
            assert pd.isna(r["balance_state_min_6h"])
            assert r["balance_state_histogram_6h"] is None or pd.isna(
                r["balance_state_histogram_6h"]
            )


def test_replay_orphan_before_image_closes_nothing(spark):
    """A before-image with NO prior open insert is an orphan: it must not
    pair with a LATER insert of the same identity (an inverted [vf, vt]
    interval would make that insert permanently invisible). Contract:
    orphans close nothing; the later insert stays open."""
    from chronon_spark.api import Aggregation
    from chronon_spark.operators.mutations import entity_state_replay_asof

    t = lambda m: BASE + dt.timedelta(minutes=m)  # noqa: E731
    rows = [
        # orphan delete BEFORE any insert of (a, 5.0)
        ("a", 5.0, t(10), True),
        ("a", 5.0, t(20), False),
        # control key: normal insert -> delete pairing must still close
        ("b", 7.0, t(10), False),
        ("b", 7.0, t(30), True),
    ]
    mutations = spark.createDataFrame(
        rows, "acct string, balance double, mutation_ts timestamp, is_before boolean"
    )
    snapshot = spark.createDataFrame([], "acct string, balance double")
    left = spark.createDataFrame(
        [("a", t(40)), ("b", t(40))], "acct string, ts timestamp"
    )
    out = {
        r["acct"]: r
        for r in entity_state_replay_asof(
            left,
            snapshot,
            mutations,
            ["acct"],
            "balance",
            "2024-01-01",
            [
                Aggregation("balance", Op.COUNT, windows=(None,)),
                Aggregation("balance", Op.MIN, windows=(None,)),
            ],
        ).collect()
    }
    # the t(20) insert is live at t(40): the t(10) orphan closed nothing
    assert out["a"]["balance_state_count"] == 1
    assert out["a"]["balance_state_min"] == 5.0
    # the control pairing still closes: b has no live state at t(40)
    assert out["b"]["balance_state_count"] is None
    assert out["b"]["balance_state_min"] is None


@pytest.mark.parametrize("val_type", ["bigint", "decimal(18,0)"])
def test_replay_integral_sum_exact_above_2_53(spark, val_type):
    """An integral SUM is an exact BIGINT on the replay path: 2^53+1 plus 2
    has no double representation (a float sum gives 9007199254740996)."""
    from decimal import Decimal

    from chronon_spark.api import Aggregation
    from chronon_spark.operators.mutations import entity_state_replay_asof

    big = 2**53 + 1
    v = int if val_type == "bigint" else Decimal
    mutations = spark.createDataFrame(
        [("a", v(big), BASE + dt.timedelta(hours=1), False), ("a", v(2), BASE + dt.timedelta(hours=2), False)],
        f"acct string, balance {val_type}, mutation_ts timestamp, is_before boolean",
    )
    snapshot = spark.createDataFrame([], f"acct string, balance {val_type}")
    left = spark.createDataFrame([("a", BASE + dt.timedelta(hours=3))], "acct string, ts timestamp")
    out = entity_state_replay_asof(
        left, snapshot, mutations, ["acct"], "balance", "2024-01-01",
        [Aggregation("balance", Op.SUM, windows=(None,))],
    )
    assert out.schema["balance_state_sum"].dataType == T.LongType()
    assert out.collect()[0]["balance_state_sum"] == big + 2


def test_replay_event_ts_col(spark):
    """``event_ts_col`` set: windows and LAST order read each instance's
    event ts (not its mutation ts), unbounded parts see instances whose
    event ts is after the query, and a before-image closes the insert whose
    event ts it carries, not the first insert of its value."""
    from chronon_spark.api import Aggregation
    from chronon_spark.operators.mutations import entity_state_replay_asof

    t = lambda m: BASE + dt.timedelta(minutes=m)  # noqa: E731
    # (value, mutation ts, is_before, event ts)
    rows = [
        (1.0, t(600), False, t(540)),
        (2.0, t(570), False, t(570)),
        (9.0, t(600), False, t(780)),  # event ts after the query
        (3.0, t(540), False, t(675)),
        (4.0, t(690), False, t(480)),
        (7.0, t(540), False, t(540)),  # P
        (7.0, t(550), False, t(550)),  # Q
        (7.0, t(660), True, t(550)),  # closes Q, not P
    ]
    mutations = spark.createDataFrame(
        [("a", *r) for r in rows],
        "acct string, balance double, mutation_ts timestamp, is_before boolean, event_ts timestamp",
    )
    snapshot = spark.createDataFrame([], "acct string, balance double, event_ts timestamp")
    left = spark.createDataFrame([("a", t(720))], "acct string, ts timestamp")
    got = entity_state_replay_asof(
        left, snapshot, mutations, ["acct"], "balance", "2024-01-01",
        [
            Aggregation("balance", Op.LAST_K, windows=(None,), k=3),
            Aggregation("balance", Op.MIN, windows=("1h",)),
            Aggregation("balance", Op.COUNT, windows=("175m",)),
        ],
        event_ts_col="event_ts",
    ).collect()[0]
    # visible at 12:00: every insert but Q; event-ts order 9 (13:00), 3 (11:15), 2 (09:30)
    assert got["balance_state_last_k3"] == [9.0, 3.0, 2.0]
    # event ts in [11:00, 12:00): only the 3.0 (the 4.0 was mutated at 11:30 but happened at 08:00)
    assert got["balance_state_min_1h"] == 3.0
    # event ts in [09:05, 12:00): 2.0 and 3.0; Q (09:10) is closed, P (09:00) is outside
    assert got["balance_state_count_175m"] == 2
