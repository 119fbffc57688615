"""Operator-breadth contract queries: every kernel aggregation op exercised
through the PITC as-of join against a DuckDB oracle.

Rounding policy: `score` inputs carry 2 decimals, so sums/averages rounded to
3 are exactly reproducible. Central moments / percentiles accumulate float
error along different paths (prefix scans vs two-pass SQL), so they round to
4 — coarse enough that the ~1e-9 absolute discrepancy can't cross a boundary.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from chronon_spark.api import Aggregation, GroupBy, Join, JoinPart, Op
from chronon_spark.operators.asof_join import asof_join, compute_join
from chronon_spark.sources.tables import transcripts_from_events
from chronon_spark.rounding import NUDGE_4DP, NUDGE_6DP

US_H = 3_600_000_000
US_D = 24 * US_H

_DUCK_T = """
    SELECT 'c' || CAST(user_id AS VARCHAR)                                 AS conv_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
           CASE WHEN event_type IN ('click', 'view') THEN 'user'
                WHEN event_type = 'error'            THEN 'tool'
                ELSE 'assistant' END                                       AS role,
           event_type || ':' || CAST(event_id AS VARCHAR)                  AS text,
           CASE WHEN event_type = 'error' THEN 'retry' END                 AS tool,
           value                                                           AS score,
           ts                                                              AS ts,
           epoch_us(ts)                                                    AS tus
    FROM events
"""


# In a real deployment the transcript table IS the stored input (the
# engine's input contract: conv_id/turn_idx/role/text/tool/ts at rest);
# deriving it from the synthetic events fixture is test plumbing. Without a
# cache every plan BRANCH that scans transcripts (a join's left + each
# part's right, an IR build's collapsed + tail slices + stream side) re-runs
# the window derivation — the serving-fetch query paid it 4-5x per run.
# Session-scoped persist = "the table is materialized", which is what the
# operators would see in production.
# Bounded, oldest-first (same discipline as dedup._PERSISTED_REGISTRY): a
# resident driver sweeping many sf_dirs must not pin memory/disk without
# bound. Evicted frames unpersist and safely recompute on next access.
_T_CACHE: dict[tuple[str, str], DataFrame] = {}
_T_CACHE_KEEP = 4


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _T_CACHE.get(key)
    if hit is not None:
        return hit
    t = transcripts_from_events(spark, sf_dir)
    t = t.withColumn("tus", F.unix_micros(F.col("ts").cast("timestamp"))).persist()
    _T_CACHE[key] = t
    while len(_T_CACHE) > _T_CACHE_KEEP:
        _T_CACHE.pop(next(iter(_T_CACHE))).unpersist(blocking=False)
    return t


def _user_left(t: DataFrame) -> DataFrame:
    return t.where(F.col("role") == "user").select("conv_id", "turn_idx", "tus", "ts")


# ------------------------------------------------------- order-sensitive ops


def _q_order_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("score", Op.FIRST, windows=("7d",)),
            Aggregation("score", Op.LAST, windows=("7d",)),
            Aggregation("text", Op.FIRST_K, windows=("2d",), k=2),
            Aggregation("score", Op.TOP_K, windows=("7d",), k=3),
            Aggregation("score", Op.BOTTOM_K, windows=("7d",), k=3),
            Aggregation("role", Op.UNIQUE_COUNT, windows=("7d",)),
            Aggregation("score", Op.MIN, windows=("7d",)),
            Aggregation("score", Op.MAX, windows=("7d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    out = asof_join(_user_left(t), t, gb)
    # list features are projected to scalar columns / joined strings so the
    # driver's canonicalizer (which sorts on raw cells) can hash them
    top, bot = F.col("score_top_k3_7d"), F.col("score_bottom_k3_7d")
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("score_first_7d").alias("first_score"),
        F.col("score_last_7d").alias("last_score"),
        F.array_join(F.col("text_first_k2_2d"), "|").alias("first2_texts"),
        F.try_element_at(top, F.lit(1)).alias("top3_1"),
        F.try_element_at(top, F.lit(2)).alias("top3_2"),
        F.try_element_at(top, F.lit(3)).alias("top3_3"),
        F.try_element_at(bot, F.lit(1)).alias("bottom3_1"),
        F.try_element_at(bot, F.lit(2)).alias("bottom3_2"),
        F.try_element_at(bot, F.lit(3)).alias("bottom3_3"),
        F.col("role_unique_count_7d").alias("n_roles"),
        F.col("score_min_7d").alias("min_score"),
        F.col("score_max_7d").alias("max_score"),
    )


_SQL_ORDER_OPS = f"""
WITH t AS ({_DUCK_T}),
base AS (
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT e.score FROM t e WHERE e.conv_id = q.conv_id AND e.tus < q.tus
         AND e.tus >= q.tus - {7 * US_D} AND e.score IS NOT NULL
         ORDER BY e.tus, e.turn_idx LIMIT 1) AS first_score,
       (SELECT e.score FROM t e WHERE e.conv_id = q.conv_id AND e.tus < q.tus
         AND e.tus >= q.tus - {7 * US_D} AND e.score IS NOT NULL
         ORDER BY e.tus DESC, e.turn_idx DESC LIMIT 1) AS last_score,
       (SELECT CASE WHEN COUNT(*) = 0 THEN NULL
                    ELSE array_to_string(list(text ORDER BY tus, turn_idx), '|') END
          FROM (SELECT e.text, e.tus, e.turn_idx FROM t e
                 WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {2 * US_D}
                 ORDER BY e.tus, e.turn_idx LIMIT 2)) AS first2_texts,
       (SELECT list(score ORDER BY score DESC)
          FROM (SELECT e.score FROM t e
                 WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}
                   AND e.score IS NOT NULL ORDER BY e.score DESC LIMIT 3)) AS top3,
       (SELECT list(score ORDER BY score)
          FROM (SELECT e.score FROM t e
                 WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}
                   AND e.score IS NOT NULL ORDER BY e.score LIMIT 3)) AS bottom3,
       (SELECT NULLIF(COUNT(DISTINCT e.role), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS n_roles,
       (SELECT MIN(e.score) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS min_score,
       (SELECT MAX(e.score) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS max_score
FROM t q WHERE q.role = 'user')
SELECT conv_id, turn_idx, tus, first_score, last_score, first2_texts,
       list_extract(top3, 1) AS top3_1,
       list_extract(top3, 2) AS top3_2,
       list_extract(top3, 3) AS top3_3,
       list_extract(bottom3, 1) AS bottom3_1,
       list_extract(bottom3, 2) AS bottom3_2,
       list_extract(bottom3, 3) AS bottom3_3,
       n_roles, min_score, max_score
FROM base
"""


# ------------------------------------------------------- moments / percentile


def _q_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("score", Op.VARIANCE, windows=("7d",)),
            Aggregation("score", Op.SKEW, windows=("7d",)),
            Aggregation("score", Op.KURTOSIS, windows=("7d",)),
            Aggregation("score", Op.APPROX_PERCENTILE, windows=("7d",), percentiles=(0.25, 0.5, 0.75)),
        ],
        tie_breakers=["turn_idx"],
    )
    out = asof_join(_user_left(t), t, gb)
    # +2^-26 before rounding: moment values of 2-decimal inputs are DECIMAL
    # rationals that often sit exactly on a .00005 rounding boundary, and the
    # engines' raw moments differ by up to ~3e-10 (different algebras: power-
    # sum prefix scans here, two-pass central moments in the oracle; measured
    # max 2.6e-11 at sf0.01, growing with window size). A DECIMAL nudge just
    # relocates the boundary onto other lattice points (an sf0.1 sweep caught
    # both 1e-10 and 1e-6 flipping var_7d cells); a DYADIC offset (2^-26 ~
    # 1.49e-8, exactly representable, 50x the max delta, 3000x below the
    # 5e-5 quantum) puts the effective boundary at tie - 2^-26, a point no
    # decimal rational hits, so both engines round every lattice value the
    # same way.
    def r4(c):
        # + 0.0 after rounding normalizes IEEE signed zero (-0.0 + 0.0 = +0.0):
        # the driver hashes raw bits, so a Spark +0.0 vs DuckDB -0.0 cell is a
        # hash mismatch even though == calls them equal (r02 kurt_7d red row)
        return F.round(c + F.lit(NUDGE_4DP), 4) + F.lit(0.0)

    pct = F.col("score_approx_percentile_7d")
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        r4(F.col("score_variance_7d")).alias("var_7d"),
        r4(F.col("score_skew_7d")).alias("skew_7d"),
        r4(F.col("score_kurtosis_7d")).alias("kurt_7d"),
        # one scalar column per requested percentile (driver-canonicalizable)
        r4(F.try_element_at(pct, F.lit(1)).cast("double")).alias("p25_7d"),
        r4(F.try_element_at(pct, F.lit(2)).cast("double")).alias("p50_7d"),
        r4(F.try_element_at(pct, F.lit(3)).cast("double")).alias("p75_7d"),
    )


_SQL_MOMENTS = f"""
WITH t AS ({_DUCK_T}),
q AS (SELECT conv_id, turn_idx, tus FROM t WHERE role = 'user'),
w AS (SELECT q.conv_id, q.turn_idx AS qi, q.tus AS qtus, e.score
      FROM q JOIN t e ON e.conv_id = q.conv_id AND e.tus < q.tus
       AND e.tus >= q.tus - {7 * US_D} AND e.score IS NOT NULL),
m AS (SELECT conv_id, qi, qtus, COUNT(*) AS n, AVG(score) AS mean FROM w GROUP BY 1, 2, 3),
c AS (SELECT w.conv_id, w.qi, w.qtus, ANY_VALUE(m.n) AS n,
             AVG(POWER(w.score - m.mean, 2)) AS m2,
             AVG(POWER(w.score - m.mean, 3)) AS m3,
             AVG(POWER(w.score - m.mean, 4)) AS m4,
             quantile_cont(w.score, [0.25, 0.5, 0.75]) AS pct
      FROM w JOIN m ON w.conv_id = m.conv_id AND w.qi = m.qi AND w.qtus = m.qtus
      GROUP BY 1, 2, 3)
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       ROUND(c.m2 + {NUDGE_4DP!r}, 4) + 0.0 AS var_7d,
       CASE WHEN c.n >= 3 AND c.m2 > 0 THEN ROUND(c.m3 / POWER(c.m2, 1.5) + {NUDGE_4DP!r}, 4) + 0.0 END AS skew_7d,
       CASE WHEN c.n >= 4 AND c.m2 > 0 THEN ROUND(c.m4 / (c.m2 * c.m2) - 3 + {NUDGE_4DP!r}, 4) + 0.0 END AS kurt_7d,
       ROUND(list_extract(c.pct, 1) + {NUDGE_4DP!r}, 4) + 0.0 AS p25_7d,
       ROUND(list_extract(c.pct, 2) + {NUDGE_4DP!r}, 4) + 0.0 AS p50_7d,
       ROUND(list_extract(c.pct, 3) + {NUDGE_4DP!r}, 4) + 0.0 AS p75_7d
FROM q LEFT JOIN c ON c.conv_id = q.conv_id AND c.qi = q.turn_idx AND c.qtus = q.tus
"""


# ------------------------------------------------------- bucketed aggregation


def _q_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("score", Op.SUM, windows=("7d",), buckets=("role",))],
        tie_breakers=["turn_idx"],
    )
    out = asof_join(_user_left(t), t, gb)
    # the bucket domain is the 3 role values — project the Map[bucket -> sum]
    # feature to one scalar column per bucket (driver-canonicalizable)
    m = F.col("score_sum_7d_by_role")
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.round(F.try_element_at(m, F.lit("user")), 3).alias("sum_user"),
        F.round(F.try_element_at(m, F.lit("tool")), 3).alias("sum_tool"),
        F.round(F.try_element_at(m, F.lit("assistant")), 3).alias("sum_assistant"),
    )


_SQL_BUCKETED = f"""
WITH t AS ({_DUCK_T}),
q AS (SELECT conv_id, turn_idx, tus FROM t WHERE role = 'user'),
w AS (SELECT q.conv_id, q.turn_idx AS qi, q.tus AS qtus, e.role, e.score
      FROM q JOIN t e ON e.conv_id = q.conv_id AND e.tus < q.tus
       AND e.tus >= q.tus - {7 * US_D} AND e.score IS NOT NULL AND e.role IS NOT NULL),
g AS (SELECT conv_id, qi, qtus, role, SUM(score) AS s FROM w GROUP BY 1, 2, 3, 4),
a AS (SELECT conv_id, qi, qtus,
             MAX(CASE WHEN role = 'user'      THEN ROUND(s, 3) END) AS sum_user,
             MAX(CASE WHEN role = 'tool'      THEN ROUND(s, 3) END) AS sum_tool,
             MAX(CASE WHEN role = 'assistant' THEN ROUND(s, 3) END) AS sum_assistant
      FROM g GROUP BY 1, 2, 3)
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       a.sum_user AS sum_user, a.sum_tool AS sum_tool, a.sum_assistant AS sum_assistant
FROM q LEFT JOIN a ON a.conv_id = q.conv_id AND a.qi = q.turn_idx AND a.qtus = q.tus
"""


# ------------------------------------------------- vector / map input columns


def _q_vector_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector auto-explode + per-map-key aggregation through the as-of join
    (reference row/ColumnAggregator.scala:225-246 VectorDispatcher and
    row/MapColumnAggregator.scala): an ``array<double>`` input aggregates over
    its ELEMENTS, a ``map<string,long>`` input aggregates PER MAP KEY."""
    t = _transcripts(spark, sf_dir)
    t2 = t.withColumn(
        "scores_vec",
        F.array(F.coalesce(F.col("score"), F.lit(0.0)), F.col("turn_idx").cast("double")),
    ).withColumn(
        "counters",
        F.create_map(
            F.col("role"), F.lit(1).cast("long"), F.lit("ti"), F.col("turn_idx").cast("long")
        ),
    )
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("scores_vec", Op.SUM, windows=("7d",)),
            Aggregation("scores_vec", Op.COUNT, windows=("7d",)),
            Aggregation("counters", Op.SUM, windows=("7d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    out = asof_join(_user_left(t), t2, gb)
    m = F.col("counters_sum_7d")
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.round(F.col("scores_vec_sum_7d"), 3).alias("vec_sum_7d"),
        F.col("scores_vec_count_7d").alias("vec_n_7d"),
        F.try_element_at(m, F.lit("user")).alias("cnt_user"),
        F.try_element_at(m, F.lit("tool")).alias("cnt_tool"),
        F.try_element_at(m, F.lit("assistant")).alias("cnt_assistant"),
        F.try_element_at(m, F.lit("ti")).alias("ti_sum"),
    )


_SQL_VECTOR_MAP = f"""
WITH t AS ({_DUCK_T})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT ROUND(SUM(COALESCE(e.score, 0) + e.turn_idx), 3) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS vec_sum_7d,
       (SELECT NULLIF(COUNT(*) * 2, 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS vec_n_7d,
       (SELECT CAST(NULLIF(COUNT(CASE WHEN e.role = 'user' THEN 1 END), 0) AS BIGINT) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS cnt_user,
       (SELECT CAST(NULLIF(COUNT(CASE WHEN e.role = 'tool' THEN 1 END), 0) AS BIGINT) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS cnt_tool,
       (SELECT CAST(NULLIF(COUNT(CASE WHEN e.role = 'assistant' THEN 1 END), 0) AS BIGINT) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS cnt_assistant,
       (SELECT CAST(SUM(e.turn_idx) AS BIGINT) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS ti_sum
FROM t q WHERE q.role = 'user'
"""


# ------------------------------------------------------- histogram family


def _q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("role", Op.HISTOGRAM, windows=("7d",)),
            Aggregation("role", Op.APPROX_FREQUENT_K, windows=("7d",), k=2),
            # NO_FALSE_POSITIVES variant — identical to frequent-k in the
            # exact regime (reference ItemsSketch before purge), which is
            # exactly what the shared oracle asserts
            Aggregation("role", Op.APPROX_HEAVY_HITTERS_K, windows=("7d",), k=2),
            Aggregation("score", Op.UNIQUE_TOP_K, windows=("7d",), k=3),
        ],
        tie_breakers=["turn_idx"],
    )
    out = asof_join(_user_left(t), t, gb)
    # maps serialize to a canonical 'k=v|k=v' string (keys sorted); the
    # unique-top-k list becomes 3 scalar columns (driver-canonicalizable)
    h = F.col("role_histogram_7d")
    fk = F.col("role_approx_frequent_k2_7d")
    hh = F.col("role_approx_heavy_hitters_k2_7d")
    td = F.col("score_unique_top_k3_7d")

    def map_str(m):
        keys = F.array_sort(F.map_keys(m))
        return F.array_join(
            F.transform(keys, lambda x: F.concat(x, F.lit("="), F.element_at(m, x).cast("string"))),
            "|",
        )

    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        map_str(h).alias("hist"),
        map_str(fk).alias("freq2"),
        map_str(hh).alias("hh2"),
        F.try_element_at(td, F.lit(1)).alias("td_1"),
        F.try_element_at(td, F.lit(2)).alias("td_2"),
        F.try_element_at(td, F.lit(3)).alias("td_3"),
    )


_SQL_HISTOGRAM = f"""
WITH t AS ({_DUCK_T}),
q AS (SELECT conv_id, turn_idx, tus FROM t WHERE role = 'user'),
w AS (SELECT q.conv_id, q.turn_idx AS qi, q.tus AS qtus, e.role, e.score
      FROM q JOIN t e ON e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}),
g AS (SELECT conv_id, qi, qtus, role, COUNT(*) AS c FROM w WHERE role IS NOT NULL GROUP BY 1, 2, 3, 4),
hist AS (SELECT conv_id, qi, qtus,
                array_to_string(list(role || '=' || CAST(c AS VARCHAR) ORDER BY role), '|') AS hist
         FROM g GROUP BY 1, 2, 3),
rk AS (SELECT *, row_number() OVER (PARTITION BY conv_id, qi, qtus ORDER BY c DESC, role) AS r FROM g),
freq AS (SELECT conv_id, qi, qtus,
                array_to_string(list(role || '=' || CAST(c AS VARCHAR) ORDER BY role), '|') AS freq2
         FROM rk WHERE r <= 2 GROUP BY 1, 2, 3),
topd AS (SELECT conv_id, qi, qtus, list(v ORDER BY v DESC) AS top3_distinct
         FROM (SELECT conv_id, qi, qtus, score AS v,
                      row_number() OVER (PARTITION BY conv_id, qi, qtus ORDER BY score DESC) AS r
               FROM (SELECT DISTINCT conv_id, qi, qtus, score FROM w WHERE score IS NOT NULL))
         WHERE r <= 3 GROUP BY 1, 2, 3)
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       hist.hist AS hist, freq.freq2 AS freq2, freq.freq2 AS hh2,
       list_extract(topd.top3_distinct, 1) AS td_1,
       list_extract(topd.top3_distinct, 2) AS td_2,
       list_extract(topd.top3_distinct, 3) AS td_3
FROM q
LEFT JOIN hist ON hist.conv_id = q.conv_id AND hist.qi = q.turn_idx AND hist.qtus = q.tus
LEFT JOIN freq ON freq.conv_id = q.conv_id AND freq.qi = q.turn_idx AND freq.qtus = q.tus
LEFT JOIN topd ON topd.conv_id = q.conv_id AND topd.qi = q.turn_idx AND topd.qtus = q.tus
"""


# ------------------------------------------------------- unbounded (lifetime)


def _q_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=(None,)),
            Aggregation("score", Op.SUM, windows=(None,)),
        ],
        tie_breakers=["turn_idx"],
    )
    out = asof_join(_user_left(t), t, gb)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count").alias("n_lifetime"),
        F.round(F.col("score_sum"), 3).alias("sum_lifetime"),
    )


_SQL_LIFETIME = f"""
WITH t AS ({_DUCK_T})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(e.turn_idx), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus) AS n_lifetime,
       (SELECT ROUND(SUM(e.score), 3) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus) AS sum_lifetime
FROM t q WHERE q.role = 'user'
"""


# ------------------------------------------------------- multi-source union


def _q_multi_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source GroupBy (reference GroupBy.scala:613-628): the same
    logical event stream split across two physical sources with different
    column orders/extras, re-unified by union_sources, then aggregated —
    must equal the single-stream oracle exactly."""
    from chronon_spark.query import Query
    from chronon_spark.sources.multi import union_sources

    t = _transcripts(spark, sf_dir)
    src_tool = t.where(F.col("role") == "tool").select("conv_id", "turn_idx", "score", "ts")
    # different column order + an extra column the union must drop
    src_rest = t.where(F.col("role") != "tool").select(
        "ts", "score", F.col("text").alias("extra_text"), "turn_idx", "conv_id"
    )
    events = union_sources(
        [src_tool, src_rest],
        [None, Query(selects={"conv_id": "conv_id", "turn_idx": "turn_idx", "score": "score", "ts": "ts"})],
    )
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("7d",)),
            Aggregation("score", Op.SUM, windows=("7d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    out = asof_join(_user_left(t), events, gb)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_7d").alias("n_7d"),
        F.round(F.col("score_sum_7d"), 3).alias("sum_7d"),
    )


_SQL_MULTI_SOURCE = f"""
WITH t AS ({_DUCK_T})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(e.turn_idx), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS n_7d,
       (SELECT ROUND(SUM(e.score), 3) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS sum_7d
FROM t q WHERE q.role = 'user'
"""


# ------------------------------------------------------- multi-part join


def _q_multi_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two as-of joinParts (all turns / tool turns) + a derivation — the
    reference's Join orchestration (JoinBase.computeJoinOpt) in one query."""
    t = _transcripts(spark, sf_dir)
    left = _user_left(t)
    gb_all = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    gb_tool = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    join = Join(
        left_time_column="ts",
        join_parts=[
            JoinPart(group_by=gb_all, right_df=t),
            JoinPart(group_by=gb_tool, right_df=t.where(F.col("role") == "tool"), prefix="tool"),
        ],
        derivations={
            "*": "*",
            "tool_ratio": "CAST(tool_turn_idx_count_7d AS DOUBLE) / turn_idx_count_7d",
        },
    )
    out = compute_join(left, join)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_7d").alias("n_7d"),
        F.col("tool_turn_idx_count_7d").alias("n_tool_7d"),
        "tool_ratio",
    )


_SQL_MULTI_PART = f"""
WITH t AS ({_DUCK_T})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(*), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS n_7d,
       (SELECT NULLIF(COUNT(*), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.role = 'tool' AND e.tus < q.tus
           AND e.tus >= q.tus - {7 * US_D}) AS n_tool_7d,
       CAST((SELECT NULLIF(COUNT(*), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.role = 'tool' AND e.tus < q.tus
           AND e.tus >= q.tus - {7 * US_D}) AS DOUBLE)
       / (SELECT NULLIF(COUNT(*), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS tool_ratio
FROM t q WHERE q.role = 'user'
"""


# ------------------------------------------------------- CDC entity state


def _q_entity_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC mutations: treat transcript rows as inserts, 'tool'-role rows as
    deletes (before-images). State SUM/COUNT at each user turn's ts via
    abelian reversal through the as-of kernel, PLUS the non-abelian state
    reads (windowed MIN, UNIQUE_COUNT, LAST_K) the reference's delete-based
    mutation path cannot express — computed by the instance-replay operator
    (operators/mutations.py entity_state_replay_asof), whose visible
    instances are reduced by the as-of join's own kernel through the same
    Arrow cogroup (no second aggregation kernel)."""
    from chronon_spark.operators.mutations import entity_state_asof, entity_state_replay_asof
    from chronon_spark.api import Aggregation as _Agg, Op as _Op

    t = _transcripts(spark, sf_dir)
    mutations = t.select(
        "conv_id",
        F.col("score").alias("balance"),
        F.col("ts").alias("mutation_ts"),
        (F.col("role") == "tool").alias("is_before"),
    )
    snapshot = spark.createDataFrame([], "conv_id string, balance double")
    left = _user_left(t)
    out = entity_state_asof(
        left, snapshot, mutations, ["conv_id"], "balance", "2000-01-01", ops=(_Op.SUM, _Op.COUNT)
    )
    rep = entity_state_replay_asof(
        left,
        snapshot,
        mutations,
        ["conv_id"],
        "balance",
        "2000-01-01",
        [
            _Agg("balance", _Op.MIN, windows=("7d",)),
            _Agg("balance", _Op.UNIQUE_COUNT, windows=(None,)),
            _Agg("balance", _Op.LAST_K, windows=(None,), k=2),
        ],
    )
    out = out.join(rep, ["conv_id", "turn_idx", "tus", "ts"])
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.round(F.col("balance_state_sum"), 3).alias("state_sum"),
        F.col("balance_state_count").alias("state_n"),
        # raw input values pass through MIN/LAST_K bit-identically on both
        # engines (same parquet doubles) — no rounding needed; the list
        # splits into scalar columns (driver-canonicalizable)
        F.col("balance_state_min_7d").alias("state_min_7d"),
        F.col("balance_state_unique_count").alias("state_uniq"),
        F.try_element_at(F.col("balance_state_last_k2"), F.lit(1)).alias("state_last_1"),
        F.try_element_at(F.col("balance_state_last_k2"), F.lit(2)).alias("state_last_2"),
    )


# replay-column oracle: FIFO instance pairing via row_number per
# (conv_id, value), identical to the operator's pairing identity; an
# instance is visible at q.tus iff vf < tus <= coalesce(vt, inf), and its
# event-ts is its insert's (vf here, since event_ts defaults to mutation ts)
_SQL_ENTITY_STATE = f"""
WITH t AS ({_DUCK_T}),
d AS (SELECT conv_id, score AS val, tus AS mts, (role = 'tool') AS is_b
      FROM t WHERE score IS NOT NULL),
ins AS (SELECT conv_id, val, mts,
               row_number() OVER (PARTITION BY conv_id, val ORDER BY mts) AS rn
        FROM d WHERE NOT is_b),
del AS (SELECT conv_id, val, mts,
               row_number() OVER (PARTITION BY conv_id, val ORDER BY mts) AS rn
        FROM d WHERE is_b),
inst AS (SELECT i.conv_id, i.val, i.rn, i.mts AS vf,
                CASE WHEN dl.mts < i.mts THEN NULL ELSE dl.mts END AS vt
         FROM ins i LEFT JOIN del dl
           ON i.conv_id = dl.conv_id AND i.val = dl.val AND i.rn = dl.rn)
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       CASE WHEN (SELECT COALESCE(SUM(CASE WHEN e.role = 'tool' THEN -1 ELSE 1 END), 0)
                  FROM t e WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.score IS NOT NULL) > 0
            THEN (SELECT ROUND(SUM(CASE WHEN e.role = 'tool' THEN -e.score ELSE e.score END), 3)
                  FROM t e WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.score IS NOT NULL) END AS state_sum,
       CASE WHEN (SELECT COALESCE(SUM(CASE WHEN e.role = 'tool' THEN -1 ELSE 1 END), 0)
                  FROM t e WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.score IS NOT NULL) > 0
            THEN (SELECT SUM(CASE WHEN e.role = 'tool' THEN -1 ELSE 1 END)
                  FROM t e WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.score IS NOT NULL) END AS state_n,
       (SELECT MIN(e.val) FROM inst e
         WHERE e.conv_id = q.conv_id AND e.vf < q.tus AND (e.vt IS NULL OR e.vt >= q.tus)
           AND e.vf >= q.tus - {7 * US_D}) AS state_min_7d,
       (SELECT NULLIF(COUNT(DISTINCT e.val), 0) FROM inst e
         WHERE e.conv_id = q.conv_id AND e.vf < q.tus
           AND (e.vt IS NULL OR e.vt >= q.tus)) AS state_uniq,
       (SELECT (list(e.val ORDER BY e.vf DESC, e.val DESC, e.rn DESC))[1]
          FROM inst e
         WHERE e.conv_id = q.conv_id AND e.vf < q.tus
           AND (e.vt IS NULL OR e.vt >= q.tus)) AS state_last_1,
       (SELECT (list(e.val ORDER BY e.vf DESC, e.val DESC, e.rn DESC))[2]
          FROM inst e
         WHERE e.conv_id = q.conv_id AND e.vf < q.tus
           AND (e.vt IS NULL OR e.vt >= q.tus)) AS state_last_2
FROM t q WHERE q.role = 'user'
"""


# ------------------------------------------------------- snapshot accuracy


def _q_snap_acc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-accuracy multi-part join: a TEMPORAL part (exact as-of at the
    query ts) + a SNAPSHOT part (features as of the most recent midnight —
    reference JoinPartJob.scala:217-247), plus a GroupBy-level derivation
    (Extensions.scala:1261-1296 '*' passthrough)."""
    from chronon_spark.api import Accuracy

    t = _transcripts(spark, sf_dir)
    left = _user_left(t)
    gb_t = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("1d",))],
        tie_breakers=["turn_idx"],
        derivations={"*": "*", "dbl_1d": "turn_idx_count_1d * 2"},
    )
    gb_s = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("7d",))],
        tie_breakers=["turn_idx"],
        accuracy=Accuracy.SNAPSHOT,
    )
    join = Join(
        left_time_column="ts",
        join_parts=[JoinPart(gb_t, t), JoinPart(gb_s, t, prefix="snap")],
    )
    out = compute_join(left, join)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_1d").alias("n_1d_live"),
        F.col("dbl_1d").alias("n_1d_doubled"),
        F.col("snap_turn_idx_count_7d").alias("n_7d_midnight"),
    )


_SQL_SNAP_ACC = f"""
WITH t AS ({_DUCK_T}),
q AS (SELECT conv_id, turn_idx, tus, (tus // {US_D}) * {US_D} AS d0 FROM t WHERE role = 'user')
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(*), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {US_D}) AS n_1d_live,
       (SELECT NULLIF(COUNT(*), 0) * 2 FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {US_D}) AS n_1d_doubled,
       (SELECT NULLIF(COUNT(*), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.d0 AND e.tus >= q.d0 - {7 * US_D}) AS n_7d_midnight
FROM q
"""


# ------------------------------------------------------- chained JoinSource


def _q_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JoinSource chaining (reference thrift/api.thrift:186-189; parent-join
    materialization GroupBy.scala:537-602): stage 1 enriches every turn with
    its trailing-2d turn count (PITC self-join); stage 2 uses that OUTPUT as
    the event stream of a second GroupBy — features over features. Two
    chained key-shuffles, exactly like the reference's two jobs."""
    t = _transcripts(spark, sf_dir)
    gb1 = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("2d",))],
        tie_breakers=["turn_idx"],
    )
    enriched = asof_join(t, t, gb1).withColumnRenamed("turn_idx_count_2d", "n_2d")
    left = _user_left(t)
    gb2 = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("n_2d", Op.AVERAGE, windows=("1d",)),
            Aggregation("n_2d", Op.LAST, windows=("1d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    out = asof_join(left, enriched, gb2)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        (F.round(F.col("n_2d_average_1d") + F.lit(NUDGE_6DP), 6) + F.lit(0.0)).alias("avg_n2d_1d"),
        F.col("n_2d_last_1d").alias("last_n2d_1d"),
    )


_SQL_CHAINED = f"""
WITH t AS ({_DUCK_T}),
enr AS (SELECT t1.conv_id, t1.turn_idx, t1.tus,
               (SELECT NULLIF(COUNT(*), 0) FROM t e
                 WHERE e.conv_id = t1.conv_id AND e.tus < t1.tus
                   AND e.tus >= t1.tus - {2 * US_D}) AS n_2d
        FROM t t1)
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT ROUND(AVG(en.n_2d) + {NUDGE_6DP!r}, 6) + 0.0 FROM enr en
         WHERE en.conv_id = q.conv_id AND en.tus < q.tus
           AND en.tus >= q.tus - {US_D}) AS avg_n2d_1d,
       (SELECT en.n_2d FROM enr en
         WHERE en.conv_id = q.conv_id AND en.n_2d IS NOT NULL AND en.tus < q.tus
           AND en.tus >= q.tus - {US_D}
         ORDER BY en.tus DESC, en.turn_idx DESC LIMIT 1) AS last_n2d_1d
FROM t q WHERE q.role = 'user'
"""


# ------------------------------------------------------- cumulative source


def _q_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative (snapshot-accumulating) source: derive a table whose every
    date partition holds ALL events up to that date, scan ONLY the latest
    partition (reference GroupBy.scala:758-765), aggregate per user. The
    oracle reads the raw stream directly — latest-partition scan must equal
    full history."""
    from chronon_spark.sources.cumulative import build_cumulative, scan_cumulative_events

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cum = build_cumulative(ev)
    sliced, _ = scan_cumulative_events(cum)
    return sliced.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 3).alias("total_value"),
        F.countDistinct("event_type").alias("n_types"),
    )


_SQL_CUMULATIVE = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 3) AS total_value,
       COUNT(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
"""


# ------------------------------------------------------- stats & drift


def _q_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column summary stats in one aggregate pass (reference
    stats/StatsCompute.scala) — long format (column, metric, value)."""
    from chronon_spark.jobs.stats import summarize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return summarize(ev, columns=["value", "event_type", "user_id"])


def _stats_sql() -> str:
    num = ["value", "user_id"]
    pieces = []
    for c in ["value", "event_type", "user_id"]:
        pieces += [
            f"SELECT '{c}' AS \"column\", 'count' AS metric, CAST(COUNT({c}) AS DOUBLE) AS value FROM events",
            f"SELECT '{c}', 'nulls', CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE) FROM events",
            f"SELECT '{c}', 'distinct', CAST(COUNT(DISTINCT {c}) AS DOUBLE) FROM events",
        ]
        if c in num:
            pieces += [
                f"SELECT '{c}', 'mean', ROUND(AVG({c}), 6) FROM events",
                f"SELECT '{c}', 'min', CAST(MIN({c}) AS DOUBLE) FROM events",
                f"SELECT '{c}', 'max', CAST(MAX({c}) AS DOUBLE) FROM events",
            ]
    return "\nUNION ALL\n".join(pieces)


_DRIFT_MID = "2024-01-16"


def _q_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI drift between two time slices (reference
    stats/drift/Summarizer.scala family)."""
    from chronon_spark.jobs.stats import categorical_psi

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mid = F.lit(_DRIFT_MID).cast("timestamp")
    return categorical_psi(
        ev.where(F.col("ts") < mid), ev.where(F.col("ts") >= mid), "event_type"
    )


_SQL_DRIFT = f"""
WITH a AS (SELECT event_type, COUNT(*) AS na FROM events
            WHERE ts < TIMESTAMP '{_DRIFT_MID}' AND event_type IS NOT NULL GROUP BY 1),
     b AS (SELECT event_type, COUNT(*) AS nb FROM events
            WHERE ts >= TIMESTAMP '{_DRIFT_MID}' AND event_type IS NOT NULL GROUP BY 1),
     ta AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM events
            WHERE ts < TIMESTAMP '{_DRIFT_MID}' AND event_type IS NOT NULL),
     tb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM events
            WHERE ts >= TIMESTAMP '{_DRIFT_MID}' AND event_type IS NOT NULL)
SELECT ROUND(SUM((na / ta.t - nb / tb.t) * ln((na / ta.t) / (nb / tb.t))), 6) AS psi,
       COUNT(*) AS n_categories
FROM a JOIN b USING (event_type), ta, tb
"""


def _q_drift_cat_lp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical L∞/L2/L1 histogram drift over the union of categories
    (missing bucket = zero probability) — reference
    `DriftMetrics.histogramLpDistances` (online/.../stats/DriftMetrics.scala:23-54)."""
    from chronon_spark.jobs.stats import categorical_lp_distances

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mid = F.lit(_DRIFT_MID).cast("timestamp")
    return categorical_lp_distances(
        ev.where(F.col("ts") < mid), ev.where(F.col("ts") >= mid), "event_type"
    )


_SQL_DRIFT_CAT_LP = f"""
WITH a AS (SELECT event_type, COUNT(*) AS na FROM events
            WHERE ts < TIMESTAMP '{_DRIFT_MID}' AND event_type IS NOT NULL GROUP BY 1),
     b AS (SELECT event_type, COUNT(*) AS nb FROM events
            WHERE ts >= TIMESTAMP '{_DRIFT_MID}' AND event_type IS NOT NULL GROUP BY 1),
     ta AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM events
            WHERE ts < TIMESTAMP '{_DRIFT_MID}' AND event_type IS NOT NULL),
     tb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM events
            WHERE ts >= TIMESTAMP '{_DRIFT_MID}' AND event_type IS NOT NULL),
     j AS (SELECT COALESCE(na, 0) / ta.t AS pa, COALESCE(nb, 0) / tb.t AS pb
           FROM a FULL OUTER JOIN b USING (event_type), ta, tb)
SELECT ROUND(MAX(ABS(pa - pb)), 6) AS linf,
       ROUND(SQRT(SUM((pa - pb) * (pa - pb))), 6) AS l2,
       ROUND(SUM(ABS(pa - pb)), 6) AS l1,
       COUNT(*) AS n_bins
FROM j
"""


def _q_drift_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-binned numeric drift (L∞/L2/L1 over decile PMFs, splits from
    the reference slice) — the reference's KLL-sketch drift
    (`DriftMetrics.kllSketchDistances`, online/.../stats/DriftMetrics.scala:88-140)
    with exact percentiles for oracle parity; `approx=True` is the 100 TB path."""
    from chronon_spark.jobs.stats import numeric_drift

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    mid = F.lit(_DRIFT_MID).cast("timestamp")
    return numeric_drift(
        ev.where(F.col("ts") < mid), ev.where(F.col("ts") >= mid), "value", bins=10
    )


_SQL_DRIFT_NUMERIC = f"""
WITH a AS (SELECT value AS v FROM events
            WHERE ts < TIMESTAMP '{_DRIFT_MID}' AND value IS NOT NULL),
     b AS (SELECT value AS v FROM events
            WHERE ts >= TIMESTAMP '{_DRIFT_MID}' AND value IS NOT NULL),
     sp AS (SELECT [round(x, 6) for x in
                    quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])] AS s FROM a),
     ba AS (SELECT len(list_filter(sp.s, x -> x <= v)) AS bin, COUNT(*) AS na
            FROM a, sp GROUP BY 1),
     bb AS (SELECT len(list_filter(sp.s, x -> x <= v)) AS bin, COUNT(*) AS nb
            FROM b, sp GROUP BY 1),
     ta AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM a),
     tb AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM b),
     j AS (SELECT COALESCE(na, 0) / ta.t AS pa, COALESCE(nb, 0) / tb.t AS pb
           FROM ba FULL OUTER JOIN bb USING (bin), ta, tb)
SELECT ROUND(MAX(ABS(pa - pb)), 6) AS linf,
       ROUND(SQRT(SUM((pa - pb) * (pa - pb))), 6) AS l2,
       ROUND(SUM(ABS(pa - pb)), 6) AS l1,
       COUNT(*) AS n_bins
FROM j
"""


def _q_drift_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day tile drift series (count change %, consecutive-histogram Lp,
    decile drift) — reference TileDriftCalculator.scala:25-82."""
    from chronon_spark.jobs.stats import tile_drift_series

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return tile_drift_series(ev, "ts", "event_type", "value")


_SQL_DRIFT_SERIES = """
WITH ev AS (SELECT CAST(ts AS DATE) AS ds, event_type, value FROM events),
tiles AS (SELECT ds, COUNT(*) AS n,
                 [round(x, 6) for x in
                  quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9])] AS pct
          FROM ev GROUP BY 1),
hist AS (SELECT ds, event_type, COUNT(*) AS c FROM ev
         WHERE event_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT ds, CAST(SUM(c) AS DOUBLE) AS t FROM hist GROUP BY 1),
days AS (SELECT ds, lag(ds) OVER (ORDER BY ds) AS pds, n,
                lag(n) OVER (ORDER BY ds) AS pn,
                pct, lag(pct) OVER (ORDER BY ds) AS ppct
         FROM tiles),
cats AS (SELECT DISTINCT event_type FROM hist),
pairs AS (SELECT d.ds, d.pds, c.event_type FROM days d CROSS JOIN cats c
          WHERE d.pds IS NOT NULL),
j AS (SELECT p.ds,
             COALESCE(hc.c, 0) / tc.t AS pc,
             COALESCE(hp.c, 0) / tp.t AS pp
      FROM pairs p
      JOIN tot tc ON tc.ds = p.ds
      JOIN tot tp ON tp.ds = p.pds
      LEFT JOIN hist hc ON hc.ds = p.ds AND hc.event_type = p.event_type
      LEFT JOIN hist hp ON hp.ds = p.pds AND hp.event_type = p.event_type),
hd AS (SELECT ds, ROUND(SUM(ABS(pc - pp)), 6) AS hist_l1,
              ROUND(MAX(ABS(pc - pp)), 6) AS hist_linf
       FROM j GROUP BY 1)
SELECT d.ds, d.n,
       ROUND((d.n - d.pn) / CAST(d.pn AS DOUBLE) * 100.0, 6) AS count_change_pct,
       hd.hist_l1, hd.hist_linf,
       ROUND(list_sum([abs(d.pct[i] - d.ppct[i]) for i in generate_series(1, 9)]) / 9, 6)
         AS pct_drift
FROM days d JOIN hd ON hd.ds = d.ds
WHERE d.pds IS NOT NULL
"""


# ------------------------------------------------------- sketch scale path


def _q_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB sketch path for APPROX_UNIQUE_COUNT / APPROX_PERCENTILE:
    JVM HLL++ (`approx_count_distinct`) and `percentile_approx` per
    (user, day). The reference uses CPC/KLL sketches
    (SimpleAggregators.scala:499,545) — raw sketch values are impl-specific,
    so the hash-gated output carries the grouping skeleton, the exact
    companions, and error/ordering FLAGS computed against the sketches
    (the oracle asserts every flag TRUE); the tighter error-bound gate lives
    in tests/test_sketches.py, mirroring ApproxDistinct/ApproxPercentiles
    tests."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    g = ev.groupBy("user_id", F.date_format("ts", "yyyy-MM-dd").alias("ds")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_type").alias("types_exact"),
        F.approx_count_distinct("event_type").alias("__types_approx"),
        F.min("value").alias("__vmin"),
        F.max("value").alias("__vmax"),
        F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.9))).alias("__pcts"),
    )
    p50, p90 = F.element_at("__pcts", 1), F.element_at("__pcts", 2)
    return g.select(
        "user_id",
        "ds",
        "n",
        "types_exact",
        # HLL++ rsd=0.05; tiny per-day cardinalities are exact in practice,
        # the +1 keeps the flag honest at the margin
        (
            (F.col("__types_approx") >= F.col("types_exact") * 0.9 - 1)
            & (F.col("__types_approx") <= F.col("types_exact") * 1.1 + 1)
        ).alias("types_approx_ok"),
        # percentile_approx returns actual data values: bounded and monotone;
        # coalesce(False) makes the all-null-values group match the oracle's
        # COUNT(value) > 0
        F.coalesce((p50 >= F.col("__vmin")) & (p50 <= F.col("__vmax")), F.lit(False)).alias(
            "p50_bounded"
        ),
        F.coalesce(p90 >= p50, F.lit(False)).alias("p90_ge_p50"),
    )


_SQL_SKETCHES = """
SELECT user_id,
       strftime(ts, '%Y-%m-%d') AS ds,
       COUNT(*) AS n,
       COUNT(DISTINCT event_type) AS types_exact,
       TRUE AS types_approx_ok,
       (COUNT(value) > 0) AS p50_bounded,
       (COUNT(value) > 0) AS p90_ge_p50
FROM events
GROUP BY 1, 2
"""


# ------------------------------------------------------- registry

# ------------------------------------------------------- label join (forward)


def _q_label_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label attribution: for each user turn, labels from the NEXT 2 days —
    error count, summed score, and the first error text in the horizon
    (strictly after the decision ts, inclusive at ts + 2d)."""
    from chronon_spark.operators.label_join import label_join

    t = _transcripts(spark, sf_dir)
    errors = t.where(F.col("role") == "tool")
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("2d",)),
            Aggregation("score", Op.SUM, windows=("2d",)),
            Aggregation("text", Op.FIRST, windows=("2d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    out = label_join(_user_left(t), errors, gb)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_2d").alias("label_errors_2d"),
        F.round(F.col("score_sum_2d"), 3).alias("label_score_2d"),
        F.col("text_first_2d").alias("first_error_text"),
    )


_SQL_LABEL_JOIN = f"""
WITH t AS ({_DUCK_T})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(*), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.role = 'tool'
           AND e.tus > q.tus AND e.tus <= q.tus + {2 * US_D}) AS label_errors_2d,
       (SELECT ROUND(SUM(e.score), 3) FROM t e
         WHERE e.conv_id = q.conv_id AND e.role = 'tool'
           AND e.tus > q.tus AND e.tus <= q.tus + {2 * US_D}
           AND e.score IS NOT NULL) AS label_score_2d,
       (SELECT e.text FROM t e
         WHERE e.conv_id = q.conv_id AND e.role = 'tool'
           AND e.tus > q.tus AND e.tus <= q.tus + {2 * US_D} AND e.text IS NOT NULL
         ORDER BY e.tus, e.turn_idx LIMIT 1) AS first_error_text
FROM t q WHERE q.role = 'user'
"""


# ------------------------------------------------------- external parts


def _q_external_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """onlineExternalParts offline contract (thrift/api.thrift:390-397,418):
    contextual passthrough + broadcast values-snapshot join + the offline
    null-fill for a service-backed source."""
    from chronon_spark.operators.external import ExternalPart, ExternalSource, apply_external_parts

    t = _transcripts(spark, sf_dir)
    snap = t.groupBy(F.col("conv_id").alias("cid")).agg(
        F.count(F.lit(1)).alias("n_events"), F.max("score").alias("max_score")
    )
    parts = [
        ExternalPart(
            source=ExternalSource(
                name="contextual",
                key_columns=("cid", "idx"),
                value_columns={"cid": "string", "idx": "int"},
            ),
            key_mapping={"conv_id": "cid", "turn_idx": "idx"},
        ),
        ExternalPart(
            source=ExternalSource(
                name="convdim",
                key_columns=("cid",),
                value_columns={"n_events": "bigint", "max_score": "double"},
            ),
            key_mapping={"conv_id": "cid"},
        ),
        ExternalPart(
            source=ExternalSource(name="risk", key_columns=("cid",), value_columns={"score": "double"})
        ),
    ]
    out = apply_external_parts(_user_left(t), parts, values={"convdim": snap})
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        "ext_contextual_cid",
        "ext_contextual_idx",
        "ext_convdim_n_events",
        F.round("ext_convdim_max_score", 3).alias("ext_convdim_max_score"),
        "ext_risk_score",
    )


_SQL_EXTERNAL = f"""
WITH t AS ({_DUCK_T}),
dim AS (SELECT conv_id AS cid, COUNT(*) AS n_events, MAX(score) AS max_score
        FROM t GROUP BY conv_id)
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       q.conv_id AS ext_contextual_cid,
       q.turn_idx AS ext_contextual_idx,
       d.n_events AS ext_convdim_n_events,
       ROUND(d.max_score, 3) AS ext_convdim_max_score,
       CAST(NULL AS DOUBLE) AS ext_risk_score
FROM t q LEFT JOIN dim d ON d.cid = q.conv_id
WHERE q.role = 'user'
"""


# ------------------------------------------------------- compare job


def _q_compare_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build-comparison-table + compare run modes (CompareBaseJob.scala:110,
    CompareMetrics.scala:55-170): per-user daily aggregates vs the same
    pipeline with error events dropped — known, deterministic drift."""
    from chronon_spark.jobs.compare import build_comparison_table, compare_metrics

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("v")
        )

    cmp_view = build_comparison_table(agg(ev), agg(ev.where(F.col("event_type") != "error")), ["user_id"])
    return compare_metrics(cmp_view, ["user_id"])


_SQL_COMPARE = """
WITH a AS (SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 3) AS v FROM events GROUP BY user_id),
b AS (SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 3) AS v FROM events
      WHERE event_type <> 'error' GROUP BY user_id),
j AS (SELECT a.n AS n_l, b.n AS n_r, a.v AS v_l, b.v AS v_r
      FROM a FULL JOIN b ON a.user_id = b.user_id)
SELECT 'n' AS col_name, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN n_l IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS left_null,
       CAST(SUM(CASE WHEN n_r IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS right_null,
       CAST(SUM(CASE WHEN n_l IS DISTINCT FROM n_r THEN 1 ELSE 0 END) AS BIGINT) AS mismatch,
       ROUND(1.0 - SUM(CASE WHEN n_l IS DISTINCT FROM n_r THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS match_rate
FROM j
UNION ALL
SELECT 'v', COUNT(*),
       CAST(SUM(CASE WHEN v_l IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN v_r IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(SUM(CASE WHEN v_l IS DISTINCT FROM v_r THEN 1 ELSE 0 END) AS BIGINT),
       ROUND(1.0 - SUM(CASE WHEN v_l IS DISTINCT FROM v_r THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
FROM j
"""


# ------------------------------------------------------- log flattening


def _q_log_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LogFlattenerJob (spark/.../LogFlattenerJob.scala): schema-evolving
    key/value logs → one flat typed table (union of schema versions' fields,
    absent → NULL). The log table is synthesized deterministically from
    `events`: v1 payloads (click/view) carry {score, event_type}; v2 adds
    `amount` — the schema-evolution case the job exists for."""
    from chronon_spark.jobs.log_flattener import flatten_logs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    is_v1 = F.col("event_type").isin("click", "view")
    logs = ev.select(
        "event_id",
        F.when(is_v1, F.lit("v1")).otherwise(F.lit("v2")).alias("schema_hash"),
        F.to_json(F.struct("user_id")).alias("key_json"),
        F.when(
            is_v1,
            F.to_json(F.struct(F.col("value").alias("score"), "event_type")),
        )
        .otherwise(
            F.to_json(
                F.struct(
                    F.col("value").alias("score"),
                    "event_type",
                    (F.col("value") * 2).alias("amount"),
                )
            )
        )
        .alias("value_json"),
    )
    return flatten_logs(logs, carry=("event_id",))


_SQL_LOG_FLATTEN = """
SELECT event_id,
       CASE WHEN event_type IN ('click','view') THEN 'v1' ELSE 'v2' END AS schema_hash,
       user_id,
       value AS score,
       event_type,
       CASE WHEN event_type IN ('click','view') THEN NULL ELSE value * 2 END AS amount
FROM events
"""


# ------------------------------------------------------- streaming stats


def _q_stream_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-tile column summaries under the HARD oracle gate: the
    events table is replayed as a Structured Stream (availableNow), the
    incremental per-day tile summaries (streaming/stats_stream.py — the
    streaming half of the reference's StatsCompute/TileSummary producers) are
    drained to a memory sink, and the result must hash-match the batch SQL.
    Executes eagerly (drain-then-return), like the other stateful queries."""
    import uuid

    from chronon_spark.streaming.stats_stream import stream_summary_tiles

    import os
    import tempfile

    path = f"{sf_dir}/events.parquet"
    # the streaming file source lists a DIRECTORY; stage the (read-only)
    # table file into one via symlink — no data copy
    src_dir = tempfile.mkdtemp(prefix="stream_stats_src")
    os.symlink(os.path.abspath(path), f"{src_dir}/events.parquet")
    schema = spark.read.parquet(path).schema
    # watermarks require TIMESTAMP (LTZ); parquet reads NTZ. Session TZ is
    # UTC, so the cast round-trip preserves wall-clock labels exactly.
    stream = spark.readStream.schema(schema).parquet(src_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    tiles = stream_summary_tiles(stream, time_col="ts", columns=["value", "user_id"], tile="1d")
    name = f"stream_stats_{uuid.uuid4().hex}"
    q = (
        tiles.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.table(name)
    return out.select(
        F.col("tile_start").cast("timestamp_ntz").alias("tile_start"),
        "column",
        "metric",
        F.when(F.col("metric") == "sum", F.round("value", 3)).otherwise(F.col("value")).alias("value"),
    )


_SQL_STREAM_STATS = """
WITH g AS (
  SELECT date_trunc('day', ts) AS tile_start,
         CAST(COUNT(value) AS DOUBLE)                                   AS v_count,
         CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS v_nulls,
         ROUND(CAST(SUM(value) AS DOUBLE), 3)                           AS v_sum,
         CAST(MIN(value) AS DOUBLE)                                     AS v_min,
         CAST(MAX(value) AS DOUBLE)                                     AS v_max,
         CAST(COUNT(user_id) AS DOUBLE)                                   AS u_count,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS u_nulls,
         ROUND(CAST(SUM(user_id) AS DOUBLE), 3)                           AS u_sum,
         CAST(MIN(user_id) AS DOUBLE)                                     AS u_min,
         CAST(MAX(user_id) AS DOUBLE)                                     AS u_max
  FROM events GROUP BY 1)
SELECT tile_start, 'value' AS "column", 'count' AS metric, v_count AS value FROM g
UNION ALL SELECT tile_start, 'value', 'nulls', v_nulls FROM g
UNION ALL SELECT tile_start, 'value', 'sum',   v_sum   FROM g
UNION ALL SELECT tile_start, 'value', 'min',   v_min   FROM g
UNION ALL SELECT tile_start, 'value', 'max',   v_max   FROM g
UNION ALL SELECT tile_start, 'user_id', 'count', u_count FROM g
UNION ALL SELECT tile_start, 'user_id', 'nulls', u_nulls FROM g
UNION ALL SELECT tile_start, 'user_id', 'sum',   u_sum   FROM g
UNION ALL SELECT tile_start, 'user_id', 'min',   u_min   FROM g
UNION ALL SELECT tile_start, 'user_id', 'max',   u_max   FROM g
"""


def _q_tiled_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL op set through the TILED physical strategy: per-tile entry
    lists (last_k/first), k-extreme lists (top_k), distinct sets
    (unique_count), value->count maps (histogram) and power sums (variance)
    built in ONE JVM groupBy(keys, hop) (+ the two-level value-count agg),
    merged with exact head events in the cogroup kernel — the reference's
    FinalBatchIr collapse for non-abelian ops (SawtoothOnlineAggregator.scala:
    86-126, SimpleAggregators.scala:200-322)."""
    from chronon_spark.operators.tiles import tiled_sawtooth_asof_join

    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("text", Op.LAST_K, windows=("7d",), k=2),
            Aggregation("text", Op.FIRST, windows=("13d",)),
            Aggregation("role", Op.UNIQUE_COUNT, windows=("13d",)),
            Aggregation("role", Op.HISTOGRAM, windows=("7d",)),
            Aggregation("score", Op.TOP_K, windows=("7d",), k=2),
            Aggregation("score", Op.BOTTOM_K, windows=("7d",), k=2),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    out = tiled_sawtooth_asof_join(_user_left(t), t, gb)
    h = F.col("role_histogram_7d")
    top = F.col("score_top_k2_7d")
    bot = F.col("score_bottom_k2_7d")
    keys = F.array_sort(F.map_keys(h))
    hist_str = F.array_join(
        F.transform(keys, lambda x: F.concat(x, F.lit("="), F.element_at(h, x).cast("string"))), "|"
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.array_join(F.col("text_last_k2_7d"), "|").alias("last2_texts"),
        F.col("text_first_13d").alias("first_text"),
        F.col("role_unique_count_13d").alias("n_roles"),
        hist_str.alias("role_hist"),
        F.try_element_at(top, F.lit(1)).alias("top2_1"),
        F.try_element_at(top, F.lit(2)).alias("top2_2"),
        F.try_element_at(bot, F.lit(1)).alias("bot2_1"),
        F.try_element_at(bot, F.lit(2)).alias("bot2_2"),
    )
    # moments stay off this hard gate on purpose: the tiled raw-power-sum
    # finalize and DuckDB's two-pass VAR_POP can disagree by 1 ulp exactly at
    # a ROUND() half-boundary (2-decimal inputs make those boundaries common).
    # Tiled moments are gated by tests/test_tiles_slicing.py (vs the plain
    # path) and the plain path by the asof_moments oracle row.


# sawtooth bounds: 13d windows round their start to 1d hops, 7d to 1h hops
# (Resolution.scala:43-48) — mirrored literally in the oracle
_W7 = f"e.tus >= ((q.tus - {7 * US_D}) // {US_H}) * {US_H} AND e.tus < q.tus"
_W13 = f"e.tus >= ((q.tus - {13 * US_D}) // {US_D}) * {US_D} AND e.tus < q.tus"

_SQL_TILED_RICH = f"""
WITH t AS ({_DUCK_T}),
q AS (SELECT conv_id, turn_idx, tus FROM t WHERE role = 'user'),
g AS (SELECT q.conv_id, q.turn_idx AS qi, q.tus AS qtus, e.role, COUNT(*) AS c
      FROM q JOIN t e ON e.conv_id = q.conv_id AND {_W7}
      WHERE e.role IS NOT NULL GROUP BY 1, 2, 3, 4),
hist AS (SELECT conv_id, qi, qtus,
                array_to_string(list(role || '=' || CAST(c AS VARCHAR) ORDER BY role), '|') AS role_hist
         FROM g GROUP BY 1, 2, 3)
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT CASE WHEN COUNT(*) = 0 THEN NULL
                    ELSE array_to_string(list(text ORDER BY tus DESC, turn_idx DESC), '|') END
          FROM (SELECT e.text, e.tus, e.turn_idx FROM t e
                 WHERE e.conv_id = q.conv_id AND {_W7} AND e.text IS NOT NULL
                 ORDER BY e.tus DESC, e.turn_idx DESC LIMIT 2)) AS last2_texts,
       (SELECT e.text FROM t e WHERE e.conv_id = q.conv_id AND {_W13}
         AND e.text IS NOT NULL ORDER BY e.tus, e.turn_idx LIMIT 1) AS first_text,
       (SELECT NULLIF(COUNT(DISTINCT e.role), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND {_W13}) AS n_roles,
       h.role_hist AS role_hist,
       (SELECT e.score FROM t e WHERE e.conv_id = q.conv_id AND {_W7}
         AND e.score IS NOT NULL ORDER BY e.score DESC LIMIT 1) AS top2_1,
       (SELECT e.score FROM t e WHERE e.conv_id = q.conv_id AND {_W7}
         AND e.score IS NOT NULL ORDER BY e.score DESC LIMIT 1 OFFSET 1) AS top2_2,
       (SELECT e.score FROM t e WHERE e.conv_id = q.conv_id AND {_W7}
         AND e.score IS NOT NULL ORDER BY e.score LIMIT 1) AS bot2_1,
       (SELECT e.score FROM t e WHERE e.conv_id = q.conv_id AND {_W7}
         AND e.score IS NOT NULL ORDER BY e.score LIMIT 1 OFFSET 1) AS bot2_2
FROM q LEFT JOIN hist h ON h.conv_id = q.conv_id AND h.qi = q.turn_idx AND h.qtus = q.tus
"""


def _q_tiled_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ops through the TILED strategy: per-(key, hop, bucket)
    IRs merged with bucket-masked head events (the reference's
    BucketedColumnAggregator, row/BucketedColumnAggregator.scala, collapsed
    per SawtoothOnlineAggregator) — scalar partials AND collection IRs
    (LAST_K entry lists, HISTOGRAM value counts) per bucket slot."""
    from chronon_spark.operators.tiles import tiled_sawtooth_asof_join

    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("score", Op.SUM, windows=("7d",), buckets=("role",)),
            Aggregation("score", Op.COUNT, windows=("7d",), buckets=("role",)),
            Aggregation("score", Op.MIN, windows=("13d",), buckets=("role",)),
            Aggregation("text", Op.LAST_K, windows=("7d",), k=2, buckets=("role",)),
            Aggregation("tool", Op.HISTOGRAM, windows=("7d",), buckets=("role",)),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    out = tiled_sawtooth_asof_join(_user_left(t), t, gb)
    sm = F.col("score_sum_7d_by_role")
    ct = F.col("score_count_7d_by_role")
    mn = F.col("score_min_13d_by_role")
    lk = F.try_element_at(F.col("text_last_k2_7d_by_role"), F.lit("tool"))
    hm = F.try_element_at(F.col("tool_histogram_7d_by_role"), F.lit("tool"))
    hist_str = F.array_join(
        F.transform(
            F.array_sort(F.map_keys(hm)),
            lambda x: F.concat(x, F.lit("="), F.element_at(hm, x).cast("string")),
        ),
        "|",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.round(F.try_element_at(sm, F.lit("user")), 3).alias("sum_user"),
        F.round(F.try_element_at(sm, F.lit("tool")), 3).alias("sum_tool"),
        F.try_element_at(ct, F.lit("assistant")).alias("cnt_assistant"),
        F.try_element_at(mn, F.lit("user")).alias("min_user"),
        F.try_element_at(mn, F.lit("assistant")).alias("min_assistant"),
        F.array_join(lk, "|").alias("last2_tool"),
        hist_str.alias("hist_tool"),
    )


_SQL_TILED_BUCKETED = f"""
WITH t AS ({_DUCK_T}),
q AS (SELECT conv_id, turn_idx, tus FROM t WHERE role = 'user'),
w7 AS (SELECT q.conv_id, q.turn_idx AS qi, q.tus AS qtus, e.role, e.score
       FROM q JOIN t e ON e.conv_id = q.conv_id
        AND e.tus >= ((q.tus - {7 * US_D}) // {US_H}) * {US_H} AND e.tus < q.tus
        AND e.score IS NOT NULL AND e.role IS NOT NULL),
w13 AS (SELECT q.conv_id, q.turn_idx AS qi, q.tus AS qtus, e.role, e.score
        FROM q JOIN t e ON e.conv_id = q.conv_id
         AND e.tus >= ((q.tus - {13 * US_D}) // {US_D}) * {US_D} AND e.tus < q.tus
         AND e.score IS NOT NULL AND e.role IS NOT NULL),
a7 AS (SELECT conv_id, qi, qtus,
              ROUND(SUM(CASE WHEN role = 'user' THEN score END), 3) AS sum_user,
              ROUND(SUM(CASE WHEN role = 'tool' THEN score END), 3) AS sum_tool,
              COUNT(CASE WHEN role = 'assistant' THEN 1 END) AS cnt_assistant_raw
       FROM w7 GROUP BY 1, 2, 3),
a13 AS (SELECT conv_id, qi, qtus,
               MIN(CASE WHEN role = 'user' THEN score END) AS min_user,
               MIN(CASE WHEN role = 'assistant' THEN score END) AS min_assistant
        FROM w13 GROUP BY 1, 2, 3),
w7x AS (SELECT q.conv_id, q.turn_idx AS qi, q.tus AS qtus,
               e.role, e.text, e.tool, e.tus AS etus, e.turn_idx AS eturn
        FROM q JOIN t e ON e.conv_id = q.conv_id
         AND e.tus >= ((q.tus - {7 * US_D}) // {US_H}) * {US_H} AND e.tus < q.tus
         AND e.role IS NOT NULL),
l2 AS (SELECT conv_id, qi, qtus,
              array_to_string((list(text ORDER BY etus DESC, eturn DESC))[1:2], '|') AS last2_tool
       FROM w7x WHERE role = 'tool' AND text IS NOT NULL GROUP BY 1, 2, 3),
h7 AS (SELECT conv_id, qi, qtus, string_agg(v || '=' || c, '|' ORDER BY v) AS hist_tool
       FROM (SELECT conv_id, qi, qtus, tool AS v, COUNT(*) AS c
             FROM w7x WHERE role = 'tool' AND tool IS NOT NULL GROUP BY 1, 2, 3, 4)
       GROUP BY 1, 2, 3)
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       a7.sum_user AS sum_user, a7.sum_tool AS sum_tool,
       NULLIF(a7.cnt_assistant_raw, 0) AS cnt_assistant,
       a13.min_user AS min_user, a13.min_assistant AS min_assistant,
       l2.last2_tool AS last2_tool, h7.hist_tool AS hist_tool
FROM q
LEFT JOIN a7 ON a7.conv_id = q.conv_id AND a7.qi = q.turn_idx AND a7.qtus = q.tus
LEFT JOIN a13 ON a13.conv_id = q.conv_id AND a13.qi = q.turn_idx AND a13.qtus = q.tus
LEFT JOIN l2 ON l2.conv_id = q.conv_id AND l2.qi = q.turn_idx AND l2.qtus = q.tus
LEFT JOIN h7 ON h7.conv_id = q.conv_id AND h7.qi = q.turn_idx AND h7.qtus = q.tus
"""


# fixed serving boundary for the fetch-parity contract: 2024-01-25T00:00Z
# (midnight => batchEnd - window stays hop-aligned for 7d/13d windows)
_BATCH_END_US = 1_706_140_800_000_000


def _q_stream_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fire-per-element RUNNING features under the HARD oracle gate: events
    replay as a Structured Stream in three time-ordered runs over a SHARED
    checkpoint, so later runs see earlier events only through the keyed
    state IR of `stream_running_features` (applyInPandasWithState — the
    reference's AlwaysFireOnElementTrigger semantics,
    flink/src/main/scala/ai/chronon/flink/window/Trigger.scala:13-56).
    Every emitted row carries lifetime COUNT/SUM/MIN/MAX/AVG of `value` over
    events strictly before it (ts' < ts), hash-checked against the oracle's
    RANGE ... 1 PRECEDING window — cross-run state correctness included,
    since rows of runs 2-3 aggregate run-1 events they never re-scan."""
    import glob as _glob
    import os
    import tempfile

    from chronon_spark.streaming.groupby_stream import stream_running_features

    stage = tempfile.mkdtemp(prefix="stream_running_")
    src = os.path.join(stage, "src")
    os.makedirs(src)
    ckpt = os.path.join(stage, "ckpt")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    gb = GroupBy(
        keys=["user_id"],
        aggregations=[
            Aggregation("value", Op.COUNT, windows=(None,)),
            Aggregation("value", Op.SUM, windows=(None,)),
            Aggregation("value", Op.MIN, windows=(None,)),
            Aggregation("value", Op.MAX, windows=(None,)),
            Aggregation("value", Op.AVERAGE, windows=(None,)),
        ],
        tie_breakers=["event_id"],
    )
    # split on day boundaries: duplicate-ts groups never straddle a run, so
    # the strict ts' < ts contract is well-defined across the state handoff
    cuts = ("2024-01-11", "2024-01-21")
    ts_day = F.date_format("ts", "yyyy-MM-dd")
    chunks = [
        ev.where(ts_day < cuts[0]),
        ev.where((ts_day >= cuts[0]) & (ts_day < cuts[1])),
        ev.where(ts_day >= cuts[1]),
    ]
    sinkdir = os.path.join(stage, "out")
    for i, chunk in enumerate(chunks):
        chunk.write.parquet(os.path.join(stage, f"c{i}"))
        for j, f in enumerate(sorted(_glob.glob(os.path.join(stage, f"c{i}", "part-*.parquet")))):
            os.link(f, os.path.join(src, f"c{i}_{j}.parquet"))
        stream = spark.readStream.schema(ev.schema).parquet(src)
        q = (
            stream_running_features(stream, gb, time_col="ts")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", sinkdir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    out = spark.read.parquet(sinkdir)
    return out.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.col("value_count").alias("n_prior"),
        (F.round(F.col("value_sum"), 3) + F.lit(0.0)).alias("sum_prior"),
        F.col("value_min").alias("min_prior"),
        F.col("value_max").alias("max_prior"),
        (F.round(F.col("value_average") + F.lit(NUDGE_6DP), 6) + F.lit(0.0)).alias("avg_prior"),
    )


_SQL_STREAM_RUNNING = f"""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events)
SELECT user_id, event_id, tus,
       NULLIF(COUNT(value) OVER w, 0)               AS n_prior,
       ROUND(SUM(value) OVER w, 3) + 0.0            AS sum_prior,
       MIN(value) OVER w                            AS min_prior,
       MAX(value) OVER w                            AS max_prior,
       ROUND(AVG(value) OVER w + {NUDGE_6DP!r}, 6) + 0.0 AS avg_prior
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY tus
             RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
"""


def _q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JoinSource enrichment (thrift/api.thrift:170-185 case #2)
    under the HARD oracle gate: a streaming left of user turns is decorated
    micro-batch by micro-batch via `enrich_stream`'s foreachBatch fetch
    (batch IRs + post-batchEnd events, strict ts' < ts), the enriched
    batches land in a parquet sink, and the read-back must hash-match the
    oracle's direct point-in-time computation — the ConsistencyJob contract
    for the REALTIME path, previously pytest-only."""
    import tempfile

    from chronon_spark.jobs.upload import build_batch_irs
    from chronon_spark.streaming.enrichment import enrich_stream

    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("13d",)),
            Aggregation("score", Op.SUM, windows=("7d",)),
            Aggregation("text", Op.LAST_K, windows=("7d",), k=2),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    left = t.where(
        (F.col("role") == "user")
        & (F.col("tus") >= _BATCH_END_US)
        & (F.col("tus") < _BATCH_END_US + 2 * US_D)
    ).select("conv_id", "turn_idx", "tus", "ts")
    workdir = tempfile.mkdtemp(prefix="stream_enrich_")
    src = f"{workdir}/left"
    # pin the staged file count so the micro-batch count is deterministic
    # and scale-independent (3 triggers of 8 files) — writing one file per
    # upstream partition made the drain pay one fetch job per ~8 parent
    # partitions, dominating the query's wall clock at larger sf
    left.repartition(24).write.parquet(src)
    # small maxFilesPerTrigger forces several micro-batches through the
    # foreachBatch fetch, not one batch wearing a streaming hat
    left_stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(src)
    )
    irs = build_batch_irs(t, gb, _BATCH_END_US)
    outdir = f"{workdir}/enriched"
    writer = enrich_stream(
        left_stream,
        gb,
        irs,
        t,
        _BATCH_END_US,
        sink=lambda df, _e: df.write.mode("append").parquet(outdir),
    )
    q = (
        writer.trigger(availableNow=True)
        .option("checkpointLocation", f"{workdir}/ckpt")
        .start()
    )
    q.awaitTermination(300)
    out = spark.read.parquet(outdir)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_13d").alias("n13"),
        F.round(F.col("score_sum_7d"), 3).alias("sum7"),
        F.array_join(F.col("text_last_k2_7d"), "|").alias("last2"),
    )


def _q_serving_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING data path under the hard oracle gate: GroupByUpload batch
    IRs (collapsed + tail hops) merged with post-batch streaming rows at
    fetch time (SawtoothOnlineAggregator.lambdaAggregateIr) must equal the
    point-in-time backfill the oracle computes directly — the reference's
    ConsistencyJob contract as a driver-checked query instead of a pytest."""
    from chronon_spark.jobs.upload import build_batch_irs, fetch_features

    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("13d",)),
            Aggregation("score", Op.SUM, windows=("7d",)),
            Aggregation("text", Op.LAST_K, windows=("7d",), k=2),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    left = t.where(
        (F.col("role") == "user")
        & (F.col("tus") >= _BATCH_END_US)
        & (F.col("tus") < _BATCH_END_US + 2 * US_D)
    ).select("conv_id", "turn_idx", "tus", "ts")
    irs = build_batch_irs(t, gb, _BATCH_END_US)
    out = fetch_features(left, irs, t, gb, _BATCH_END_US)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_13d").alias("n13"),
        F.round(F.col("score_sum_7d"), 3).alias("sum7"),
        F.array_join(F.col("text_last_k2_7d"), "|").alias("last2"),
    )


_SQL_SERVING_FETCH = f"""
WITH t AS ({_DUCK_T}),
q AS (SELECT conv_id, turn_idx, tus FROM t
      WHERE role = 'user' AND tus >= {_BATCH_END_US} AND tus < {_BATCH_END_US + 2 * US_D})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(*), 0) FROM t e WHERE e.conv_id = q.conv_id
         AND e.tus >= ((q.tus - {13 * US_D}) // {US_D}) * {US_D} AND e.tus < q.tus) AS n13,
       (SELECT ROUND(SUM(e.score), 3) FROM t e WHERE e.conv_id = q.conv_id
         AND e.tus >= ((q.tus - {7 * US_D}) // {US_H}) * {US_H} AND e.tus < q.tus
         AND e.score IS NOT NULL) AS sum7,
       (SELECT CASE WHEN COUNT(*) = 0 THEN NULL
                    ELSE array_to_string(list(text ORDER BY tus DESC, turn_idx DESC), '|') END
          FROM (SELECT e.text, e.tus, e.turn_idx FROM t e
                 WHERE e.conv_id = q.conv_id
                  AND e.tus >= ((q.tus - {7 * US_D}) // {US_H}) * {US_H} AND e.tus < q.tus
                  AND e.text IS NOT NULL
                 ORDER BY e.tus DESC, e.turn_idx DESC LIMIT 2)) AS last2
FROM q
"""


def _q_serving_fetch_tiled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TILED serving mode under the hard gate: batch IRs + post-batch hop
    TILES (built by the batch twin of stream_hop_tiles — stream==batch tile
    parity is separately pytest-gated) merged at tile-aligned query
    timestamps; must equal the oracle's direct point-in-time computation."""
    from chronon_spark.jobs.upload import build_batch_irs, fetch_features_tiled
    from chronon_spark.operators.tiles import build_hop_tiles

    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("13d",)),
            Aggregation("score", Op.SUM, windows=("7d",)),
            Aggregation("text", Op.LAST_K, windows=("7d",), k=2),
        ],
        tie_breakers=["turn_idx"],
        sawtooth=True,
    )
    left = (
        t.where(
            (F.col("role") == "user")
            & (F.col("tus") >= _BATCH_END_US)
            & (F.col("tus") < _BATCH_END_US + 2 * US_D)
        )
        .select(((F.col("tus") / F.lit(US_H)).cast("long") * F.lit(US_H)).alias("tus"), "conv_id")
        .distinct()
        .withColumn("ts", F.timestamp_micros(F.col("tus")))
    )
    irs = build_batch_irs(t, gb, _BATCH_END_US)
    tiles = (
        build_hop_tiles(t.where(F.col("tus") >= _BATCH_END_US), gb)
        .withColumn("tile_start", F.timestamp_micros(F.col("__hop") * F.lit(US_H)))
        .drop("__hop")
    )
    out = fetch_features_tiled(left, irs, tiles, gb, _BATCH_END_US, events_like=t)
    return out.select(
        "conv_id",
        "tus",
        F.col("turn_idx_count_13d").alias("n13"),
        F.round(F.col("score_sum_7d"), 3).alias("sum7"),
        F.array_join(F.col("text_last_k2_7d"), "|").alias("last2"),
    )


_SQL_SERVING_FETCH_TILED = f"""
WITH t AS ({_DUCK_T}),
q AS (SELECT DISTINCT conv_id, (tus // {US_H}) * {US_H} AS tus FROM t
      WHERE role = 'user' AND tus >= {_BATCH_END_US} AND tus < {_BATCH_END_US + 2 * US_D})
SELECT q.conv_id AS conv_id, q.tus AS tus,
       (SELECT NULLIF(COUNT(*), 0) FROM t e WHERE e.conv_id = q.conv_id
         AND e.tus >= ((q.tus - {13 * US_D}) // {US_D}) * {US_D} AND e.tus < q.tus) AS n13,
       (SELECT ROUND(SUM(e.score), 3) FROM t e WHERE e.conv_id = q.conv_id
         AND e.tus >= ((q.tus - {7 * US_D}) // {US_H}) * {US_H} AND e.tus < q.tus
         AND e.score IS NOT NULL) AS sum7,
       (SELECT CASE WHEN COUNT(*) = 0 THEN NULL
                    ELSE array_to_string(list(text ORDER BY tus DESC, turn_idx DESC), '|') END
          FROM (SELECT e.text, e.tus, e.turn_idx FROM t e
                 WHERE e.conv_id = q.conv_id
                  AND e.tus >= ((q.tus - {7 * US_D}) // {US_H}) * {US_H} AND e.tus < q.tus
                  AND e.text IS NOT NULL
                 ORDER BY e.tus DESC, e.turn_idx DESC LIMIT 2)) AS last2
FROM q
"""


def _q_serving_fetch_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving data path over a MUTATION/CDC source (the reference's
    online mutation merge, SawtoothOnlineAggregator.scala:86-153): CDC rows
    become a signed-delta event stream (operators/mutations.
    mutations_to_deltas — before-images subtract, after-images add), batch
    IRs are built from deltas at/under batchEnd, post-batch deltas ride the
    streaming-side merge, and the fetched windowed net state must equal the
    oracle's direct windowed delta replay at every (key, ts)."""
    from chronon_spark.jobs.upload import build_batch_irs, fetch_features
    from chronon_spark.operators.mutations import mutations_to_deltas

    t = _transcripts(spark, sf_dir)
    mutations = t.select(
        "conv_id",
        F.col("score").alias("balance"),
        F.col("ts").alias("mutation_ts"),
        (F.col("role") == "tool").alias("is_before"),
    )
    snapshot = spark.createDataFrame([], "conv_id string, balance double")
    deltas = mutations_to_deltas(
        snapshot, mutations, ["conv_id"], "balance", "2000-01-01"
    ).select(
        "conv_id",
        F.col("__mts").alias("ts"),
        (F.col("__sign") * F.col("__val")).alias("sv"),
        F.col("__sign").cast("long").alias("sn"),
    )
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("sv", Op.SUM, windows=("13d",)),
            Aggregation("sn", Op.SUM, windows=("13d",)),
        ],
        sawtooth=True,
    )
    left = t.where(
        (F.col("role") == "user")
        & (F.col("tus") >= _BATCH_END_US)
        & (F.col("tus") < _BATCH_END_US + 2 * US_D)
    ).select("conv_id", "turn_idx", "tus", "ts")
    irs = build_batch_irs(deltas, gb, _BATCH_END_US)
    out = fetch_features(left, irs, deltas, gb, _BATCH_END_US)
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.round(F.col("sv_sum_13d"), 3).alias("net_13d"),
        # double on both sides: DuckDB's SUM(int) surfaces as float64 and the
        # driver hashes raw dtypes (counts are small ints — exact in float64)
        F.col("sn_sum_13d").cast("double").alias("n_net_13d"),
    )


_SQL_SERVING_FETCH_CDC = f"""
WITH t AS ({_DUCK_T}),
d AS (SELECT conv_id,
             CASE WHEN role = 'tool' THEN -1 ELSE 1 END AS sign,
             score AS val, tus AS mts
      FROM t WHERE score IS NOT NULL),
q AS (SELECT conv_id, turn_idx, tus FROM t
      WHERE role = 'user' AND tus >= {_BATCH_END_US} AND tus < {_BATCH_END_US + 2 * US_D})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT ROUND(SUM(e.sign * e.val), 3) FROM d e WHERE e.conv_id = q.conv_id
         AND e.mts >= ((q.tus - {13 * US_D}) // {US_D}) * {US_D} AND e.mts < q.tus) AS net_13d,
       (SELECT SUM(e.sign) FROM d e WHERE e.conv_id = q.conv_id
         AND e.mts >= ((q.tus - {13 * US_D}) // {US_D}) * {US_D} AND e.mts < q.tus) AS n_net_13d
FROM q
"""


# ---------------------------------------------------------------- staging query


def _q_staging_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StagingQuery under the oracle gate: free-form Spark SQL with the
    reference's date macros ({{ start_date }}/{{ end_date }}/{{ latest_date }}),
    stepped execution + per-step manifests (StagingQuery.scala:114-137).
    The oracle replays the SQL with the macros hand-substituted."""
    import tempfile

    from chronon_spark.jobs.staging_query import run_staging_query

    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView("sq_events")
    sql = """
      SELECT date_format(ts, 'yyyy-MM-dd') AS ds, user_id,
             COUNT(*) AS n_events, ROUND(SUM(value), 3) AS sum_value
      FROM sq_events
      WHERE date_format(ts, 'yyyy-MM-dd') BETWEEN {{ start_date }} AND {{ end_date }}
      GROUP BY 1, 2
    """
    tmp = tempfile.mkdtemp(prefix="chronon_sq_")
    run_staging_query(
        spark, sql, "2024-01-05", "2024-01-16",
        out_path=f"{tmp}/out", checkpoint_dir=f"{tmp}/ckpt", step_days=5,
    )
    # step dirs are range-named (not k=v), so read each step as its own root
    import os

    out = None
    for step in sorted(os.listdir(f"{tmp}/out")):
        d = spark.read.parquet(f"{tmp}/out/{step}")
        out = d if out is None else out.unionByName(d)
    return out.select(
        F.col("ds").cast("string").alias("ds"), "user_id", "n_events", "sum_value"
    )


_SQL_STAGING_QUERY = """
SELECT strftime(ts, '%Y-%m-%d') AS ds, user_id,
       COUNT(*) AS n_events, ROUND(SUM(value), 3) AS sum_value
FROM events
WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-05' AND '2024-01-16'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- bootstrap


def _q_bootstrap_covered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap correctness as a gate: rows covered by a precomputed feature
    table (here: a real prior backfill of every 3rd turn) skip the as-of
    computation and re-emit the bootstrap values; the oracle computes EVERY
    row directly, so any drop/duplicate/coalesce defect in the covered-row
    split hash-fails (reference JoinBootstrapJob covering-set semantics)."""
    from chronon_spark.operators.bootstrap import bootstrap_asof_join

    t = _transcripts(spark, sf_dir)
    left = _user_left(t)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("7d",)),
            Aggregation("score", Op.SUM, windows=("7d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    prev = asof_join(left.where(F.col("turn_idx") % 3 == 0), t, gb)
    bootstrap_df = prev.select("conv_id", "turn_idx", "turn_idx_count_7d", "score_sum_7d")
    out = bootstrap_asof_join(left, t, gb, bootstrap_df, row_keys=["conv_id", "turn_idx"])
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_7d").alias("n7"),
        F.round(F.col("score_sum_7d"), 3).alias("s7"),
    )


_SQL_BOOTSTRAP = f"""
WITH t AS ({_DUCK_T})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(e.turn_idx), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS n7,
       (SELECT ROUND(SUM(e.score), 3) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS s7
FROM t q WHERE q.role = 'user'
"""


# ---------------------------------------------------------------- partition stats


def _q_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only partition statistics (the reference's Iceberg
    partition-stats extractor shape): write a ds-partitioned table, then read
    per-partition row counts from parquet FOOTERS only — the oracle scans the
    data and must agree with what the footers claim."""
    import tempfile

    from chronon_spark.plans.manifest import partition_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tmp = tempfile.mkdtemp(prefix="chronon_pstats_")
    ev.withColumn("ds", F.date_format("ts", "yyyy-MM-dd")).write.mode("overwrite").partitionBy(
        "ds"
    ).parquet(f"{tmp}/tbl")
    stats = partition_stats(spark, f"{tmp}/tbl")
    return stats.select("ds", F.col("rows").alias("n_rows"))


_SQL_PARTITION_STATS = """
SELECT strftime(ts, '%Y-%m-%d') AS ds, COUNT(*) AS n_rows
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------- twostack


def _q_twostack_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing (count 1h, sum 7d) per user turn: the sliding windows the
    reference serves with its TwoStackLite buffer
    (aggregator/base/TwoStackLiteAggregationBuffer.scala), answered by the
    as-of join's prefix-sum kernel."""
    t = _transcripts(spark, sf_dir)
    gb = GroupBy(
        keys=["conv_id"],
        aggregations=[
            Aggregation("turn_idx", Op.COUNT, windows=("1h",)),
            Aggregation("score", Op.SUM, windows=("7d",)),
        ],
        tie_breakers=["turn_idx"],
    )
    return asof_join(_user_left(t), t, gb).select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_1h").alias("n1h"),
        F.round("score_sum_7d", 3).alias("s7"),
    )


_SQL_TWOSTACK = f"""
WITH t AS ({_DUCK_T})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(e.turn_idx), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {US_H}) AS n1h,
       (SELECT ROUND(SUM(e.score), 3) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus AND e.tus >= q.tus - {7 * US_D}) AS s7
FROM t q WHERE q.role = 'user'
"""


def _q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over turn roles: for every conversation the
    (previous role -> role) bigram under the engine's stable turn ordering
    (ts, then turn_idx — the per-turn-ordering invariant the north rule pins),
    aggregated corpus-wide. Pure-integer output, one window pass + one
    partial-agg shuffle; the window's conv_id exchange is the same clustering
    every downstream per-conversation operator reuses."""
    from pyspark.sql import Window

    t = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("tus", "turn_idx")
    pairs = t.withColumn("prev_role", F.lag("role").over(w)).where(
        F.col("prev_role").isNotNull()
    )
    return pairs.groupBy("prev_role", "role").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


_SQL_ROLE_TRANSITIONS = f"""
WITH t AS ({_DUCK_T}),
p AS (SELECT conv_id, role,
             LAG(role) OVER (PARTITION BY conv_id ORDER BY tus, turn_idx) AS prev_role
      FROM t)
SELECT prev_role, role, COUNT(*) AS n, COUNT(DISTINCT conv_id) AS n_convs
FROM p WHERE prev_role IS NOT NULL
GROUP BY prev_role, role
"""


# --------------------------- modular merge / conf backfill / managed sink
#
# These put three previously pytest-only infrastructure components under the
# driver's value-hash gate: the rowIds merge job, the compiled-conf resumable
# backfill runner, and the ManagedTable sink lifecycle. Each runs the real
# job against a throwaway workdir and returns the data it produced, so the
# oracle checks the END-TO-END write/read path, not just the plan.


def _q_modular_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's modular backfill decomposition (backfill-left +
    JoinPartJob per part + MergeJob on rowIds; spark/src/main/scala/ai/
    chronon/spark/batch/MergeJob.scala, JoinPartJob.scala): left materialized
    once, one part table per JoinPart keyed by the join's rowIds
    (thrift/api.thrift:426), equi-join merge + join-level derivations. Same
    spec as ``join_multi_part`` so the two paths share an oracle — what's
    under the gate here is the part-table write/merge machinery itself."""
    import tempfile

    from chronon_spark.jobs.modular_join import compute_join_modular

    t = _transcripts(spark, sf_dir)
    left = _user_left(t)
    gb_all = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    gb_tool = GroupBy(
        keys=["conv_id"],
        aggregations=[Aggregation("turn_idx", Op.COUNT, windows=("7d",))],
        tie_breakers=["turn_idx"],
    )
    join = Join(
        left_time_column="ts",
        join_parts=[
            JoinPart(group_by=gb_all, right_df=t),
            JoinPart(group_by=gb_tool, right_df=t.where(F.col("role") == "tool"), prefix="tool"),
        ],
        derivations={
            "*": "*",
            "tool_ratio": "CAST(tool_turn_idx_count_7d AS DOUBLE) / turn_idx_count_7d",
        },
        row_ids=["conv_id", "turn_idx"],
    )
    out = compute_join_modular(left, join, tempfile.mkdtemp(prefix="modular_merge_"))
    return out.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("turn_idx_count_7d").alias("n_7d"),
        F.col("tool_turn_idx_count_7d").alias("n_tool_7d"),
        "tool_ratio",
    )


def _q_conf_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compiled-conf resumable backfill end-to-end: a reference-shaped Join
    conf (the canary compiled fixture schema, api/src/test/resources/canary/
    compiled/joins/...; enum codes per thrift/api.thrift:198-230) is written
    to disk, loaded by the conf loader, and run through the partitioned
    checkpoint-resumable backfill into a ManagedTable sink — TWICE; the
    second run must resume to a no-op off the per-partition lineage
    manifests. Returned rows are the sink read-back, so conf parsing, PITC
    backfill, manifest resume and sink write/read are all under the hash."""
    import json as _json
    import os
    import tempfile

    from chronon_spark.confs import run_conf_backfill
    from chronon_spark.plans.table_lifecycle import managed_table

    conf = {
        "metaData": {"name": "contracts.conf_backfill.v1"},
        "left": {
            "events": {
                "table": "data.transcripts",
                "query": {
                    "selects": {"conv_id": "conv_id", "turn_idx": "turn_idx", "tus": "tus"},
                    "wheres": ["role = 'user'", "ts >= TIMESTAMP '2024-01-25 00:00:00'"],
                    "timeColumn": "ts",
                },
            }
        },
        "rowIds": ["conv_id", "turn_idx"],
        "joinParts": [
            {
                "groupBy": {
                    "metaData": {"name": "contracts.turns_by_conv"},
                    # explicit TEMPORAL: without it the reference's inference
                    # (no streaming topic declared) would pick SNAPSHOT
                    "accuracy": 0,
                    "keyColumns": ["conv_id"],
                    "sources": [
                        {
                            "events": {
                                "table": "data.transcripts",
                                "query": {
                                    "selects": {"conv_id": "conv_id", "score": "score"},
                                    "timeColumn": "ts",
                                },
                            }
                        }
                    ],
                    "aggregations": [
                        # COUNT over 7d, SUM over 3d (codes 6 / 7, DAYS = 1)
                        {
                            "inputColumn": "score",
                            "operation": 6,
                            "windows": [{"length": 7, "timeUnit": 1}],
                        },
                        {
                            "inputColumn": "score",
                            "operation": 7,
                            "windows": [{"length": 3, "timeUnit": 1}],
                        },
                    ],
                }
            }
        ],
        "derivations": [
            {"name": "*", "expression": "*"},
            {"name": "score_per_day_7d", "expression": "score_sum_3d / 3.0"},
        ],
    }
    workdir = tempfile.mkdtemp(prefix="conf_backfill_")
    path = os.path.join(workdir, "training_set.v1")
    with open(path, "w") as f:
        _json.dump(conf, f)
    t = _transcripts(spark, sf_dir)
    out_path = os.path.join(workdir, "out")
    ckpt = os.path.join(workdir, "ckpt")
    run_conf_backfill(spark, path, {"data.transcripts": t}, out_path, ckpt)
    again = run_conf_backfill(spark, path, {"data.transcripts": t}, out_path, ckpt)
    if again["partitions_computed"] != 0:
        raise AssertionError(f"resume recomputed partitions: {again}")
    res = managed_table(spark, out_path).read()
    return res.select(
        "conv_id",
        "turn_idx",
        "tus",
        F.col("score_count_7d").alias("n_7d"),
        (F.round(F.col("score_sum_3d"), 3) + F.lit(0.0)).alias("score_3d"),
        (F.round(F.col("score_per_day_7d"), 4) + F.lit(0.0)).alias("score_rate"),
    )


_SQL_CONF_BACKFILL = f"""
WITH t AS ({_DUCK_T})
SELECT q.conv_id AS conv_id, q.turn_idx AS turn_idx, q.tus AS tus,
       (SELECT NULLIF(COUNT(e.score), 0) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus
           AND e.tus >= q.tus - {7 * US_D}) AS n_7d,
       ROUND((SELECT SUM(e.score) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus
           AND e.tus >= q.tus - {3 * US_D}), 3) + 0 AS score_3d,
       ROUND((SELECT SUM(e.score) FROM t e
         WHERE e.conv_id = q.conv_id AND e.tus < q.tus
           AND e.tus >= q.tus - {3 * US_D}) / 3.0, 4) + 0 AS score_rate
FROM t q
WHERE q.role = 'user' AND q.ts >= TIMESTAMP '2024-01-25 00:00:00'
"""


def _q_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ManagedTable sink lifecycle under the hash gate: a per-(ds, conv)
    daily rollup lands in a throwaway managed table via THREE snapshot
    commits — first half of the calendar, then the rest (incremental
    append), then an idempotent re-fill of one partition (the standard
    backfill-repair motion; live data must not change) — followed by
    small-file compaction. The returned rows are the live read-back, so
    partition overwrite isolation, snapshot versioning, time-travel history
    and compaction rewrite are all value-checked against the plain rollup.

    Reference lifecycle surface: TableUtils.insertPartitions/expandTable
    (spark/src/main/scala/ai/chronon/spark/catalog/TableUtils.scala:689-772),
    Iceberg snapshots/compaction (catalog/Iceberg.scala)."""
    import tempfile

    from chronon_spark.plans.table_lifecycle import managed_table

    t = _transcripts(spark, sf_dir)
    daily = t.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("ds"), "conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.round(F.sum("score"), 3) + F.lit(0.0)).alias("score_sum"),
    )
    sink = managed_table(spark, tempfile.mkdtemp(prefix="lifecycle_") + "/tbl")
    sink.insert_partitions(daily.where(F.col("ds") < "2024-01-16"), semantic_hash="v1")
    sink.insert_partitions(daily.where(F.col("ds") >= "2024-01-16"), semantic_hash="v1")
    sink.insert_partitions(daily.where(F.col("ds") == "2024-01-01"), semantic_hash="v1")
    if sink.current_version() != 3:
        raise AssertionError(f"expected 3 snapshot commits, got {sink.current_version()}")
    # time-travel: snapshot 1 must still see only the first half
    v1_parts = {r[0] for r in sink.read(version=1).select("ds").distinct().collect()}
    if max(v1_parts) >= "2024-01-16":
        raise AssertionError(f"snapshot 1 leaked later partitions: {sorted(v1_parts)[-3:]}")
    sink.compact(target_file_bytes=512 * 1024 * 1024)
    return sink.read().select("ds", "conv_id", "n_turns", "score_sum")


_SQL_TABLE_LIFECYCLE = f"""
WITH t AS ({_DUCK_T})
SELECT strftime(ts, '%Y-%m-%d') AS ds, conv_id,
       COUNT(*) AS n_turns,
       ROUND(SUM(score), 3) + 0 AS score_sum
FROM t GROUP BY 1, 2
"""


def _q_catalog_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same lifecycle motion as ``managed_table_lifecycle`` but through
    the CatalogTable ICEBERG branch, executed against a genuine DSv2
    TableCatalog (tools/dsv2double): ``writeTo().create()`` +
    ``writeTo().overwritePartitions()`` distributed writes, snapshot history
    via the ``.snapshots`` metadata table, ``versionAsOf`` time travel,
    partition listing via ``.partitions``, and small-file compaction via
    ``CALL <cat>.system.rewrite_data_files``. In a deployment the identical
    engine code runs against the Iceberg runtime catalog — nothing below is
    double-specific. The returned rows are the live read-back, so dynamic
    overwrite isolation, snapshot versioning and the compaction rewrite are
    all value-checked against the plain rollup oracle.

    Reference surface: catalog/Iceberg.scala:18-252 (partition listing,
    snapshot ops), TableUtils.insertPartitions (TableUtils.scala:259-358)."""
    import uuid as _uuid

    from chronon_spark.plans.table_lifecycle import CatalogTable, attach_test_catalog

    cat = attach_test_catalog(spark)
    t = _transcripts(spark, sf_dir)
    daily = t.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("ds"), "conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        (F.round(F.sum("score"), 3) + F.lit(0.0)).alias("score_sum"),
    )
    sink = CatalogTable(
        spark, f"{cat}.default.lifecycle_{_uuid.uuid4().hex[:12]}", format="iceberg"
    )
    sink.insert_partitions(daily.where(F.col("ds") < "2024-01-16"), semantic_hash="v1")
    sink.insert_partitions(daily.where(F.col("ds") >= "2024-01-16"), semantic_hash="v1")
    sink.insert_partitions(daily.where(F.col("ds") == "2024-01-01"), semantic_hash="v1")
    snaps = sink.snapshots()
    if len(snaps) != 3:
        raise AssertionError(f"expected 3 snapshot commits, got {len(snaps)}")
    # time-travel: snapshot 1 must still see only the first half
    v1_parts = {
        r[0] for r in sink.read(version=snaps[0]["snapshot_id"]).select("ds").distinct().collect()
    }
    if max(v1_parts) >= "2024-01-16":
        raise AssertionError(f"snapshot 1 leaked later partitions: {sorted(v1_parts)[-3:]}")
    # partition listing must be metadata-complete before and after compaction
    n_parts = len(sink.partitions())
    rep = sink.compact()
    if len(sink.partitions()) != n_parts:
        raise AssertionError("compaction changed the partition list")
    if rep["added_data_files_count"] > n_parts:
        raise AssertionError(f"compaction left >1 file per partition: {rep}")
    return sink.read().select("ds", "conv_id", "n_turns", "score_sum")


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "modular_join_merge": _q_modular_merge,
    "conf_backfill_resume": _q_conf_backfill,
    "managed_table_lifecycle": _q_table_lifecycle,
    "catalog_table_v2": _q_catalog_v2,
    "staging_query_macros": _q_staging_query,
    "role_transitions": _q_role_transitions,
    "bootstrap_covered": _q_bootstrap_covered,
    "partition_stats_meta": _q_partition_stats,
    "twostack_trailing": _q_twostack_trailing,
    "serving_fetch": _q_serving_fetch,
    "serving_fetch_tiled": _q_serving_fetch_tiled,
    "sawtooth_tiled_rich": _q_tiled_rich,
    "sawtooth_tiled_bucketed": _q_tiled_bucketed,
    "log_flatten": _q_log_flatten,
    "stream_stats_tiles": _q_stream_stats,
    "stream_running": _q_stream_running,
    "stream_enrich_fetch": _q_stream_enrich,
    "label_join_forward": _q_label_join,
    "external_contextual": _q_external_parts,
    "compare_metrics_drift": _q_compare_metrics,
    "asof_order_ops": _q_order_ops,
    "asof_moments": _q_moments,
    "asof_bucketed_sum": _q_bucketed,
    "vector_map_inputs": _q_vector_map,
    "asof_histogram_ops": _q_histogram,
    "asof_lifetime": _q_lifetime,
    "multi_source_union": _q_multi_source,
    "join_multi_part": _q_multi_part,
    "entity_state_cdc": _q_entity_state,
    "serving_fetch_cdc": _q_serving_fetch_cdc,
    "cumulative_events_scan": _q_cumulative,
    "chained_join_source": _q_chained,
    "join_snapshot_accuracy": _q_snap_acc,
    "stats_summary": _q_stats,
    "drift_psi": _q_drift,
    "drift_categorical_lp": _q_drift_cat_lp,
    "drift_numeric_lp": _q_drift_numeric,
    "drift_series": _q_drift_series,
    "approx_sketch_daily": _q_sketches,
}

ORACLES: dict[str, str] = {
    "modular_join_merge": _SQL_MULTI_PART,
    "conf_backfill_resume": _SQL_CONF_BACKFILL,
    "managed_table_lifecycle": _SQL_TABLE_LIFECYCLE,
    "catalog_table_v2": _SQL_TABLE_LIFECYCLE,
    "staging_query_macros": _SQL_STAGING_QUERY,
    "role_transitions": _SQL_ROLE_TRANSITIONS,
    "bootstrap_covered": _SQL_BOOTSTRAP,
    "partition_stats_meta": _SQL_PARTITION_STATS,
    "twostack_trailing": _SQL_TWOSTACK,
    "serving_fetch": _SQL_SERVING_FETCH,
    "serving_fetch_tiled": _SQL_SERVING_FETCH_TILED,
    "sawtooth_tiled_rich": _SQL_TILED_RICH,
    "sawtooth_tiled_bucketed": _SQL_TILED_BUCKETED,
    "log_flatten": _SQL_LOG_FLATTEN,
    "stream_stats_tiles": _SQL_STREAM_STATS,
    "stream_running": _SQL_STREAM_RUNNING,
    "stream_enrich_fetch": _SQL_SERVING_FETCH,
    "label_join_forward": _SQL_LABEL_JOIN,
    "external_contextual": _SQL_EXTERNAL,
    "compare_metrics_drift": _SQL_COMPARE,
    "asof_order_ops": _SQL_ORDER_OPS,
    "asof_moments": _SQL_MOMENTS,
    "asof_bucketed_sum": _SQL_BUCKETED,
    "vector_map_inputs": _SQL_VECTOR_MAP,
    "asof_histogram_ops": _SQL_HISTOGRAM,
    "asof_lifetime": _SQL_LIFETIME,
    "multi_source_union": _SQL_MULTI_SOURCE,
    "join_multi_part": _SQL_MULTI_PART,
    "entity_state_cdc": _SQL_ENTITY_STATE,
    "serving_fetch_cdc": _SQL_SERVING_FETCH_CDC,
    "cumulative_events_scan": _SQL_CUMULATIVE,
    "chained_join_source": _SQL_CHAINED,
    "join_snapshot_accuracy": _SQL_SNAP_ACC,
    "stats_summary": _stats_sql(),
    "drift_psi": _SQL_DRIFT,
    "drift_categorical_lp": _SQL_DRIFT_CAT_LP,
    "drift_numeric_lp": _SQL_DRIFT_NUMERIC,
    "drift_series": _SQL_DRIFT_SERIES,
    "approx_sketch_daily": _SQL_SKETCHES,
}
