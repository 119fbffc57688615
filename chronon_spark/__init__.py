"""chronon_spark — a PySpark-native feature-engineering engine.

A from-scratch rebuild of the capabilities of cceasy/chronon (reference at
/root/reference, Scala/Thrift) re-expressed Spark-first:

- point-in-time-correct (as-of) joins of a timestamped query table against
  event streams (reference: spark/src/main/scala/ai/chronon/spark/join/UnionJoin.scala:26),
- windowed / bucketed aggregations per key with the reference's operator set
  (reference: thrift/api.thrift:198-230, aggregator/.../base/SimpleAggregators.scala),
- sessionization, lag/lead, tumbling & hopping windows (native pyspark.sql.Window),
- training-data-pipeline utilities: dedup (exact/MinHash/SimHash/embedding),
  similarity search, text analysis, multimodal column plumbing.

Architecture: declarative DataFrame plans optimized by Catalyst everywhere
possible; the as-of sawtooth aggregation runs inside vectorized Arrow
``cogroup().applyInArrow`` kernels (numpy prefix-scan / searchsorted), never
per-row Python.
"""

from chronon_spark.api import (
    Accuracy,
    Aggregation,
    GroupBy,
    Join,
    JoinPart,
    Op,
    Window,
)
from chronon_spark.session import get_spark

__all__ = [
    "Accuracy",
    "Aggregation",
    "GroupBy",
    "Join",
    "JoinPart",
    "Op",
    "Window",
    "get_spark",
]

__version__ = "0.1.0"
