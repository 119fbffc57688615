from chronon_spark.aggregators.kernels import MultiKeyEventColumns, compute_parts_multikey

__all__ = ["MultiKeyEventColumns", "compute_parts_multikey"]
