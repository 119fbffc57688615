"""The aggregation kernels cross into Python through one boundary:
``asof_join.cogroup_apply``'s ``applyInArrow``. No operator, aggregator or
contract query may add a pandas UDF boundary beside it."""

from __future__ import annotations

from pathlib import Path

ROOT = Path(__file__).resolve().parents[1] / "chronon_spark"


def test_no_pandas_udf_boundary_in_kernel_paths():
    files = [
        *(ROOT / "operators").glob("*.py"),
        *(ROOT / "aggregators").glob("*.py"),
        ROOT / "contracts" / "ops.py",
    ]
    hits = [
        f"{f.relative_to(ROOT)}:{i}"
        for f in files
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if ".applyInPandas(" in line
    ]
    assert not hits, f"pandas UDF boundary on a kernel path: {hits}"
