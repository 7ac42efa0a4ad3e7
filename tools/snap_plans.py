"""Snapshot .explain("formatted") output for named declared queries into
plans/<tag>/<query>_<suffix>.txt — the before/after plan evidence for
optimization rounds (the judge checks plan claims against these files).
Queries that read a data source (BatchScan) are also run, and the input
partition count of each scan is appended.

Usage:
    python tools/snap_plans.py <tag> <suffix> <query> [query ...]
e.g.
    python tools/snap_plans.py r11 before j06_interval_overlap ml11_embedding_cov
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

from mdio_cpp_spark.plans import REGISTRY
from mdio_cpp_spark.session import get_spark


def _scan_partitions(df) -> list[int]:
    """Input-partition count of each BatchScanExec in df's executed plan."""
    counts, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        while True:  # unwrap adaptive plans and their query stages
            kind = node.getClass().getSimpleName()
            if kind == "AdaptiveSparkPlanExec":
                node = node.executedPlan()
            elif kind.endswith("QueryStageExec"):
                node = node.plan()
            else:
                break
        if node.getClass().getSimpleName() == "BatchScanExec":
            counts.append(node.inputPartitions().size())
        kids = node.children().iterator()
        while kids.hasNext():
            todo.append(kids.next())
    return counts


def main() -> int:
    tag, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("mdio-snap-plans")
    if any(n.startswith("zarr") or n.startswith("geo") for n in names):
        from mdio_cpp_spark.plans.zarr_queries import ensure_stores

        ensure_stores(spark, sf_dir)
    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        if "BatchScan" in txt:
            # the formatted plan omits a data source's input partitions:
            # run the query and append them from its executed plan
            df.collect()
            txt += f"BatchScan input partitions (executed): {_scan_partitions(df)}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
