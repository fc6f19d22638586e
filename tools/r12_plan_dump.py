"""Dump `.explain("formatted")` for named queries to
plans/r12/<query>_<tag>.txt — the before/after evidence files the r12
optimization round commits (plan claims are checked against these).

Usage: python tools/r12_plan_dump.py <before|after> query [query ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", "r12")
    os.makedirs(out_dir, exist_ok=True)

    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import (
        suites,
    )
    from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import (
        get_spark,
    )

    spark = get_spark(app_name=f"r12-plan-dump-{tag}")
    roots: list[str] = []
    try:
        for name in names:
            if name in (
                "x61_bm25_persisted_index",
                "x65_ivf_pq_persisted_index",
                "x67_persisted_ann_mmr",
            ):
                # registry entries localCheckpoint (temp index dir is
                # deleted on return) which hides the scoring plan behind
                # Scan ExistingRDD; explain the live scoring frame
                from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import (  # noqa: E501
                    extensions as _ext,
                )

                fn = {
                    "x61_bm25_persisted_index": _ext.x61_scoring_frame,
                    "x65_ivf_pq_persisted_index": _ext.x65_scoring_frame,
                    "x67_persisted_ann_mmr": _ext.x67_scoring_frame,
                }[name]
                root = tempfile.mkdtemp(prefix=f"{name}_plan_")
                roots.append(root)
                df = fn(spark, sf_dir, root)
            else:
                df = suites.FULL_QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({len(plan)} chars)", flush=True)
    finally:
        for root in roots:
            shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
