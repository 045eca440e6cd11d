"""Physical-plan audit over the FULL query registry.

tests/test_plans.py pins the specific plan properties individual
operators promise; this script is the complementary wide sweep — it
formats every registry query's physical plan at a small SF and flags
the anti-patterns that silently kill 100x scale-ups:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` without a bound:
  an accidental cross join that explodes quadratically,
- ``BatchEvalPython`` / ``PythonUDF`` outside ArrowEval: a row-at-a-time
  Python UDF in what should be a JVM or Arrow-batched path,
- parquet scans with no ``ReadSchema`` column pruning (full-width scan
  feeding a narrow projection).

Exit code 1 when a NEW offender appears (known, adjudicated cases are
allow-listed below with the reason). Run:

    python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# (query, pattern) pairs adjudicated as intentional, with the reason.
# Verified minimal: stripping this set flags EXACTLY these three and
# nothing else (the planted kernels all plan as equi-joins).
ALLOWED = {
    # exact cosine (PyOBO's pairwise similarity): the nested loop IS the
    # contract — a broadcast query side, small by construction, probed
    # against every corpus row
    ("ann_cosine_topk", "BroadcastNestedLoopJoin"),
    ("embedding_nearest_terms", "BroadcastNestedLoopJoin"),
    ("embedding_near_dup", "BroadcastNestedLoopJoin"),
}

FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyobo_spark import queries as Q
    from pyobo_spark.session import get_spark

    spark = get_spark("plan_audit", cores=8, shuffle_partitions=8)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    bad: list[str] = []
    for name, fn in Q.QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            bad.append(f"{name}: PLAN FAILED: {e}")
            continue
        for flag in FLAGS:
            if flag in plan and (name, flag) not in ALLOWED:
                bad.append(f"{name}: {flag}")
        # scans that read every column feeding this query (heuristic:
        # a ReadSchema listing >12 TOP-LEVEL fields usually means
        # pruning failed — the widest intentional read in the registry
        # is 9 columns). Field count = depth-0 commas + 1, walked
        # character-wise: a naive [^>]* regex would truncate at the
        # first '>' of any nested array/struct column and undercount
        # exactly the wide scans this check exists to catch.
        for m in re.finditer(r"ReadSchema: struct<", plan):
            start = m.end()
            depth, n_cols, i = 1, 1, start
            while i < len(plan) and depth > 0:
                c = plan[i]
                if c == "<":
                    depth += 1
                elif c == ">":
                    depth -= 1
                elif c == "," and depth == 1:
                    n_cols += 1
                i += 1
            if plan[start:i - 1].strip() == "":
                n_cols = 0
            if n_cols > 12:
                bad.append(f"{name}: unpruned scan ({n_cols} columns)")
    if bad:
        print("PLAN AUDIT FAILURES:")
        for b in sorted(set(bad)):
            print("  ", b)
        return 1
    print(f"PLAN AUDIT OK: {len(Q.QUERIES)} queries, no new offenders")
    return 0


if __name__ == "__main__":
    sys.exit(main())
