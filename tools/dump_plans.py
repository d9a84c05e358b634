"""Dump .explain("formatted") for queries into plans/<tag>/<name>_<suffix>.txt.

    python tools/dump_plans.py <tag> <suffix> [name ...]

With no names, dumps every benched query (registry.bench_names()). Plans are
captured at sf0.001 (shape-identical across SFs; see plan_audit.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


def main() -> None:
    if len(sys.argv) < 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        raise SystemExit(2)
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    from stockify_spark.registry import QUERIES, bench_names
    from stockify_spark.session import get_spark

    if not names:
        names = bench_names()
    out_dir = os.path.join(REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump", cpus=4)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name in names:
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(jvm_mode)
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(name, "ok" if not plan.startswith("ERROR") else plan[:120])


if __name__ == "__main__":
    main()
