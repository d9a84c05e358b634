"""Time the DuckDB oracle queries — the measurable stand-in for the
reference's unpublished numbers (BASELINE.md E1). Runs each benched
query's oracle SQL on the same parquet at $SPARK_GRAFT_SF_DIR
(default sf0.1), 1 warm-up + 3 timed, median, each run interrupted
past $SPARK_GRAFT_ORACLE_BUDGET_SEC (default 60). Prints one JSON line:

    python tools/bench_oracle.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import bench
    from stockify_spark.registry import ORACLE, bench_names, oracle_con

    # some oracles are deliberately brute-force — written for sf0.01
    # correctness, quadratic at bench scale
    budget = float(os.environ.get("SPARK_GRAFT_ORACLE_BUDGET_SEC", "60"))
    bench.ORACLE_BUDGET_SEC = budget
    con = oracle_con(SF_DIR, os.cpu_count() or 8)
    timings: dict[str, float | str] = {}
    for name in bench_names():
        sql = ORACLE.get(name)
        if sql is None:
            continue  # rows-only queries have no SQL equivalent
        med, _, _ = bench.time_oracle_solo(con, sql)
        timings[name] = f">{budget:g}" if med is None else round(med, 4)

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    finite = [v for v in timings.values() if isinstance(v, float)]
    print(
        json.dumps(
            {
                "metric": "oracle_total_sec",
                "value": round(sum(finite), 4),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
