"""Regenerate ``fingerprints.json`` from the DuckDB oracle.

For every registry op the benchmark times, this runs the query on Spark
and its ``registry.ORACLE`` SQL on DuckDB over the same parquet tables,
and requires the row count and the order-insensitive value multiset to
match exactly as ``tools/check_oracle.py`` compares them. Only then is
the Spark-side fingerprint of the verified result written out; the
benchmark compares every run's results against it.

    python3 perfbench/make_fingerprints.py [--data DIR] [op ...]

Run it from the repository root when the data or an op's definition
changes on purpose. It exits non-zero and writes nothing if any op
disagrees with its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from fingerprint import fingerprint  # noqa: E402
from workloads import DEFAULT_DATA, FINGERPRINTS, REGISTRY_OPS, spark_session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=os.environ.get("PERFBENCH_DATA", DEFAULT_DATA))
    ap.add_argument("ops", nargs="*")
    args = ap.parse_args()
    names = args.ops or sorted({n for ops in REGISTRY_OPS.values() for n in ops})

    import duckdb

    from stockify_spark.registry import ORACLE, QUERIES
    from tools.check_oracle import TABLES, row_multiset

    work = os.path.join(ROOT, ".perfbench", "work", f"fingerprints-{os.getpid()}")
    spark = spark_session(work)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.data}/{t}.parquet')")
    out = {}
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS) as f:
            out = json.load(f)
    failed = []
    for name in names:
        t0 = time.perf_counter()
        df = QUERIES[name](spark, args.data)
        srows = [tuple(r) for r in df.collect()]
        res = con.execute(ORACLE[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if len(srows) != len(drows) or row_multiset(srows, df.columns) != row_multiset(drows, dcols):
            print(f"FAIL {name}: spark {len(srows)} rows, oracle {len(drows)} rows", flush=True)
            failed.append(name)
            continue
        fp = fingerprint(df)
        fp["data"] = os.path.basename(args.data.rstrip("/"))
        out[name] = fp
        print(f"ok   {name}: {fp['rows']} rows ({time.perf_counter() - t0:.1f} s)", flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if failed:
        print(f"not written: {len(failed)} op(s) disagree with the oracle")
        return 1
    with open(FINGERPRINTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
