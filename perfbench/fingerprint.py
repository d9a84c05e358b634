"""Order-insensitive result fingerprints, computed inside Spark.

A fingerprint is the sorted column names, the row count and the sum of
one 64-bit hash per row. It is computed by one aggregate job, so
checking a 300k-row result costs one scan instead of a collect into
Python. Cells are hashed exactly: the benchmarked ops are
deterministic, and the fingerprints were taken from results that agree
with the DuckDB oracle (``make_fingerprints.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fingerprint(df: DataFrame) -> dict:
    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*[df[c] for c in cols]).cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return {"columns": cols, "rows": int(row["n"]), "hash": str(row["s"] or 0)}


def matches(got: dict, want: dict) -> bool:
    return all(k in got and got[k] == want[k] for k in ("columns", "rows", "hash"))
