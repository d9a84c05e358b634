"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The real surface lives in ``stockify_spark.registry``; this module
stays a thin adapter.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SMOKE_SF_DIR = "/root/testdata/sf0.001"
_REPO = os.path.dirname(os.path.abspath(__file__))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §7.1): scan → pushed-down filter →
    partial/final global aggregate — experiments 1.x + 2.a of the
    reference (stockify.cu:219-504) in one declarative plan."""
    lineitem = spark.read.parquet(f"{SMOKE_SF_DIR}/lineitem.parquet")
    return (
        lineitem.filter(F.col("l_extendedprice") >= 1000.0)
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


def driver_rounds(repo: str = _REPO) -> list[tuple[int, dict]]:
    """Every ``CORRECTNESS_r{N}.json`` the driver has written under
    ``repo``, as ``(N, rows by query name)`` in round order."""
    rounds = []
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m:
            with open(path) as f:
                rounds.append((int(m.group(1)), json.load(f)))
    return sorted(rounds, key=lambda r: r[0])


def _driver_order(d: dict, repo: str = _REPO) -> dict:
    """Driver-facing order. The driver verifies queries in dict order
    and may cap how many it checks per round (~50), so queries with no
    driver row come first, then the rest by the round of their newest
    row, oldest first; ties keep registry order. Each round's checked
    sample thereby moves to the back of the next round's order."""
    newest = {name: n for n, rows in driver_rounds(repo) for name in rows}
    return {name: d[name] for name in sorted(d, key=lambda q: newest.get(q, 0))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from stockify_spark.registry import QUERIES

    return _driver_order(QUERIES)


def oracle_sql() -> dict[str, str]:
    from stockify_spark.registry import ORACLE

    return _driver_order(ORACLE)
