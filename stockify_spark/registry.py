"""Query registry: the driver contract surface.

Each entry pairs a Spark implementation (built from the operator
library) with an ANSI-SQL oracle that DuckDB runs on the same parquet
tables. The driver compares row-count + schema + order-insensitive
value hash at sf=0.01 (SURVEY §5.2 — the reference's differential
GPU-vs-CPU testing, done properly).

Conventions that make the differential comparison deterministic:
  * every computed column is aliased identically on both sides;
  * aggregates over many doubles are ROUND()ed on both sides (double
    addition is non-associative; Spark and DuckDB sum in different
    orders — SURVEY §2.3 float caveat);
  * rankings always carry a unique tiebreaker column;
  * per-row arithmetic (same IEEE ops, same order) is left exact.

Reference-parity queries run against the star-schema tables
(TESTDATA.md) with ``lineitem`` standing in for the reference's
``stocks`` table: the reference's literals (volume >= 1e6 etc.,
stockify.cu:229,274) are re-chosen inside each column's actual range
so every comparator is exercised at selectivity strictly between
0 and 1 (FIXTURES.md), plus one empty-result probe.

The queries themselves live in ``stockify_spark.queries``, one module
per domain picked by name prefix; importing this module imports them
all.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stockify_spark.sources.io import TABLES, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# How bench.py times a query; a query without a tag is not benched.
#   "paired"   Spark and oracle timed interleaved, iteration by iteration;
#   "deferred" the oracle is timed in a separate pass after every Spark
#              timing, because its DuckDB burn would inflate the Spark
#              iteration that follows it;
#   "spec"     timed, but the oracle is a closed-form statement of the
#              expected output rather than a baseline implementation, so
#              the row stays out of the spark-vs-oracle ratio.
BENCH_KINDS = ("paired", "deferred", "spec")
BENCH: dict[str, str] = {}


def register(name: str, sql: str | None = None, *, bench: str | None = None):
    """Decorator: add a query, its DuckDB oracle and its bench tag.

    Duplicate names are an error: a re-registration would silently
    SHADOW the earlier query (the dict keeps one entry), dropping an
    operator from the driver contract with no local signal — caught
    live in round 7 when a new pivot query reused an existing name.
    """
    if bench is not None and bench not in BENCH_KINDS:
        raise ValueError(f"bench={bench!r} for {name!r}; expected one of {BENCH_KINDS}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(
                f"query name {name!r} is already registered "
                f"(by {QUERIES[name].__module__}); pick a distinct name"
            )
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        if bench is not None:
            BENCH[name] = bench
        return fn

    return deco


def bench_names(*kinds: str) -> list[str]:
    """Benched query names in registry order, limited to ``kinds`` if
    any are given."""
    return [n for n, k in BENCH.items() if not kinds or k in kinds]


def oracle_con(sf_dir: str, threads: int | None = None):
    """A DuckDB connection with one view per star-schema table over
    ``sf_dir``'s parquet files: the catalog every oracle reads."""
    import duckdb

    con = duckdb.connect()
    if threads is not None:
        con.execute(f"SET threads TO {threads}")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Domain modules register into QUERIES/ORACLE/BENCH on import.
from stockify_spark.queries import (  # noqa: E402,F401,I001
    basics,
    aggregates,
    windows,
    joins,
    tpch,
    stats,
    ml_graph,
    text,
    dedup,
    similarity,
    txlog,
    media,
)
