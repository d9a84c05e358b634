"""Registry-wide smoke: every driver-contract query must execute and
return its oracle's schema at the smallest scale factor. The DuckDB
differential gate (tools/check_oracle.py) checks VALUES at sf0.01;
this net catches a query that stops even running (schema drift,
missing column, bad import) inside the pytest loop."""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

from stockify_spark.registry import BENCH, BENCH_KINDS, ORACLE, QUERIES, oracle_con

SF_DIR = "/root/testdata/sf0.001"


def test_every_query_executes_with_stable_schema(spark):
    """Builds each query once: non-empty columns, the same column names
    as its DuckDB oracle (DESCRIBE binds the oracle without running
    it), ``limit(5).collect()`` (evaluates projected columns that
    ``count()`` may prune) and a non-negative ``count()``."""
    con = oracle_con(SF_DIR)
    failures = []
    for name, fn in sorted(QUERIES.items()):
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            assert cols, "no columns"
            if name in ORACLE:
                want = [r[0] for r in con.execute(f"DESCRIBE {ORACLE[name]}").fetchall()]
                assert sorted(cols) == sorted(want), f"columns {cols} vs oracle {want}"
            df.limit(5).collect()
            n = df.count()
            assert isinstance(n, int) and n >= 0
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "\n".join(failures)


def test_each_domain_module_imports_first():
    """Importing any ``stockify_spark.queries`` module before the
    registry loads every query, in one fixed registration order. Runs
    in a fresh interpreter, dropping ``stockify_spark`` from
    ``sys.modules`` between modules, so no earlier import hides a
    cycle."""
    script = textwrap.dedent(
        """
        import importlib, pkgutil, sys
        import stockify_spark.queries as pkg

        mods = [m.name for m in pkgutil.iter_modules(pkg.__path__)]
        orders = {}
        for m in mods:
            for k in [k for k in sys.modules if k.startswith("stockify_spark")]:
                del sys.modules[k]
            importlib.import_module("stockify_spark.queries." + m)
            orders[m] = list(importlib.import_module("stockify_spark.registry").QUERIES)
        assert len(mods) > 10, mods
        first = orders[mods[0]]
        for m, order in orders.items():
            assert order == first, m
        print(len(first))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=Path(__file__).resolve().parents[1],
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert int(out.stdout.split()[-1]) == len(QUERIES)


def test_contract_shape():
    """Every oracle belongs to a registered query; names are unique
    (the dict guarantees it) and shell-safe."""
    assert set(ORACLE) <= set(QUERIES)
    for name in QUERIES:
        assert name.replace("_", "").isalnum(), name
    # the driver treats oracle-less queries as rows-only; keep that
    # set intentional and small relative to the whole surface
    rows_only = set(QUERIES) - set(ORACLE)
    assert len(rows_only) <= len(QUERIES) // 4, sorted(rows_only)
    # bench tags: a known kind, and a benched query always has an
    # oracle to time against
    assert set(BENCH.values()) <= set(BENCH_KINDS), set(BENCH.values())
    assert set(BENCH) <= set(ORACLE), sorted(set(BENCH) - set(ORACLE))


def test_driver_module_exposes_contract():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 100
    assert callable(next(iter(q.values())))
