"""Oracle-vs-Spark column TYPE agreement audit (round-9 verdict #2).

The driver compares Spark results to DuckDB oracle results by value
hash; a DuckDB column typed DECIMAL(2,1) where Spark emits DOUBLE can
repr-mismatch (Decimal('0.5') vs 0.5) depending on the fetch path.
This tool never executes the queries — it asks DuckDB to ``DESCRIBE``
each oracle (planning only) and reads the Spark DataFrame's lazy
schema, then compares per-column type KINDS by name.

    python tools/type_audit.py            # all queries
    python tools/type_audit.py name ...   # a subset

Exit code 1 if any mismatch is found. The permanent regression test
wrapping this logic lives in tests/test_oracle_types.py.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


def duck_kind(t: str) -> str:
    """Collapse a DuckDB type string to the kind class the driver's
    value hash is sensitive to."""
    t = t.upper()
    if t.startswith("DECIMAL"):
        return "decimal"
    if t == "HUGEINT":
        return "hugeint"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "VARCHAR":
        return "str"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t.startswith("BLOB"):
        return "bytes"
    if t.endswith("[]") or t.startswith("STRUCT") or t.startswith("MAP"):
        return "complex"
    return f"other:{t}"


def spark_kind(dt) -> str:
    s = dt.simpleString()
    if s.startswith("decimal"):
        return "decimal"
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("double", "float"):
        return "float"
    if s == "boolean":
        return "bool"
    if s == "string":
        return "str"
    if s == "date":
        return "date"
    if s.startswith("timestamp"):
        return "timestamp"
    if s == "binary":
        return "bytes"
    if s.startswith(("array", "struct", "map")):
        return "complex"
    return f"other:{s}"


# Pairs that hash identically through the driver's pandas/Arrow path
# (DuckDB .df() renders them as the same numpy dtype + repr).
COMPATIBLE = {
    ("int", "int"), ("float", "float"), ("bool", "bool"),
    ("str", "str"), ("date", "date"), ("timestamp", "timestamp"),
    ("bytes", "bytes"), ("complex", "complex"),
}


def audit(names=None):
    from stockify_spark.registry import ORACLE, QUERIES, oracle_con
    from stockify_spark.session import get_spark

    spark = get_spark()
    con = oracle_con(SF_DIR)
    todo = names or list(ORACLE)
    bad = []
    for name in todo:
        sql = ORACLE.get(name)
        if sql is None:
            continue
        try:
            duck_cols = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:  # oracle must at least plan
            bad.append((name, "?", f"duckdb-describe-error: {e}"))
            continue
        try:
            sdf = QUERIES[name](spark, SF_DIR)
            spark_types = {f.name: spark_kind(f.dataType) for f in sdf.schema.fields}
        except Exception as e:
            bad.append((name, "?", f"spark-plan-error: {e}"))
            continue
        for col, dtype, *_ in duck_cols:
            dk = duck_kind(dtype)
            sk = spark_types.get(col)
            if sk is None:
                bad.append((name, col, f"oracle-only column (duck {dtype})"))
            elif (dk, sk) not in COMPATIBLE:
                bad.append((name, col, f"duck {dtype} ({dk}) vs spark {sk}"))
        duck_names = {c[0] for c in duck_cols}
        for col in spark_types:
            if col not in duck_names:
                bad.append((name, col, "spark-only column"))
    return bad


if __name__ == "__main__":
    mismatches = audit(sys.argv[1:] or None)
    for name, col, why in mismatches:
        print(f"MISMATCH {name}.{col}: {why}")
    print(f"{len(mismatches)} mismatches")
    sys.exit(1 if mismatches else 0)
