"""Regenerate the per-query driver-row history table in COVERAGE.md.

Reads every CORRECTNESS_r*.json the driver has produced and rewrites
the section between the HISTORY markers with one row per registered
query: which rounds gave it a driver row and what that row said.
Staleness of any green claim is then visible at a glance — a query
whose last green row is two rounds old shows exactly that.

    python tools/coverage_history.py

Legend: `green` = rows+schema+hash all matched; `HASH` = values
hash-mismatched; `rows` = rows-only check (no oracle registered that
round); `ERR` = driver error; `·` = not in that round's verification
window.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BEGIN = "<!-- DRIVER-HISTORY:BEGIN (generated by tools/coverage_history.py) -->"
END = "<!-- DRIVER-HISTORY:END -->"


def cell(rec: dict | None) -> str:
    if rec is None:
        return "·"
    err = rec.get("err")
    if err == "no_oracle":
        return "rows"
    if err:
        return "ERR"
    if rec.get("rows_match") and rec.get("schema_match") and rec.get("hash_match"):
        return "green"
    if rec.get("hash_match") is False:
        return "HASH"
    return "rows?"


def build_table() -> str:
    from stockify_spark.registry import ORACLE, QUERIES

    from __spark_entry__ import driver_rounds

    data = {f"r{n:02d}": rows for n, rows in driver_rounds(REPO)}
    labels = list(data)

    lines = [
        "| query | oracle | " + " | ".join(labels) + " | last green |",
        "|---|---|" + "---|" * len(labels) + "---|",
    ]
    for name in QUERIES:
        cells = [cell(data[lb].get(name)) for lb in labels]
        last_green = next(
            (lb for lb, c in zip(reversed(labels), reversed(cells)) if c == "green"),
            "—",
        )
        has_oracle = "yes" if name in ORACLE else "rows-only"
        lines.append(
            f"| `{name}` | {has_oracle} | " + " | ".join(cells) + f" | {last_green} |"
        )

    n_never = sum(
        1
        for name in QUERIES
        if all(data[lb].get(name) is None for lb in labels)
    )
    summary = (
        f"\n{len(QUERIES)} registered queries; "
        f"{len(QUERIES) - n_never} have at least one driver row across "
        f"{len(labels)} round(s); {n_never} still unchecked by the driver "
        f"(they lead the driver order, `__spark_entry__._driver_order`).\n"
    )
    return "\n".join(lines) + "\n" + summary


def main() -> int:
    cov_path = os.path.join(REPO, "COVERAGE.md")
    with open(cov_path) as f:
        text = f.read()
    table = build_table()
    block = f"{BEGIN}\n\n{table}\n{END}"
    if BEGIN in text:
        text = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END), block, text, flags=re.S
        )
    else:
        text = (
            text.rstrip()
            + "\n\n## Per-query driver-row history\n\n"
            + "Regenerated by `python tools/coverage_history.py` after each "
            + "round's CORRECTNESS_r{N}.json lands.\n\n"
            + block
            + "\n"
        )
    with open(cov_path, "w") as f:
        f.write(text)
    print(f"wrote history table for {len(build_table().splitlines()) - 4} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
