"""Driver-contract smoke tests (SURVEY §5.3 'Smoke')."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert rows[0]["cnt"] > 0
    assert rows[0]["sum_price"] > 0


def test_queries_and_oracles_align():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle refers to a registered query
    assert set(oracles) <= set(qs)


def test_driver_order_rotates_oldest_checked_to_front(tmp_path):
    """Never-checked queries lead, then queries by the round of their
    newest driver row, oldest first; ties keep registry order — so a
    round's checked sample moves to the back of the next order."""
    import json

    def round_file(n, names):
        rows = {q: {"rows_match": True} for q in names}
        (tmp_path / f"CORRECTNESS_r{n:02d}.json").write_text(json.dumps(rows))

    registry = {q: None for q in ("a", "b", "c", "d", "e")}
    round_file(1, ["a", "b"])
    round_file(2, ["b", "c"])
    assert list(entrymod._driver_order(registry, str(tmp_path))) == [
        "d", "e", "a", "b", "c",
    ]
    round_file(10, ["d", "e"])  # numeric, not lexical, round order
    assert list(entrymod._driver_order(registry, str(tmp_path))) == [
        "a", "b", "c", "d", "e",
    ]
