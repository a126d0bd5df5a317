"""The registry's one ordering rule (queries/__init__.py): slugs sort by
the round of their latest driver row, failed or never-graded slugs
count as round -1, and ties keep registration order. The rule reads
_driver_rows, whose gates are pinned here against synthetic
CORRECTNESS files."""

from __future__ import annotations

import json

from dug_data_ingest_spark import queries as Q


def _write(tmp_path, rnd, rows):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


GOOD = {"err": None, "rows_match": True, "schema_match": True, "hash_match": True}


def test_latest_round_wins_and_gates(tmp_path):
    _write(tmp_path, 1, {"a": GOOD, "b": GOOD, "c": GOOD, "d": GOOD})
    _write(
        tmp_path,
        2,
        {
            "b": {**GOOD, "err": "boom"},           # errored -> not ok
            "c": {**GOOD, "rows_match": False},      # rows mismatch -> not ok
            "d": {**GOOD, "hash_match": False},      # explicit hash mismatch -> not ok
        },
    )
    latest, mx = Q._driver_rows(root=str(tmp_path))
    assert mx == 2
    assert latest["a"] == (1, True)
    assert latest["b"] == (2, False)
    assert latest["c"] == (2, False)
    assert latest["d"] == (2, False)


def test_rows_only_row_still_counts_green(tmp_path):
    # non-SQL-expressible slugs get rows-only grading: no hash key
    _write(tmp_path, 3, {"s": {"err": None, "rows_match": True}})
    latest, _ = Q._driver_rows(root=str(tmp_path))
    assert latest["s"] == (3, True)


def test_window_ordering_rules(tmp_path, monkeypatch):
    # r3 greens b, t1, t2 (t1/t2 tie); r1 green s; failed f (its green
    # r1 row is superseded by the r3 failure); never-graded n
    _write(tmp_path, 1, {"s": GOOD, "f": GOOD})
    _write(tmp_path, 3, {"b": GOOD, "t1": GOOD, "t2": GOOD, "f": {**GOOD, "err": "x"}})
    real = Q._driver_rows
    monkeypatch.setattr(Q, "_driver_rows", lambda root=None: real(root=str(tmp_path)))

    order = Q._ordered(["t2", "b", "n", "s", "t1", "f"])
    assert order == ["n", "f", "s", "t2", "b", "t1"]


def test_queries_and_oracles_share_the_order():
    from dug_data_ingest_spark.queries import all_oracles, all_queries

    slugs = list(all_queries())
    oracles = list(all_oracles())
    assert set(oracles) <= set(slugs)
    assert oracles == [s for s in slugs if s in set(oracles)]
