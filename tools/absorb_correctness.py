"""Report driver-correctness coverage of the query registry.

The registry order is derived at import time from the
CORRECTNESS_r*.json files at the repo root (see `_driver_rows` in
dug_data_ingest_spark/queries/__init__.py): slugs sort by the round of
their latest driver row, failed or never-graded ones first. This tool
prints that view so a round's window can be sanity-checked:

    python tools/absorb_correctness.py

Output: the first 50 slugs (the next driver window) with their round,
and every slug whose latest driver row is a failure.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from dug_data_ingest_spark.queries import _driver_rows, all_queries

    ordered = list(all_queries())
    latest, _ = _driver_rows()
    print(f"next driver window (first 50 of {len(ordered)}):")
    for i, slug in enumerate(ordered[:50]):
        rnd, ok = latest.get(slug, (None, False))
        mark = f"r{rnd}" if ok else ("never graded" if rnd is None else f"FAILED r{rnd}")
        print(f"  {i + 1:2d}. [{mark}] {slug}")
    failed = [s for s in ordered if s in latest and not latest[s][1]]
    print(f"latest row failed ({len(failed)}): {failed}")


if __name__ == "__main__":
    main()
