"""Full driver simulation: every registered slug vs its DuckDB oracle
under a VANILLA SparkSession, strict compare (floats bit-for-bit via
repr — stricter than the driver's 6-decimal normalization).

    python tools/sweep_parity.py [sf] [master] [shuffle_partitions] [aqe]
        [--only SLUG,SLUG,...]

Defaults: sf 0.01, master local[32], Spark's default shuffle
partitions (200 on a vanilla session). Prints FAIL/ERROR lines as
they happen and one JSON summary line at the end. Run at sf 0.01 AND
0.1 before every round close (SURVEY §6 layer 2); tests/ only cover
sf0.001. ``--only`` restricts the sweep to the named slugs, so a
change can be verified in seconds instead of re-running the whole
registry (an unregistered name is reported as an ERROR).

The third arg is the determinism probe: an adversarial partition
count that divides nothing evenly (e.g. 7) reshapes every shuffle's
row-to-task assignment, so any result that leans on partition order
or count — an untied rank, a first() without an order, a
collect_list serialized unsorted — diverges from its oracle. Run
``python tools/sweep_parity.py 0.001 'local[5]' 7`` as the cheap
third axis alongside the two vanilla sweeps (tests run local[8]/32
shuffle partitions, sweeps local[32]/200).

The fourth arg disables AQE (``aqe=off``): adaptive re-planning
changes join strategies, coalesces partitions, and splits skewed
tasks at runtime — a result that depends on ANY of that (a
finalized-plan-only reuse, an AQE-broadcast the logic silently
assumes) diverges from its oracle here. Run
``python tools/sweep_parity.py 0.001 'local[8]' '' off`` as the
static-planner axis.
"""

from __future__ import annotations

import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "partsupp",
    "orders", "lineitem", "events", "documents", "embeddings",
    "files", "studies", "variables", "media", "ticks",
]


def main() -> int:
    args = sys.argv[1:]
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1].split(",")
        del args[i : i + 2]
    sf = args[0] if len(args) > 0 else "0.01"
    master = args[1] if len(args) > 1 else "local[32]"
    shuffle_partitions = args[2] if len(args) > 2 else None
    if shuffle_partitions == "":
        shuffle_partitions = None
    aqe = args[3] if len(args) > 3 else "on"
    sf_dir = f"/root/testdata/sf{sf}"

    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)
    if aqe == "off":
        spark.conf.set("spark.sql.adaptive.enabled", "false")

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        if os.path.exists(f"{sf_dir}/{t}.parquet"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )

    def norm(d):
        return sorted(
            map(repr, d[sorted(d.columns)].itertuples(index=False, name=None))
        )

    fails, n_ok = [], 0
    for slug in qs if only is None else only:
        try:
            sp = qs[slug](spark, sf_dir).toPandas()
            if slug in oracles:
                du = con.sql(oracles[slug]).df()
                ok = norm(sp) == norm(du)
            else:
                ok = len(sp) >= 0  # rows-only slugs
            if ok:
                n_ok += 1
            else:
                fails.append(slug)
                print(f"FAIL {slug}: rows {len(sp)}/{len(du)}", flush=True)
        except Exception as exc:  # noqa: BLE001 — isolate per slug
            fails.append(slug)
            print(f"ERROR {slug}: {type(exc).__name__}: {exc}", flush=True)
            traceback.print_exc()

    print(json.dumps({"sf": sf, "master": master,
                      "shuffle_partitions": shuffle_partitions,
                      "aqe": aqe,
                      "ok": n_ok, "total": n_ok + len(fails),
                      "fails": fails}))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
