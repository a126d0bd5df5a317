"""Isolated min-of-N pin for one (or a few) bench queries: wall time
AND process-tree CPU-seconds per rep.

    python tools/pin_query.py SLUG [SLUG ...] [--reps N] [--sf DIR] [--noop]

Why this exists: a full bench run times ~120 queries back-to-back, so
one query's number can be contaminated by its neighbours' GC / shuffle
cleanup or by a transient host spike mid-run (r11: xml-modify-study-name
read 10.85 s and 14.56 s in two contended full runs but 1.86 s as a
sibling-run min). This script times ONLY the named queries on an
otherwise idle JVM, brackets them with the same calib probes bench.py
uses, and prints per-rep times + min + median so a spike is attributable
to the host (calib moved) or the plan (calib flat, reps still slow).

By default the pin times ``.count()`` — deliberately mirroring
bench.py's posture so the number is comparable to BENCH_HISTORY. But
count() lets Catalyst prune expensive output columns (the exact blind
spot tools/noop_audit.py exposes), so for a projection-family slug
pass ``--noop`` to time a noop-sink write instead: every output
column is materialized and the pin reports the operator's honest
per-row cost (r12 ADVICE).

Wall time is only comparable within a quiet window (calib < 0.35):
the shared host's other tenants inflate it 2-10x. The CPU-seconds
this process family burns per rep measure the PLAN'S work almost
independently of who else is on the box (descheduled tasks consume no
CPU), so use them to compare plans across any window. In local mode
the executors live in the driver JVM, so the tree's utime+stime delta
around a rep is the whole Spark-side cost, Python workers
(mapInPandas/Arrow UDFs) included.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_cpu(pid: int) -> float:
    """utime+stime (+children, which for the JVM covers any forked
    helpers) of one pid, in seconds."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            parts = fh.read().rsplit(") ", 1)[1].split()
        # fields 13..16 (0-based after comm): utime stime cutime cstime
        return sum(int(parts[i]) for i in (11, 12, 13, 14)) / _CLK
    except OSError:
        return 0.0


def _tree_cpu(root: int) -> float:
    """CPU-seconds of root + all LIVE descendants (dead children are
    folded into cutime/cstime by _proc_cpu). Python workers are
    long-lived under spark.python.worker.reuse, so live traversal
    catches them."""
    pids = {root}
    by_ppid: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(") ", 1)[1].split()[1])
            by_ppid.setdefault(ppid, []).append(int(d))
        except OSError:
            continue
    frontier = [root]
    while frontier:
        p = frontier.pop()
        for c in by_ppid.get(p, ()):
            if c not in pids:
                pids.add(c)
                frontier.append(c)
    return sum(_proc_cpu(p) for p in pids)


def _calib(spark) -> dict[str, float]:
    import numpy as np

    spark_times, np_times = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(100_000_000).selectExpr(
            "sum(id * 2654435761 % 1000000007)"
        ).collect()
        spark_times.append(time.perf_counter() - t0)
        a = np.random.default_rng(42).random((1024, 1024))
        t0 = time.perf_counter()
        for _ in range(4):
            a = a @ a % 1.0
        np_times.append(time.perf_counter() - t0)
    return {
        "calib_spark_sec": round(sorted(spark_times)[1], 3),
        "calib_numpy_sec": round(sorted(np_times)[1], 3),
    }


def main(argv: list[str]) -> int:
    reps = 5
    sf_dir = "/root/testdata/sf0.1"
    noop = False
    slugs: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--reps":
            reps = int(argv[i + 1])
            i += 1
        elif a == "--sf":
            sf_dir = argv[i + 1]
            i += 1
        elif a == "--noop":
            noop = True
        else:
            slugs.append(a)
        i += 1
    if not slugs:
        print(
            "usage: pin_query.py SLUG [SLUG ...] [--reps N] [--sf DIR]"
            " [--noop]",
            file=sys.stderr,
        )
        return 2

    from dug_data_ingest_spark.queries import all_queries
    from dug_data_ingest_spark.session import get_spark

    def _run(df) -> None:
        if noop:
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    spark = get_spark("pin-query")
    me = os.getpid()
    qs = all_queries()
    out: dict[str, dict] = {
        "sink": "noop" if noop else "count",
        "calib_before": _calib(spark),
    }
    for slug in slugs:
        fn = qs[slug]
        _run(fn(spark, sf_dir))  # warmup (codegen/JIT)
        times, cpus = [], []
        for _ in range(reps):
            c0 = _tree_cpu(me)
            t0 = time.perf_counter()
            _run(fn(spark, sf_dir))  # fresh plan instance per rep
            times.append(round(time.perf_counter() - t0, 3))
            cpus.append(round(_tree_cpu(me) - c0, 2))
        out[slug] = {
            "reps": times,
            "min": min(times),
            "median": sorted(times)[len(times) // 2],
            "cpu": cpus,
            "cpu_min": min(cpus),
            "cpu_median": sorted(cpus)[len(cpus) // 2],
        }
    out["calib_after"] = _calib(spark)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
