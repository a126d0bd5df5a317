"""Closed-loop benchmark of dug_data_ingest_spark: one client, one
operation at a time, in one process, on a ``local[nproc]`` session.

    python3 perfbench/run.py --workload ingest|corpus|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Set-up starts the
session, writes the inputs under ``.perfbench/`` and warms the engine
(not the program's plans). Passes then repeat until ``--seconds`` have
elapsed, at least one. Every operation's output is checked on every
pass; registry queries are also compared in full with their DuckDB
oracle once per source revision (see perfbench/README.md).

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones, from traced passes. The
line above it is the run record (core count, code revision, seed,
input rows, sink kind, calibration probe, per-operation timings);
records and spans are also written under ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "dug_data_ingest_spark")
RUNS = os.path.join(ROOT, ".perfbench", "runs")

# Per-layer metrics reported by a traced run; a layer that did no work
# on a workload reports 0.
LAYER_METRICS = [
    f"{layer}.{m}"
    for layer in ("cli", "queries", "plans", "sources", "operators", "ext",
                  "functions", "streaming", "session")
    for m in ("calls", "self_s", "jobs")
] + [
    "sources.xml_dbgap.self_s", "sources.files.self_s", "sources.delta_sync.self_s",
    "ext.dedup.self_s", "ext.curation.self_s", "ext.similarity.self_s",
    "operators.joins.self_s", "operators.windows.self_s",
]
SPARK_METRICS = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.executor_cpu_s", "spark.gc_s", "spark.input_mb", "spark.output_mb",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.failed_tasks", "spark.single_task_stage_s",
]


def _process_start() -> float:
    """Epoch second this process started, from /proc."""
    with open("/proc/stat") as fh:
        btime = next(int(ln.split()[1]) for ln in fh if ln.startswith("btime"))
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _tree_digest(dirs: list[str]) -> str:
    """Digest of the Python sources under ``dirs``."""
    digest = hashlib.sha1()
    for top in dirs:
        for dirpath, dirnames, files in sorted(os.walk(top)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        digest.update(f.encode() + fh.read())
    return digest.hexdigest()[:16]


def _code_revision() -> str:
    """The git commit when there is one, else a digest of the package."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        lines = out.stdout.split()
        if out.returncode == 0 and os.path.realpath(lines[0]) == os.path.realpath(ROOT):
            return lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree-" + _tree_digest([PACKAGE_DIR])


def _calibrate() -> float:
    """Code-independent machine-speed probe: median of three 4-matmul
    reps of a fixed 512x512 matrix."""
    import numpy as np

    a0 = np.random.default_rng(7).random((512, 512))
    times = []
    for _ in range(3):
        a = a0
        t = time.perf_counter()
        for _ in range(4):
            a = a @ a % 1.0
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, samples)`` of the highest latency
    percentile that still has ten samples beyond it; the upper median
    when fewer than twenty samples leave no higher one."""
    xs = sorted(latencies)
    n = len(xs)
    idx = max(n - 11, n // 2)
    return xs[idx], 100.0 * (idx + 1) / n, n


def _unit(metric: str) -> str:
    last = metric.rsplit(".", 1)[-1]
    if last in ("calls", "jobs", "stages", "tasks", "failed_tasks"):
        return "count"
    if last.endswith("_s"):
        return "s"
    return "MB" if last.endswith("_mb") else "ratio"


class Run:
    def __init__(self, args, work: str, started: float) -> None:
        self.args = args
        self.revision = _tree_digest([PACKAGE_DIR, HERE])
        self.work = work
        self.started = started
        self.passes: list[dict] = []
        self.failures: list[str] = []
        self.op_count = 0

    # -- one pass -------------------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool) -> dict:
        tracer, reader, wl = self.tracer, self.reader, self.workload
        cpu0 = self.procs.cpu()
        t0 = time.perf_counter()
        bookkeeping = 0.0
        ops = []
        for name, fn in wl.ops(pass_no):
            self.op_count += 1
            op_id = self.op_count
            group = f"perfbench-{op_id}"
            reader.set_group(group, f"{wl.name}:{name}")
            tracer.op = op_id
            tracer.enabled = traced
            problem = None
            s = time.perf_counter()
            try:
                with tracer.span("op"):
                    problem = fn(tracer)
            except Exception as exc:  # noqa: BLE001 — one failed op, keep going
                problem = f"{type(exc).__name__}: {str(exc)[:300]}"
            latency = time.perf_counter() - s
            tracer.enabled = False
            op = {"op": op_id, "name": name, "latency_s": latency, "error": problem}
            if traced:
                b = time.perf_counter()
                op["job_times"], op["engine"], op["stages"] = reader.read(group)
                for kind in ("construct", "action"):
                    mine = [sp for sp in tracer.spans if sp.op == op_id and sp.name == kind]
                    op[f"{kind}_s"] = sum(sp.end - sp.start for sp in mine)
                    # JVM job times are whole milliseconds
                    op[f"{kind}_jobs"] = sum(
                        1 for t in op["job_times"] for sp in mine
                        if sp.start <= t + 0.0005 <= sp.end + 0.001
                    )
                if wl.name == "ingest" and name == "load":
                    op["changed_share"] = wl.changed_share()
                bookkeeping += time.perf_counter() - b
            reader.clear_group()
            ops.append(op)
        wall = time.perf_counter() - t0 - bookkeeping
        cpu1 = self.procs.cpu()
        for name, problem in wl.after_pass(pass_no).items():
            for op in ops:
                if op["name"] == name and not op["error"]:
                    op["error"] = problem
        for op in ops:
            if op["error"]:
                self.failures.append(f"pass {pass_no} {op['name']}: {op['error']}")
        return {
            "pass": pass_no,
            "traced": traced,
            "makespan_s": wall,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "ops": ops,
        }

    # -- the run --------------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        from engine import ProcTree, StageReader
        from spans import Tracer

        import workloads

        args = self.args
        self.tracer = Tracer()
        if args.trace:
            self.tracer.install()
        from dug_data_ingest_spark import session

        t = time.perf_counter()
        self.spark = spark = session.get_spark(f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        self.reader = StageReader(spark)
        self.procs = ProcTree()
        cache = workloads.VerifiedCache(
            os.path.join(ROOT, ".perfbench", "verified.json"), self.revision
        )
        self.workload = wl = workloads.make(args.workload, spark, self.work, args.seed, cache)
        # inputs are written three times and the median counts, so one
        # slow write does not move set-up time
        prepare = []
        for _ in range(3):
            t = time.perf_counter()
            wl.prepare()
            prepare.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm_up(spark, wl.inputs[0], os.path.join(self.work, "warm_up"), args.cpus)
        warm_up_s = time.perf_counter() - t
        setup_s = time.time() - self.started - sum(prepare) + statistics.median(prepare)

        deadline = time.perf_counter() + args.seconds
        pass_no = 0
        while not self.passes or time.perf_counter() < deadline:
            self.passes.append(self.run_pass(pass_no, traced=bool(args.trace)))
            pass_no += 1
        peak_rss = self.procs.peak_rss_mb()
        for slug, problem in wl.verify().items():
            for p in self.passes:
                for op in p["ops"]:
                    if op["name"] == slug and not op["error"]:
                        op["error"] = problem
                        self.failures.append(f"pass {p['pass']} {slug}: {problem}")

        makespan = statistics.median(p["makespan_s"] for p in self.passes)
        latencies = [op["latency_s"] for p in self.passes for op in p["ops"]]
        tail_s, tail_pct, n_ops = tail(latencies)
        counted = [op for p in self.passes for op in p["ops"]]
        failed = sum(1 for op in counted if op["error"])
        rows = wl.input_rows()
        end_to_end = {
            "setup_s": (setup_s, "s"),
            "makespan_s": (makespan, "s"),
            "rows_per_s": (rows / makespan, "1/s"),
            "op_p50_s": (statistics.median(latencies), "s"),
            "cpu_s": (statistics.median(sum(p["cpu"].values()) for p in self.passes), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": args.cpus,
            "code_revision": _code_revision(),
            "sources_digest": self.revision,
            "sink": wl.sink,
            "input_rows": wl.rows,
            "input_rows_per_pass": rows,
            "calibration_matmul_s": _calibrate(),
            "session_start_s": session_s,
            "prepare_s": prepare,
            "warm_up_s": warm_up_s,
            "op_tail_s": tail_s,
            "op_tail_percentile": tail_pct,
            "op_samples": n_ops,
            "failed_ops": failed / len(counted),
            "failures": self.failures[:20],
            "passes": [
                {"pass": p["pass"], "traced": p["traced"], "makespan_s": p["makespan_s"],
                 "cpu_s": p["cpu"], "ops": {op["name"]: op["latency_s"] for op in p["ops"]},
                 "split_s": {op["name"]: [op["construct_s"], op["action_s"]]
                             for op in p["ops"] if op.get("construct_s")}}
                for p in self.passes
            ],
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end.items()}
        if args.trace:
            metrics = self.layer_report(session_s, makespan)
        result = {
            "correct": failed == 0 and not self.failures,
            "attempted": len(counted),
            "failed": failed,
            "metrics": metrics,
        }
        return record, result

    def stop(self) -> None:
        """Stop the session and the JVM behind it, and wait for both."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- traced run -----------------------------------------------------------
    def layer_report(self, session_s: float, makespan: float) -> dict:
        from spans import layer_metrics

        traced = self.passes
        n = len(traced)
        ops = [op for p in traced for op in p["ops"]]
        op_ids = {op["op"] for op in ops}
        layers = layer_metrics(
            self.tracer, op_ids, {op["op"]: op["job_times"] for op in ops}
        )
        values = {k: layers.get(k, 0.0) / n for k in LAYER_METRICS}
        for k in SPARK_METRICS:
            values[k] = sum(op["engine"].get(k, 0.0) for op in ops) / n
        for kind in ("construct", "action"):
            values[f"{kind}_s"] = sum(op[f"{kind}_s"] for op in ops) / n
            values[f"{kind}.jobs"] = sum(op[f"{kind}_jobs"] for op in ops) / n
        if self.workload.name == "ingest":
            spans = [s for s in self.tracer.spans if s.op in op_ids]
            # the CLI jobs build and write in one call: construction is
            # the DataFrame building inside the pipeline plans
            plans = [s for s in spans if s.name.startswith("plans.")
                     and (s.parent < 0 or not self.tracer.spans[s.parent].name.startswith("plans."))]
            values["construct_s"] = sum(s.end - s.start for s in plans) / n
            values["action_s"] = statistics.fmean(p["makespan_s"] for p in traced) - values["construct_s"]
        values["spark.core_busy_share"] = values["spark.executor_run_s"] / (makespan * self.args.cpus)
        values["proc.pyworker_cpu_s"] = statistics.fmean(p["cpu"]["pyworker"] for p in traced)
        values["proc.jvm_cpu_s"] = statistics.fmean(p["cpu"]["jvm"] for p in traced)
        values["proc.driver_cpu_s"] = statistics.fmean(p["cpu"]["driver"] for p in traced)
        shares = [op["changed_share"] for op in ops if "changed_share" in op]
        values["sources.delta_sync.changed_share"] = statistics.fmean(shares) if shares else 0.0
        values["session.start_s"] = session_s
        untraced = self.untraced_makespan(self.args.cpus)
        values["trace.overhead_share"] = makespan / untraced - 1.0
        values["session.parallel_speedup"] = self.untraced_makespan(1) / untraced
        return {k: {"value": v, "unit": _unit(k)} for k, v in values.items()}

    def untraced_makespan(self, cpus: int) -> float:
        """Median makespan of the untraced runs of this workload and
        source revision at ``local[cpus]``, from their records in the
        checkout; with none recorded yet, one is run now in a child
        process."""
        found = []
        for name in os.listdir(RUNS):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(RUNS, name)) as fh:
                    run = json.load(fh)
                rec = run["record"]
            except (OSError, ValueError, KeyError):
                continue
            if (rec.get("workload"), rec.get("trace"), rec.get("nproc"),
                    rec.get("sources_digest")) == (
                    self.args.workload, 0, cpus, self.revision) and run["result"]["correct"]:
                found.append(run["result"]["metrics"]["makespan_s"]["value"])
        if found:
            return statistics.median(found)
        cmd = [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", self.args.workload, "--seed", str(self.args.seed),
            "--seconds", "1", "--trace", "0", "--cpus", str(cpus),
        ]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
        if out.returncode != 0:
            raise RuntimeError(f"untraced run at local[{cpus}] failed: {out.stderr[-2000:]}")
        return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["makespan_s"]["value"]


def warm_up(spark, parquet: str, out: str, cpus: int) -> None:
    """Program-independent engine warm-up: a shuffle, a parquet scan, a
    snapshot, Python workers through both Arrow UDF paths, and the
    parquet, CSV and JSON writers. The program's own plans stay cold,
    as in the weekly batch job, which starts a fresh process every run."""
    from pyspark.sql import functions as F

    df = spark.range(200_000, numPartitions=cpus).select(
        (F.col("id") % 97).alias("k"), F.col("id").cast("string").alias("v")
    )
    df.groupBy("k").agg(F.count("v")).localCheckpoint().collect()
    spark.read.parquet(parquet).count()
    df.mapInPandas(lambda batches: batches, df.schema).count()
    df.groupBy("k").applyInPandas(lambda pdf: pdf.head(1), df.schema).count()
    for fmt in ("parquet", "csv", "json"):
        df.write.mode("overwrite").format(fmt).save(os.path.join(out, fmt))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "corpus", "analytics"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = p.parse_args(argv)
    started = _process_start()
    if not os.path.isdir(PACKAGE_DIR):
        print(f"perfbench: no package at {PACKAGE_DIR}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(RUNS, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(args.cpus),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        # Python workers import the package by name, like the driver
        "PYTHONPATH": os.pathsep.join(
            d for d in (ROOT, os.environ.get("PYTHONPATH")) if d
        ),
    })
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    os.chdir(work)
    run = Run(args, work, started)
    try:
        record, result = run.execute()
    finally:
        run.stop()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    tag = os.path.join(RUNS, f"{args.workload}-seed{args.seed}-trace{args.trace}-cpus{args.cpus}")
    with open(f"{tag}.json", "w") as fh:
        json.dump({"record": record, "result": result}, fh, indent=1)
    if args.trace:
        run.tracer.dump(f"{tag}.spans.jsonl")
        with open(f"{tag}.stages.jsonl", "w") as fh:
            for p in run.passes:
                for op in p["ops"]:
                    for stage in op["stages"]:
                        fh.write(json.dumps({"pass": p["pass"], "op": op["name"], **stage}) + "\n")
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
