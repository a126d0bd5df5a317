"""Delta-sync sink behavior (sources/delta_sync.py): the rclone
``sync --track-renames --no-update-modtime`` contract — a re-run on
unchanged input touches ZERO objects and publishes no version; a
changed key rewrites only its own partition; identical bytes under a
new key become a directory move, not a re-upload."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dug_data_ingest_spark.sources import scratch_dir
from dug_data_ingest_spark.sources.delta_sync import (
    build_manifest,
    delta_sync_write,
)

SF_DIR = "/root/testdata/sf0.001"
CONTENT = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def _orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("k"),
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
    )


def _file_states(path: str) -> dict[str, float]:
    """{relative parquet path: mtime} under the data dir."""
    out = {}
    for root, _dirs, files in os.walk(os.path.join(path, "data")):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(root, f)
                out[os.path.relpath(full, path)] = os.path.getmtime(full)
    return out


@pytest.fixture()
def commits():
    calls = []
    return calls, lambda path, stats: calls.append((path, dict(stats)))


def test_rerun_on_unchanged_input_is_a_noop(spark, commits):
    calls, hook = commits
    path = scratch_dir("test-delta-sync-noop")
    df = _orders(spark)

    stats, _ = delta_sync_write(df, path, "k", CONTENT, commit_hook=hook)
    assert not stats["empty"] and stats["upload"] > 0
    assert len(calls) == 1
    before = _file_states(path)
    assert before

    stats2, actions2 = delta_sync_write(df, path, "k", CONTENT, commit_hook=hook)
    assert stats2["empty"]
    assert stats2["upload"] == stats2["delete"] == stats2["rename"] == 0
    assert {r.action for r in actions2} == {"keep"}
    # zero objects written, no version published
    assert _file_states(path) == before
    assert len(calls) == 1


def test_changed_key_rewrites_only_its_partition(spark, commits):
    calls, hook = commits
    path = scratch_dir("test-delta-sync-selective")
    df = _orders(spark)
    delta_sync_write(df, path, "k", CONTENT, commit_hook=hook)
    before = _file_states(path)
    target = df.select(F.min("k")).collect()[0][0]

    changed = df.withColumn(
        "o_orderstatus",
        F.when(F.col("k") == target, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    stats, actions = delta_sync_write(changed, path, "k", CONTENT, commit_hook=hook)
    assert stats["upload"] == 1 and stats["delete"] == stats["rename"] == 0
    by_key = {r.sync_key: r.action for r in actions}
    assert by_key[target] == "upload"
    after = _file_states(path)
    prefix = f"data{os.sep}k={target}{os.sep}"
    untouched = {p: t for p, t in before.items() if not p.startswith(prefix)}
    assert {p: t for p, t in after.items() if not p.startswith(prefix)} == untouched
    assert any(p.startswith(prefix) for p in after)
    assert len(calls) == 2


def test_rename_moves_bytes_server_side(spark, commits):
    calls, hook = commits
    path = scratch_dir("test-delta-sync-rename")
    df = _orders(spark)
    delta_sync_write(df, path, "k", CONTENT, commit_hook=hook)
    before = _file_states(path)
    target = df.select(F.min("k")).collect()[0][0]

    moved = df.withColumn(
        "k",
        F.when(F.col("k") == target, F.concat(F.lit("archive-"), F.col("k")))
        .otherwise(F.col("k")),
    )
    stats, actions = delta_sync_write(moved, path, "k", CONTENT, commit_hook=hook)
    assert stats == {
        "upload": 0, "delete": 0, "rename": 1,
        "keep": stats["keep"], "empty": False,
    }
    ren = [r for r in actions if r.action == "rename"]
    assert len(ren) == 1 and ren[0].sync_key == target
    assert ren[0].rename_to == f"archive-{target}"
    # the data files MOVED (os.rename preserves mtime): same basenames
    # and mtimes under the new directory, none under the old
    after = _file_states(path)
    old_prefix = f"data{os.sep}k={target}{os.sep}"
    new_prefix = f"data{os.sep}k=archive-{target}{os.sep}"
    assert not any(p.startswith(old_prefix) for p in after)
    moved_files = {
        p.replace(new_prefix, old_prefix): t
        for p, t in after.items()
        if p.startswith(new_prefix)
    }
    assert moved_files == {p: t for p, t in before.items() if p.startswith(old_prefix)}
    # read-back through the renamed layout still yields every row
    n = spark.read.parquet(os.path.join(path, "data")).count()
    assert n == df.count()


def test_deleted_key_is_removed(spark, commits):
    calls, hook = commits
    path = scratch_dir("test-delta-sync-delete")
    df = _orders(spark)
    delta_sync_write(df, path, "k", CONTENT, commit_hook=hook)
    target = df.select(F.min("k")).collect()[0][0]

    pruned = df.filter(F.col("k") != target)
    stats, _ = delta_sync_write(pruned, path, "k", CONTENT, commit_hook=hook)
    assert stats["delete"] == 1 and stats["upload"] == stats["rename"] == 0
    assert not os.path.exists(os.path.join(path, "data", f"k={target}"))
    # a third run is again a no-op against the updated manifest
    stats3, _ = delta_sync_write(pruned, path, "k", CONTENT, commit_hook=hook)
    assert stats3["empty"]


def test_unsafe_keys_fail_loudly_before_any_mutation(spark, commits):
    # Spark URL-escapes special characters in partition dir names; the
    # rename/delete paths address dirs by raw key, so unsafe keys are
    # rejected up front — BEFORE the store is touched
    calls, hook = commits
    path = scratch_dir("test-delta-sync-badkey")
    df = _orders(spark).withColumn(
        "k", F.concat(F.col("k"), F.lit(" bad/key"))
    )
    with pytest.raises(ValueError, match="delta-sync key"):
        delta_sync_write(df, path, "k", CONTENT, commit_hook=hook)
    assert calls == []
    assert not os.path.exists(os.path.join(path, "data"))


def test_null_key_fails_loudly_before_any_mutation(spark, commits):
    calls, hook = commits
    path = scratch_dir("test-delta-sync-nullkey")
    df = _orders(spark).withColumn(
        "k", F.when(F.col("o_orderkey") % 5 == 0, None).otherwise(F.col("k"))
    )
    with pytest.raises(ValueError, match="NULL"):
        delta_sync_write(df, path, "k", CONTENT, commit_hook=hook)
    assert calls == []
    assert not os.path.exists(os.path.join(path, "data"))


def test_row_hash_serialization_is_injective(spark):
    # concat_ws alone would collide ('x', NULL) with (NULL, 'x') —
    # Spark skips NULL args — and ('x|y', 'z') with ('x', 'y|z');
    # the length-prefixed, NULL-sentineled rendering keeps every
    # distinct row pair distinct, so a content change can never
    # fingerprint as 'keep'
    from dug_data_ingest_spark.sources.delta_sync import row_content_hash

    rows = [("x", None), (None, "x"), ("x|y", "z"), ("x", "y|z"),
            ("", None), (None, ""), ("2:a", "b"), ("a", "b")]
    df = spark.createDataFrame(rows, "a string, b string")
    hashes = [r.h for r in df.select(row_content_hash("a", "b").alias("h")).collect()]
    assert len(set(hashes)) == len(rows), hashes


def test_failed_delete_aborts_before_manifest_write(spark, commits, monkeypatch):
    # a delete that fails for any reason other than already-gone must
    # abort the sync BEFORE the manifest records the key as absent —
    # otherwise the stale partition serves forever and no later diff
    # can see it
    import dug_data_ingest_spark.sources.delta_sync as ds

    orig_rmtree = ds.shutil.rmtree
    calls, hook = commits
    path = scratch_dir("test-delta-sync-faildel")
    df = _orders(spark)
    delta_sync_write(df, path, "k", CONTENT)
    manifest_before = sorted(
        map(tuple, spark.read.parquet(os.path.join(path, "_sync_manifest")).collect())
    )

    gone = df.filter(F.col("k") != F.lit("1995-06"))  # one delete action

    def deny(p, *a, **kw):
        raise OSError(f"simulated EBUSY: {p}")

    monkeypatch.setattr(ds.shutil, "rmtree", deny)
    with pytest.raises(OSError, match="EBUSY"):
        delta_sync_write(gone, path, "k", CONTENT, commit_hook=hook)
    monkeypatch.setattr(ds.shutil, "rmtree", orig_rmtree)

    # manifest untouched, hook never fired: the re-run still sees the
    # key and re-applies the delete
    manifest_after = sorted(
        map(tuple, spark.read.parquet(os.path.join(path, "_sync_manifest")).collect())
    )
    assert manifest_after == manifest_before
    assert calls == []
    stats, _ = delta_sync_write(gone, path, "k", CONTENT)
    assert stats["delete"] == 1


# --- whole-store invariant: after syncing gen1 then gen2, the store
# --- IS gen2 — for ANY interleaving of adds/changes/renames/deletes
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_KEYS = [f"k{i}" for i in range(6)]
_gen = st.dictionaries(
    st.sampled_from(_KEYS),
    st.lists(
        st.integers(min_value=0, max_value=99), min_size=1, max_size=5
    ),
    min_size=1,
    max_size=6,
)


# gate=None exercises the driver-side rclone-list diff; gate=0 forces
# every sync through the escalated diff_manifests path — both pinned
# to the same "store ends exactly at generation 2" model
@pytest.mark.parametrize("gate", [None, 0])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(gen1=_gen, gen2=_gen)
def test_store_equals_generation_two_after_any_sync(
    spark, monkeypatch, gate, gen1, gen2
):
    import shutil
    import tempfile

    from dug_data_ingest_spark.sources import delta_sync as ds

    if gate is not None:
        monkeypatch.setattr(ds, "_DRIVER_DIFF_MAX_KEYS", gate)

    def _df(gen):
        rows = [(k, v) for k, vs in gen.items() for v in vs]
        return spark.createDataFrame(rows, "k string, v int")

    path = tempfile.mkdtemp(prefix="delta-sync-prop-")
    try:
        delta_sync_write(_df(gen1), path, "k", ["v"])
        stats, _ = delta_sync_write(_df(gen2), path, "k", ["v"])
        back = spark.read.parquet(os.path.join(path, "data"))
        got = sorted((r.k, r.v) for r in back.collect())
        want = sorted((k, v) for k, vs in gen2.items() for v in vs)
        assert got == want
        # and a third pass is a no-op
        stats3, _ = delta_sync_write(_df(gen2), path, "k", ["v"])
        assert stats3["empty"]
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_crashed_sync_rerun_converges(spark, commits):
    # simulate dying AFTER the rename/delete/upload landed but BEFORE
    # the manifest write: restore the old manifest, re-run the same
    # sync — the re-diff re-applies idempotently (the already-moved
    # rename is skipped, the upload overwrites, the delete is a no-op)
    # and the store ends exactly at generation 2
    import shutil as sh

    calls, hook = commits
    path = scratch_dir("test-delta-sync-crash")
    df = _orders(spark)
    delta_sync_write(df, path, "k", CONTENT, commit_hook=hook)
    manifest = os.path.join(path, "_sync_manifest")
    backup = os.path.join(path, "_sync_manifest.bak")
    sh.copytree(manifest, backup)

    keys = sorted(r.k for r in df.select("k").distinct().collect())
    moved, changed, dropped = keys[0], keys[1], keys[2]
    gen2 = (
        df.filter(F.col("k") != dropped)
        .withColumn(
            "k",
            F.when(F.col("k") == moved, F.concat(F.lit("archive-"), F.col("k")))
            .otherwise(F.col("k")),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("k") == changed, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
    )
    stats, _ = delta_sync_write(gen2, path, "k", CONTENT, commit_hook=hook)
    assert stats["rename"] == 1 and stats["delete"] == 1 and stats["upload"] == 1

    # "crash": the apply landed but the manifest write did not
    sh.rmtree(manifest)
    sh.copytree(backup, manifest)
    stats2, _ = delta_sync_write(gen2, path, "k", CONTENT, commit_hook=hook)
    assert stats2["rename"] == 1  # skipped as already-applied, not an error
    back = spark.read.parquet(os.path.join(path, "data"))
    assert sorted(map(tuple, back.select(*CONTENT, "k").collect())) == sorted(
        map(tuple, gen2.select(*CONTENT, "k").collect())
    )
    # and now the manifest is current: a third run is a no-op
    stats3, _ = delta_sync_write(gen2, path, "k", CONTENT, commit_hook=hook)
    assert stats3["empty"]


def test_one_file_per_partition_dir(spark):
    # keyed repartition before the write: file count is bounded by the
    # number of sync keys, not (input tasks x keys) — weekly re-syncs
    # must not accrete files
    path = scratch_dir("test-delta-sync-files")
    df = _orders(spark).repartition(16)  # deliberately many input tasks
    delta_sync_write(df, path, "k", CONTENT)
    n_keys = df.select("k").distinct().count()
    files = _file_states(path)
    assert len(files) == n_keys, (len(files), n_keys)


def _last_stage_tasks(sc, group: str) -> int:
    """Task count of the last stage the group's last job ran."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    last_job = store.job(max(sc.statusTracker().getJobIdsForGroup(group)))
    ids = last_job.stageIds()
    return store.lastStageAttempt(
        max(ids.apply(i) for i in range(ids.length()))
    ).numTasks()


@pytest.mark.parametrize("n_keys", [3, 40])
def test_publish_write_runs_one_task_per_key_up_to_shuffle_width(spark, n_keys):
    # the changed-partition write is cost-per-file: AQE must not
    # coalesce it by bytes into one task; each key dir still gets
    # exactly one part file
    sc = spark.sparkContext
    path = scratch_dir(f"test-delta-sync-width-{n_keys}")
    keys = [r.k for r in _orders(spark).select("k").distinct().orderBy("k").limit(n_keys).collect()]
    assert len(keys) == n_keys
    df = _orders(spark).filter(F.col("k").isin(keys)).repartition(16)
    group = f"test-delta-sync-width-{n_keys}"
    sc.setJobGroup(group, "delta-sync publish width")
    try:
        stats, _ = delta_sync_write(df, path, "k", CONTENT)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats["upload"] == n_keys
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _last_stage_tasks(sc, group) == min(n_keys, width)
    dirs = {os.path.dirname(f) for f in _file_states(path)}
    assert len(dirs) == n_keys and len(_file_states(path)) == n_keys


def test_manifest_is_order_insensitive(spark):
    df = _orders(spark)
    m1 = build_manifest(df, "k", CONTENT)
    m2 = build_manifest(df.repartition(7).sortWithinPartitions("o_custkey"), "k", CONTENT)
    assert sorted(map(tuple, m1.collect())) == sorted(map(tuple, m2.collect()))


# ---------------------------------------------------------------------------
# Size-gated escalation: above _DRIVER_DIFF_MAX_KEYS the diff runs as
# the diff_manifests DataFrame plan (churn-bounded collect) instead of
# the in-memory rclone file-list model. Forcing the gate to 0 pins the
# escalated path to the driver path on identical generations: same
# stats, same applied store, same stored manifest, and an action plan
# that is exactly the driver plan minus its keep rows.
# ---------------------------------------------------------------------------


def test_escalated_diff_matches_driver_path(spark, commits, monkeypatch):
    from dug_data_ingest_spark.sources import delta_sync as ds

    # force the semi-join staging branch too (churn > _ISIN_MAX_KEYS)
    monkeypatch.setattr(ds, "_ISIN_MAX_KEYS", 0)
    calls, hook = commits
    gen1 = _orders(spark)
    target = gen1.select(F.min("k")).collect()[0][0]
    moved = gen1.select(F.max("k")).collect()[0][0]
    dropped = gen1.select("k").distinct().orderBy("k").collect()[1][0]
    gen2 = (
        gen1.filter(F.col("k") != dropped)  # delete
        .withColumn(
            "o_orderstatus",  # change one key
            F.when(F.col("k") == target, F.lit("X")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .withColumn(
            "k",  # move one key's identical bytes -> rename
            F.when(F.col("k") == moved, F.lit("archive-key")).otherwise(
                F.col("k")
            ),
        )
    )

    drv = scratch_dir("test-delta-sync-gate-driver")
    esc = scratch_dir("test-delta-sync-gate-escalated")
    delta_sync_write(gen1, drv, "k", CONTENT)
    d_stats, d_actions = delta_sync_write(gen2, drv, "k", CONTENT, commit_hook=hook)
    monkeypatch.setattr(ds, "_DRIVER_DIFF_MAX_KEYS", 0)
    delta_sync_write(gen1, esc, "k", CONTENT)
    e_stats, e_actions = delta_sync_write(
        gen2, esc, "k", CONTENT, commit_hook=hook
    )

    # every action type exercised, both paths agree on the counts
    assert d_stats["upload"] >= 1 and d_stats["delete"] >= 1
    assert d_stats["rename"] == 1 and d_stats["keep"] >= 1
    assert e_stats == d_stats
    # escalated plan = driver plan minus the keep rows
    want = sorted(tuple(a) for a in d_actions if a.action != "keep")
    assert sorted(tuple(a) for a in e_actions) == want
    # both stores converged to generation 2
    d_back = spark.read.parquet(os.path.join(drv, "data"))
    e_back = spark.read.parquet(os.path.join(esc, "data"))
    assert sorted(map(tuple, d_back.collect())) == sorted(
        map(tuple, e_back.collect())
    )
    # and the Spark-written manifest reads back identical to pyarrow's
    from dug_data_ingest_spark.sources.delta_sync import _read_manifest_rows

    d_mf = sorted(_read_manifest_rows(os.path.join(drv, "_sync_manifest")))
    e_mf = sorted(_read_manifest_rows(os.path.join(esc, "_sync_manifest")))
    assert d_mf == e_mf
    assert len(calls) == 2  # both second syncs published

    # unchanged escalated re-run: empty stats, keep-only (so no
    # actions at all), zero objects touched, no version published
    before = _file_states(esc)
    stats3, actions3 = delta_sync_write(gen2, esc, "k", CONTENT, commit_hook=hook)
    assert stats3["empty"] and actions3 == []
    assert stats3["keep"] == len(e_mf)
    assert _file_states(esc) == before
    assert len(calls) == 2


def test_escalated_bad_key_fails_loudly_before_any_mutation(
    spark, commits, monkeypatch
):
    from dug_data_ingest_spark.sources import delta_sync as ds

    monkeypatch.setattr(ds, "_DRIVER_DIFF_MAX_KEYS", 0)
    calls, hook = commits
    path = scratch_dir("test-delta-sync-gate-badkey")
    bad = _orders(spark).withColumn(
        "k", F.concat(F.col("k"), F.lit(" bad/key"))
    )
    with pytest.raises(ValueError, match="delta-sync key"):
        delta_sync_write(bad, path, "k", CONTENT, commit_hook=hook)
    nullk = _orders(spark).withColumn(
        "k", F.when(F.col("o_orderkey") % 5 == 0, None).otherwise(F.col("k"))
    )
    with pytest.raises(ValueError, match="NULL"):
        delta_sync_write(nullk, path, "k", CONTENT, commit_hook=hook)
    assert calls == []
    assert not os.path.exists(os.path.join(path, "data"))
