"""Delta-sync object-store sink: write only what changed.

The reference publishes with ``rclone sync --track-renames
--no-update-modtime`` (scripts/bdc/ingest.sh:82;
scripts/heal/ingest.sh:40-48): unchanged files are never re-uploaded,
a file whose bytes moved to a new path becomes a server-side rename
instead of a delete + re-upload, and files gone from the source are
deleted from the target. ``snk-object-store``'s write-then-commit
covered the versioning half; this module adds the only-what-changed
half as a content-hash manifest diff:

- ``build_manifest`` rolls the staged DataFrame up to one row per sync
  key (= one object/partition dir): ``(sync_key, n_rows, content_hash,
  content_sum)``. The hash is order-insensitive and fully distributed
  — a bit_xor + modular sum of per-row 60-bit md5 hashes, no per-key
  sort, no collect_list — so the manifest build is one map-side-
  combined groupBy whatever the corpus size.
- ``diff_manifest_rows`` classifies every key across two manifests:
  ``keep`` (identical), ``upload`` (new or changed), ``delete``
  (gone), ``rename`` (a deleted key whose exact content fingerprint
  reappears under an added key — rclone's --track-renames; ranked
  pairing keeps the match deterministic when several keys share a
  fingerprint). The diff runs DRIVER-SIDE in plain Python: the
  manifest is the rclone file list, key-cardinality bounded and
  already collected for the apply loop — running it as Spark jobs
  would spend four shuffles on a list that fits in a dict.
  ``diff_manifests`` is the same classification as a DataFrame plan,
  for diffing two STORED manifests that never need to reach the
  driver (manifest-vs-manifest analytics); both implementations are
  pinned to one reference model in
  tests/test_delta_sync_properties.py.
- ``delta_sync_write`` applies the plan: rewrites ONLY the changed/new
  partition directories (dynamic partition overwrite), renames moved
  directories in place (no data bytes rewritten — the server-side-move
  analogue), deletes vanished ones, refreshes the stored manifest, and
  fires the LakeFS commit hook ONLY when something changed — a re-run
  on unchanged input touches zero objects and publishes no version.
  The stored manifest is read/written with pyarrow on the driver (it
  is driver-resident either way); the layout stays a Spark-readable
  parquet directory, so existing stores and external readers are
  unaffected. The ONLY Spark jobs in a sync are the two data-sized
  passes: the fingerprint scan and the changed-partition write.

Manifest cardinality = number of sync keys (objects), the same list
rclone holds in memory; the one driver-side ``collect()`` here is
bounded by that, never by row count.

The apply step's ``os.rename`` / ``shutil.rmtree`` are the local-
FileSystem binding of operations that are server-side API calls on a
real object store (S3 copy+delete, LakeFS object move, HDFS rename) —
key-cardinality-many metadata calls, never data movement; swapping the
binding does not touch the manifest/diff logic.

The per-row hash is computable identically in DuckDB
(``CAST(concat('0x', substr(md5(row), 1, 15)) AS BIGINT)``), which is
what lets the registered ``snk-delta-sync`` query check the whole
diff — including rename pairing — against a SQL oracle.
"""

from __future__ import annotations

import os
import re
import shutil
from collections import namedtuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dug_data_ingest_spark.functions.constants import free_name

# 15 hex chars = 60 bits: fits a signed 64-bit int in both engines
_HASH_HEX_CHARS = 15
# modular sum keeps the checksum wrap-free in both engines: 2^30-bound
# terms sum past 2^63 only after ~2^33 rows PER KEY
_SUM_MOD = 1 << 30

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("sync_key", T.StringType(), False),
        T.StructField("n_rows", T.LongType(), False),
        T.StructField("content_hash", T.LongType(), False),
        T.StructField("content_sum", T.LongType(), False),
    ]
)

ACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("sync_key", T.StringType(), False),
        T.StructField("action", T.StringType(), False),
        T.StructField("rename_to", T.StringType(), True),
        T.StructField("n_rows", T.LongType(), True),
    ]
)

# one row of the action plan / the stored manifest, attribute-compatible
# with the Rows a DataFrame collect() would yield and accepted
# positionally by createDataFrame(…, ACTIONS_SCHEMA)
Action = namedtuple("Action", ["sync_key", "action", "rename_to", "n_rows"])
ManifestRow = namedtuple(
    "ManifestRow", ["sync_key", "n_rows", "content_hash", "content_sum"]
)


def row_content_hash(*cols: Column | str) -> Column:
    """Cross-engine 60-bit row fingerprint: md5 of a TOTAL row
    serialization, first 15 hex chars parsed base-16.

    The serialization is injective, not just a '|'-join: each column
    renders as ``<length>:<value>`` with NULL as a bare sentinel, so
    (a) a NULL can never shift later columns into earlier positions
    (Spark's concat_ws silently skips NULL args — ('x', NULL) and
    (NULL, 'x') would both join to 'x'), and (b) a separator INSIDE a
    value can never re-segment the row (('x|y', 'z') vs ('x', 'y|z')
    — the length prefix pins each field's extent). Without both, a
    real content change could fingerprint identically and diff as
    'keep', silently never syncing. DuckDB mirror:
    ``COALESCE(length(CAST(c AS VARCHAR)) || ':' || CAST(c AS
    VARCHAR), '<NULL>')`` joined with '|'."""
    rendered = [
        F.coalesce(
            F.concat(
                F.length(F.col(c).cast("string") if isinstance(c, str) else c.cast("string")),
                F.lit(":"),
                F.col(c).cast("string") if isinstance(c, str) else c.cast("string"),
            ),
            F.lit("<NULL>"),
        )
        for c in cols
    ]
    joined = F.concat_ws("|", *rendered)
    return F.conv(F.substring(F.md5(joined), 1, _HASH_HEX_CHARS), 16, 10).cast(
        "bigint"
    )


def build_manifest(
    df: DataFrame, key_col: Column | str, content_cols: list
) -> DataFrame:
    """One row per sync key: ``(sync_key, n_rows, content_hash,
    content_sum)``. Order-insensitive (xor) so the manifest doesn't
    depend on partition order, plus a modular sum so a change that
    swaps an even multiplicity of duplicate rows (which xor alone
    cancels) still flips the fingerprint."""
    h = row_content_hash(*content_cols)
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return (
        df.select(key.cast("string").alias("sync_key"), h.alias("h"))
        .groupBy("sync_key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("content_hash"),
            F.sum(F.col("h") % F.lit(_SUM_MOD)).alias("content_sum"),
        )
    )


def diff_manifests(prev: DataFrame, curr: DataFrame) -> DataFrame:
    """Classify every key across two manifests.

    Returns ``(sync_key, action, rename_to, n_rows)`` with action in
    {keep, upload, delete, rename}; a ``rename`` row carries the OLD
    key with ``rename_to`` = the new key, and the new key does NOT
    also appear as an upload (rclone --track-renames: the bytes move
    server-side). When several keys share one content fingerprint,
    adds and deletes are ranked by key and paired rank-to-rank, so
    the pairing is deterministic in any engine.
    """
    p = prev.select(
        "sync_key",
        F.col("n_rows").alias("p_rows"),
        F.col("content_hash").alias("p_hash"),
        F.col("content_sum").alias("p_sum"),
    )
    c = curr.select(
        "sync_key",
        F.col("n_rows").alias("c_rows"),
        F.col("content_hash").alias("c_hash"),
        F.col("content_sum").alias("c_sum"),
    )
    j = p.join(c, "sync_key", "full_outer")
    base = j.select(
        "sync_key",
        F.when(F.col("p_rows").isNull(), F.lit("added"))
        .when(F.col("c_rows").isNull(), F.lit("deleted"))
        .when(
            (F.col("p_rows") == F.col("c_rows"))
            & (F.col("p_hash") == F.col("c_hash"))
            & (F.col("p_sum") == F.col("c_sum")),
            F.lit("keep"),
        )
        .otherwise(F.lit("changed"))
        .alias("state"),
        F.coalesce("c_rows", "p_rows").alias("n_rows"),
        F.coalesce("c_hash", "p_hash").alias("content_hash"),
        F.coalesce("c_sum", "p_sum").alias("content_sum"),
    )

    fp = ["n_rows", "content_hash", "content_sum"]
    rank_w = Window.partitionBy(*fp).orderBy("sync_key")
    adds = base.filter(F.col("state") == "added").select(
        *fp, F.col("sync_key").alias("new_key"), F.row_number().over(rank_w).alias("rk")
    )
    dels = base.filter(F.col("state") == "deleted").select(
        *fp, F.col("sync_key").alias("old_key"), F.row_number().over(rank_w).alias("rk")
    )
    renames = dels.join(adds, fp + ["rk"]).select("old_key", "new_key")

    out = (
        base.join(
            renames.withColumnRenamed("old_key", "sync_key"),
            "sync_key",
            "left",
        )
        .join(
            renames.select(F.col("new_key").alias("sync_key"), F.lit(1).alias("consumed")),
            "sync_key",
            "left",
        )
        .filter(F.col("consumed").isNull())  # renamed-to keys vanish
        .select(
            "sync_key",
            F.when(F.col("new_key").isNotNull(), F.lit("rename"))
            .when(F.col("state").isin("added", "changed"), F.lit("upload"))
            .when(F.col("state") == "deleted", F.lit("delete"))
            .otherwise(F.lit("keep"))
            .alias("action"),
            F.col("new_key").alias("rename_to"),
            "n_rows",
        )
    )
    return out


def diff_manifest_rows(prev_rows, curr_rows) -> list[Action]:
    """Driver-side twin of ``diff_manifests``: same classification and
    ranked rename pairing, as plain Python over the in-memory manifest
    (the rclone file list — key-cardinality bounded by construction).
    Rows need ``sync_key / n_rows / content_hash / content_sum``
    attributes; output is sorted by sync_key so the plan is
    deterministic without a Spark sort. Both implementations are held
    to one reference model in tests/test_delta_sync_properties.py."""
    prev = {r.sync_key: (r.n_rows, r.content_hash, r.content_sum) for r in prev_rows}
    curr = {r.sync_key: (r.n_rows, r.content_hash, r.content_sum) for r in curr_rows}

    adds = sorted(k for k in curr if k not in prev)
    dels = sorted(k for k in prev if k not in curr)
    # rank pairing: the i-th deleted key (key order) of a fingerprint
    # pairs with the i-th added key of the SAME full fingerprint
    adds_by_fp: dict[tuple, list[str]] = {}
    for k in adds:
        adds_by_fp.setdefault(curr[k], []).append(k)
    rename_to: dict[str, str] = {}
    for k in dels:
        bucket = adds_by_fp.get(prev[k])
        if bucket:
            rename_to[k] = bucket.pop(0)
    consumed = set(rename_to.values())

    out: list[Action] = []
    for k in sorted(set(prev) | set(curr)):
        if k in consumed:
            continue  # rename target vanishes from the plan
        n_rows = curr[k][0] if k in curr else prev[k][0]
        if k in rename_to:
            out.append(Action(k, "rename", rename_to[k], n_rows))
        elif k not in curr:
            out.append(Action(k, "delete", None, n_rows))
        elif k not in prev or prev[k] != curr[k]:
            out.append(Action(k, "upload", None, n_rows))
        else:
            out.append(Action(k, "keep", None, n_rows))
    return out


def _read_manifest_rows(manifest_path: str) -> list[ManifestRow]:
    """Stored manifest → driver rows, no Spark job. pyarrow's dataset
    reader skips ``_``/``.``-prefixed files by default, so both the
    legacy Spark-written directory (with its _SUCCESS marker) and the
    pyarrow-written one read identically."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(manifest_path, columns=[f.name for f in MANIFEST_SCHEMA])
    return [ManifestRow(**d) for d in tbl.to_pylist()]


def _stage_and_swap(manifest_path: str, write_into_tmp) -> None:
    """The ONE crash-consistency envelope both manifest writers share:
    ``write_into_tmp(tmp_dir)`` populates a sibling temp dir, which
    then replaces the stored manifest — so a crash mid-write leaves
    either the old manifest or none, never a torn one (a missing
    manifest re-uploads everything on the next run: wasteful but
    convergent, the same failure envelope as an overwrite-mode Spark
    write)."""
    tmp = manifest_path + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    write_into_tmp(tmp)
    if os.path.exists(manifest_path):
        shutil.rmtree(manifest_path)
    os.rename(tmp, manifest_path)


def _write_manifest_rows(rows, manifest_path: str) -> None:
    """Replace the stored manifest with ``rows`` (driver-side pyarrow
    write, Spark-readable parquet directory), via ``_stage_and_swap``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pylist(
        [
            {
                "sync_key": r.sync_key,
                "n_rows": r.n_rows,
                "content_hash": r.content_hash,
                "content_sum": r.content_sum,
            }
            for r in rows
        ],
        schema=pa.schema(
            [
                pa.field("sync_key", pa.string(), nullable=False),
                pa.field("n_rows", pa.int64(), nullable=False),
                pa.field("content_hash", pa.int64(), nullable=False),
                pa.field("content_sum", pa.int64(), nullable=False),
            ]
        ),
    )
    def _write(tmp: str) -> None:
        os.makedirs(tmp)
        pq.write_table(tbl, os.path.join(tmp, "part-00000.parquet"))

    _stage_and_swap(manifest_path, _write)


# Spark URL-escapes partition values containing special characters
# ("a b" → "a%20b") when writing <col>=<value> directories; the
# rename/delete paths below address directories by RAW key and would
# silently miss escaped ones. Rather than replicate Spark's escaping
# (a moving target), delta-sync constrains sync keys to the characters
# Spark writes verbatim and fails loudly otherwise — a sync key is an
# object name, not free text.
_SAFE_KEY = re.compile(r"^[A-Za-z0-9._-]+$")


def _checked_key(key: str) -> str:
    if key is None:
        raise ValueError(
            "delta-sync key is NULL; a sync key is an object name — "
            "filter or coalesce NULL keys before syncing (NULL never "
            "equals NULL in the manifest join, so a NULL key could "
            "not even be tracked as unchanged)"
        )
    if not _SAFE_KEY.match(key):
        raise ValueError(
            f"delta-sync key {key!r} contains characters Spark would "
            "escape in partition directory names; keys must match "
            "[A-Za-z0-9._-]+ (derive a slug first)"
        )
    return key


def _partition_dir(data_path: str, key_col: str, key: str) -> str:
    return os.path.join(data_path, f"{key_col}={_checked_key(key)}")


# Above this many sync keys the driver no longer holds the manifest:
# delta_sync_write escalates from the in-memory rclone-style diff to
# the diff_manifests DataFrame plan and collects ONLY the non-keep
# actions (churn-bounded, not cardinality-bounded). 1 Mi keys ≈ 64 MiB
# of manifest rows — comfortably driver-resident below, and a store
# with more objects than that has no business round-tripping its whole
# file list through the driver on every sync.
_DRIVER_DIFF_MAX_KEYS = 1 << 20

# Largest changed-key set staged through a literal IN-filter; larger
# churn semi-joins against a keys relation instead (an IN with
# millions of terms bloats the plan tree itself).
_ISIN_MAX_KEYS = 10_000


def _validate_keys_distributed(curr_mf: DataFrame) -> None:
    """The escalated twin of the per-row ``_checked_key`` loop: find
    any NULL / unsafe sync key WITHOUT collecting the manifest, and
    raise the same descriptive ValueError on the first offender. The
    filter reuses _SAFE_KEY.pattern so the two validation paths cannot
    drift; if they somehow disagree anyway, fail loudly rather than
    letting an escalated sync proceed where the driver path would
    refuse."""
    bad = (
        curr_mf.filter(
            F.col("sync_key").isNull()
            | ~F.col("sync_key").rlike(_SAFE_KEY.pattern)
        )
        .select("sync_key")
        .take(1)
    )
    if bad:
        _checked_key(bad[0].sync_key)  # raises the canonical ValueError
        raise AssertionError(
            f"sync key {bad[0].sync_key!r} failed the distributed "
            "validation filter but passed _checked_key — the two "
            "validation paths have drifted"
        )


def _write_manifest_df(curr_mf: DataFrame, manifest_path: str) -> None:
    """Escalated twin of ``_write_manifest_rows``: the manifest frame
    (already localCheckpoint-materialized, so this re-reads checkpoint
    blocks, never the source data) is written by Spark into a sibling
    temp dir and swapped in — same torn-write envelope as the driver
    path (old manifest or none, never half — ``_stage_and_swap``)."""
    _stage_and_swap(
        manifest_path,
        lambda tmp: curr_mf.write.mode("overwrite").parquet(tmp),
    )


def delta_sync_write(
    df: DataFrame,
    path: str,
    key_col: str,
    content_cols: list,
    commit_hook=None,
) -> tuple[dict, list]:
    """Sync ``df`` into ``path`` keyed by ``key_col``, touching only
    what changed. Returns ``(stats, actions)`` where stats counts each
    action (plus ``"empty"``) and actions is the collected plan rows
    (key-cardinality bounded — the rclone file list, not the data).

    Layout: ``path/data/<key_col>=<key>/*.parquet`` + the manifest at
    ``path/_sync_manifest``. The commit hook fires only on a non-empty
    sync, so an unchanged re-run publishes no version (LakeFS never
    even sees an empty commit).

    Crash consistency: the manifest is written LAST, after every
    rename/delete/upload landed. A sync that dies mid-apply leaves the
    previous manifest in place, so the re-run re-diffs against the old
    fingerprints and re-applies the remaining (idempotent) actions —
    convergent, never silently missing work. The commit hook fires
    after the manifest, so a published version always reflects a fully
    applied sync.

    ``df`` is scanned exactly twice: once to fingerprint (the
    "checksum everything" pass rclone also pays — materialized via an
    eager localCheckpoint, so every later use of the manifest reads
    checkpoint blocks, never the source) and once to write the changed
    partitions — the only data-sized Spark jobs in a sync.

    The diff itself is size-gated on key cardinality. At or below
    ``_DRIVER_DIFF_MAX_KEYS`` (1 Mi) keys the manifest is COLLECTED and the
    diff runs driver-side on the in-memory list (the rclone file-list
    model — cheapest by far at the reference's 12-repo fan-out, zero
    shuffles). Above it — a store whose file list no longer belongs in
    driver memory — the diff escalates to the ``diff_manifests``
    DataFrame plan and collects ONLY the non-keep actions, so driver
    memory is bounded by CHURN, not store size. Both paths are pinned
    to the same reference model in tests/test_delta_sync_properties.py
    and apply identically; the escalated action plan simply omits the
    ``keep`` rows (``stats["keep"]`` still counts them). Either way
    the stored manifest is written back from the checkpointed
    fingerprint pass — never recomputed from ``df`` — so the manifest
    on disk always records exactly the fingerprints the diff saw,
    even if ``df`` is non-deterministic or its source changed
    mid-sync.
    """
    data_path = os.path.join(path, "data")
    manifest_path = os.path.join(path, "_sync_manifest")

    curr_mf = build_manifest(df, key_col, content_cols).localCheckpoint(
        eager=True
    )
    n_curr = curr_mf.count()  # checkpoint-sized job, not a data scan
    escalate = n_curr > _DRIVER_DIFF_MAX_KEYS

    if not escalate:
        curr_rows = curr_mf.collect()
        for r in curr_rows:
            if r.sync_key is None:
                _checked_key(None)  # descriptive ValueError
        if os.path.exists(manifest_path):
            prev_rows = _read_manifest_rows(manifest_path)
        else:
            prev_rows = []
        actions = diff_manifest_rows(prev_rows, curr_rows)
    else:
        _validate_keys_distributed(curr_mf)
        spark = df.sparkSession
        if os.path.exists(manifest_path):
            prev_mf = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)
        else:
            prev_mf = spark.createDataFrame([], MANIFEST_SCHEMA)
        actions = [
            Action(r.sync_key, r.action, r.rename_to, r.n_rows)
            for r in diff_manifests(prev_mf, curr_mf)
            .filter(F.col("action") != "keep")
            .collect()
        ]
    stats = {"upload": 0, "delete": 0, "rename": 0, "keep": 0}
    for row in actions:
        stats[row.action] += 1
    if escalate:
        # current keys = keeps + uploads + rename targets, so the keep
        # count needs no extra Spark job (and no collected keep rows)
        stats["keep"] = n_curr - stats["upload"] - stats["rename"]
    # validate EVERY plan key before any mutation: a partial apply that
    # stops at the first bad key would leave store and manifest
    # disagreeing
    for row in actions:
        _checked_key(row.sync_key)
        if row.rename_to is not None:
            _checked_key(row.rename_to)
    stats["empty"] = stats["upload"] + stats["delete"] + stats["rename"] == 0
    if stats["empty"]:
        return stats, actions

    # server-side moves first: no data bytes rewritten. A rename whose
    # source is gone but whose target exists was already applied by a
    # prior partial run (crash between apply and manifest write) —
    # skip it so re-runs converge instead of raising.
    for row in actions:
        if row.action == "rename":
            src = _partition_dir(data_path, key_col, row.sync_key)
            dst = _partition_dir(data_path, key_col, row.rename_to)
            if not os.path.exists(src) and os.path.exists(dst):
                continue
            os.rename(src, dst)
    for row in actions:
        if row.action == "delete":
            # only a MISSING dir is tolerable (a prior partial run
            # already applied this delete — the crash-rerun case). Any
            # other failure must abort BEFORE the manifest write:
            # swallowing it would record the key as gone while its
            # data still serves, divergence no later diff can see.
            try:
                shutil.rmtree(_partition_dir(data_path, key_col, row.sync_key))
            except FileNotFoundError:
                pass
    to_write = [r.sync_key for r in actions if r.action == "upload"]
    if to_write:
        # dynamic overwrite: only the partitions present in the
        # filtered frame are replaced; everything else is untouched.
        # Per-writer option, not the session conf — mutating the
        # global conf would race any concurrent write on the session.
        # Repartition by the sync key first: an unshuffled partitioned
        # write emits up to (input tasks × keys) files — file-count
        # rot that compounds across weekly syncs at scale; keyed
        # repartition bounds it at one file per partition dir (cap a
        # hot key's file size with spark.sql.files.maxRecordsPerFile).
        staged = df
        if len(to_write) < n_curr:
            if len(to_write) <= _ISIN_MAX_KEYS:
                staged = staged.filter(
                    F.col(key_col).cast("string").isin(to_write)
                )
            else:
                # a churn set too big for an IN-literal becomes a semi
                # join: the key list ships as a real (broadcastable)
                # relation instead of a million-term predicate the
                # optimizer would choke parsing. The staging column
                # name is a free_name — overwriting a real column
                # named __sync_key would silently drop it from the
                # written data on this path only.
                stage_col = free_name(staged.columns, "__sync_key")
                keys_df = df.sparkSession.createDataFrame(
                    [(k,) for k in to_write], f"{stage_col} string"
                )
                staged = (
                    staged.withColumn(
                        stage_col, F.col(key_col).cast("string")
                    )
                    .join(keys_df, stage_col, "left_semi")
                    .drop(stage_col)
                )
        # else: every current key uploads (e.g. the initial publish
        # into an empty store) — the membership filter would pass all
        # rows, so skip evaluating it.
        # The write's width is explicit, min(changed keys, shuffle
        # partitions): a width-less repartition lets AQE coalesce it by
        # bytes, so a small publish wrote every key dir from one task,
        # while this write costs per file, not per byte.
        width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        (
            staged.repartition(min(len(to_write), width), F.col(key_col))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(key_col)
            .parquet(data_path)
        )

    if escalate:
        _write_manifest_df(curr_mf, manifest_path)
    else:
        _write_manifest_rows(curr_rows, manifest_path)
    if commit_hook is not None:
        commit_hook(path, stats)
    return stats, actions
