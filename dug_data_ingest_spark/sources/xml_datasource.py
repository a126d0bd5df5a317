"""Python DataSource (Spark DSv2 API) for directories of dbGaP
``data_table`` XML — ``spark.read.format("dbgap_xml").load(dir)``
yields VARIABLE_SCHEMA rows; ``df.write.format("dbgap_xml")`` renders
one XML document file per (study_id, dd_id) group.

This is the DataSource-v2 packaging of the same parse/render logic as
xml_dbgap.py (reference read side:
scripts/lakefs/generate_lakefs_dbgap_xml_index.py:110-180; render:
scripts/bdc/xml_generator.py:111-162). What the v2 form adds over the
mapInPandas stages:

- **native planning**: files are split into input partitions by the
  planner, so a million-file directory reads with full cluster
  parallelism and no driver-side DataFrame of paths;
- **file pruning via filter pushdown**: with the
  ``filename_scheme=study_dd`` option (the layout this writer
  produces: ``{study_id}__{dd_id}[.partN].xml``), an
  ``EqualTo``/``In`` filter on ``study_id`` prunes non-matching
  files at planning time — the dbGaP analogue of partition pruning.
  Pruned-away filters are still reported unsupported, so Spark also
  applies them row-level: pruning is an optimization, never a
  correctness dependency (a mis-named foreign file yields correct
  results, just without the skip).

Scale note: one partition per ``files_per_partition`` files (default
1 — dbGaP data-dictionary XMLs are ~10²-10³ variables each, so a file
is the natural work unit; raise it for directories of tiny files).
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from dug_data_ingest_spark.sources.xml_dbgap import VARIABLE_SCHEMA, variable_rows


class XmlFilesPartition(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class DbGapXmlReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dbgap_xml: a directory path is required (.load(dir))")
        self.glob = options.get("glob", "*.xml")
        self.files_per_partition = int(options.get("files_per_partition", 1))
        self.filename_scheme = options.get("filename_scheme", "none")
        self._study_prefixes: set[str] | None = None  # None = no pruning

    # -- planning ---------------------------------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:  # noqa: N802
        """Record study_id equality/membership filters for file-level
        pruning under the study_dd filename scheme. ALL filters are
        returned (reported unsupported) so Spark still evaluates them
        on rows — pruning only skips files that cannot match."""
        if self.filename_scheme == "study_dd":
            wanted: set[str] = set()
            for f in filters:
                if isinstance(f, EqualTo) and f.attribute == ("study_id",):
                    wanted.add(str(f.value))
                elif isinstance(f, In) and f.attribute == ("study_id",):
                    wanted.update(str(v) for v in f.values)
            if wanted:
                self._study_prefixes = wanted
        return filters

    def _files(self) -> list[str]:
        files = sorted(
            _glob.glob(os.path.join(self.path, "**", self.glob), recursive=True)
        )
        if self._study_prefixes is not None:
            # Only files that actually FOLLOW the scheme are candidates
            # for pruning; a foreign file without the "__" separator
            # carries no study in its name, so it must always be read
            # (Spark's row-level filter handles it) — pruning stays an
            # optimization, never a correctness dependency.
            files = [
                p
                for p in files
                if "__" not in os.path.basename(p)
                or os.path.basename(p).split("__", 1)[0] in self._study_prefixes
            ]
        return files

    def partitions(self) -> Sequence[InputPartition]:
        files = self._files()
        n = self.files_per_partition
        parts = [XmlFilesPartition(files[i : i + n]) for i in range(0, len(files), n)]
        # an empty directory still needs one (empty) partition
        return parts or [XmlFilesPartition([])]

    # -- execution --------------------------------------------------------
    def read(self, partition: XmlFilesPartition):
        for path in partition.paths:
            yield from _parse_xml_file(path)


def _parse_xml_file(path: str, strict: bool = False):
    """Yield VARIABLE_SCHEMA tuples from one data_table XML file
    (shared by the batch and streaming readers). Non-strict mode
    quarantines a malformed file by yielding nothing (the batch
    re-scan semantics); strict mode raises so the stream can defer
    the file to the next trigger instead of losing it."""
    import xml.etree.ElementTree as ET

    with open(path, encoding="utf-8") as fh:
        try:
            root = ET.fromstring(fh.read())
        except ET.ParseError:
            if strict:
                raise
            return  # quarantine-not-abort, as in xml_dbgap.parse
    yield from variable_rows(root)


class DbGapXmlStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch tailing of a dbGaP XML landing directory:
    ``spark.readStream.format("dbgap_xml").load(dir)`` emits each
    file's variables exactly once as the file lands — the incremental
    form of the reference's re-scan-everything walk
    (generate_lakefs_dbgap_xml_index.py:183-213).

    Offsets are the sorted set of already-ingested file names (a dict
    so the checkpoint log can JSON it); each micro-batch ingests the
    listing-diff, and ``readBetweenOffsets`` re-parses exactly
    end−start so a recovered query neither drops nor duplicates a
    file's rows.

    Robustness contracts:
    - a file that fails to parse is NOT committed as seen, so a
      non-atomically landed file (globbed mid-write) is retried on
      the next trigger instead of being silently lost forever —
      writers should still land via tmp+rename (as DbGapXmlWriter
      does) to avoid ingesting a half-written-but-well-formed prefix;
    - the seen-set is intersected with the current listing every
      batch, so offsets stay bounded by landing-dir retention (a
      deleted name re-landing later is treated as a new file);
    - a file deleted between offset-commit and replay is skipped with
      a warning rather than crash-looping recovery on
      FileNotFoundError (its rows are unrecoverable either way)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dbgap_xml: a directory path is required (.load(dir))")
        self.glob = options.get("glob", "*.xml")

    def _listing(self) -> list[str]:
        return sorted(
            os.path.relpath(p, self.path)
            for p in _glob.glob(
                os.path.join(self.path, "**", self.glob), recursive=True
            )
        )

    def initialOffset(self) -> dict:  # noqa: N802 (API name)
        return {"seen": []}

    def read(self, start: dict):
        import xml.etree.ElementTree as ET

        listing = self._listing()
        seen = set(start.get("seen", []))
        # materialized, not a generator: Spark's prefetch cache copies
        # the iterator between the planning and commit phases, and
        # generators aren't copyable
        rows: list = []
        ingested: set[str] = set()
        for f in listing:
            if f in seen:
                continue
            try:
                rows.extend(_parse_xml_file(os.path.join(self.path, f), strict=True))
            except (ET.ParseError, OSError):
                continue  # not seen -> retried next trigger
            ingested.add(f)
        end = {"seen": sorted((seen | ingested) & set(listing))}
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        import warnings
        import xml.etree.ElementTree as ET

        replay = set(end.get("seen", [])) - set(start.get("seen", []))
        rows: list = []
        for f in sorted(replay):
            try:
                rows.extend(_parse_xml_file(os.path.join(self.path, f), strict=True))
            except (ET.ParseError, OSError) as exc:
                warnings.warn(
                    f"dbgap_xml replay: {f} unreadable ({exc}); its rows "
                    "cannot be recovered", stacklevel=2,
                )
        return iter(rows)


class XmlCommit(WriterCommitMessage):
    def __init__(self, staged: list[tuple[str, str]]):
        self.staged = staged  # [(tmp_path, final_path)]


class DbGapXmlWriter(DataSourceWriter):
    """Staged two-phase write: tasks render to ``*.xml.tmp-{pid}``
    files (invisible to the reader's ``*.xml`` glob), and only the
    driver-side ``commit`` — which runs after every task succeeded —
    deletes the previous output (overwrite mode) and renames the
    staged files into place. A failed job ``abort``s by removing its
    staging files, leaving the previous version fully intact."""

    def __init__(self, options, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dbgap_xml: a directory path is required (.save(dir))")
        self.overwrite = overwrite

    def write(self, iterator) -> WriterCommitMessage:
        import pandas as pd
        from pyspark import TaskContext

        from dug_data_ingest_spark.sources.xml_dbgap import _render_one

        pid = TaskContext.get().partitionId()
        groups: dict[tuple, list] = {}
        for row in iterator:
            groups.setdefault((row["study_id"], row["dd_id"]), []).append(
                {
                    "var_id": row["var_id"],
                    "name": row["name"],
                    "description": row["description"],
                    "type": row["type"],
                    "values": [
                        {"code": v["code"], "label": v["label"]} for v in row["values"]
                    ]
                    if row["values"] is not None
                    else None,
                }
            )
        os.makedirs(self.path, exist_ok=True)
        staged: list[tuple[str, str]] = []
        for (study_id, dd_id), rows in groups.items():
            pdf = pd.DataFrame(
                rows, columns=["var_id", "name", "description", "type", "values"]
            )
            xml = _render_one(study_id, dd_id, pdf)
            # study/dd in the name enables read-side pruning; the
            # partition suffix keeps concurrent tasks collision-free
            # when a group spans partitions (repartition by
            # (study_id, dd_id) upstream for the one-file-per-dd form)
            final = os.path.join(self.path, f"{study_id}__{dd_id}.part{pid}.xml")
            tmp = f"{final}.tmp-{pid}"
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(xml)
            staged.append((tmp, final))
        return XmlCommit(staged)

    def commit(self, messages) -> None:
        staged = [s for m in messages if m is not None for s in m.staged]
        if self.overwrite:
            finals = {f for _, f in staged}
            for p in _glob.glob(os.path.join(self.path, "**", "*.xml"), recursive=True):
                if p not in finals and os.path.isfile(p):
                    os.remove(p)
        for tmp, final in staged:
            os.replace(tmp, final)

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for tmp, _ in m.staged:
                if os.path.exists(tmp):
                    os.remove(tmp)


def register(spark) -> None:
    """Register the source and enable Python-datasource filter
    pushdown (a runtime SQL conf, off by default in Spark 4.1 —
    without it the planner refuses any reader that implements
    pushFilters)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(DbGapXmlDataSource)


class DbGapXmlDataSource(DataSource):
    """``xml_datasource.register(spark)`` then
    ``spark.read.format("dbgap_xml")`` / ``df.write.format("dbgap_xml")``."""

    @classmethod
    def name(cls) -> str:
        return "dbgap_xml"

    def schema(self) -> StructType:
        return VARIABLE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return DbGapXmlReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return DbGapXmlWriter(self.options, overwrite)

    def simpleStreamReader(self, schema: StructType):  # noqa: N802 (API name)
        return DbGapXmlStreamReader(self.options)
