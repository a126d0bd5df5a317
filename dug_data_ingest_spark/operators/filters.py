"""Filter / predicate operators (SURVEY.md §2.2).

All of these stay on Catalyst's codegen path (pure Column
expressions), so at scale they are pushed through joins and down into
the parquet scan for free — the reference applied them row-at-a-time
in Python loops.
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def notnull_conjunction(
    df: DataFrame, required: Iterable[str], startswith: Mapping[str, str] | None = None
) -> DataFrame:
    """Keep rows where every ``required`` column is non-null and each
    ``startswith[col]`` prefix matches.

    Reference: the PicSure clean_data mask — five non-null columns AND
    ``varId.startswith("phv")``
    (scripts/bdc/get_bdc_studies_md_from_picsure.py:34-51).
    """
    cond = F.lit(True)
    for c in required:
        cond = cond & F.col(c).isNotNull()
    for c, prefix in (startswith or {}).items():
        cond = cond & F.col(c).startswith(prefix)
    return df.filter(cond)


def required_fields_reason(
    df: DataFrame, required: Iterable[str], reason_col: str = "reject_reason"
) -> DataFrame:
    """Attach a per-row reject reason (null = valid): first required
    column that is missing or blank.

    Reference: ``validate_study`` emits a textual reason per invalid
    study and the loop splits valid/invalid outputs
    (scripts/bdc/get_bdc_studies_md_from_gen3.py:167-219; variant at
    scripts/bdc/xml_generator.py:34-55). Spark-first: a single
    ``F.when`` chain produces the reason column; downstream splits
    into the valid table and the quarantine table with two filters on
    the same lineage (Catalyst computes the condition once per scan).
    """
    reason: Column = F.lit(None).cast("string")
    for c in reversed(list(required)):
        blank = F.col(c).isNull() | (F.trim(F.col(c).cast("string")) == "")
        reason = F.when(blank, F.lit(f"missing required field: {c}")).otherwise(reason)
    return df.withColumn(reason_col, reason)


def split_valid_quarantine(
    df: DataFrame, reason_col: str = "reject_reason"
) -> tuple[DataFrame, DataFrame]:
    """(valid_rows_without_reason_col, quarantine_rows_with_reason)."""
    return (
        df.filter(F.col(reason_col).isNull()).drop(reason_col),
        df.filter(F.col(reason_col).isNotNull()),
    )


def regex_id_extract(
    df: DataFrame,
    col: str,
    pattern: str,
    groups: Mapping[str, int],
) -> DataFrame:
    """Extract named regex groups; drop non-matching rows.

    Reference: dbGaP id parse ``^(phs.*?)(?:\\.(c\\d+))?$`` →
    (accession, consent)
    (scripts/bdc/get_bdc_studies_from_gen3.py:214-226;
    scripts/bdc/get_bdc_studies_md_from_gen3.py:143-149; stricter
    variant at get_bdc_studies_from_gen3.py:289-300).
    """
    out = df
    for name, idx in groups.items():
        out = out.withColumn(name, F.regexp_extract(F.col(col), pattern, idx))
    return out.filter(F.col(col).rlike(pattern))


def anti_membership(df: DataFrame, col: str, skip: Iterable) -> DataFrame:
    """Drop rows whose ``col`` is in the literal ``skip`` set.

    NULL-faithful to the reference: Python's ``id not in skip`` keeps
    a None id, while SQL ``NOT IN`` evaluates to NULL for a NULL
    column and the filter would silently drop the row — the explicit
    isNull disjunct keeps NULL rows flowing (quarantine them
    downstream if they're invalid; don't vanish them here).

    Reference: ``dbgap_ids_to_skip``
    (scripts/bdc/get_dbgap_data_dicts.py:168, 226-228). For a large
    skip set use a broadcast anti-join instead (see joins.anti_join).
    """
    c = F.col(col)
    return df.filter(c.isNull() | ~c.isin(list(skip)))


def key_equality(df: DataFrame, col: str, value) -> DataFrame:
    """Subset to one key — partition-pruned when the table is
    partitioned by ``col``.

    Reference: ``picsure_df[picsure_df['studyId'] == study_id]``
    (scripts/bdc/xml_generator.py:221, 259).
    """
    return df.filter(F.col(col) == F.lit(value))


def suffix_filter(df: DataFrame, col: str, suffix: str) -> DataFrame:
    """Case-insensitive suffix keep-filter.

    Reference: ``*.xml`` filter on lowercased object names
    (scripts/lakefs/generate_lakefs_dbgap_xml_index.py:202-207).
    """
    return df.filter(F.lower(F.col(col)).endswith(suffix.lower()))


def grep(df: DataFrame, col: str, *needles: str) -> DataFrame:
    """Keep rows whose upper-cased ``col`` contains any needle.

    Reference: ``grep ERROR / WARNING`` over job logs
    (scripts/heal/ingest.sh:26-27).
    """
    cond = F.lit(False)
    for n in needles:
        cond = cond | F.upper(F.col(col)).contains(n.upper())
    return df.filter(cond)


def grep_v(df: DataFrame, cond: Column) -> DataFrame:
    """Remove rows matching ``cond`` (grep -v).

    NULL-faithful to grep: a line with missing fields doesn't MATCH
    the pattern, so grep -v keeps it — but SQL ``NOT cond`` is NULL
    when ``cond`` is NULL and the filter would silently drop the row.
    The coalesce keeps condition-indeterminate rows, like grep does.

    Reference: drop CDE placeholder rows ``grep -v '^\\tCDE\\t$'``
    (scripts/dug/get_dug_data_dictionaries.sh:18).
    """
    return df.filter(F.coalesce(~cond, F.lit(True)))
