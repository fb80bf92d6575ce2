"""Snapshot-diff change feed from row lineage, shared by both lake formats.

`iceberg.snapshot_diff_changelog` and `delta_log.snapshot_diff_changelog`
each read a table's rows at two points in time together with their row
ids and a per-row version (Iceberg ``_last_updated_sequence_number``,
Delta ``_row_commit_version``), then hand both reads to
:func:`lineage_changelog`. Each format keeps only its metadata I/O: the
lineage reads and the probe that says whether a read can hold rows
without ids.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lineage_changelog(
    old: DataFrame,
    new: DataFrame,
    names: Sequence[str],
    version_col: str,
    may_have_null_ids: bool,
) -> DataFrame:
    """Row-level changes from lineage read ``old`` to lineage read
    ``new``. Both carry the declared columns ``names``, ``_row_id`` and
    the row version ``version_col``:

    - a row id only in ``new`` → ``insert``;
    - only in ``old`` → ``delete``;
    - in both with a HIGHER version → ``update_preimage`` (old values)
      and ``update_postimage`` (new values);
    - in both with the same version → nothing (a rewrite keeps id and
      version, so compaction is invisible).

    The result carries ``names``, ``_row_id`` and ``_change_type``.

    A null ``_row_id`` would split one row into a fake insert+delete
    pair, so it is refused. The check is a Spark job, and it only runs
    when ``may_have_null_ids`` (the format's metadata probe) admits the
    possibility. Tables whose ids are all inherited, or proven by file
    footers, skip the job.

    Plan shape: ONE full-outer join on ``_row_id`` over the two reads,
    and each joined row emits 0-2 change rows through a typed array and
    explode. A union of one filtered branch per change type would put a
    copy of the join subtree (two lineage scans) into the physical plan
    per branch; `tests/test_snapshot_diff.py` asserts the one join over
    two scans."""
    old = old.select(
        *[F.col(n).alias(f"__old_{n}") for n in names],
        F.col("_row_id"),
        F.col(version_col).alias("__old_v"),
    )
    new = new.select(
        *names, "_row_id", F.col(version_col).alias("__new_v")
    )
    both = new.join(old, "_row_id", "full_outer")
    if may_have_null_ids:
        if both.filter(F.col("_row_id").isNull()).limit(1).count() > 0:
            raise ValueError(
                "rows without row ids (written before row lineage was "
                "enabled); identity-keyed diffing needs identities"
            )

    def row(prefix: str, change_type: str):
        return F.struct(
            *[F.col(prefix + n).alias(n) for n in names],
            F.col("_row_id").alias("_row_id"),
            F.lit(change_type).alias("_change_type"),
        )

    old_v, new_v = F.col("__old_v"), F.col("__new_v")
    is_upd = old_v.isNotNull() & new_v.isNotNull() & (new_v > old_v)
    emit = F.array_compact(
        F.array(
            F.when(old_v.isNull(), row("", "insert")).when(
                is_upd, row("", "update_postimage")
            ),
            F.when(new_v.isNull(), row("__old_", "delete")).when(
                is_upd, row("__old_", "update_preimage")
            ),
        )
    )
    return both.select(F.explode(emit).alias("__c")).select("__c.*")
