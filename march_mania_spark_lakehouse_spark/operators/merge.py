"""Lakehouse write-path operators: MERGE-style upsert and SCD2 history.

The reference's lake is overwrite-only parquet (`jobs/01_ingest_bronze.py:65`
and every Silver/Gold write); a general engine needs the incremental
write shapes too. Without a transactional table format in the container
(no Delta/Iceberg jars — see `sources/writers.py:write_table`), MERGE is
expressed relationally: read base, apply changeset, write next version.
The relational core below is exactly what Delta's MERGE INTO executes
under the hood (anti-join + union), so the same plan carries over when a
real table format is plugged in.

Scale posture: both operators shuffle on the merge key only. The
anti-join side carries just the key columns of the changeset (small), so
with AQE it broadcasts; the base table never moves more than once. With
a bucketed base table (`write_bucketed_table`) the key shuffle
disappears entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Apply a changeset to a base table: source rows win on key match
    (update), unmatched source rows insert, and rows flagged in
    ``delete_col`` (boolean) are tombstones that remove the base row.

    Equivalent to::

        MERGE INTO base USING changes ON <keys>
        WHEN MATCHED AND changes.deleted THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND NOT changes.deleted THEN INSERT *
    """
    live = (
        changes
        if delete_col is None
        else changes.filter(~F.col(delete_col)).drop(delete_col)
    )
    # every changeset key leaves `base`, tombstones included: a deleted
    # key is then in neither side of the union
    touched = changes.select(*keys).distinct()
    return base.join(touched, on=keys, how="left_anti").unionByName(live)


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    attr_cols: list[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Slowly-changing-dimension type 2: close the current version of
    each changed key at the update timestamp and append the new version.

    ``dim`` carries (key, attrs..., valid_from, valid_to) with
    ``valid_to IS NULL`` marking current rows; ``updates`` carries
    (key, attrs..., ts). A key only versions when at least one attribute
    actually differs (no-op updates produce no history churn).
    """
    changed_pred: Column | None = None
    for c in attr_cols:
        ne = ~F.col(f"d.{c}").eqNullSafe(F.col(f"u.{c}"))
        changed_pred = ne if changed_pred is None else (changed_pred | ne)

    cur = dim.filter(F.col(valid_to).isNull()).alias("d")
    upd = updates.alias("u")
    hit = cur.join(upd, F.col(f"d.{key}") == F.col(f"u.{key}")).filter(changed_pred)

    closed = hit.select(
        *[F.col(f"d.{c}") for c in (key, *attr_cols, valid_from)],
        F.col(f"u.{ts_col}").alias(valid_to),
    )
    opened = hit.select(
        F.col(f"u.{key}").alias(key),
        *[F.col(f"u.{c}").alias(c) for c in attr_cols],
        F.col(f"u.{ts_col}").alias(valid_from),
        F.lit(None).cast(dim.schema[valid_to].dataType).alias(valid_to),
    )
    changed_keys = hit.select(F.col(f"d.{key}").alias(key)).distinct()
    untouched_current = cur.join(changed_keys, on=key, how="left_anti").select(
        key, *attr_cols, valid_from, valid_to
    )
    history = dim.filter(F.col(valid_to).isNotNull()).select(
        key, *attr_cols, valid_from, valid_to
    )
    return history.unionByName(untouched_current).unionByName(closed).unionByName(opened)
