"""Streaming incremental corpus dedup — the production loop a crawl
pipeline runs continuously: each micro-batch of new documents dedups
against ALL history via the persisted band index, survivors append to
the corpus table, and the index grows by the survivors' band rows.

Composition of three existing pieces:

- `operators.dedup.incremental_minhash_dedup` — batch-vs-corpus probe
  (the q199 operator): the corpus side ships only (band, bh, id)
  tuples, never documents, so per-batch cost is O(batch ×
  corpus-collisions) and the corpus text is never re-read;
- Delta tables for both the corpus and the index — the index is
  exactly the state `minhash_band_index` persists, appended
  incrementally;
- Delta's SetTransaction exactly-once contract — each table records
  (app_id, batch_id), and a REPLAYED micro-batch (foreachBatch re-runs
  after crashes) skips any table that already committed it, so
  survivors are never double-appended even when a crash lands between
  the two table commits (the recomputation is deterministic for a
  given batch: the batch's own index delta never influences the
  batch's own dedup).

Scale posture: the probe joins are (band, bh) equi-joins, and — round
8 — the index table is PARTITIONED by (band, pb = bh % index_buckets),
so each micro-batch's probe plans only the partitions its own band
hashes touch (`delta_log.scan_partitions_any`, planned from the log —
no directory listing, no full-index scan). A batch of B docs touches
at most B × bands of the bands × index_buckets partitions; per-batch
probe IO tracks the touched buckets, not the corpus — the last
linear-in-corpus term in the continuous loop is gone (measured flat
1×→100× in `tools/index_probe.py`). The driver holds version numbers
plus the batch's own touched-partition keys (bounded by B × bands —
the same sanctioned bounded boundary as the ANN query side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.sources.local_rows import local_df


def _empty_index(spark: SparkSession, id_col: str) -> DataFrame:
    return local_df(spark, [], f"{id_col} long, band int, bh long")


def process_dedup_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    corpus_table: str,
    index_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    app_id: str = "streaming_incremental_dedup",
    index_buckets: int = 32,
) -> int:
    """One micro-batch of the loop (the `foreachBatch` body, separated
    for direct testing): dedup ``batch_df`` against the persisted
    index, append survivors/index-delta transactionally. Returns the
    number of surviving documents (0 for an already-committed replay).

    The index table is partitioned by (band, pb = bh % index_buckets);
    the probe scans ONLY the partitions the batch's own band hashes
    land in. The bucket count is BAKED INTO the table's layout, so it
    is recorded in the Delta configuration at create time and read
    back on every later batch — ``index_buckets`` only sets the grid
    for a table this call creates; a mismatched value against an
    existing table is overridden by the recorded one (probing an
    N-bucket grid with M-bucket keys would silently prune away real
    collisions). A pre-round-8 unpartitioned index table is still read
    whole (legacy layout — correct, just unpruned).
    """
    from march_mania_spark_lakehouse_spark.operators import dedup
    from march_mania_spark_lakehouse_spark.sources import delta_log

    corpus_done = (
        delta_log.latest_version(corpus_table) is not None
        and delta_log.last_txn_version(corpus_table, app_id) >= batch_id
    )
    index_done = (
        delta_log.latest_version(index_table) is not None
        and delta_log.last_txn_version(index_table, app_id) >= batch_id
    )
    if corpus_done and index_done:
        return 0  # exactly-once: full replay of a committed batch
    batch_df = batch_df.localCheckpoint()
    # one materialization feeds the touched-partition collect AND all
    # of incremental_minhash_dedup's consumers
    new_idx = dedup.minhash_band_index(
        batch_df, id_col, text_col, n, num_hashes, bands
    ).localCheckpoint()
    index_exists = delta_log.latest_version(index_table) is not None
    partitioned = index_exists and delta_log.table_partition_columns(
        index_table
    ) == ["band", "pb"]
    if partitioned:
        meta = delta_log._latest_metadata(
            index_table, delta_log.latest_version(index_table)
        )
        recorded = (meta.get("configuration") or {}).get(
            "streamingDedup.indexBuckets"
        )
        if recorded is not None:
            index_buckets = int(recorded)
    if partitioned:
        # bounded driver boundary: ≤ batch_rows × bands distinct keys
        touched = (
            new_idx.select(
                "band", F.pmod("bh", F.lit(index_buckets)).alias("pb")
            )
            .distinct()
            .collect()
        )
        index = delta_log.scan_partitions_any(
            spark, index_table,
            [{"band": r["band"], "pb": r["pb"]} for r in touched],
        )
    elif index_exists:
        index = delta_log.read_delta(spark, index_table)
    else:
        index = _empty_index(spark, id_col)
    survivors, index_delta = dedup.incremental_minhash_dedup(
        batch_df, index, id_col, text_col, n, num_hashes, bands,
        new_idx=new_idx,
    )
    index_delta = index_delta.withColumn(
        "pb", F.pmod("bh", F.lit(index_buckets))
    )
    # materialize both BEFORE either commit: the second append must not
    # re-plan against a corpus/index the first append just changed.
    # The index delta lands as one file per touched partition, keeping
    # file counts O(touched), not O(rows).
    survivors = survivors.localCheckpoint()
    index_delta = index_delta.repartition("band", "pb").localCheckpoint()
    n_surv = survivors.count()
    if not corpus_done:
        delta_log.append(survivors, corpus_table, txn=(app_id, batch_id))
    if not index_done:
        if not index_exists:
            delta_log.create(
                index_delta, index_table, stat_cols=["bh"],
                txn=(app_id, batch_id), partition_by=["band", "pb"],
                configuration={
                    "streamingDedup.indexBuckets": str(index_buckets)
                },
            )
        elif partitioned:
            delta_log.append(
                index_delta, index_table, stat_cols=["bh"],
                txn=(app_id, batch_id),
            )
        else:  # legacy unpartitioned layout: keep its schema
            delta_log.append(
                index_delta.drop("pb"), index_table, txn=(app_id, batch_id)
            )
    return n_surv


def streaming_incremental_dedup(
    spark: SparkSession,
    docs_stream: DataFrame,
    corpus_table: str,
    index_table: str,
    checkpoint_dir: str,
    **kw,
):
    """Wire a streaming DataFrame of documents into the incremental
    dedup loop: `foreachBatch(process_dedup_batch)`. Returns the
    `DataStreamWriter` (caller picks the trigger and starts it)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_dedup_batch(
            spark, batch_df, batch_id, corpus_table, index_table, **kw
        )

    return (
        docs_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
