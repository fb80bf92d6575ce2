"""One deletion-vector codec for both lake formats.

Delta and Iceberg v3 keep row-level deletes as the same bytes: a
CRC-framed portable 64-bit roaring bitmap of deleted row positions
(`deletion_vectors.py`), in a Delta sidecar or in a Puffin blob. A
format hands this module locators (`deletion_vectors.locate`) and a
container writer; the codec does the rest:

- :func:`decode` turns DV locators into an ``(__fp, __pos)`` tombstone
  frame;
- :func:`encode` turns a ``(fp, pos)`` hits frame into written blobs and
  returns one descriptor row per touched data file.

Each picks its physical path from a row bound the driver already holds,
so no probe job runs: for decode the summed descriptor cardinalities,
for encode the summed record counts of the live data files the hits
were scanned from (hits can never exceed it). At or below
:data:`SMALL_DV_ROWS` the bitmaps are decoded or encoded on the driver
and no Python worker starts: tombstones ship as a JVM ``LocalRelation``
of one ``(__fp, array<long>)`` row per file that the JVM explodes, and
hits are collected with ``DataFrame.toArrow()``. Above it the work runs
in ``mapInPandas`` tasks, so driver memory stays O(touched files) on a
table with billions of tombstones (`tools/dv_write_probe.py`).
"""

from __future__ import annotations

import functools
import itertools
import json
from operator import itemgetter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.sources.deletion_vectors import (
    encode_dv,
    positions,
)
from march_mania_spark_lakehouse_spark.sources.local_rows import local_df

#: Driver/executor gate, in rows (see the module docstring for the
#: bound each entry point compares). Measured on a 4-core host
#: (``local[4]``, 8 files, best of 3 warm runs, driver vs executors):
#: decode 0.15 vs 0.82 s at 20k positions, 0.35 vs 0.73 s at 200k,
#: 0.93 vs 0.87 s at 500k, 1.56 vs 0.88 s at 1M; encode 0.14 vs 0.68 s,
#: 0.40 vs 1.04 s, 1.02 vs 1.48 s, 1.81 vs 1.72 s. The session's first
#: ``mapInPandas`` adds 2.5–3.3 s of worker start, and the driver's
#: max RSS grows ~40 MB per 500k positions. The paths cross near 500k.
#: Re-measured for decode once ``local_df`` typed array columns per
#: column instead of per element (same host and method): 0.33 vs 0.77 s
#: at 200k, 0.40 vs 0.69 s at 500k, 0.68 vs 0.86 s at 1M, so decode
#: alone now crosses above 1M. Encode, which does not build an array
#: column, was not re-measured; the shared gate stays at its 500k.
SMALL_DV_ROWS = 500_000

#: Above this many decoded positions the tombstone frame is not
#: broadcast: an 8-byte-per-position broadcast is ~80 MB at 10M rows,
#: the practical executor-memory line.
DV_BROADCAST_LIMIT = 10_000_000

#: one written DV per touched data file, in its container's terms
_BLOB_COLS = ["fp", "path", "offset", "size", "cardinality"]
_BLOB_SCHEMA = "fp string, path string, offset long, size long, cardinality long"


def _tombstones(new: dict, old: "dict | None") -> "list[int]":
    """Positions of ``new``, minus those of ``old`` when given (the
    rows one commit's DV added over its predecessor's)."""
    out = positions(new)
    if old is not None:
        drop = set(positions(old))
        out = [p for p in out if p not in drop]
    return out


def _expand(batches):
    import pandas as pd

    for pdf in batches:
        for fp, nj, oj in pdf.itertuples(index=False):
            pos = _tombstones(json.loads(nj), json.loads(oj) if oj else None)
            if pos:
                yield pd.DataFrame(
                    {"__fp": fp, "__pos": pd.array(pos, dtype="int64")}
                )


def decode(
    spark: SparkSession, entries: "list[tuple[str, dict, dict | None]]"
) -> DataFrame:
    """``(abs data file path, locator, predecessor locator or None)``
    entries → ``(__fp, __pos)`` tombstones; with a predecessor the
    positions are the difference new − old (change-feed delete rows).
    Every decoded bitmap is checked against its stated cardinality."""
    total = sum(
        int(loc["cardinality"]) for _, *locs in entries for loc in locs if loc
    )
    if total <= SMALL_DV_ROWS:
        rows = [(fp, _tombstones(new, old)) for fp, new, old in entries]
        dels = local_df(
            spark, rows, "__fp string, __pos array<long>"
        ).select("__fp", F.explode("__pos").alias("__pos"))
    else:
        # one bitmap decode per task when files allow: the local scan
        # spreads rows over min(rows, cores) tasks
        rows = [
            (fp, json.dumps(new), json.dumps(old) if old else None)
            for fp, new, old in entries
        ]
        dels = local_df(
            spark, rows, "__fp string, __new string, __old string"
        ).mapInPandas(_expand, "__fp string, __pos long")
    return F.broadcast(dels) if total <= DV_BROADCAST_LIMIT else dels


def _encode_groups(rows, old: dict):
    """``(fp, pos)`` rows clustered by fp → ``(fp, encode_dv bytes,
    cardinality)`` per file, merged with the file's previous DV."""
    for fp, group in itertools.groupby(rows, key=itemgetter(0)):
        s = {int(p) for _, p in group}
        if fp in old:
            s.update(positions(old[fp]))
        yield fp, encode_dv(sorted(s)), len(s)


def _encode_partition(batches, old: dict, write):
    import pandas as pd

    rows = (r for pdf in batches for r in zip(pdf["fp"], pdf["pos"]))
    items = list(_encode_groups(rows, old))
    if items:
        yield pd.DataFrame(write(items), columns=_BLOB_COLS)


def encode(
    hits: DataFrame, bound: "int | None", old: dict, write
) -> "list[tuple]":
    """Encode ``hits`` (``fp``/``pos`` of live rows) as one DV per
    touched file, merged with the file's previous DV (``old``: fp →
    locator), and write them with ``write`` (``[(fp, encode_dv bytes,
    cardinality)]`` → ``[(fp, path, offset, size, cardinality)]``, one
    container per call). ``bound`` is an upper bound on the hit count,
    None when unknown. Returns the written rows, one per touched file;
    the driver path writes one container, the executor path one per
    task."""
    if bound is not None and bound <= SMALL_DV_ROWS:
        pdf = hits.toArrow().sort_by("fp").to_pandas()
        items = list(_encode_groups(zip(pdf["fp"], pdf["pos"]), old))
        return write(items) if items else []
    # repartition on fp so one task owns each file's positions, sorted
    # so files arrive contiguously
    rows = (
        hits.repartition("fp")
        .sortWithinPartitions("fp")
        .mapInPandas(
            functools.partial(_encode_partition, old=old, write=write),
            _BLOB_SCHEMA,
        )
        .collect()
    )
    return [tuple(r) for r in rows]
