"""Ordered per-group sequential folds — the one operator Catalyst cannot
express relationally (SURVEY.md §2.10 UD1).

Reference parity: `src/features/elo.py:58-121` runs a sequential Elo
update per season via ``groupBy("Season").applyInPandas``. We keep the
same contract (declared output schema, total in-group ordering, each
group folded whole) but:

- plan it as a partition stream: a ``row_number`` window over (group,
  order) flags each group's first row, and ``mapInArrow`` reads the
  window's output, whose exchange and sort already deliver every
  partition grouped and in order. The Python side cuts each Arrow batch
  at the flags and hands ``fold_fn`` every whole group of the batch at
  once, so the per-group cost is array slicing, not a pandas round trip
  and sort per group;
- convert each Arrow batch to pandas itself (pyarrow's defaults:
  timestamps arrive UTC-aware), except that an integer key column
  holding a null arrives as Python ints (``integer_object_nulls``), not
  float64: keys beyond 2^53 come back exact;
- carry the trailing group of a batch into the next one, so a group
  that straddles batch edges is still folded whole — this avoids the
  reference's latent chunk-state bug (`elo.py:98-113` keeps per-chunk,
  not cross-chunk, rating state);
- require an explicit *total* ordering (caller passes tiebreaker
  columns), where the reference relies on stable mergesort + input order
  (`elo.py:104`). Null order values sort last.

Scale: one shuffle on the group key and one sort within each partition.
The window buffers one group at a time on the JVM (spilling to disk
when it is large), and a Python worker holds one Arrow batch
(``spark.sql.execution.arrow.maxRecordsPerBatch`` rows) plus the one
group carried across its edge, so each group must fit in one worker's
memory (seasons / user-histories do). Partitions fold independently →
embarrassingly parallel across executors.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


_FIRST = "__group_first"  # the JVM's flag on each group's first row


def ordered_fold(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    fold_fn: Callable[[pd.DataFrame, np.ndarray], pd.DataFrame],
    output_schema: str,
) -> DataFrame:
    """Sort each group by ``order_cols`` (a total order) and apply ``fold_fn``.

    ``fold_fn(pdf, starts)`` receives a frame of whole groups, sorted by
    group and then by ``order_cols``, with ``starts`` the row offset of
    each group's first row, and returns the folded result of all of them
    (any number of rows) matching ``output_schema``.
    """
    # The window's exchange and sort deliver each partition grouped and
    # ordered, and row_number marks where each group starts exactly as
    # groupBy keys them (null and NaN keys, longs beyond 2^53 — values
    # the pandas side could no longer tell apart).
    order = [F.col(c).asc_nulls_last() for c in order_cols]
    first = F.row_number().over(Window.partitionBy(*group_cols).orderBy(*order)) == 1

    def _stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: list[pd.DataFrame] = []  # the group still open at the batch edge
        for pdf in batches:
            if pdf.empty:
                continue
            starts = np.flatnonzero(pdf.pop(_FIRST).to_numpy())
            if not len(starts):  # the whole batch continues the open group
                carry.append(pdf)
                continue
            # rows before starts[0] close the open group; starts[-1] opens the next
            held = sum(len(p) for p in carry)
            done = pd.concat([*carry, pdf.iloc[: starts[-1]]], ignore_index=True)
            offsets = starts[:-1] + held
            if held:
                offsets = np.concatenate(([0], offsets))
            if len(done):
                yield fold_fn(done, offsets)
            carry = [pdf.iloc[starts[-1]:]]
        if carry:
            yield fold_fn(pd.concat(carry, ignore_index=True), np.zeros(1, np.int64))

    out_schema = to_arrow_schema(T._parse_datatype_string(output_schema))

    def _frames(batches: Iterator[pa.RecordBatch]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            pdf = batch.to_pandas()
            for c in group_cols:
                col = batch.column(c)
                if col.null_count and pa.types.is_integer(col.type):
                    pdf[c] = col.to_pandas(integer_object_nulls=True)
            yield pdf

    def _fold_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for out in _stream(_frames(batches)):
            yield pa.RecordBatch.from_pandas(out, schema=out_schema, preserve_index=False)

    return df.withColumn(_FIRST, first).mapInArrow(_fold_arrow, schema=output_schema)


def exp_decay_fold(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    alpha: float,
    out_value_col: str = "decayed_value",
) -> DataFrame:
    """Exponentially-decayed running total per group: s ← α·s + v, one
    output row per group with the final state and the row count."""

    def _fold(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        # Column-wise Horner over all groups of the frame at once: step j
        # updates every group longer than j with s ← s·α + v[start + j],
        # the same two IEEE ops in the same order as np.polyval, so the
        # result is bit-identical to folding each group alone. Groups are
        # ranked longest first, so the live ones at step j are a prefix.
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        lens = np.diff(np.append(starts, len(vals)))
        rank = np.argsort(-lens, kind="stable")
        by_len, first = lens[rank], starts[rank]
        live = np.searchsorted(-by_len, -np.arange(by_len[0]), side="left")
        state = np.zeros(len(starts))
        for j, n in enumerate(live):
            state[:n] = state[:n] * alpha + vals[first[:n] + j]
        decayed = np.empty_like(state)
        decayed[rank] = state
        out = pdf[group_cols].iloc[starts].reset_index(drop=True)
        out[out_value_col] = decayed
        out["n_rows"] = lens
        return out

    group_schema = ", ".join(
        f"{name} {dtype}"
        for name, dtype in df.select(*group_cols).dtypes  # noqa: PD011 (pyspark dtypes)
    )
    schema = f"{group_schema}, {out_value_col} double, n_rows long"
    return ordered_fold(df, group_cols, order_cols, _fold, schema)


def elo_ratings(
    matches: DataFrame,
    group_col: str = "season",
    order_cols: Sequence[str] = ("match_id",),
    a_col: str = "player_a",
    b_col: str = "player_b",
    a_won_col: str = "a_won",
    k: float = 20.0,
    base: float = 1500.0,
) -> DataFrame:
    """Sequential Elo per independent group (reference `src/features/elo.py`).

    Input: one row per match with two player ids and the binary outcome.
    Output: one row per (group, player) with the final rating.

    Expected score E_a = 1 / (1 + 10^((r_b - r_a)/400)); update
    r_a += k·(outcome − E_a), r_b symmetric — `elo.py:33-53` parity.
    """

    def _fold(pdf: pd.DataFrame, starts: np.ndarray) -> pd.DataFrame:
        a_ids = pdf[a_col].tolist()
        b_ids = pdf[b_col].tolist()
        a_won = pdf[a_won_col].tolist()
        groups, players, elos = [], [], []
        ends = [*starts[1:].tolist(), len(pdf)]
        for s, e in zip(starts.tolist(), ends):
            ratings: dict[int, float] = {}
            for i in range(s, e):
                a, b = int(a_ids[i]), int(b_ids[i])
                ra = ratings.get(a, base)
                rb = ratings.get(b, base)
                ea = 1.0 / (1.0 + 10.0 ** ((rb - ra) / 400.0))
                sa = float(a_won[i])
                ratings[a] = ra + k * (sa - ea)
                ratings[b] = rb + k * ((1.0 - sa) - (1.0 - ea))
            ids = sorted(ratings)
            groups += [s] * len(ids)
            players += ids
            elos += [ratings[p] for p in ids]
        return pd.DataFrame(
            {
                group_col: pdf[group_col].to_numpy()[groups],
                "player_id": players,
                "elo": elos,
            }
        )

    group_dtype = dict(matches.dtypes)[group_col]
    schema = f"{group_col} {group_dtype}, player_id long, elo double"
    return ordered_fold(matches, [group_col], list(order_cols), _fold, schema)
