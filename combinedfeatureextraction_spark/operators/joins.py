"""Equi / broadcast / interval joins.

Reference analogs (SURVEY.md §2.3):
 - J3 name equi-join: annotation layers matched to canonical names
   (json_to_xml.py:10-50) → broadcast hash join on a normalized key.
 - J2 bbox interval-overlap: region kept iff min/max bbox overlaps the
   query window (xml_to_mask_minmax.py:142) → equi-join on the entity key
   + range predicate with the interval side broadcast (a dim table, ~always
   broadcastable at 100 TB); the equi part of the predicate keeps it a
   hash join with the range as a post-filter — never a cartesian product.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_equi_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str] | Column,
    how: str = "inner",
) -> DataFrame:
    """Explicitly-broadcast dimension join (J3). The hint is load-bearing:
    at 100 TB Catalyst's size estimate for a post-filter dim can exceed the
    autoBroadcast threshold and silently fall back to a full shuffle."""
    return fact.join(F.broadcast(dim), on, how)


def interval_overlap_join(
    probe: DataFrame,
    intervals: DataFrame,
    keys: Sequence[str],
    probe_ts: str,
    start: str,
    end: str,
    how: str = "inner",
) -> DataFrame:
    """Rows of ``probe`` matched to interval rows with
    start <= probe_ts < end for the same key (J2 bbox-overlap analog)."""
    cond = F.lit(True)
    for k in keys:
        cond = cond & (probe[k] == intervals[k])
    cond = cond & (probe[probe_ts] >= intervals[start]) & (
        probe[probe_ts] < intervals[end]
    )
    joined = probe.join(F.broadcast(intervals), cond, how)
    # drop duplicate key columns from the interval side
    return joined.drop(*[intervals[k] for k in keys])
