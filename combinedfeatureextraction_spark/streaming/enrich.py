"""Streaming point-in-time enrichment + streaming deduplication.

``streaming_asof_enrich``: the engine's flagship as-of join applied to a
LIVE probe stream. The grid strategy (``asof_join(strategy="grid")``)
compiles the static build-side tick history into a broadcast dense
time-grid and resolves each probe row with a pure projection + broadcast
equi-join — there is no window, no state store and no watermark
requirement, so the identical operator runs unchanged as a stateless
stream-static join.
(The union strategy needs a global sort and has no streaming form; a
non-dim build side raises rather than silently degrading.)

``streaming_exact_dedup``: the streaming dual of dedup.exact_dedup —
``dropDuplicatesWithinWatermark`` on the 64-bit content hash. State is
bounded by the watermark horizon (a duplicate arriving later than the
watermark is emitted again — the documented contract); winner semantics
degrade from priority-ordered to first-arrival, which is the only causal
choice on a stream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from combinedfeatureextraction_spark.operators.asof import asof_join


def streaming_asof_enrich(
    stream: DataFrame,
    build: DataFrame,
    keys: Sequence[str],
    probe_ts: str = "ts",
    build_ts: str = "ts",
    values: Sequence[str] | None = None,
    allow_exact_matches: bool = True,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Point-in-time join of a streaming probe against a STATIC dim
    history. Zero temporal leakage, zero state: the broadcast grid
    resolves each row independently."""
    if not stream.isStreaming:
        raise ValueError("streaming_asof_enrich: probe must be a stream")
    if build.isStreaming:
        raise ValueError("streaming_asof_enrich: build side must be static")
    # on a streaming probe the grid raises the documented ValueError (not
    # grid-indexable: over the row cap or the tick-density / cell caps)
    # instead of degrading to the union plan, which has no streaming form
    return asof_join(
        stream, build, keys, probe_ts, build_ts, values,
        allow_exact_matches, tolerance_seconds, strategy="grid",
    )


def streaming_exact_dedup(
    stream: DataFrame,
    content_cols: Sequence[str],
    ts: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-arrival exact dedup over a stream, state bounded by
    ``watermark`` of event time (A13/W9 streaming dual)."""
    h = F.xxhash64(*[F.col(c) for c in content_cols])
    return (
        stream.withWatermark(ts, watermark)
        .withColumn("__cfe_h", h)
        .dropDuplicatesWithinWatermark(["__cfe_h"])
        .drop("__cfe_h")
    )
