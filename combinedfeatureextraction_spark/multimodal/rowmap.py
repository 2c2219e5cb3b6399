"""The one Spark boundary of the per-row multimodal kernels.

Every payload operator in ``multimodal/`` runs a numpy kernel once per
row (rasterize a polygon, decode an image, ...) and returns a few
scalars; ``per_row_map`` is that shape, built once on ``mapInArrow``.
Arrays and masks live and die inside the kernel — only the declared
output fields come back (the SURVEY §1.1 "payload stays Arrow-side"
contract).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type


def _point_rows(col: pa.ListArray) -> list[np.ndarray]:
    """``list<list<numeric>>`` → one (n, 2) numpy view per row, cut from
    the ListArray offsets (no per-point Python objects). A NULL or empty
    row is shape (0, 2); an inner list that is not a pair raises."""
    outer = col.offsets.to_numpy()  # honours the slice offset
    inner_off = col.values.offsets.to_numpy()[outer[0] : outer[-1] + 1]
    if (np.diff(inner_off) != 2).any():
        raise ValueError("polygon points must be [x, y] pairs")
    flat = col.values.values.to_numpy(zero_copy_only=False)
    xy = flat[inner_off[0] : inner_off[-1]].reshape(-1, 2)
    cut = (outer - outer[0]).tolist()
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    return [xy[a:b] if ok else xy[:0] for a, b, ok in zip(cut, cut[1:], valid)]


def per_row_map(
    df: DataFrame,
    id_cols: Sequence[str],
    in_cols: Sequence[str],
    kernel: Callable[..., tuple],
    out_fields: Sequence[T.StructField],
) -> DataFrame:
    """``id_cols`` (typed from ``df``, passed through as the input Arrow
    buffers) + ``out_fields``, one output row per input row, where
    ``kernel(*in_values)`` returns one tuple in ``out_fields`` order.
    Kernel arguments: a ``list<list<numeric>>`` column as an (n, 2)
    numpy view, binary as ``bytes``, scalars as Python values. Every row
    reaches the kernel (NULL, empty and too-few-point rows included), so
    the kernel owns its defaults. Output columns are built with
    ``from_pandas=True``: a NaN comes back as NULL, as it did through
    pandas. A pure map — no shuffle, parallelism = input partitions,
    batch size = ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    schema = T.StructType([df.schema[c] for c in id_cols] + list(out_fields))
    arrow_t = [to_arrow_type(f.dataType) for f in out_fields]

    def args(col: pa.Array) -> list:
        t = col.type
        if pa.types.is_list(t) and pa.types.is_list(t.value_type):
            return _point_rows(col)
        return col.to_pylist()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            rows = zip(*(args(b.column(c)) for c in in_cols))
            vals = list(zip(*(kernel(*r) for r in rows))) or [()] * len(arrow_t)
            out = [pa.array(v, type=t, from_pandas=True) for v, t in zip(vals, arrow_t)]
            yield pa.RecordBatch.from_arrays(
                [b.column(c) for c in id_cols] + out, names=schema.fieldNames()
            )

    return df.select(*id_cols, *in_cols).mapInArrow(run, schema)
