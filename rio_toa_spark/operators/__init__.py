"""DataFrame-level operators: TOA pipelines, spatial joins, dedup,
similarity search, text analysis."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_arrow(df: DataFrame, kernel, schema: T.StructType) -> DataFrame:
    """Run ``kernel`` over ``df`` through ``mapInArrow``: the one way an
    operator kernel crosses the JVM<->Python boundary.

    ``kernel`` takes an iterator of ``pyarrow.RecordBatch`` and yields
    plain dicts of output columns (lists, numpy arrays or Arrow
    arrays). Each dict is cast to ``schema`` as one record batch; the
    cast is checked, so a value that does not fit its Spark type (an
    int64 into an IntegerType column) raises instead of wrapping."""
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(schema)

    def run(batches):
        import pyarrow as pa

        for cols in kernel(batches):
            yield pa.RecordBatch.from_pydict(cols, schema=pa_schema)

    return df.mapInArrow(run, schema)


def binary_rows(batch, binary: str = "pixels"):
    """Per row of an Arrow record batch (or table): a dict of every
    other column (python values, converted once per batch) and the
    zero-copy Arrow buffer of the ``binary`` cell, ready for
    ``np.frombuffer``."""
    cells = batch.column(binary)
    for i, row in enumerate(batch.drop_columns([binary]).to_pylist()):
        yield row, cells[i].as_buffer()


def binary_offsets(sizes):
    """int32 Arrow offsets for binary cells of the given byte sizes:
    the write-side twin of ``binary_rows``, for a kernel that writes
    one batch's binary outputs into a single buffer and wraps it with
    ``pa.Array.from_buffers(pa.binary(), n, [None, offsets, data])``.
    Raises ValueError when the cells together pass the int32 offset
    range of ``pa.binary()``."""
    offsets = np.zeros(len(sizes) + 1, dtype=np.int64)
    np.cumsum(sizes, out=offsets[1:])
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError(
            "binary column of %d bytes passes the int32 offset range" % offsets[-1]
        )
    return offsets.astype(np.int32)
