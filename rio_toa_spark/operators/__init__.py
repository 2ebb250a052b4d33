"""DataFrame-level operators: TOA pipelines, spatial joins, dedup,
similarity search, text analysis.

Kernels cross the JVM<->Python boundary through ``map_arrow`` and touch
Arrow only through this module's read/write pair: ``numpy_view`` /
``value_offsets`` read a column's buffers in place, ``arrow_batch``
builds the output batch from them. Neither goes through pyarrow's
pandas shim (``to_numpy``, ``pa.array``, ``from_pydict``, an ndarray
``take``), so a Python worker running engine kernels never imports
pandas (~30 MB resident per worker)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Arrow fixed-width type -> numpy dtype (``DataType.to_pandas_dtype``
# would import pandas)
_NUMPY_OF = {
    pa.int8(): np.int8,
    pa.int16(): np.int16,
    pa.int32(): np.int32,
    pa.int64(): np.int64,
    pa.uint8(): np.uint8,
    pa.uint16(): np.uint16,
    pa.uint32(): np.uint32,
    pa.uint64(): np.uint64,
    pa.float16(): np.float16,
    pa.float32(): np.float32,
    pa.float64(): np.float64,
}


def map_arrow(df: DataFrame, kernel, schema: T.StructType) -> DataFrame:
    """Run ``kernel`` over ``df`` through ``mapInArrow``: the one way an
    operator kernel crosses the JVM<->Python boundary.

    ``kernel`` takes an iterator of ``pyarrow.RecordBatch`` and yields
    plain dicts of output columns, each built by ``arrow_batch``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    pa_schema = to_arrow_schema(schema)

    def run(batches):
        for cols in kernel(batches):
            yield arrow_batch(cols, pa_schema)

    return df.mapInArrow(run, schema)


def numpy_view(col) -> np.ndarray:
    """Zero-copy numpy view of a fixed-width Arrow column at its
    offset (a bool column unpacks its bits, the one copy). A column
    holding nulls raises ValueError: a view has no place for them."""
    if col.null_count:
        raise ValueError("%d nulls in a %s column" % (col.null_count, col.type))
    n, values = len(col), col.buffers()[1]
    if pa.types.is_boolean(col.type):
        if not n:
            return np.zeros(0, bool)
        bits = np.unpackbits(np.frombuffer(values, np.uint8), bitorder="little")
        return bits[col.offset : col.offset + n].view(bool)
    if col.type not in _NUMPY_OF:
        raise TypeError("no numpy view of a %s column" % col.type)
    dtype = np.dtype(_NUMPY_OF[col.type])
    if not n:
        return np.zeros(0, dtype)
    return np.frombuffer(values, dtype, n, col.offset * dtype.itemsize)


def value_offsets(col) -> np.ndarray:
    """The ``len(col) + 1`` int32 offsets of a list, binary or string
    Arrow array into its values (data) buffer, read in place. A slice
    keeps absolute positions, so the values child (``col.values``) or
    data buffer (``col.buffers()[2]``) is indexed as is."""
    if not len(col):
        return np.zeros(1, np.int32)
    return np.frombuffer(col.buffers()[1], np.int32, len(col) + 1, col.offset * 4)


def take(values, index: np.ndarray):
    """``values.take(index)`` for an Arrow array or record batch and a
    numpy integer index, wrapped as an Arrow array first: an ndarray
    index would go through pyarrow's pandas shim."""
    return values.take(_numpy_array(index))


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


def _validity(values) -> tuple[pa.Buffer | None, int]:
    """Arrow validity bitmap of a list's None cells, and their count."""
    valid = np.fromiter((v is not None for v in values), bool, len(values))
    nulls = len(values) - int(valid.sum())
    return (pa.py_buffer(np.packbits(valid, bitorder="little")) if nulls else None), nulls


def _cell_bytes(v):
    """A binary or string cell as a bytes-like object (None as empty)."""
    if v is None:
        return b""
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, np.ndarray):
        return np.ascontiguousarray(v)
    return v


def _numpy_array(arr: np.ndarray) -> pa.Array:
    """An Arrow array over a 1-D numeric or bool ndarray's buffer."""
    if arr.ndim != 1 or arr.dtype.kind not in "biuf":
        raise TypeError("no Arrow column for a %d-d %s array" % (arr.ndim, arr.dtype))
    arr = np.ascontiguousarray(arr)
    if arr.dtype.kind == "b":
        values = np.packbits(arr, bitorder="little")
        return pa.Array.from_buffers(pa.bool_(), len(arr), [None, pa.py_buffer(values)])
    dtype = pa.from_numpy_dtype(arr.dtype)
    return pa.Array.from_buffers(dtype, len(arr), [None, pa.py_buffer(arr)])


def arrow_column(values, pa_type: pa.DataType) -> pa.Array:
    """One output column as an Arrow array, built from buffers:

    * an Arrow array passes through;
    * a numeric or bool ndarray is wrapped as is;
    * a list of binary / string cells (None allowed; strings as UTF-8)
      is joined into ONE data buffer under ``binary_offsets`` — a cell
      may be any bytes-like object, a C-contiguous ndarray included;
    * a list of rows for a ``list<...>`` type becomes a ListArray over
      the concatenated rows;
    * a list of numbers becomes an ndarray first.

    The array keeps the values' own type; ``arrow_batch`` casts it to
    ``pa_type``. Any other value raises TypeError."""
    if isinstance(values, pa.Array):
        return values
    if isinstance(values, np.ndarray):
        return _numpy_array(values)
    if not isinstance(values, list):
        raise TypeError("no Arrow column for a %s" % type(values).__name__)
    n = len(values)
    if pa.types.is_binary(pa_type) or pa.types.is_string(pa_type):
        cells = [_cell_bytes(v) for v in values]
        offsets = binary_offsets([memoryview(c).nbytes for c in cells])
        validity, nulls = _validity(values)
        return pa.Array.from_buffers(
            pa_type,
            n,
            [validity, pa.py_buffer(offsets), pa.py_buffer(b"".join(cells))],
            null_count=nulls,
        )
    if pa.types.is_list(pa_type):
        dtype = _NUMPY_OF[pa_type.value_type]
        rows = [np.asarray(v, dtype) for v in values]
        if any(r.ndim != 1 for r in rows):
            raise TypeError("a %s cell must be a 1-d sequence" % pa_type)
        offsets = binary_offsets([r.size for r in rows])
        flat = np.concatenate(rows) if rows else np.zeros(0, dtype)
        return pa.ListArray.from_arrays(_numpy_array(offsets), _numpy_array(flat))
    return _numpy_array(np.asarray(values))


def arrow_batch(cols: dict, pa_schema: pa.Schema) -> pa.RecordBatch:
    """A kernel's dict of output columns as one record batch of
    ``pa_schema`` (see ``arrow_column``). The cast to the schema is
    checked, so a value that does not fit its type (an int64 into an
    int32 column) raises instead of wrapping."""
    arrays = [arrow_column(cols[f.name], f.type) for f in pa_schema]
    return pa.RecordBatch.from_arrays(arrays, names=pa_schema.names).cast(pa_schema)
