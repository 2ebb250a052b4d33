"""The kernels' Arrow read/write pair (``operators.numpy_view`` /
``value_offsets`` and ``arrow_batch``): the builder gives exactly what
``pa.array(values, type)`` gives for every value form a kernel yields,
and the readers see a column's values at its offset, slices included.
No Spark session needed."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rio_toa_spark.operators import arrow_batch, numpy_view, value_offsets

_finite = dict(allow_nan=False, allow_infinity=False)

# (Arrow type, numpy dtype, strategy of one value)
_FIXED = [
    (pa.int32(), np.int32, st.integers(-(2**31), 2**31 - 1)),
    (pa.int64(), np.int64, st.integers(-(2**63), 2**63 - 1)),
    (pa.float32(), np.float32, st.floats(width=32, **_finite)),
    (pa.float64(), np.float64, st.floats(**_finite)),
    (pa.bool_(), np.bool_, st.booleans()),
]
_text = st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=8)


def _built(values, pa_type):
    schema = pa.schema([("c", pa_type)])
    return arrow_batch({"c": values}, schema).column(0)


@settings(max_examples=60, deadline=None)
@given(st.data(), st.sampled_from(range(len(_FIXED))))
def test_fixed_width_matches_pa_array(data, which):
    pa_type, dtype, value = _FIXED[which]
    values = data.draw(st.lists(value, max_size=40))
    want = pa.array(values, pa_type)
    assert _built(values, pa_type).equals(want)
    assert _built(np.array(values, dtype), pa_type).equals(want)
    # read side: the values at every slice offset, bool included
    k = data.draw(st.integers(0, len(values)))
    got = numpy_view(_built(np.array(values, dtype), pa_type).slice(k))
    assert got.dtype == dtype and got.tolist() == values[k:]


@settings(max_examples=60, deadline=None)
@given(st.data(), st.sampled_from(["string", "binary"]))
def test_binary_and_string_cells_match_pa_array(data, kind):
    """Nulls, empty and non-ASCII strings, empty columns."""
    if kind == "string":
        pa_type, values = pa.string(), data.draw(st.lists(st.none() | _text, max_size=20))
    else:
        pa_type = pa.binary()
        values = data.draw(st.lists(st.none() | st.binary(max_size=8), max_size=20))
    built = _built(values, pa_type)
    assert built.equals(pa.array(values, pa_type))
    k = data.draw(st.integers(0, len(values)))
    part = built.slice(k)
    offsets = value_offsets(part)
    buf = part.buffers()[2]
    data_bytes = b"" if buf is None else buf.to_pybytes()
    cells = [data_bytes[offsets[i] : offsets[i + 1]] for i in range(len(part))]
    want = [b"" if v is None else v.encode() if isinstance(v, str) else v for v in values[k:]]
    assert cells == want


def test_ndarray_cells_join_into_one_buffer():
    arrs = [np.arange(6, dtype=np.uint16).reshape(2, 3), np.zeros((0,), np.uint8)]
    arrs.append(np.arange(12, dtype=np.uint8).reshape(3, 4)[:, ::2])  # not contiguous
    built = _built(arrs, pa.binary())
    assert built.to_pylist() == [a.tobytes() for a in arrs]


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_float_lists_match_pa_array(data):
    rows = data.draw(st.lists(st.lists(st.floats(width=32, **_finite), max_size=5), max_size=10))
    pa_type = pa.list_(pa.float32())
    want = pa.array(rows, pa_type)
    assert _built(rows, pa_type).equals(want)
    assert _built([np.array(r, np.float32) for r in rows], pa_type).equals(want)
    k = data.draw(st.integers(0, len(rows)))
    part = want.slice(k)
    offsets = value_offsets(part)
    values = numpy_view(part.values)
    assert [values[offsets[i] : offsets[i + 1]].tolist() for i in range(len(part))] == rows[k:]


def test_arrow_columns_pass_through_sliced():
    col = pa.array(["a", None, "b", "c"]).slice(1)
    assert _built(col, pa.string()).equals(col)


def test_overflow_raises_and_other_values_are_rejected():
    int_schema = pa.schema([("x", pa.int32())])
    with pytest.raises(pa.ArrowInvalid):
        arrow_batch({"x": np.array([1, 1 << 40])}, int_schema)
    with pytest.raises(pa.ArrowInvalid):
        arrow_batch({"x": [1, 1 << 40]}, int_schema)
    for bad in ({"a": 1}, np.array(["a"], dtype=object), ["a"], [1, None], 7):
        with pytest.raises(TypeError):
            arrow_batch({"x": bad}, int_schema)
    with pytest.raises(TypeError):
        arrow_batch({"x": [[1.0], None]}, pa.schema([("x", pa.list_(pa.float32()))]))


def test_numpy_view_rejects_nulls():
    with pytest.raises(ValueError, match="nulls"):
        numpy_view(pa.array([1.0, None]))
    assert numpy_view(pa.array([1.0, None]).slice(0, 1)).tolist() == [1.0]
