"""numpy <-> Arrow through buffers: null-free numeric arrays both ways, and
list, string and map arrays built from run lengths.

``pa.array(ndarray)`` and ``Array.to_numpy()`` load pandas through
pyarrow's pandas shim. A Python worker that only moves numbers between
Arrow batches and numpy has no use for it: in an interpreter that already
holds numpy and pyarrow, importing pandas costs about 0.3 s of CPU and
40 MB RSS (4-vCPU x86-64 host), once per Spark Python worker.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# Arrow fixed-width numeric type -> numpy dtype (bool is bit-packed: absent)
_DTYPES = {
    pa.from_numpy_dtype(np.dtype(c)): np.dtype(c)
    for c in ("i1", "i2", "i4", "i8", "u1", "u2", "u4", "u8", "f2", "f4", "f8")
}


def np_to_arrow(values: np.ndarray) -> pa.Array:
    """A null-free Arrow array over the memory of a numeric numpy array."""
    v = np.ascontiguousarray(values)
    return pa.Array.from_buffers(
        pa.from_numpy_dtype(v.dtype), len(v), [None, pa.py_buffer(v)]
    )


def arrow_to_np(a: pa.Array) -> np.ndarray:
    """The values of a numeric Arrow array as a read-only numpy view of its
    data buffer. Raises ``ValueError`` on nulls (their slots hold no value)."""
    if a.null_count:
        raise ValueError(f"{a.null_count} nulls in a {a.type} array")
    dt = _DTYPES.get(a.type)
    if dt is None:
        raise TypeError(f"not a fixed-width numeric Arrow type: {a.type}")
    if not len(a):
        return np.empty(0, dtype=dt)
    return np.frombuffer(a.buffers()[1], dtype=dt, count=len(a), offset=a.offset * dt.itemsize)


def _offsets(counts: np.ndarray) -> pa.Buffer:
    """Arrow int32 offsets for consecutive runs of ``counts`` items."""
    off = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=off[1:])
    if off[-1] > np.iinfo(np.int32).max:
        raise ValueError("batch too large for int32 Arrow offsets")
    return pa.py_buffer(off.astype(np.int32))


def list_array(counts: np.ndarray, values: pa.Array) -> pa.Array:
    """Consecutive runs of ``counts`` items of ``values`` as a list array."""
    return pa.ListArray.from_buffers(
        pa.list_(values.type), len(counts), [None, _offsets(counts)], children=[values]
    )


def utf8_array(data: np.ndarray, lens: np.ndarray) -> pa.Array:
    """Back-to-back raw bytes (uint8), cut into strings of ``lens`` bytes.
    Invalid UTF-8 raises ``pa.ArrowInvalid``, a ``ValueError``."""
    a = pa.Array.from_buffers(
        pa.string(), len(lens), [None, _offsets(lens), pa.py_buffer(data)]
    )
    a.validate(full=True)
    return a


def map_array(counts: np.ndarray, keys: pa.Array, items: pa.Array) -> pa.Array:
    """Consecutive runs of ``counts`` key/item pairs as a map array."""
    offsets = pa.Array.from_buffers(pa.int32(), len(counts) + 1, [None, _offsets(counts)])
    return pa.MapArray.from_arrays(offsets, keys, items)
