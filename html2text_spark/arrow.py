"""Arrow arrays built from their buffers, without ``pyarrow.array``.

``pyarrow.array`` on a Python list first checks whether the list is a
pandas object, and that check imports pandas: about 0.3 s in every new
Python worker, which an extraction through ``mapInArrow`` otherwise never
pays.  The builders here lay out the Arrow buffers themselves (no nulls:
the extraction outputs have none).
"""

from __future__ import annotations

from array import array
from itertools import accumulate, compress, count
from typing import Sequence

import pyarrow as pa

#: array module type codes of the fixed-width types the extraction emits
_TYPECODES = {pa.int32(): "i", pa.int64(): "q", pa.float64(): "d"}


def array_of(values: Sequence, typ: pa.DataType) -> pa.Array:
    """``pa.array(values, typ)`` for non-null strings, booleans, int32,
    int64 or float64 values."""
    if typ == pa.string():
        data = [v.encode() for v in values]
        offsets = array("i", [0])
        offsets.extend(accumulate(map(len, data)))
        buffers = [offsets, b"".join(data)]
    elif typ == pa.bool_():
        bits = bytearray((len(values) + 7) // 8)
        for i in compress(count(), values):
            bits[i >> 3] |= 1 << (i & 7)
        buffers = [bits]
    else:
        buffers = [array(_TYPECODES[typ], values)]
    return pa.Array.from_buffers(
        typ, len(values), [None, *map(pa.py_buffer, buffers)]
    )
