"""Pure-Python XXH64 matching Spark's ``xxhash64`` expression.

Implements the public xxHash64 algorithm with the same per-type input
normalization Spark applies (XxHash64 hashes ints as 4-byte values,
longs/timestamps/doubles as 8-byte, strings as their UTF-8 bytes, and
chains multiple arguments by feeding each field's hash in as the next
field's seed, starting from seed 42). Lets the scan planner compute
bloom-index positions for predicate literals without launching a Spark
job; tests/test_fileindex.py property-checks every supported type
against Spark's own xxhash64 output.

``spark_xxhash64_columns`` is the same hash over whole Arrow columns in
numpy (the writers' bucket kernel, ``write.bucket_column``): each step
of the algorithm runs once over every row that reaches it, so strings
of any length hash in a number of numpy passes bounded by the longest.
"""

from __future__ import annotations

import datetime
import struct
from typing import TYPE_CHECKING, Any

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np
    import pyarrow as pa

_MASK = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SEED = 42  # Spark's fixed xxhash64 seed


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def hash_int(value: int, seed: int) -> int:
    """4-byte input (Spark int/short/byte/date/float-bits/boolean)."""
    h = (seed + _P5 + 4) & _MASK
    h ^= ((value & 0xFFFFFFFF) * _P1) & _MASK
    h = (_rotl(h, 23) * _P2 + _P3) & _MASK
    return _fmix(h)


def hash_long(value: int, seed: int) -> int:
    """8-byte input (Spark long/timestamp/double-bits/small decimal)."""
    h = (seed + _P5 + 8) & _MASK
    h ^= (_rotl(((value & _MASK) * _P2) & _MASK, 31) * _P1) & _MASK
    h = (_rotl(h, 27) * _P1 + _P4) & _MASK
    return _fmix(h)


def _merge_round(h: int, v: int) -> int:
    v = (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
    h ^= v
    h = (h * _P1 + _P4) & _MASK
    return h


def hash_bytes(data: bytes, seed: int) -> int:
    """Standard XXH64 over a byte buffer (Spark hashUnsafeBytes)."""
    length = len(data)
    off = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while off <= length - 32:
            for i, v in enumerate((v1, v2, v3, v4)):
                (k,) = struct.unpack_from("<q", data, off + 8 * i)
                v = (v + (k & _MASK) * _P2) & _MASK
                v = (_rotl(v, 31) * _P1) & _MASK
                if i == 0:
                    v1 = v
                elif i == 1:
                    v2 = v
                elif i == 2:
                    v3 = v
                else:
                    v4 = v
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h = _merge_round(h, v)
    else:
        h = (seed + _P5) & _MASK
    h = (h + length) & _MASK
    while off <= length - 8:
        (k,) = struct.unpack_from("<q", data, off)
        h ^= (_rotl(((k & _MASK) * _P2) & _MASK, 31) * _P1) & _MASK
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK
        off += 8
    if off <= length - 4:
        (k4,) = struct.unpack_from("<i", data, off)
        h ^= ((k4 & 0xFFFFFFFF) * _P1) & _MASK
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK
        off += 4
    while off < length:
        h ^= (data[off] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        off += 1
    return _fmix(h)


_EPOCH = datetime.date(1970, 1, 1)

# DDL type -> normalizer returning ("int"|"long"|"bytes", normalized value);
# None return = unsupported (caller falls back to a Spark job)
def _normalize(value: Any, ddl: str):
    t = ddl.strip().lower()
    if t in ("bigint", "long"):
        return "long", int(value)
    if t in ("int", "integer", "smallint", "short", "tinyint", "byte"):
        return "int", int(value)
    if t in ("string", "varchar", "char") or t.startswith(("varchar(", "char(")):
        return "bytes", str(value).encode("utf-8")
    if t == "boolean":
        return "int", 1 if value else 0
    if t == "date":
        d = value if isinstance(value, datetime.date) else datetime.date.fromisoformat(str(value))
        return "int", (d - _EPOCH).days
    if t == "double":
        bits = struct.unpack("<q", struct.pack("<d", float(value)))[0]
        # Spark normalizes -0.0 to 0.0 before hashing
        if float(value) == 0.0:
            bits = 0
        return "long", bits
    if t == "float":
        bits = struct.unpack("<i", struct.pack("<f", float(value)))[0]
        if float(value) == 0.0:
            bits = 0
        return "int", bits
    if t in ("timestamp", "timestamp_ltz", "timestamp_ntz"):
        if isinstance(value, datetime.datetime):
            dt = value
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=datetime.timezone.utc)
            delta = dt - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
            return "long", delta // datetime.timedelta(microseconds=1)
        return None
    return None


def spark_xxhash64(values_types: list[tuple[Any, str]]) -> int | None:
    """Spark ``xxhash64(v1, v2, ...)``: each field hashed with the running
    hash as its seed. Returns the signed 64-bit result, or None when any
    value's type isn't supported here (caller uses the Spark fallback)."""
    h = SEED
    for value, ddl in values_types:
        norm = _normalize(value, ddl)
        if norm is None:
            return None
        kind, v = norm
        if kind == "int":
            h = hash_int(v, h)
        elif kind == "long":
            h = hash_long(v, h)
        else:
            h = hash_bytes(v, h)
    return h - (1 << 64) if h >= (1 << 63) else h


# the column kernel's input kind per DDL base type: a 4-byte value, an
# 8-byte value or UTF-8 bytes, as Spark's XxHash64 feeds each type
_KERNEL_KINDS = {
    **dict.fromkeys(("int", "integer", "smallint", "short", "tinyint", "byte"), "int"),
    **dict.fromkeys(("boolean", "date", "float"), "int"),
    **dict.fromkeys(("bigint", "long", "double", "timestamp"), "long"),
    **dict.fromkeys(("string", "varchar", "char"), "bytes"),
}


def _base_type(ddl: str) -> str:
    """The DDL type's base token: ``decimal(10,2)`` → ``decimal``,
    ``interval day`` → ``interval``, ``array<int>`` → ``array``."""
    return ddl.strip().lower().split("(")[0].split(" ")[0].split("<")[0]


def kernel_hashes(ddl: str) -> bool:
    """Whether ``spark_xxhash64_columns`` hashes values of the DDL type."""
    return _base_type(ddl) in _KERNEL_KINDS


def _column_input(col: "pa.ChunkedArray | pa.Array", ddl: str):
    """``(kind, values, valid)``: the Arrow column ``col`` of DDL type
    ``ddl`` as the kernel's numpy input, normalised as Spark hashes it
    (-0.0 as 0.0, every NaN as Java's canonical NaN, dates as days,
    timestamps as microseconds)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    base = _base_type(ddl)
    kind = _KERNEL_KINDS[base]
    if kind == "bytes":
        arr = arr.cast(pa.large_binary())
        _validity, offsets, data = arr.buffers()
        offsets = np.frombuffer(offsets, np.int64)[arr.offset : arr.offset + len(arr) + 1]
        data = np.frombuffer(data, np.uint8) if data is not None else np.zeros(0, np.uint8)
        return kind, (data, offsets[:-1], np.diff(offsets)), valid
    if base in ("float", "double"):
        f = pc.fill_null(arr, 0).to_numpy(zero_copy_only=False)
        bits = f.view(np.int32 if base == "float" else np.int64).astype(np.int64)
        bits[f == 0] = 0
        bits[np.isnan(f)] = 0x7FC00000 if base == "float" else 0x7FF8000000000000
    elif base == "boolean":
        bits = pc.fill_null(arr, False).to_numpy(zero_copy_only=False).astype(np.int64)
    elif base == "date":
        bits = pc.fill_null(arr.view(pa.int32()), 0).to_numpy().astype(np.int64)
    elif base == "timestamp":
        if arr.type.unit != "us":
            arr = arr.cast(pa.timestamp("us", arr.type.tz))
        bits = pc.fill_null(arr.view(pa.int64()), 0).to_numpy()
    else:
        bits = pc.fill_null(arr.cast(pa.int64()), 0).to_numpy()
    values = bits.astype(np.int64).view(np.uint64)
    if kind == "int":
        values = values & np.uint64(0xFFFFFFFF)
    return kind, values, valid


def _u(*xs: int):
    import numpy as np

    return [np.uint64(x) for x in xs]


def _rotl_v(x, r: int):
    import numpy as np

    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix_v(h):
    import numpy as np

    p2, p3 = _u(_P2, _P3)
    h = h ^ (h >> np.uint64(33))
    h = h * p2
    h ^= h >> np.uint64(29)
    h = h * p3
    return h ^ (h >> np.uint64(32))


def _hash_int_v(v, seed):
    p1, p2, p3, p5_4 = _u(_P1, _P2, _P3, (_P5 + 4) & _MASK)
    h = (seed + p5_4) ^ (v * p1)
    return _fmix_v(_rotl_v(h, 23) * p2 + p3)


def _hash_long_v(v, seed):
    p1, p2, p4, p5_8 = _u(_P1, _P2, _P4, (_P5 + 8) & _MASK)
    h = (seed + p5_8) ^ (_rotl_v(v * p2, 31) * p1)
    return _fmix_v(_rotl_v(h, 27) * p1 + p4)


def _hash_bytes_v(data, starts, lengths, seed):
    """``hash_bytes`` over rows ``data[starts[i]:starts[i] + lengths[i]]``."""
    import numpy as np

    p1, p2, p3, p4, p5 = _u(_P1, _P2, _P3, _P4, _P5)

    def words(pos, width):
        # little-endian words at byte offsets ``pos``
        grid = data[pos[:, None] + np.arange(width)]
        return np.ascontiguousarray(grid).view(f"<u{width}").ravel().astype(np.uint64)

    h = seed + p5
    stripes = lengths // 32
    big = np.flatnonzero(stripes)
    if len(big):
        s = seed[big]
        lanes = [s + p1 + p2, s + p2, s.copy(), s - p1]
        for n in range(int(stripes[big].max())):
            live = stripes[big] > n
            pos = starts[big][live] + 32 * n
            for i, v in enumerate(lanes):
                k = words(pos + 8 * i, 8)
                v[live] = _rotl_v(v[live] + k * p2, 31) * p1
        hb = sum(_rotl_v(v, r) for v, r in zip(lanes, (1, 7, 12, 18)))
        for v in lanes:
            hb = (hb ^ (_rotl_v(v * p2, 31) * p1)) * p1 + p4
        h[big] = hb
    h = h + lengths.astype(np.uint64)
    pos = starts + 32 * stripes
    rest = lengths - 32 * stripes
    for n in range(3):
        at = np.flatnonzero(rest >= 8 * (n + 1))
        k = words(pos[at] + 8 * n, 8)
        h[at] = _rotl_v(h[at] ^ (_rotl_v(k * p2, 31) * p1), 27) * p1 + p4
    pos = pos + (rest & ~7)
    rest = rest & 7
    at = np.flatnonzero(rest >= 4)
    h[at] = _rotl_v(h[at] ^ (words(pos[at], 4) * p1), 23) * p2 + p3
    pos[at] += 4
    rest[at] -= 4
    for n in range(3):
        at = np.flatnonzero(rest > n)
        b = data[pos[at] + n].astype(np.uint64)
        h[at] = _rotl_v(h[at] ^ (b * p5), 11) * p1
    return _fmix_v(h)


def spark_xxhash64_columns(columns: list[tuple["pa.ChunkedArray", str]], n: int) -> "np.ndarray":
    """Spark ``xxhash64(c1, c2, ...)`` of ``n`` rows, as a signed int64
    array: ``columns`` are ``(Arrow column, DDL type)`` pairs of types
    ``kernel_hashes`` covers. A NULL field leaves the running hash as it
    is, as in Spark."""
    import numpy as np

    h = np.full(n, SEED, np.uint64)
    for col, ddl in columns:
        kind, values, valid = _column_input(col, ddl)
        rows = np.flatnonzero(valid)
        seed = h[rows]
        if kind == "bytes":
            data, starts, lengths = values
            h[rows] = _hash_bytes_v(data, starts[rows], lengths[rows], seed)
        else:
            h[rows] = (_hash_int_v if kind == "int" else _hash_long_v)(values[rows], seed)
    return h.view(np.int64)
