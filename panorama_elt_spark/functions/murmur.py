"""Spark-compatible Murmur3 key hashing, vectorized with numpy.

``LakeTable`` buckets rows with ``pmod(hash(*keys), n_buckets)`` where
``hash`` is Spark's Murmur3_x86_32 (seed 42) — the same family Spark's
``HashPartitioning`` uses, which is why the merge's single exchange also
produces the file layout. This module replicates that hash bit-for-bit
as one numpy kernel over whole columns. ``hash_columns`` feeds it Arrow
columns: the ``panorama`` data source's write tasks bucket and
fingerprint whole record batches with it. ``hash_rows`` feeds it Python
key values: driver-side planning (bucket and bloom pruning of key
lookups) hashes every pinned key combination in one call, without
loading pyarrow into the planning process. No path hashes row by row.

Semantics mirror Spark's Murmur3Hash expression:

* multiple columns chain — column i's hash becomes column i+1's seed;
* NULL leaves the running seed unchanged;
* int/date hash as a 4-byte block, long/timestamp as two 4-byte blocks,
  boolean as int 1/0, strings as UTF-8 bytes (4-byte LE blocks, then
  per-byte tail mixes of each sign-extended byte — Spark's
  ``hashUnsafeBytes``, which differs from canonical Murmur3's tail).

Parity with ``F.hash`` is pinned by ``tests/test_datasource.py``.
"""

from __future__ import annotations

import datetime as _dt

import numpy as np

# types this module can hash — pruning is only legal when every key
# column's declared type is in this set
SUPPORTED_TYPES = {"int", "bigint", "string", "boolean", "date", "timestamp"}

# bytes each fixed-width type hashes (its Spark internal integer width)
_WIDTH = {"int": 4, "boolean": 4, "date": 4, "bigint": 8, "timestamp": 8}

_U32 = np.uint32


def _rotl(x, r: int):
    return (x << _U32(r)) | (x >> _U32(32 - r))


def _mix_k1(k1):
    return _rotl(k1 * _U32(0xCC9E2D51), 15) * _U32(0x1B873593)


def _mix_h1(h1, k1):
    return _rotl(h1 ^ k1, 13) * _U32(5) + _U32(0xE6546B64)


def _fmix(h1, length):
    h1 = h1 ^ length
    h1 = h1 ^ (h1 >> _U32(16))
    h1 = h1 * _U32(0x85EBCA6B)
    h1 = h1 ^ (h1 >> _U32(13))
    h1 = h1 * _U32(0xC2B2AE35)
    return h1 ^ (h1 >> _U32(16))


def _check(tname: str) -> None:
    if tname not in SUPPORTED_TYPES:
        raise ValueError(f"unsupported key type for Murmur3 hashing: {tname}")


def _hash_fixed(v, valid, h):
    """``hashInt`` (``v`` uint32) or ``hashLong`` (``v`` uint64) of every
    row; rows where ``valid`` is False (NULL) keep their seed."""
    if v.dtype == _U32:
        out = _fmix(_mix_h1(h, _mix_k1(v)), _U32(4))
    else:
        out = _mix_h1(h, _mix_k1(v.astype(_U32)))
        out = _fmix(_mix_h1(out, _mix_k1((v >> np.uint64(32)).astype(_U32))), _U32(8))
    return out if valid is None else np.where(valid, out, h)


def _hash_bytes(offsets, data, valid, h):
    """``hashUnsafeBytes`` of every row's bytes ``data[offsets[i]:
    offsets[i + 1]]``. Rows are ordered by block count once, so the
    block loop touches only the rows still holding a block; the tail
    mixes one sign-extended byte at a time."""
    rows = np.arange(len(h)) if valid is None else np.nonzero(valid)[0]
    starts = offsets[rows]
    lengths = offsets[rows + 1] - starts
    order = np.argsort(-(lengths >> 2), kind="stable")
    rows, starts, lengths = rows[order], starts[order], lengths[order]
    blocks = lengths >> 2
    hv = h[rows]
    if len(rows) and blocks[0]:
        # rows holding more than j blocks form a prefix of the order
        active = np.searchsorted(-blocks, -np.arange(blocks[0]), side="left")
        for j, k in enumerate(active):
            p = starts[:k] + 4 * j
            word = (
                data[p].astype(_U32)
                | (data[p + 1].astype(_U32) << _U32(8))
                | (data[p + 2].astype(_U32) << _U32(16))
                | (data[p + 3].astype(_U32) << _U32(24))
            )
            hv[:k] = _mix_h1(hv[:k], _mix_k1(word))
    tail_at = starts + (blocks << 2)
    tails = lengths & 3
    for t in range(3):
        m = tails > t
        if m.any():
            byte = data[tail_at[m] + t].view(np.int8).astype(np.int32).view(_U32)
            hv[m] = _mix_h1(hv[m], _mix_k1(byte))
    out = h.copy()
    out[rows] = _fmix(hv, lengths.astype(_U32))
    return out


def hash_columns(arrays, types: list[str], seed: int = 42) -> np.ndarray:
    """Spark ``F.hash(*cols)`` of every row (``np.int32``): one Arrow
    array (or chunked array) per key column, ``types`` their table-schema
    DDL names (``SUPPORTED_TYPES``). Column i's hashes seed column i+1."""
    import pyarrow as pa
    import pyarrow.compute as pc

    h = np.full(len(arrays[0]) if arrays else 0, seed & 0xFFFFFFFF, dtype=_U32)
    for arr, tname in zip(arrays, types):
        _check(tname)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        valid = arr.is_valid().to_numpy(zero_copy_only=False) if arr.null_count else None
        if tname == "string":
            bufs = arr.buffers()
            off_type = np.int64 if pa.types.is_large_string(arr.type) else np.int32
            offsets = np.frombuffer(bufs[1], dtype=off_type)
            offsets = offsets[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)
            data = np.frombuffer(bufs[2] or b"", dtype=np.uint8)
            h = _hash_bytes(offsets, data, valid, h)
        else:
            wide = _WIDTH[tname] == 8
            # timestamps arrive as Spark's micros, dates as epoch days
            v = pc.cast(arr, pa.int64() if wide else pa.int32()).fill_null(0)
            v = v.to_numpy(zero_copy_only=False).view(np.uint64 if wide else _U32)
            h = _hash_fixed(v, valid, h)
    return h.view(np.int32)


def _epoch_days(v):
    return (v - _dt.date(1970, 1, 1)).days if isinstance(v, _dt.date) else int(v)


def _epoch_micros(v):
    if not isinstance(v, _dt.datetime):
        return int(v)
    if v.tzinfo is None:  # naive: UTC wall time
        v = v.replace(tzinfo=_dt.timezone.utc)
    d = v - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


_TO_INT = {"date": _epoch_days, "timestamp": _epoch_micros, "boolean": bool}


def hash_rows(rows: list, types: list[str], seed: int = 42) -> np.ndarray:
    """``hash_columns`` over Python rows of key values, through the same
    kernel (one call for every row). Dates may be ``datetime.date``
    (epoch days), timestamps ``datetime.datetime`` (epoch micros; a
    naive one counts as UTC), matching Spark's internal forms."""
    h = np.full(len(rows), seed & 0xFFFFFFFF, dtype=_U32)
    for i, tname in enumerate(types):
        _check(tname)
        vals = [r[i] for r in rows]
        valid = np.array([v is not None for v in vals], dtype=bool)
        if tname == "string":
            raw = [b"" if v is None else str(v).encode("utf-8") for v in vals]
            offsets = np.cumsum([0] + [len(b) for b in raw], dtype=np.int64)
            h = _hash_bytes(offsets, np.frombuffer(b"".join(raw), np.uint8), valid, h)
            continue
        conv = _TO_INT.get(tname, int)
        bits = _WIDTH[tname] * 8
        v = np.array(
            [0 if x is None else int(conv(x)) & ((1 << bits) - 1) for x in vals],
            dtype=np.uint64 if bits == 64 else _U32,
        )
        h = _hash_fixed(v, valid, h)
    return h.view(np.int32)


def murmur3_hash(values: list, types: list[str], seed: int = 42) -> int:
    """Spark ``F.hash(*cols)`` of one row of key values (signed int32)."""
    return int(hash_rows([values], types, seed)[0])


def bucket_of(values: list, types: list[str], n_buckets: int) -> int:
    """``pmod(murmur3_hash(values), n_buckets)`` — the bucket the lake
    table stores this key in (``table.bucket_expr`` parity)."""
    return murmur3_hash(values, types) % n_buckets
