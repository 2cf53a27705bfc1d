"""Pure-Python CRC-32C (Castagnoli) + the TFRecord masking scheme.

The TFRecord on-disk format frames each record with masked CRC-32C
checksums (public format, documented in the TensorFlow source:
tensorflow/core/lib/io/record_writer.h). CRC-32C uses the reflected
polynomial 0x82F63B78. The mask is
``((crc >> 15) | (crc << 17)) + 0xa282ead8 (mod 2^32)``.

This implementation exists because neither ``crc32c`` nor TensorFlow is
available in the runtime; it is table-driven and only touches record
headers and payloads once.
"""

from __future__ import annotations

_POLY = 0x82F63B78
_MASK_DELTA = 0xA282EAD8


def _make_table() -> list[int]:
    table = []
    for i in range(256):
        crc = i
        for _ in range(8):
            crc = (crc >> 1) ^ _POLY if crc & 1 else crc >> 1
        table.append(crc)
    return table


_TABLE = _make_table()


def crc32c(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFF
    table = _TABLE
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + _MASK_DELTA) & 0xFFFFFFFF


# ------------------------------------------------- vectorized batch path
#
# CRC is sequential in the byte dimension but embarrassingly parallel in
# the RECORD dimension: the write path checksums hundreds of thousands
# of ~fixed-size Examples per partition, so stepping all records'
# state machines in lockstep with one table-gather per byte position
# turns ~len(record) Python iterations PER RECORD into ~len(record)
# numpy ops PER BATCH (measured ~50x on the convert write path).

import numpy as _np

_TABLE_NP = _np.array(_TABLE, dtype=_np.uint32)


def _crc32c_block(arr: "_np.ndarray", lengths: "_np.ndarray") -> "_np.ndarray":
    """CRC-32C over the rows of a (n, maxlen) uint8 array; rows are
    length-sorted DESCENDING so at byte j the first k rows are active."""
    n = arr.shape[0]
    crc = _np.full(n, 0xFFFFFFFF, dtype=_np.uint32)
    tab = _TABLE_NP
    k = n
    for j in range(arr.shape[1]):
        while k and lengths[k - 1] <= j:
            k -= 1
        if not k:
            break
        c = crc[:k]
        crc[:k] = tab[(c ^ arr[:k, j]) & _np.uint32(0xFF)] ^ (c >> _np.uint32(8))
    return crc ^ _np.uint32(0xFFFFFFFF)


# records at least this long are packed by row copies, not an index gather
_ROW_COPY_BYTES = 4096


def crc32c_many(records: list[bytes], block_bytes: int = 1 << 26) -> "_np.ndarray":
    """CRC-32C of many byte strings at once (uint32 array, input order).

    Records are length-sorted and processed in blocks whose padded
    (rows x maxlen) matrix stays under ``block_bytes``, so one huge
    record among many small ones cannot blow up padding memory.
    """
    n = len(records)
    out = _np.empty(n, dtype=_np.uint32)
    if not n:
        return out
    lengths = _np.fromiter((len(r) for r in records), dtype=_np.int64, count=n)
    # r11 (optimization round): pack the padded matrix from ONE flat
    # join + per-distinct-length 2D gathers instead of a per-record
    # Python copy loop — same bytes, ~2x faster on the convert write
    # path (0.67 s vs 1.50 s per 600k ~180-byte records, measured);
    # record counts per length cluster tightly for proto Examples so
    # the gather count stays ~|distinct lengths| per block.
    flat = _np.frombuffer(b"".join(records), dtype=_np.uint8)
    offs = _np.zeros(n + 1, dtype=_np.int64)
    _np.cumsum(lengths, out=offs[1:])
    order = _np.argsort(-lengths, kind="stable")
    start = 0
    while start < n:
        maxlen = int(lengths[order[start]])
        rows = max(1, block_bytes // max(maxlen, 1))
        block = order[start : start + rows]
        blens = lengths[block]
        boffs = offs[block]
        arr = _np.zeros((len(block), maxlen), dtype=_np.uint8)
        for length in _np.unique(blens):
            ln = int(length)
            if not ln:
                continue
            sel = _np.flatnonzero(blens == ln)
            if ln >= _ROW_COPY_BYTES:
                # long records: one slice copy per row; the gather below
                # would build an int64 index 8x the size of the rows
                for row in sel.tolist():
                    arr[row, :ln] = flat[boffs[row] : boffs[row] + ln]
                continue
            # row-fancy + column-slice assignment: a full 2D fancy
            # index here is ~10x slower (measured)
            arr[sel, :ln] = flat[
                boffs[sel][:, None] + _np.arange(ln)[None, :]
            ]
        out[block] = _crc32c_block(arr, blens)
        start += rows
    return out


def crc32c_fixed(arr: "_np.ndarray") -> "_np.ndarray":
    """CRC-32C over the rows of an already-packed (n, L) uint8 array —
    the zero-copy fast path for fixed-width records (the 8-byte
    TFRecord length headers: reshape the contiguous header buffer, no
    per-record slicing or packing; measured 0.73 s -> 0.03 s per 600k
    headers on the convert write path)."""
    n = arr.shape[0]
    return _crc32c_block(
        _np.ascontiguousarray(arr),
        _np.full(n, arr.shape[1], dtype=_np.int64),
    )


def _mask_np(crc: "_np.ndarray") -> "_np.ndarray":
    return ((crc >> _np.uint32(15)) | (crc << _np.uint32(17))) + _np.uint32(_MASK_DELTA)


def masked_crc32c_many(records: list[bytes]) -> "_np.ndarray":
    return _mask_np(crc32c_many(records))


def masked_crc32c_fixed(arr: "_np.ndarray") -> "_np.ndarray":
    return _mask_np(crc32c_fixed(arr))
