"""CRC-32C (Castagnoli) + the TFRecord masking scheme.

The TFRecord on-disk format frames each record with masked CRC-32C
checksums (public format, documented in the TensorFlow source:
tensorflow/core/lib/io/record_writer.h). CRC-32C uses the reflected
polynomial 0x82F63B78. The mask is
``((crc >> 15) | (crc << 17)) + 0xa282ead8 (mod 2^32)``.

Neither ``crc32c`` nor TensorFlow is available in the runtime, so there
are two implementations of the same function:

* :func:`crc32c` — the byte-at-a-time table loop in pure Python, for a
  single short string and as the reference the batch kernel is tested
  against.
* :func:`crc32c_spans` — numpy over many byte spans of one contiguous
  buffer (an Arrow binary array's data buffer, a decompressed shard).
  Its design and cost model are described above the kernel below.
"""

from __future__ import annotations

import numpy as np

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


# ------------------------------------------------- vectorized span kernel
#
# The CRC register update ``r' = T[(r ^ b) & 0xFF] ^ (r >> 8)`` is linear
# over GF(2) (bits under XOR) in the register and the byte together. So
# the register after a message M, started from state s, is
#
#     R(s, M) = A^len(M) s  ^  R(0, M)
#
# where A is "advance over one zero byte", and R(0, M) is the XOR of each
# byte's own contribution: byte b at distance d from the end of M adds
# A^d T[b]. crc32c(M) = R(0xFFFFFFFF, M) ^ 0xFFFFFFFF. Two tables
# follow from that:
#
# * _POSITION[i][b] = A^(CHUNK-1-i) T[b]: the contribution of byte b in
#   column i of a CHUNK-byte window. The init-0 CRC of any window of
#   width w <= CHUNK is one gather per column into the last w rows,
#   XORed together.
# * _ADVANCE[k] applies A^(2^k) to a register as four byte-indexed
#   gathers (a 32x32 GF(2) matrix split by input byte). Advancing over
#   d zero bytes applies one per set bit of d (zlib's crc32_combine).
#
# A record of n = q*CHUNK + h bytes (h < CHUNK) is cut into the binary
# pieces of its head h (widths 128, 64, ..., 1 at its start, in order)
# and q full CHUNK-byte chunks after them, so no piece crosses the
# record and nothing needs masking or padding. The head pieces step a
# register that starts at 0xFFFFFFFF (the seed), one A^w per piece;
# that register is then advanced over q*CHUNK bytes. Each chunk's init-0
# CRC is advanced over its distance to the record end, and one
# ``bitwise_xor.reduceat`` per block folds a record's chunks together.
#
# Cost: two gathers per byte (the byte, then its table entry), plus a
# number of numpy calls set by CHUNK and by the log of the longest
# record (at most 2*CHUNK-1 column passes, one advance per distance
# bit): no sort, no padded (rows x maxlen) matrix, no loop over
# records or over their bytes. Records are processed in blocks of about
# _BLOCK_BYTES so the buffer region a block's column passes re-read
# stays in cache and the index arrays stay small.
#
# Both constants come from single-core microbenchmarks of this kernel
# (random bytes, median of 15 interleaved runs, seconds):
#
#   CHUNK (block 1 MiB)          32      64      128     256
#   108 records x 65.6 KB        0.069   0.050   0.039   0.036
#   60,000 records x 170-200 B   0.080   0.067   0.066   0.060
#   4,096 records x 170-200 B    0.006   0.004   0.005   0.004
#
#   _BLOCK_BYTES (CHUNK 256)     256K    512K    1M      2M      4M
#   108 records x 65.6 KB        0.068   0.050   0.040   0.035   0.048
#   60,000 records x 170-200 B   0.114   0.091   0.078   0.079   0.104
#
# (the block sweep repeated on another core gave the same order). A
# longer chunk means fewer chunks to advance; its (CHUNK, 256) table is
# 256 KiB. 1 MiB ties 2 MiB on short records and is ~12% slower on long
# ones, a few ms per shard; 4 MiB is slower on both.

CHUNK = 256
_BLOCK_BYTES = 1 << 20
_SEED = np.uint32(0xFFFFFFFF)


def _apply(op: np.ndarray, crc: np.ndarray) -> np.ndarray:
    """The GF(2)-linear map ``op`` (4 x 256 per-input-byte images)
    applied to every register in ``crc``."""
    return (
        op[0].take(crc & np.uint32(0xFF))
        ^ op[1].take((crc >> np.uint32(8)) & np.uint32(0xFF))
        ^ op[2].take((crc >> np.uint32(16)) & np.uint32(0xFF))
        ^ op[3].take(crc >> np.uint32(24))
    )


def _advance_tables() -> np.ndarray:
    """(63, 4, 256): row k applies A^(2^k), by repeated squaring of A."""
    byte = np.arange(256, dtype=np.uint32)
    # A(r) = T[r & 0xFF] ^ (r >> 8): input byte j > 0 just moves down one
    op = np.stack([np.array(_TABLE, dtype=np.uint32), byte, byte << 8, byte << 16])
    ops = [op]
    for _ in range(62):  # distances are int64, so bit 63 never occurs
        op = np.stack([_apply(op, images) for images in op])
        ops.append(op)
    return np.stack(ops)


_ADVANCE = _advance_tables()


def _position_table() -> np.ndarray:
    table = np.empty((CHUNK, 256), dtype=np.uint32)
    table[-1] = _TABLE
    for i in range(CHUNK - 2, -1, -1):
        table[i] = _apply(_ADVANCE[0], table[i + 1])
    return table


_POSITION = _position_table()


def _advance(crc: np.ndarray, distance: np.ndarray) -> None:
    """Advance each register in ``crc`` over ``distance`` zero bytes, in
    place."""
    bits = int(np.bitwise_or.reduce(distance)) if distance.size else 0
    for k in range(bits.bit_length()):
        if bits >> k & 1:
            selected = (distance >> k & 1).astype(bool)
            np.copyto(crc, _apply(_ADVANCE[k], crc), where=selected)


def _windows(buf: np.ndarray, pos: np.ndarray, width: int) -> np.ndarray:
    """Init-0 CRC of ``buf[p : p + width]`` for every ``p`` in ``pos``."""
    crc = np.zeros(len(pos), dtype=np.uint32)
    for i, column in enumerate(_POSITION[CHUNK - width :]):
        crc ^= column.take(buf[i:].take(pos))
    return crc


def _span_block(
    buf: np.ndarray, starts: np.ndarray, lengths: np.ndarray, block_bytes: int
) -> np.ndarray:
    """Registers R(0xFFFFFFFF, record) for one block of records."""
    full, head = np.divmod(lengths, CHUNK)
    reg = np.full(len(lengths), _SEED, dtype=np.uint32)
    for b in reversed(range(CHUNK.bit_length() - 1)):  # head pieces, in order
        width = 1 << b
        rec = np.flatnonzero(head & width)
        if rec.size:
            pos = starts[rec] + (head[rec] & -(2 * width))
            reg[rec] = _apply(_ADVANCE[b], reg[rec]) ^ _windows(buf, pos, width)
    _advance(reg, full * CHUNK)
    # full chunks, in slices of block_bytes even inside one long record
    first = np.zeros(len(lengths) + 1, dtype=np.int64)  # first chunk id
    np.cumsum(full, out=first[1:])
    total = int(first[-1])
    per = max(1, block_bytes // CHUNK)
    for c0 in range(0, total, per):
        c1 = min(c0 + per, total)
        r0 = int(np.searchsorted(first, c0, "right")) - 1
        r1 = int(np.searchsorted(first, c1, "left"))
        counts = np.minimum(first[r0 + 1 : r1 + 1], c1) - np.maximum(first[r0:r1], c0)
        recs = np.arange(r0, r1)[counts > 0]
        counts = counts[counts > 0]
        rec = np.repeat(recs, counts)
        j = np.arange(c0, c1) - first[rec]  # chunk index inside its record
        crc = _windows(buf, starts[rec] + head[rec] + CHUNK * j, CHUNK)
        _advance(crc, CHUNK * (full[rec] - 1 - j))
        groups = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=groups[1:])
        reg[recs] ^= np.bitwise_xor.reduceat(crc, groups)
    return reg


def crc32c_spans(buf, starts, lengths, block_bytes: int = _BLOCK_BYTES) -> np.ndarray:
    """CRC-32C of ``buf[starts[i] : starts[i] + lengths[i]]`` for every
    ``i`` (uint32 array, input order), read in place from any contiguous
    bytes-like ``buf``. Spans may sit anywhere in the buffer and in any
    order; consecutive spans in a block of at most ``block_bytes``
    record bytes (or one longer record) share its column passes."""
    buf = np.frombuffer(buf, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.asarray(lengths, dtype=np.int64)
    out = np.empty(len(lengths), dtype=np.uint32)
    ends = np.cumsum(lengths)
    total = int(ends[-1]) if len(ends) else 0
    cuts = np.searchsorted(ends, np.arange(block_bytes, total, block_bytes)) + 1
    bounds = np.unique(np.concatenate([[0], cuts, [len(lengths)]]))
    for r0, r1 in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        out[r0:r1] = _span_block(buf, starts[r0:r1], lengths[r0:r1], block_bytes)
    return out ^ _SEED


def crc32c_many(records: list[bytes], block_bytes: int = _BLOCK_BYTES) -> np.ndarray:
    """CRC-32C of many byte strings at once (uint32 array, input order):
    :func:`crc32c_spans` over the records joined into one buffer."""
    lengths = np.fromiter(map(len, records), dtype=np.int64, count=len(records))
    starts = np.cumsum(lengths) - lengths
    return crc32c_spans(b"".join(records), starts, lengths, block_bytes)


def _mask_np(crc: np.ndarray) -> np.ndarray:
    return ((crc >> np.uint32(15)) | (crc << np.uint32(17))) + np.uint32(_MASK_DELTA)


def masked_crc32c_spans(buf, starts, lengths) -> np.ndarray:
    return _mask_np(crc32c_spans(buf, starts, lengths))


def masked_crc32c_many(records: list[bytes]) -> np.ndarray:
    return _mask_np(crc32c_many(records))

