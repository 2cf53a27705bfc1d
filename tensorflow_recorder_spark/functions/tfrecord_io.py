"""TFRecord file framing: length-prefixed records with masked CRC-32C.

Public on-disk format (tensorflow/core/lib/io/record_writer.h):

    uint64 length          (little-endian)
    uint32 masked_crc32c(length bytes)
    bytes  data[length]
    uint32 masked_crc32c(data)

Used by both the sink (K2) and the scan (S5). Compression operates on
the whole file stream — gzip matching the reference's ``.tfrecord.gz``
output (/root/reference/tfrecorder/beam_pipeline.py:105-110), and raw
zlib matching TF's ZLIB option, which the reference infers from the
``.zlib`` extension (/root/reference/tfrecorder/dataset_loader.py:32-35,
72-79).
"""

from __future__ import annotations

import gzip
import io
import struct
import zlib
from collections.abc import Iterator

import numpy as np

from . import fs
from .crc32c import masked_crc32c, masked_crc32c_fixed, masked_crc32c_many

_U64 = struct.Struct("<Q")
_U32 = struct.Struct("<I")


def _gzip_owning(raw, mode: str, **kw) -> gzip.GzipFile:
    """GzipFile over ``raw`` that CLOSES raw on close. GzipFile(fileobj=)
    deliberately leaves the fileobj open; assigning ``myfileobj`` is how
    GzipFile(filename=) itself transfers ownership (stdlib gzip.py)."""
    gz = gzip.GzipFile(fileobj=raw, mode=mode, **kw)
    gz.myfileobj = raw
    return gz


class _ZlibWriter(io.RawIOBase):
    """Streaming raw-zlib (RFC 1950) writer over ``raw``; owns and closes
    the underlying file. TF's ZLIB record compression is a whole-file
    zlib stream, so one compressobj spans the file."""

    def __init__(self, raw, level: int = 6):
        self._raw = raw
        self._z = zlib.compressobj(level)

    def write(self, data) -> int:
        self._raw.write(self._z.compress(bytes(data)))
        return len(data)

    def writable(self) -> bool:
        return True

    def close(self) -> None:
        if not self.closed:
            self._raw.write(self._z.flush())
            self._raw.close()
        super().close()


def _normalize_compression(compressed) -> str | None:
    """Normalize the sink flag: legacy bool (True == gzip) or the
    reference's string names ('gzip' | 'zlib' | None/'')."""
    if compressed is True:
        return "gzip"
    if compressed in (False, None, ""):
        return None
    value = str(compressed).lower()
    if value in ("gzip", "zlib"):
        return value
    raise ValueError(f"unsupported TFRecord compression {compressed!r}")


def write_record(fh, data: bytes) -> None:
    header = _U64.pack(len(data))
    fh.write(header)
    fh.write(_U32.pack(masked_crc32c(header)))
    fh.write(data)
    fh.write(_U32.pack(masked_crc32c(data)))


def frame_records(records: list[bytes]) -> bytes:
    """Frame many records into one TFRecord byte stream (batch write
    path). Byte-identical to repeated :func:`write_record`, but both
    masked CRC-32Cs are computed vectorized across the batch
    (crc32c.masked_crc32c_many) and the result is a single buffer — one
    ``fh.write`` per batch instead of four per record, which matters
    through a GzipFile."""
    n = len(records)
    if not n:
        return b""
    lengths = np.fromiter((len(r) for r in records), dtype=np.uint64, count=n)
    headers = lengths.astype("<u8").tobytes()  # n concatenated u64 prefixes
    # r11: headers are fixed-width and already contiguous — CRC them as
    # one (n, 8) reshape (crc32c_fixed), no per-record slicing/packing
    hcrc = (
        masked_crc32c_fixed(
            np.frombuffer(headers, dtype=np.uint8).reshape(n, 8)
        )
        .astype("<u4")
        .tobytes()
    )
    dcrc = masked_crc32c_many(records).astype("<u4").tobytes()
    # bytes slices, not memoryviews: join's fast path needs real bytes
    # (measured 5x slower through buffer-protocol objects)
    parts = []
    for i, r in enumerate(records):
        h8, c4 = i * 8, i * 4
        parts.append(headers[h8 : h8 + 8])
        parts.append(hcrc[c4 : c4 + 4])
        parts.append(r)
        parts.append(dcrc[c4 : c4 + 4])
    return b"".join(parts)


def record_offsets(data, verify: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Unframe a raw (already-decompressed) TFRecord byte string in one
    pass: -> (starts, lengths), int64 arrays locating each record's
    payload in ``data``. ``verify=True`` checks both CRCs (golden tests).

    Corrupt input raises ONLY the declared ValueError (r11): a record
    whose length field runs past the end of file used to reach
    ``_U32.unpack(b"")`` -> undeclared struct.error on the executor —
    the same totality class as the codec walkers. A truncated stream is
    a loud declared failure, matching tf.data's DataLossError
    semantics, not a silent partial read."""
    starts: list[int] = []
    lengths: list[int] = []
    u64 = _U64.unpack_from
    u32 = _U32.unpack_from
    pos = 0
    n = len(data)
    while pos + 12 <= n:
        (length,) = u64(data, pos)
        if verify and masked_crc32c(data[pos : pos + 8]) != u32(data, pos + 8)[0]:
            raise ValueError(f"corrupt TFRecord header at offset {pos}")
        start = pos + 12
        if start + length + 4 > n:
            raise ValueError(
                f"corrupt TFRecord: record at offset {pos} declares "
                f"{length} payload bytes but the stream ends at {n}"
            )
        if verify and (
            masked_crc32c(data[start : start + length])
            != u32(data, start + length)[0]
        ):
            raise ValueError(f"corrupt TFRecord payload at offset {start}")
        starts.append(start)
        lengths.append(length)
        pos = start + length + 4
    if pos != n:
        raise ValueError(
            f"corrupt TFRecord: {n - pos} trailing bytes after the last "
            "complete record"
        )
    return np.array(starts, dtype=np.int64), np.array(lengths, dtype=np.int64)


def read_records(data: bytes, verify: bool = False) -> Iterator[bytes]:
    """Iterate the records in a raw (already-decompressed) TFRecord byte
    string; framing checks and errors are :func:`record_offsets`'."""
    starts, lengths = record_offsets(data, verify)
    for start, length in zip(starts.tolist(), lengths.tolist()):
        yield data[start : start + length]


def open_output(path: str, compressed: bool | str | None):
    """Open a TFRecord shard for writing. Compression is an explicit flag
    — legacy bool (True == gzip) or 'gzip' | 'zlib' | None — because
    writers stage shards under temp names, so extension sniffing would
    silently mislabel; mtime=0 and an empty FNAME (TF's own writer omits
    it too) keep gzip output byte-deterministic and free of temp names.

    Level 6 (the zlib/gzip-CLI default), not Python's GzipFile default
    of 9: level 9 costs ~2x the CPU of 6 for ~1% smaller TFRecords —
    at write-path scale that is executor time, not a win.

    Paths route through the FS shim (functions/fs.py): plain paths and
    ``file://`` URIs open locally anywhere; remote schemes work from
    the driver (Hadoop FS) — the reference's ``tf.io.gfile``
    transparency (utils.py:109-119)."""
    codec = _normalize_compression(compressed)
    raw = fs.open_output(path, "wb")
    if codec == "gzip":
        return _gzip_owning(raw, "wb", filename="", compresslevel=6, mtime=0)
    if codec == "zlib":
        return _ZlibWriter(raw, level=6)
    return raw


def open_maybe_gzip(path: str, mode: str = "rb"):
    """Open with compression inferred from the extension (.gz / .zlib),
    the reference's read-side convention (dataset_loader.py:32-35)."""
    if path.endswith(".gz"):
        if "w" in mode:
            return _gzip_owning(fs.open_output(path, "wb"), mode, mtime=0)
        return _gzip_owning(fs.open_input(path, "rb"), mode)
    if path.endswith(".zlib"):
        if "w" in mode:
            return _ZlibWriter(fs.open_output(path, "wb"), level=6)
        with fs.open_input(path, "rb") as fh:
            return io.BytesIO(zlib.decompress(fh.read()))
    if "w" in mode:
        return fs.open_output(path, mode)
    return fs.open_input(path, mode)


def _maybe_decompress_blob(blob: bytes, compressed) -> bytes:
    """Decompress an in-memory shard image if flagged or magic-sniffed.

    gzip has an unambiguous 2-byte magic. zlib's 0x78 first byte can
    collide with a raw TFRecord whose first record length ends in 0x78,
    so the zlib sniff validates the header checksum AND falls back to
    the raw bytes if inflate fails — inference is best-effort; callers
    that know the codec should pass ``compressed`` explicitly."""
    codec = _normalize_compression(compressed) if compressed is not None else None
    if codec == "gzip" or (compressed is None and blob[:2] == b"\x1f\x8b"):
        return gzip.decompress(blob)
    if codec == "zlib":
        return zlib.decompress(blob)
    if (
        compressed is None
        and len(blob) >= 2
        and (blob[0] & 0x0F) == 8
        and ((blob[0] << 8) | blob[1]) % 31 == 0
    ):
        try:
            return zlib.decompress(blob)
        except zlib.error:
            return blob
    return blob


def read_shard(path_or_bytes, compressed=None) -> tuple[bytes, np.ndarray, np.ndarray]:
    """Decompress and unframe one whole shard from a file path or an
    in-memory blob -> (data, starts, lengths), where record ``i`` is
    ``data[starts[i] : starts[i] + lengths[i]]`` (see
    :func:`record_offsets`).

    ``compressed=None`` infers from the path extension (paths) or the
    magic bytes (blobs) — the reference infers from extension
    (dataset_loader.py:72-79). Accepts bool or 'gzip'/'zlib'.

    Corrupt input raises ONLY the declared ValueError (r11): a
    bit-flipped gzip shard leaked BadGzipFile / zlib.error / EOFError
    through the load path — an undeclared executor crash where
    tf.data raises its declared DataLossError."""
    try:
        if isinstance(path_or_bytes, (bytes, bytearray)):
            data = _maybe_decompress_blob(bytes(path_or_bytes), compressed)
        else:
            with open_maybe_gzip(path_or_bytes, "rb") as fh:
                data = fh.read()
    except (gzip.BadGzipFile, zlib.error, EOFError) as exc:
        raise ValueError(f"corrupt TFRecord stream: {exc!r}") from exc
    return (data, *record_offsets(data))


def read_file_records(path_or_bytes, compressed=None) -> Iterator[bytes]:
    """Read all records from a file path or an in-memory bytes blob
    (decompression, inference and errors as :func:`read_shard`)."""
    data, starts, lengths = read_shard(path_or_bytes, compressed)
    for start, length in zip(starts.tolist(), lengths.tolist()):
        yield data[start : start + length]


def records_to_bytes(records: list[bytes], compress: bool = False) -> bytes:
    """Serialize records into a single TFRecord file image (for tests)."""
    buf = io.BytesIO()
    for r in records:
        write_record(buf, r)
    raw = buf.getvalue()
    return gzip.compress(raw, mtime=0) if compress else raw
