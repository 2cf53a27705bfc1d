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
import pyarrow as pa
from numpy.lib.stride_tricks import sliding_window_view

from . import fs
from .crc32c import masked_crc32c, masked_crc32c_spans

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


def _binary_spans(records) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(data, starts, lengths) of an Arrow ``binary``/``large_binary``
    array, read in place from its data buffer and offsets (slices
    included); a ``list[bytes]`` is first turned into one Arrow array."""
    if not isinstance(records, pa.Array):
        records = pa.array(records, type=pa.binary())
    if records.null_count:
        raise ValueError("a TFRecord record cannot be null")
    _, offsets, data = records.buffers()
    width = np.int64 if pa.types.is_large_binary(records.type) else np.int32
    offsets = np.frombuffer(offsets, dtype=width)[
        records.offset : records.offset + len(records) + 1
    ].astype(np.int64)
    data = np.frombuffer(data, dtype=np.uint8) if data is not None else np.empty(0, np.uint8)
    return data, offsets[:-1], np.diff(offsets)


def frame_records(records) -> bytes:
    """Frame many records into one TFRecord byte stream (batch write
    path), byte-identical to repeated :func:`write_record`.

    ``records`` is an Arrow ``binary`` (or ``large_binary``) array — the
    encoder's output column, possibly a slice — or a ``list[bytes]``,
    which becomes one Arrow array on entry. Payloads and both masked
    CRC-32Cs are read straight from the array's data buffer and offsets
    (crc32c.masked_crc32c_spans, over the payloads and over the 8-byte
    length fields of the frame matrix), and the stream is assembled in one buffer: one
    ``fh.write`` per batch, no per-record bytes objects."""
    data, starts, lengths = _binary_spans(records)
    n = len(lengths)
    if not n:
        return b""
    # the 16 framing bytes of each record: u64 length, u32 header CRC,
    # u32 payload CRC; they sit around the payloads as 12 + 4
    frame = np.empty((n, 4), dtype="<u4")
    frame[:, :2].view("<u8")[:, 0] = lengths
    frame[:, 2] = masked_crc32c_spans(
        frame.view(np.uint8).reshape(-1), 16 * np.arange(n), np.full(n, 8)
    )
    frame[:, 3] = masked_crc32c_spans(data, starts, lengths)
    out = np.empty(int(lengths.sum()) + 16 * n, dtype=np.uint8)
    is_payload = np.repeat(
        np.tile(np.array([False, True, False]), n),
        np.stack([np.full(n, 12), lengths, np.full(n, 4)], axis=1).reshape(-1),
    )
    out[is_payload] = data[starts[0] : starts[0] + out.size - 16 * n]
    np.logical_not(is_payload, out=is_payload)
    out[is_payload] = frame.view(np.uint8).reshape(-1)
    del is_payload  # freed before the copy out: peak stays at two buffers
    return out.tobytes()


def record_offsets(data, verify: bool = False) -> tuple[np.ndarray, np.ndarray]:
    """Unframe a raw (already-decompressed) TFRecord byte string in one
    pass: -> (starts, lengths), int64 arrays locating each record's
    payload in ``data``.

    ``verify=True`` then checks every header CRC (the 8-byte length
    fields) and every payload CRC with crc32c_spans in one batch, and raises for the first bad
    record in stream order, header before payload, as TF's reader does.

    Corrupt input raises ONLY the declared ValueError (r11): a record
    whose length field runs past the end of file used to reach
    ``_U32.unpack(b"")`` -> undeclared struct.error on the executor —
    the same totality class as the codec walkers. A truncated stream is
    a loud declared failure, matching tf.data's DataLossError
    semantics, not a silent partial read. With ``verify``, the records
    before a framing error and its own header CRC are checked first."""
    starts: list[int] = []
    lengths: list[int] = []
    u64 = _U64.unpack_from
    pos = 0
    n = len(data)
    error = None
    while pos + 12 <= n:
        (length,) = u64(data, pos)
        start = pos + 12
        starts.append(start)
        if start + length + 4 > n:
            error = ValueError(
                f"corrupt TFRecord: record at offset {pos} declares "
                f"{length} payload bytes but the stream ends at {n}"
            )
            lengths.append(-1)  # its header CRC is still checked
            break
        lengths.append(length)
        pos = start + length + 4
    if error is None and pos != n:
        error = ValueError(
            f"corrupt TFRecord: {n - pos} trailing bytes after the last "
            "complete record"
        )
    starts_np = np.array(starts, dtype=np.int64)
    lengths_np = np.array(lengths, dtype=np.int64)
    if verify and starts:
        _verify(np.frombuffer(data, dtype=np.uint8), starts_np, lengths_np)
    if error is not None:
        raise error
    return starts_np, lengths_np


def _stored_crc(buf: np.ndarray, at: np.ndarray) -> np.ndarray:
    """The little-endian u32 at each offset in ``at``."""
    return sliding_window_view(buf, 4)[at].view("<u4").reshape(-1)


def _verify(buf: np.ndarray, starts: np.ndarray, lengths: np.ndarray) -> None:
    """Batch CRC check of unframed records; a length of -1 marks a
    record whose payload runs past the stream (header check only)."""
    bad_header = masked_crc32c_spans(
        buf, starts - 12, np.full(len(starts), 8)
    ) != _stored_crc(buf, starts - 4)
    whole = lengths >= 0
    bad_payload = np.zeros(len(starts), dtype=bool)
    bad_payload[whole] = masked_crc32c_spans(
        buf, starts[whole], lengths[whole]
    ) != _stored_crc(buf, starts[whole] + lengths[whole])
    bad = np.flatnonzero(bad_header | bad_payload)
    if bad.size:
        i = int(bad[0])
        if bad_header[i]:
            raise ValueError(f"corrupt TFRecord header at offset {int(starts[i]) - 12}")
        raise ValueError(f"corrupt TFRecord payload at offset {int(starts[i])}")


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

    Both CRCs of every record are checked (``record_offsets(verify=True)``),
    so a flipped payload bit that keeps the
    length valid raises instead of decoding to wrong values.

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
    return (data, *record_offsets(data, verify=True))


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
