"""Pure-Python encoder/decoder for ``tf.train.Example`` protos (K1/S5).

The reference encodes each row dict into a serialized Example via TFT's
``ExampleProtoCoder`` (/root/reference/tfrecorder/beam_pipeline.py:187-191)
and parses them back with ``tf.io.parse_single_example``
(dataset_loader.py:113-126). Neither TensorFlow nor the protobuf runtime
is available here, so this module implements the (public, stable) wire
format of the Example message directly:

    message BytesList { repeated bytes value = 1; }
    message FloatList { repeated float value = 1 [packed]; }
    message Int64List { repeated int64 value = 1 [packed]; }
    message Feature  { oneof { BytesList=1; FloatList=2; Int64List=3 } }
    message Features { map<string, Feature> feature = 1; }
    message Example  { Features features = 1; }

(tensorflow/core/example/{example,feature}.proto — public schema.)

Encoding detail that matters for byte-level golden tests: protobuf map
serialization order is not canonical; this encoder emits map entries in
sorted-key order so output is deterministic.

One encoder, :func:`encode_batch`, writes every record of the convert
path: Arrow columns in, one Arrow binary array of Examples out. The
load path decodes whole shards with :func:`build_batch_decoder`. The
per-record :func:`encode_example` and :func:`decode_example` are their
references (the tests compare against them), and ``decode_example`` +
``_scalar`` is also the batch decoder's fallback for records outside
the encoder's layout.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import types as T

# ---------------------------------------------------------------- varint


def _varint(value: int) -> bytes:
    buf = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return bytes(buf)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7


def _tag(field: int, wire: int) -> int:
    return (field << 3) | wire


def _write_len_delimited(buf: bytearray, field: int, payload: bytes) -> None:
    buf += _varint(_tag(field, 2))
    buf += _varint(len(payload))
    buf += payload


# ------------------------------------------------------------- encoding


def _encode_bytes_list(values: list[bytes]) -> bytes:
    buf = bytearray()
    for v in values:
        _write_len_delimited(buf, 1, v)
    return bytes(buf)


def _encode_float_list(values: list[float]) -> bytes:
    # packed repeated float (wire type 2 wrapping fixed32s)
    payload = struct.pack(f"<{len(values)}f", *values)
    buf = bytearray()
    _write_len_delimited(buf, 1, payload)
    return bytes(buf)


def _encode_int64_list(values: list[int]) -> bytes:
    payload = bytearray()
    for v in values:
        payload += _varint(v & 0xFFFFFFFFFFFFFFFF)  # two's complement
    buf = bytearray()
    _write_len_delimited(buf, 1, bytes(payload))
    return bytes(buf)


_KIND_FIELD = {"bytes": 1, "float": 2, "int64": 3}


def encode_feature(kind: str, values: list) -> bytes:
    """Encode one Feature message. ``kind`` in {bytes, float, int64}."""
    if kind == "bytes":
        inner = _encode_bytes_list(values)
    elif kind == "float":
        inner = _encode_float_list(values)
    elif kind == "int64":
        inner = _encode_int64_list(values)
    else:
        raise ValueError(f"unknown feature kind {kind!r}")
    buf = bytearray()
    _write_len_delimited(buf, _KIND_FIELD[kind], inner)
    return bytes(buf)


def encode_example(features: dict[str, tuple[str, list]]) -> bytes:
    """Encode {name: (kind, values)} into a serialized Example proto.

    Map entries are emitted in sorted-key order for determinism.
    """
    feats = bytearray()
    for name in sorted(features):
        kind, values = features[name]
        entry = bytearray()
        _write_len_delimited(entry, 1, name.encode("utf-8"))  # map key
        _write_len_delimited(entry, 2, encode_feature(kind, values))  # map value
        _write_len_delimited(feats, 1, bytes(entry))  # Features.feature entry
    example = bytearray()
    _write_len_delimited(example, 1, bytes(feats))  # Example.features
    return bytes(example)


# ------------------------------------------------------ columnar encoding
#
# encode_batch writes all records of a batch at once. In a record, each
# column (sorted by name) is one map entry, a HEADER then a BODY:
#
#   0x0a V(entry) 0x0a V(len key) key 0x12 V(feature) tag V(list) [0x0a V(n)]
#
# V(x) is the varint of x. The bracketed field is the packed payload's
# (float, int64), or in a scalar bytes column the one value's (absent
# for a null). The body is that value, the packed payload, or a bytes
# list's framed values. A scalar is a list of one value, or of none for
# a null or a scalar NaN. Headers differ between rows only in their
# varints' widths; bodies are Arrow arrays (a string column is used as
# it is), and one binary_join_element_wise concatenates the record
# header and every column's header and body.

_TAGS = {"bytes": b"\x0a", "float": b"\x12", "int64": b"\x1a"}
_MAX_BINARY = 2**31 - 1  # bytes in one Arrow binary array (int32 offsets)
# a varint takes one byte plus one per step its value reaches
_VARINT_STEPS = [np.uint64(1 << (7 * k)) for k in range(1, 10)]


def _varint_width(v):
    """Byte count of the varint of each value (uint64, or int64 >= 0)."""
    v = v.astype(np.uint64, copy=False)
    width = np.ones(v.shape, dtype=np.int64)
    top = v.max() if v.size else 0
    for step in _VARINT_STEPS:
        if step > top:
            break
        width += v >= step
    return width


def _binary(data, lengths) -> pa.BinaryArray:
    """Arrow binary array of consecutive ``lengths``-byte rows of ``data``."""
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if offsets[-1] > _MAX_BINARY:
        raise ValueError(f"{offsets[-1]} encoded bytes exceed one Arrow binary array")
    return pa.Array.from_buffers(
        pa.binary(), len(lengths),
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def _pack(layout, n: int) -> pa.BinaryArray:
    """``n`` rows, each ``layout``'s items back to back: bytes (the same
    in every row) or int arrays (row i holds value i as a varint); an
    item given as ``(item, present)`` is written only in the ``present``
    rows. Each item fills a rows x max-width block of one uint8 matrix;
    where some row's item is narrower (or absent), a mask over the
    matrix keeps each row's bytes."""
    mats, masks = [], []
    lengths = np.zeros(n, dtype=np.int64)
    for x, present in (x if isinstance(x, tuple) else (x, None) for x in layout):
        if isinstance(x, bytes):
            mat = np.broadcast_to(np.frombuffer(x, dtype=np.uint8), (n, len(x)))
            mask, size = None, len(x)
        else:
            v = x.astype(np.uint64, copy=False)
            size = _varint_width(v)
            top = int(size.max()) if n else 1
            shifts = np.arange(top)
            mat = (v[:, None] >> (7 * shifts).astype(np.uint64)) & np.uint64(0x7F)
            mat = mat.astype(np.uint8)
            mat[shifts < (size - 1)[:, None]] |= 0x80
            mask = None if (size == top).all() else shifts < size[:, None]
        if present is not None:
            keep = np.broadcast_to(present[:, None], mat.shape)
            mask, size = keep if mask is None else mask & keep, size * present
        mats.append(mat)
        masks.append(mask)
        lengths += size
    # C order, so each row's bytes follow the previous row's
    out = np.empty((n, sum(m.shape[1] for m in mats)), dtype=np.uint8)
    mat = np.concatenate(mats, axis=1, out=out)
    if all(k is None for k in masks):
        return _binary(mat, lengths)
    full = [np.broadcast_to(True, m.shape) if k is None else k for m, k in zip(mats, masks)]
    return _binary(mat[np.concatenate(full, axis=1)], lengths)


def _lengths(a: pa.Array):
    """Byte length of each value of a binary array (0 for a null)."""
    return pc.binary_length(a).fill_null(0).to_numpy().astype(np.int64)


def _column(kind: str, a: pa.Array):
    """One column's header layout after the list length, that layout's
    width per row, its body array, and the body's length per row."""
    t = a.type
    is_list = pa.types.is_list(t) or pa.types.is_large_list(t)
    if kind == "bytes" and not is_list:  # the value field goes in the header
        body = a.cast(pa.binary())
        present = body.is_valid().to_numpy(zero_copy_only=False)
        lens = _lengths(body)
        layout = [(b"\x0a", present), (lens, present)]
        return layout, present * (1 + _varint_width(lens)), body, lens
    if is_list:
        flat, t = a.flatten(), t.value_type
        if flat.null_count:
            raise TypeError("null value inside a list feature")
        counts = pc.list_value_length(a).fill_null(0).to_numpy()
    else:
        counts = a.is_valid().to_numpy(zero_copy_only=False)
        if kind == "float" and pa.types.is_floating(t):  # a scalar NaN: none
            nan = pc.is_nan(a).fill_null(False).to_numpy(zero_copy_only=False)
            counts = counts & ~nan
        flat = a.filter(pa.array(counts))
    if kind == "bytes":
        flat = flat.cast(pa.binary())
        framing = _pack([b"\x0a", _lengths(flat)], len(flat))
        items = pc.binary_join_element_wise(framing, flat, b"")
    elif kind == "float":
        if not (pa.types.is_floating(t) or pa.types.is_integer(t) or pa.types.is_null(t)):
            raise TypeError(f"float feature from Arrow type {t}")
        vals = flat.cast(pa.float64()).to_numpy()
        with np.errstate(over="ignore"):
            f4 = vals.astype("<f4")
        if (np.isinf(f4) & np.isfinite(vals)).any():  # as struct.pack("<f")
            raise OverflowError("float too large to pack with f format")
        items = _binary(f4.tobytes(), np.full(len(f4), 4))
    else:
        if not (pa.types.is_integer(t) or pa.types.is_boolean(t) or pa.types.is_null(t)):
            raise TypeError(f"int64 feature from Arrow type {t}")
        signed = not pa.types.is_unsigned_integer(t)
        vals = flat.cast(pa.int64() if signed else pa.uint64()).to_numpy()
        items = _pack([vals.view(np.uint64)], len(flat))
    offsets = np.zeros(len(a) + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    rows = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), items)
    body = pc.binary_join(rows, b"")
    lens = _lengths(body)
    if kind == "bytes":
        return [], np.zeros(len(a), dtype=np.int64), body, lens
    return [b"\x0a", lens], 1 + _varint_width(lens), body, lens


def _arrow_column(kind: str, values) -> pa.Array:
    """One column as one Arrow array. Arrow input is used as it is. A
    Python sequence is converted: None and a float NaN become null, a str
    its UTF-8 bytes, an int its value mod 2**64 (as encode_example
    writes it), and a column holding any list becomes list-typed."""
    if isinstance(values, pa.Array):
        return values
    typ = {"bytes": pa.binary(), "float": pa.float64(), "int64": pa.uint64()}[kind]

    def item(v):
        if kind == "bytes":
            return v.encode("utf-8") if isinstance(v, str) else v
        return int(v) & 0xFFFFFFFFFFFFFFFF if kind == "int64" else float(v)

    def row(v, as_list):
        if v is None or (isinstance(v, float) and v != v):
            return None
        if isinstance(v, (list, tuple, np.ndarray)):
            return [item(x) for x in v]
        return [item(v)] if as_list else item(v)

    as_list = any(isinstance(v, (list, tuple, np.ndarray)) for v in values)
    rows = [row(v, as_list) for v in values]
    return pa.array(rows, type=pa.list_(typ) if as_list else typ)


def encode_batch(kinds: dict[str, str], columns) -> pa.BinaryArray:
    """Serialized Examples of a batch, one per row, as one Arrow binary
    array (the convert hot path).

    ``columns`` holds one column per feature in sorted-name order: an
    Arrow array (string/binary, numeric or boolean, or a list of those)
    or a Python sequence. Each record equals :func:`encode_example` of
    its row: a null or a scalar NaN is an empty list, a scalar a
    one-value list. Raises OverflowError for a float beyond float32,
    TypeError for a null inside a list, and ValueError when the batch
    exceeds one Arrow binary array (2 GiB).
    """
    names = sorted(kinds)
    for kind in kinds.values():
        if kind not in _TAGS:
            raise ValueError(f"unknown feature kind {kind!r}")
    if len(columns) != len(names):
        raise ValueError(f"{len(columns)} columns for {len(names)} features")
    arrays = [_arrow_column(kinds[c], v) for c, v in zip(names, columns)]
    n = len(arrays[0]) if arrays else 0
    if any(len(a) != n for a in arrays):
        raise ValueError("columns differ in length")
    parts = []
    sizes = np.zeros(n, dtype=np.int64)
    for name, a in zip(names, arrays):
        kind = kinds[name]
        layout, layout_len, body, body_len = _column(kind, a)
        key = name.encode("utf-8")
        key_field = b"\x0a" + _varint(len(key)) + key + b"\x12"
        inner = layout_len + body_len
        feature = 1 + _varint_width(inner) + inner
        entry = len(key_field) + _varint_width(feature) + feature
        header = [b"\x0a", entry, key_field, feature, _TAGS[kind], inner, *layout]
        parts += [_pack(header, n), body]
        sizes += 1 + _varint_width(entry) + entry
    record = _pack([b"\x0a", sizes], n)
    total = int((1 + _varint_width(sizes) + sizes).sum())
    if total > _MAX_BINARY:
        raise ValueError(f"{total} encoded bytes exceed one Arrow binary array")
    return pc.binary_join_element_wise(
        record, *parts, b"", null_handling="replace", null_replacement=""
    )


def build_batch_encoder(kinds: dict[str, str]):
    """``encode_batch`` for a fixed column->kind map, returning the
    records as a ``list[bytes]``; ``.columns`` is the expected column
    order."""

    def encode(columns) -> list[bytes]:
        return encode_batch(kinds, columns).to_pylist()

    encode.columns = sorted(kinds)  # type: ignore[attr-defined]
    return encode


# ------------------------------------------------------------- decoding


def _iter_fields(data: bytes):
    pos = 0
    n = len(data)
    while pos < n:
        key, pos = _read_varint(data, pos)
        field, wire = key >> 3, key & 0x7
        if wire == 2:
            length, pos = _read_varint(data, pos)
            yield field, data[pos : pos + length]
            pos += length
        elif wire == 0:
            value, pos = _read_varint(data, pos)
            yield field, value
        elif wire == 5:
            yield field, data[pos : pos + 4]
            pos += 4
        elif wire == 1:
            yield field, data[pos : pos + 8]
            pos += 8
        else:  # pragma: no cover
            raise ValueError(f"unsupported wire type {wire}")


def _decode_int64_list(data: bytes) -> list[int]:
    values: list[int] = []
    for field, payload in _iter_fields(data):
        if field != 1:
            continue
        if isinstance(payload, int):  # unpacked varint
            values.append(payload)
        else:  # packed
            pos = 0
            while pos < len(payload):
                v, pos = _read_varint(payload, pos)
                values.append(v)
    return [v - (1 << 64) if v >= (1 << 63) else v for v in values]


def _decode_float_list(data: bytes) -> list[float]:
    values: list[float] = []
    for field, payload in _iter_fields(data):
        if field != 1:
            continue
        if isinstance(payload, bytes):
            if len(payload) == 4:  # could be a single unpacked fixed32
                values.extend(struct.unpack("<f", payload))
            else:
                values.extend(struct.unpack(f"<{len(payload) // 4}f", payload))
    return values


def decode_example(data: bytes) -> dict[str, tuple[str, list]]:
    """Parse a serialized Example into {name: (kind, values)}.

    Raises ONLY ValueError on corrupt input (r11 — same totality
    contract as the image codecs): a truncated varint used to leak
    IndexError out of ``_read_varint``, and short fixed-width slices
    leaked struct.error from the packed-list decoders; on an executor
    those are undeclared task crashes instead of a declared corrupt-
    record failure. (UnicodeDecodeError from a non-UTF-8 feature name
    is already a ValueError subclass.)"""
    try:
        return _decode_example_inner(data)
    except (struct.error, IndexError, KeyError, TypeError, AttributeError) as exc:
        # TypeError: a corrupt wire-type flip turns a length-delimited
        # submessage into a varint int, which then flows into a parser
        # expecting bytes (found by the r11 inline fuzz of this wrapper)
        raise ValueError(f"corrupt Example proto: {exc!r}") from exc


def _decode_example_inner(data: bytes) -> dict[str, tuple[str, list]]:
    out: dict[str, tuple[str, list]] = {}
    for field, features_bytes in _iter_fields(data):
        if field != 1:
            continue
        for f2, entry in _iter_fields(features_bytes):
            if f2 != 1:
                continue
            name = None
            feature_bytes = b""
            for f3, payload in _iter_fields(entry):
                if f3 == 1:
                    name = payload.decode("utf-8")
                elif f3 == 2:
                    feature_bytes = payload
            kind, values = "bytes", []
            for f4, inner in _iter_fields(feature_bytes):
                if f4 == 1:
                    kind = "bytes"
                    values = [p for fld, p in _iter_fields(inner) if fld == 1]
                elif f4 == 2:
                    kind, values = "float", _decode_float_list(inner)
                elif f4 == 3:
                    kind, values = "int64", _decode_int64_list(inner)
            if name is not None:
                out[name] = (kind, values)
    return out


def _scalar(kind_values, target: T.DataType):
    """One decoded feature -> the value of a ``target``-typed column (the
    reference per-cell conversion of the load path)."""
    kind, values = kind_values
    if not values:
        return None
    v = values[0]
    if isinstance(target, T.StringType):
        return v.decode("utf-8") if isinstance(v, (bytes, bytearray)) else str(v)
    if isinstance(target, T.BinaryType):
        return bytes(v)
    if isinstance(target, (T.LongType, T.IntegerType)):
        return int(v)
    if isinstance(target, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(target, T.ArrayType):
        elem = target.elementType
        return [_scalar((kind, [x]), elem) for x in values]
    return v


# ------------------------------------------------ columnar batch decoding
#
# The mirror of encode_batch for the load path. A record written
# by that encoder has, for every column in sorted-name order, the entry
#
#   0x0a len { 0x0a len key  0x12 len { kind_tag len { 0x0a len value } } }
#
# (a null is an empty list: no inner value for bytes, an empty packed
# payload for float/int64). The batch decoder walks that layout for ALL
# records of a shard at once: one numpy cursor per record, every tag,
# key byte and nested length checked, varints read vectorized. A record
# that leaves the layout anywhere (another key order, unpacked or
# multi-value lists, missing or extra features, invalid UTF-8) is
# decoded by decode_example + _scalar — the reference — and spliced back
# at its row, so the output equals the reference on every record.

# Spark type of a fast-path column -> its Feature kind tag
_FAST_KIND_TAGS = {"string": 0x0A, "binary": 0x0A, "bigint": 0x1A, "double": 0x12}


def _read_varints(buf, pos):
    """The varint at each position of ``buf`` -> (values uint64, byte
    counts int64); the count is 0 where the varint does not fit 64 bits
    (the caller's checks then reject the record). Reads up to 10 bytes
    past each position."""
    b = buf[pos]
    vals = (b & 0x7F).astype(np.uint64)
    nbytes = np.ones(len(pos), dtype=np.int64)
    more = np.flatnonzero(b & 0x80)
    for k in range(1, 10):
        if not len(more):
            break
        bk = buf[pos[more] + k]
        vals[more] |= (bk & 0x7F).astype(np.uint64) << np.uint64(7 * k)
        nbytes[more] += 1
        if k == 9:  # the 10th byte may carry only bit 63
            nbytes[more[bk > 1]] = 0
        more = more[(bk & 0x80) != 0]
    return vals, nbytes


def _bytes_column(data: bytes, starts, lengths, valid, utf8: bool):
    """Arrow string/binary array from per-row slices of ``data``: one
    join of the valid rows' bodies plus offsets (int64 past 2 GiB)."""
    lengths = np.where(valid, lengths, 0)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    body = b"".join(
        [
            data[s : s + n]
            for s, n in zip(starts[valid].tolist(), lengths[valid].tolist())
        ]
    )
    large = offsets[-1] > 2**31 - 1
    if utf8:
        typ = pa.large_string() if large else pa.string()
    else:
        typ = pa.large_binary() if large else pa.binary()
    if not large:
        offsets = offsets.astype(np.int32)
    nulls = len(valid) - int(np.count_nonzero(valid))
    bitmap = pa.py_buffer(np.packbits(valid, bitorder="little")) if nulls else None
    return pa.Array.from_buffers(
        typ, len(valid), [bitmap, pa.py_buffer(offsets), pa.py_buffer(body)],
        null_count=nulls,
    )


def build_batch_decoder(struct):
    """Compile a column-wise batch Example decoder for a Spark StructType
    (the load hot path; the mirror of :func:`encode_batch`).

    The returned callable takes one decompressed shard ``data`` and its
    record ``starts``/``lengths`` (tfrecord_io.record_offsets) and returns
    one ``pyarrow.RecordBatch`` with a column per struct field, rows in
    record order. Values equal ``decode_example`` + ``_scalar`` on every
    record: string/binary, bigint and double columns in the encoder's
    canonical single-value layout decode in numpy; every other record,
    and every record when a field has another type, goes through the
    reference. Corrupt input raises only ValueError.
    """
    from pyspark.sql.pandas.types import to_arrow_type

    fields = [(f.name, f.dataType) for f in struct.fields]
    names = [name for name, _ in fields]
    arrow_types = [to_arrow_type(dtype) for _, dtype in fields]
    tags = [_FAST_KIND_TAGS.get(dtype.simpleString()) for _, dtype in fields]
    fast = None not in tags
    # per column in canonical (sorted) order: struct index, key field
    # bytes, kind tag
    order = []
    for name in sorted(names):
        j = names.index(name)
        key = name.encode("utf-8")
        key_field = np.frombuffer(b"\x0a" + _varint(len(key)) + key, np.uint8)
        order.append((j, key_field, tags[j]))
    # every read lies within a fixed distance of a position <= len(data):
    # a column's chain of tags, keys and 10-byte varints
    pad = 96 + max((len(key) for _, key, _ in order), default=0)

    def length(buf, pos, limit):
        """Length varint at each pos -> (value, position after it, ok):
        ok where the varint fits and the value stays within limit."""
        v, nb = _read_varints(buf, pos)
        after = pos + nb
        room = np.maximum(limit - after, 0).astype(np.uint64)
        good = (nb > 0) & (after <= limit) & (v <= room)
        return np.where(good, v, np.uint64(0)).astype(np.int64), after, good

    def walk(buf, starts, end):
        """-> (ok, per struct field (values, null)): ok marks the records
        in the canonical layout; values are float64/int64 arrays, or
        (body starts, body lengths) for string/binary columns."""
        cols = [None] * len(fields)
        # Example { 0x0a len Features } spanning the whole record
        ok = (buf[starts] == 0x0A) & (end > starts)
        flen, pos, good = length(buf, starts + 1, end)
        ok &= good & (pos + flen == end)
        pos = np.where(ok, pos, 0)
        for j, key, tag in order:
            good = (buf[pos] == 0x0A) & (pos < end)
            elen, p, g = length(buf, pos + 1, end)
            eend = p + elen
            good &= g & (p + len(key) <= eend)
            good &= (buf[p[:, None] + np.arange(len(key))] == key).all(axis=1)
            p = p + len(key)
            good &= (buf[p] == 0x12) & (p < eend)
            flen, p, g = length(buf, p + 1, eend)
            good &= g & (p + flen == eend) & (buf[p] == tag) & (p < eend)
            ilen, p, g = length(buf, p + 1, eend)
            good &= g & (p + ilen == eend)
            # the list: empty (null) or exactly one packed/bytes value
            null = ilen == 0
            vlen, q, g = length(buf, p + 1, eend)
            good &= null | ((buf[p] == 0x0A) & g & (q + vlen == eend))
            if tag == 0x12:  # FloatList
                null |= vlen == 0
                good &= null | (vlen == 4)
                col = buf[q[:, None] + np.arange(4)].view("<f4")[:, 0]
                col = col.astype(np.float64)
            elif tag == 0x1A:  # Int64List
                null |= vlen == 0
                v, nb = _read_varints(buf, q)
                good &= null | (nb == vlen)
                col = v.view(np.int64)
            else:
                col = (q, vlen)
            cols[j] = (col, null)
            ok &= good
            pos = np.where(ok, eend, 0)
        return ok & (pos == end), cols

    def build(data, ok, cols):
        arrays = []
        for j, (col, null) in enumerate(cols):
            valid = ok & ~null
            if isinstance(col, tuple):
                utf8 = arrow_types[j] == pa.string()
                arrays.append(_bytes_column(data, *col, valid, utf8))
            else:
                arrays.append(pa.array(col, mask=~valid, type=arrow_types[j]))
        return arrays

    def reference_arrays(data, starts, lengths):
        """decode_example + _scalar per record -> one array per field."""
        rows = []
        for s, n in zip(starts.tolist(), lengths.tolist()):
            feats = decode_example(data[s : s + n])
            try:
                rows.append(
                    [_scalar(feats[name], dt) if name in feats else None
                     for name, dt in fields]
                )
            except (TypeError, OverflowError) as exc:
                raise ValueError(f"corrupt Example value: {exc!r}") from exc
        try:
            return [
                pa.array([r[j] for r in rows], type=t)
                for j, t in enumerate(arrow_types)
            ]
        except (pa.ArrowException, OverflowError, TypeError) as exc:
            raise ValueError(f"corrupt Example value: {exc!r}") from exc

    def decode_batch(data: bytes, starts, lengths) -> pa.RecordBatch:
        m = len(starts)
        ok = np.zeros(m, dtype=bool)
        arrays = None
        if fast and m:
            buf = np.zeros(len(data) + pad, dtype=np.uint8)
            buf[: len(data)] = np.frombuffer(data, dtype=np.uint8)
            ok, cols = walk(buf, starts, starts + lengths)
            if ok.any():
                arrays = build(data, ok, cols)
                try:
                    for a in arrays:
                        a.validate(full=True)
                except pa.ArrowInvalid:
                    # invalid UTF-8 in a string column: the reference
                    # raises on that record, so let it decode them all
                    ok[:] = False
        slow = np.flatnonzero(~ok)
        if len(slow) == m:
            arrays = reference_arrays(data, starts, lengths)
        elif len(slow):
            ref = reference_arrays(data, starts[slow], lengths[slow])
            splice = np.arange(m)
            splice[slow] = m + np.arange(len(slow))
            splice = pa.array(splice)
            arrays = [
                pa.concat_arrays([a, r.cast(a.type)]).take(splice)
                for a, r in zip(arrays, ref)
            ]
        return pa.RecordBatch.from_arrays(arrays, names=names)

    return decode_batch
