"""Parity of the columnar batch Example decoder (build_batch_decoder,
the load hot path) with the reference decode_example + _scalar: on the
encoder's canonical layout (numpy fast path), on foreign-layout records
(reference fallback, spliced back at their rows), and on records the
reference rejects (ValueError only; the corrupt-shard mutation loop is
test_round11_fixes.py::test_tfrecord_load_path_totality). Only the last
test uses Spark (the shared fixture)."""

import math
import struct as pystruct

import pyarrow as pa
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import types as T

from tensorflow_recorder_spark.functions import example_proto
from tensorflow_recorder_spark.functions.example_proto import (
    _scalar,
    _varint,
    build_batch_decoder,
    build_batch_encoder,
    decode_example,
    encode_example,
    encode_feature,
)
from tensorflow_recorder_spark.functions.tfrecord_io import (
    read_file_records,
    read_shard,
    records_to_bytes,
)
from tensorflow_recorder_spark.sources.tfrecord import read_tfrecords

STRUCT = T.StructType([
    T.StructField("s", T.StringType()),
    T.StructField("b", T.BinaryType()),
    T.StructField("i", T.LongType()),
    T.StructField("f", T.DoubleType()),
])
KINDS = {"s": "bytes", "b": "bytes", "i": "int64", "f": "float"}
REJECTED = (ValueError, TypeError, OverflowError)


def reference_rows(blob, struct):
    """decode_example + _scalar per record, each column converted to its
    Arrow type as the load path must -> list of row dicts; raises what
    the reference raises."""
    fields = [(f.name, f.dataType) for f in struct.fields]
    rows = []
    for record in read_file_records(blob):
        feats = decode_example(record)
        rows.append(
            {n: _scalar(feats[n], dt) if n in feats else None for n, dt in fields}
        )
    for f in struct.fields:
        pa.array([r[f.name] for r in rows], type=_arrow(f.dataType))
    return rows


def batch_rows(blob, struct):
    return build_batch_decoder(struct)(*read_shard(blob)).to_pylist()


def _arrow(dtype):
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dtype)


def _key(row):
    """Row -> comparable form: floats by bit pattern (-0.0, NaN)."""
    return {
        k: pystruct.pack("<d", v) if isinstance(v, float) else v
        for k, v in row.items()
    }


def assert_same(got, want):
    assert [_key(r) for r in got] == [_key(r) for r in want]


def _entry(name: str, feature: bytes) -> bytes:
    key = name.encode()
    body = b"\x0a" + _varint(len(key)) + key + b"\x12" + _varint(len(feature)) + feature
    return b"\x0a" + _varint(len(body)) + body


def _example(entries) -> bytes:
    """Serialized Example from (name, Feature bytes) in the GIVEN order."""
    feats = b"".join(_entry(n, f) for n, f in entries)
    return b"\x0a" + _varint(len(feats)) + feats


def _unpacked_int64(v: int) -> bytes:
    inner = b"\x08" + _varint(v & 0xFFFFFFFFFFFFFFFF)
    return b"\x1a" + _varint(len(inner)) + inner


def _unpacked_float(v: float) -> bytes:
    inner = b"\x0d" + pystruct.pack("<f", v)
    return b"\x12" + _varint(len(inner)) + inner


strings = st.one_of(
    st.none(), st.just(""), st.text(max_size=12),
    st.sampled_from(["é", "日本語", "\x00", "🙂"]),
)
blobs = st.one_of(st.none(), st.just(b""), st.binary(max_size=12))
longs = st.one_of(
    st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.sampled_from([0, -1, 127, 128, -(2**63), 2**63 - 1]),
)
doubles = st.one_of(
    st.none(), st.floats(allow_nan=False, width=32),
    st.sampled_from([0.0, -0.0, 1e-45, -1e-45, 1.1754942e-38, float("inf")]),
)


@given(st.lists(st.tuples(strings, blobs, longs, doubles), max_size=40))
@example([("", b"", -(2**63), -0.0), (None, None, None, None)])
@example([("é", b"\x00", 2**63 - 1, 1e-45)])
@settings(max_examples=150, deadline=None)
def test_batch_decoder_matches_reference_on_encoder_output(rows):
    encoder = build_batch_encoder(KINDS)
    by_name = dict(zip(("s", "b", "i", "f"), zip(*rows))) if rows else {}
    columns = [list(by_name.get(c, ())) for c in encoder.columns]
    blob = records_to_bytes(encoder(columns))
    got = batch_rows(blob, STRUCT)
    assert_same(got, reference_rows(blob, STRUCT))
    assert len(got) == len(rows)


def test_canonical_records_skip_the_reference(monkeypatch):
    calls = []
    real = example_proto.decode_example
    monkeypatch.setattr(
        example_proto, "decode_example", lambda r: calls.append(r) or real(r)
    )
    encoder = build_batch_encoder(KINDS)
    blob = records_to_bytes(
        encoder([[b"x", None], [1.5, None], [7, None], ["a", None]])
    )
    assert batch_rows(blob, STRUCT) == [
        {"s": "a", "b": b"x", "i": 7, "f": 1.5},
        {"s": None, "b": None, "i": None, "f": None},
    ]
    assert calls == []


def test_foreign_layout_rows_fall_back_in_place(monkeypatch):
    canonical = build_batch_encoder(KINDS)(
        [[b"b0", b"b1", None], [0.25, None, -2.0], [1, -2, None], ["s0", None, "s2"]]
    )
    full = {
        "b": encode_feature("bytes", [b"bx"]),
        "f": encode_feature("float", [3.5]),
        "i": encode_feature("int64", [-9]),
        "s": encode_feature("bytes", [b"sx"]),
    }
    foreign = [
        # reversed key order
        _example(sorted(full.items(), reverse=True)),
        # unpacked int64 and float
        _example(sorted({**full, "i": _unpacked_int64(-5),
                         "f": _unpacked_float(-0.5)}.items())),
        # a 3-value list into a scalar column: the first value is kept
        encode_example({"b": ("bytes", [b"p", b"q", b"r"]),
                        "f": ("float", [1.0, 2.0, 3.0]),
                        "i": ("int64", [4, 5, 6]),
                        "s": ("bytes", [b"x", b"y", b"z"])}),
        # an extra feature
        _example(sorted({**full, "zz": encode_feature("int64", [1])}.items())),
        # a missing feature
        _example(sorted((k, v) for k, v in full.items() if k != "i")),
    ]
    records = [canonical[0], foreign[0], foreign[1], canonical[1],
               foreign[2], foreign[3], canonical[2], foreign[4]]
    blob = records_to_bytes(records)
    calls = []
    real = example_proto.decode_example
    monkeypatch.setattr(
        example_proto, "decode_example", lambda r: calls.append(r) or real(r)
    )
    got = batch_rows(blob, STRUCT)
    want = reference_rows(blob, STRUCT)
    assert_same(got, want)
    assert calls == foreign  # only the foreign rows fell back, in order
    assert [r["i"] for r in got] == [1, -9, -5, -2, 4, -9, None, None]
    assert [r["s"] for r in got] == ["s0", "sx", "sx", None, "x", "sx", "s2", "sx"]
    assert got[2]["f"] == -0.5 and got[4]["b"] == b"p"


@pytest.mark.parametrize(
    "struct",
    [
        T.StructType([T.StructField("i", T.IntegerType()),
                      T.StructField("f", T.FloatType())]),
        T.StructType([T.StructField("i", T.ArrayType(T.LongType())),
                      T.StructField("f", T.ArrayType(T.DoubleType()))]),
    ],
)
def test_non_fast_types_decode_through_the_reference(struct):
    encoder = build_batch_encoder({"i": "int64", "f": "float"})
    blob = records_to_bytes(encoder([[0.5, None, 2.0], [3, -4, None]]))
    rb = build_batch_decoder(struct)(*read_shard(blob))
    assert rb.schema.types == [_arrow(f.dataType) for f in struct.fields]
    assert_same(rb.to_pylist(), reference_rows(blob, struct))


def test_empty_shard_and_invalid_utf8():
    rb = build_batch_decoder(STRUCT)(*read_shard(b""))
    assert rb.num_rows == 0 and rb.schema.names == ["s", "b", "i", "f"]
    encoder = build_batch_encoder(KINDS)
    blob = records_to_bytes(
        encoder([[None, None], [None, None], [None, None], [b"ok", b"\xff\xfe"]])
    )
    # the reference raises UnicodeDecodeError, a ValueError
    with pytest.raises(ValueError):
        reference_rows(blob, STRUCT)
    with pytest.raises(ValueError):
        build_batch_decoder(STRUCT)(*read_shard(blob))
    # the same bytes in a binary column are fine
    blob = records_to_bytes(
        encoder([[b"\xff\xfe", None], [None, None], [None, None], [None, None]])
    )
    assert batch_rows(blob, STRUCT)[0]["b"] == b"\xff\xfe"


def test_large_varints_and_floats_round_trip():
    encoder = build_batch_encoder(KINDS)
    ints = [0, 1, -1, 2**62, -(2**62), 2**63 - 1, -(2**63)] + [
        (1 << (7 * k)) - 1 for k in range(1, 10)
    ]
    floats = [math.ldexp(1.0, -149), -math.ldexp(1.0, -149), 3.4028234663852886e38]
    floats += [1.0] * (len(ints) - len(floats))
    n = len(ints)
    blob = records_to_bytes(encoder([[None] * n, floats, ints, [None] * n]))
    got = batch_rows(blob, STRUCT)
    assert [r["i"] for r in got] == ints
    assert [r["f"] for r in got] == floats
    assert_same(got, reference_rows(blob, STRUCT))


def test_packed_float_payload_not_four_bytes_is_rejected():
    """A canonical-looking float entry whose packed payload is 2 or 5
    bytes: the reference rejects it, and so must the batch decoder."""
    for payload in (b"\x00\x00", b"\x00\x00\x80\x3f\x00"):
        inner = b"\x0a" + _varint(len(payload)) + payload
        feats = {
            "b": encode_feature("bytes", [b"x"]),
            "f": b"\x12" + _varint(len(inner)) + inner,
            "i": encode_feature("int64", [1]),
            "s": encode_feature("bytes", [b"y"]),
        }
        blob = records_to_bytes([_example(sorted(feats.items()))])
        with pytest.raises(ValueError):
            reference_rows(blob, STRUCT)
        with pytest.raises(ValueError):
            build_batch_decoder(STRUCT)(*read_shard(blob))


def test_read_tfrecords_keeps_nullable_int64_exact(spark, tmp_path):
    """The load path hands Spark the decoder's Arrow columns directly: a
    nullable bigint past 2**53 is exact (a pandas hop would turn the
    column into float64 and round it)."""
    encoder = build_batch_encoder(KINDS)
    path = tmp_path / "train-00000-of-00001.tfrecord.gz"
    path.write_bytes(records_to_bytes(
        encoder([[None, b"b"], [None, 0.5], [2**60 + 1, None], ["x", None]]),
        compress=True,
    ))
    rows = read_tfrecords(spark, [str(path)], STRUCT).collect()
    assert [r.asDict() for r in rows] == [
        {"s": "x", "b": None, "i": 2**60 + 1, "f": None},
        {"s": None, "b": b"b", "i": None, "f": 0.5},
    ]
