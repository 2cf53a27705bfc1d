"""Format-layer unit tests: CRC-32C, Example proto codec, TFRecord
framing (golden byte-level round trips, reference test strategy
SURVEY.md §5 / beam_image_test.py:67-82 analog)."""

import gzip
import io
import random
import zlib

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from tensorflow_recorder_spark.functions.crc32c import (
    CHUNK,
    crc32c,
    crc32c_many,
    crc32c_spans,
    masked_crc32c,
)
from tensorflow_recorder_spark.functions.example_proto import (
    decode_example,
    encode_example,
)
from tensorflow_recorder_spark.functions.image_codec import (
    channel_to_mode,
    decode_pixels,
    encode_pixels,
    mode_to_channel,
)
from tensorflow_recorder_spark.functions.tfrecord_io import (
    frame_records,
    read_records,
    read_shard,
    record_offsets,
    records_to_bytes,
    write_record,
)


def test_crc32c_known_vectors():
    # Published CRC-32C test vectors (RFC 3720 appendix / common suites).
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def test_crc32c_many_matches_scalar():
    import os
    import random

    random.seed(11)
    # mixed sizes incl. empty, either side of a 256-byte chunk edge and
    # multi-chunk records; at block_bytes 4096 the 5000-byte records
    # span more than one block of chunks
    sizes = [0, 1, 8, 255, 256, 4093, 4096, 5000]
    recs = [os.urandom(random.choice(sizes)) for _ in range(500)]
    for block_bytes in (1 << 12, 1 << 26):
        vec = crc32c_many(recs, block_bytes=block_bytes)
        assert [int(v) for v in vec] == [crc32c(r) for r in recs]


def test_frame_records_matches_write_record():
    import io
    import os
    import random

    from tensorflow_recorder_spark.functions.tfrecord_io import write_record

    random.seed(13)
    recs = [os.urandom(random.choice([0, 3, 120, 1000])) for _ in range(300)]
    buf = io.BytesIO()
    for r in recs:
        write_record(buf, r)
    framed = frame_records(recs)
    assert framed == buf.getvalue()
    assert list(read_records(framed, verify=True)) == recs
    assert frame_records([]) == b""


def test_masked_crc_is_stable():
    m = masked_crc32c(b"hello")
    assert 0 <= m <= 0xFFFFFFFF
    assert m == masked_crc32c(b"hello")
    assert m != masked_crc32c(b"hellp")


def test_example_roundtrip_all_kinds():
    features = {
        "s": ("bytes", [b"cat", b"goat"]),
        "i": ("int64", [0, -1, 2**40, -(2**40)]),
        "f": ("float", [1.5, -2.25]),
        "empty": ("int64", []),
    }
    decoded = decode_example(encode_example(features))
    assert decoded["s"] == ("bytes", [b"cat", b"goat"])
    assert decoded["i"] == ("int64", [0, -1, 2**40, -(2**40)])
    assert decoded["f"][0] == "float"
    assert decoded["f"][1] == [1.5, -2.25]
    assert decoded["empty"][1] == []


def test_example_encoding_deterministic_key_order():
    a = encode_example({"a": ("int64", [1]), "b": ("int64", [2])})
    b = encode_example({"b": ("int64", [2]), "a": ("int64", [1])})
    assert a == b


def test_tfrecord_framing_roundtrip_and_crc_verify():
    recs = [b"first", b"second record", b""]
    blob = records_to_bytes(recs)
    assert list(read_records(blob, verify=True)) == recs
    # corrupt one payload byte -> verify must fail
    corrupt = bytearray(blob)
    corrupt[12] ^= 0xFF
    with pytest.raises(ValueError):
        list(read_records(bytes(corrupt), verify=True))


def test_tfrecord_gzip_roundtrip():
    recs = [b"x" * 100, b"y"]
    blob = records_to_bytes(recs, compress=True)
    assert blob[:2] == b"\x1f\x8b"
    assert list(read_records(gzip.decompress(blob), verify=True)) == recs


def test_tfrecord_zlib_roundtrip(tmp_path):
    """.zlib shards: write through open_output('zlib'), read back via
    extension inference AND blob magic inference (reference infers from
    .zlib extension, dataset_loader.py:32-35,72-79)."""
    import zlib

    from tensorflow_recorder_spark.functions.tfrecord_io import (
        frame_records,
        open_maybe_gzip,
        open_output,
        read_file_records,
    )

    recs = [b"alpha", b"b" * 4096, b""]
    path = str(tmp_path / "part-00000.tfrecord.zlib")
    with open_output(path, "zlib") as fh:
        fh.write(frame_records(recs))
    raw = (tmp_path / "part-00000.tfrecord.zlib").read_bytes()
    assert raw[0] == 0x78  # real zlib stream on disk
    assert list(read_records(zlib.decompress(raw), verify=True)) == recs
    # path read: extension-inferred
    assert list(read_file_records(path)) == recs
    with open_maybe_gzip(path, "rb") as fh:
        assert list(read_records(fh.read())) == recs
    # blob read: magic-sniffed and explicit
    assert list(read_file_records(raw)) == recs
    assert list(read_file_records(raw, compressed="zlib")) == recs
    # a raw (uncompressed) blob is still read as raw, not mis-sniffed
    plain = frame_records(recs)
    assert list(read_file_records(plain)) == recs


def test_image_codec_roundtrip_uses_urlsafe_altchars():
    # base64 altchars '-_' (reference beam_image.py:29).
    pixels = bytes(range(256))
    enc = encode_pixels(pixels)
    assert "+" not in enc and "/" not in enc
    assert decode_pixels(enc) == pixels


def test_mode_channel_mappings():
    assert mode_to_channel("L") == 1
    assert mode_to_channel("RGB") == 3
    assert channel_to_mode(1) == "L"
    assert channel_to_mode(3) == "RGB"
    # lenient reference mapping (beam_image.py:32-41): 'L'-bearing modes
    # are single-channel, everything else is 3; unknown counts -> RGB
    assert mode_to_channel("LA") == 1
    assert mode_to_channel("CMYK") == 3
    assert mode_to_channel("RGBA") == 3
    assert channel_to_mode(4) == "RGB"


# ---------------------------------------------------- span kernel parity

# every head-piece width, one chunk either side of its edges, several
# chunks, and a record long enough for many advance bits
_SPAN_LENGTHS = st.one_of(
    st.sampled_from([0, 0, 1, 2, 3, CHUNK - 1, CHUNK, CHUNK + 1, 2 * CHUNK + 7, 70_000]),
    st.integers(0, 5 * CHUNK),
)


def _payloads(lengths, seed):
    rng = random.Random(seed)
    return [rng.randbytes(n) for n in lengths]


@settings(max_examples=60, deadline=None)
@given(
    lengths=st.lists(_SPAN_LENGTHS, max_size=12),
    lead=st.integers(0, CHUNK + 3),
    block_bytes=st.sampled_from([1, 7, CHUNK, 3 * CHUNK + 1, 1 << 20]),
    seed=st.integers(0, 2**32),
)
def test_crc32c_spans_matches_scalar(lengths, lead, block_bytes, seed):
    recs = _payloads(lengths, seed)
    # the first span starts at ``lead``, after bytes that must not count
    buf = bytes(i * 7 % 256 for i in range(lead)) + b"".join(recs)
    starts = lead + np.cumsum([0] + lengths[:-1], dtype=np.int64)
    expected = [crc32c(r) for r in recs]
    got = crc32c_spans(buf, starts, np.array(lengths, dtype=np.int64), block_bytes)
    assert got.dtype == np.uint32
    assert [int(v) for v in got] == expected
    # the same spans in reverse order, and through the list wrapper
    assert [int(v) for v in crc32c_spans(buf, starts[::-1], lengths[::-1], block_bytes)] == (
        expected[::-1]
    )
    assert [int(v) for v in crc32c_many(recs, block_bytes=block_bytes)] == expected


def test_crc32c_spans_of_a_sliced_arrow_array():
    recs = _payloads([5, CHUNK + 1, 0, 3 * CHUNK, 1000, 2], seed=3)
    array = pa.array([b"skipped", b"x" * 300] + recs, type=pa.binary()).slice(2)
    assert array.offset == 2
    _, offsets, data = array.buffers()
    offsets = np.frombuffer(offsets, dtype=np.int32)[array.offset : array.offset + len(array) + 1]
    assert offsets[0] > 0  # the first span does not start at 0
    got = crc32c_spans(data, offsets[:-1], np.diff(offsets), block_bytes=CHUNK)
    assert [int(v) for v in got] == [crc32c(r) for r in recs]


def test_frame_records_same_bytes_from_arrow_and_list():
    recs = _payloads([0, 1, 8, CHUNK - 1, CHUNK, CHUNK + 1, 4096, 70_000, 0, 300], seed=9)
    buf = io.BytesIO()
    for r in recs:
        write_record(buf, r)
    expected = buf.getvalue()
    assert frame_records(recs) == expected
    for kind in (pa.binary(), pa.large_binary()):
        array = pa.array([b"head", b""] + recs + [b"tail"], type=kind)
        assert frame_records(array.slice(2, len(recs))) == expected
    assert frame_records(pa.array([], type=pa.binary())) == b""
    with pytest.raises(ValueError):
        frame_records(pa.array([b"a", None], type=pa.binary()))


# ---------------------------------------------------- CRC verify on read


def _stream(recs):
    buf = io.BytesIO()
    for r in recs:
        write_record(buf, r)
    return bytearray(buf.getvalue())


def _payload_offset(recs, i):
    return sum(16 + len(r) for r in recs[:i]) + 12


def test_record_offsets_verify_names_the_first_bad_record():
    recs = _payloads([10, 200, 3, 5000, 7], seed=1)
    clean = bytes(_stream(recs))
    starts, lengths = record_offsets(clean, verify=True)
    assert lengths.tolist() == [len(r) for r in recs]
    # payload bit flip in record 1, header CRC flip in record 3
    data = _stream(recs)
    data[_payload_offset(recs, 1) + 50] ^= 0x10
    data[_payload_offset(recs, 3) - 2] ^= 0x01
    with pytest.raises(ValueError, match=f"payload at offset {_payload_offset(recs, 1)}$"):
        record_offsets(bytes(data), verify=True)
    record_offsets(bytes(data), verify=False)  # framing alone still holds
    data = _stream(recs)
    data[_payload_offset(recs, 3) - 2] ^= 0x01
    with pytest.raises(ValueError, match=f"header at offset {_payload_offset(recs, 3) - 12}$"):
        record_offsets(bytes(data), verify=True)
    # the stored payload CRC itself is checked, not only the payload
    data = _stream(recs)
    data[-1] ^= 0x80
    with pytest.raises(ValueError, match=f"payload at offset {_payload_offset(recs, 4)}$"):
        record_offsets(bytes(data), verify=True)


def test_record_offsets_verify_checks_a_length_that_runs_past_the_end():
    recs = _payloads([10, 20], seed=2)
    data = _stream(recs)
    data[_payload_offset(recs, 1) - 12 + 5] ^= 0x01  # length field: huge
    with pytest.raises(ValueError, match="declares"):
        record_offsets(bytes(data))
    # its header CRC no longer matches, and the header is checked first
    with pytest.raises(ValueError, match=f"header at offset {_payload_offset(recs, 1) - 12}$"):
        record_offsets(bytes(data), verify=True)
    truncated = bytes(_stream(recs))[:-3]
    with pytest.raises(ValueError, match="declares"):
        record_offsets(truncated, verify=True)


def _payload_flipped(recs):
    """A raw stream whose record 1 has one payload bit flipped; every
    length field stays valid, so only the CRC can tell."""
    data = _stream(recs)
    data[_payload_offset(recs, 1) + 1] ^= 0x04
    return bytes(data)


@pytest.mark.parametrize(
    "codec, compress",
    [
        (None, lambda raw: raw),
        ("gzip", lambda raw: gzip.compress(raw, mtime=0)),
        ("zlib", zlib.compress),
    ],
)
def test_read_shard_rejects_a_payload_bit_flip(tmp_path, codec, compress):
    recs = _payloads([40, 300, 8], seed=4)
    blob = compress(_payload_flipped(recs))
    suffix = {"gzip": ".tfrecord.gz", "zlib": ".tfrecord.zlib"}.get(codec, ".tfrecord")
    path = tmp_path / f"train-00000-of-00001{suffix}"
    path.write_bytes(blob)
    for source in (blob, str(path)):
        with pytest.raises(ValueError, match="corrupt TFRecord payload"):
            read_shard(source, codec)
    # the framing alone still holds: only the CRC tells
    data = {None: bytes, "gzip": gzip.decompress, "zlib": zlib.decompress}[codec](blob)
    starts, lengths = record_offsets(data, verify=False)
    assert lengths.tolist() == [len(r) for r in recs]
    assert data[starts[1] : starts[1] + lengths[1]] != recs[1]


@pytest.mark.parametrize("compression", [None, "gzip", "zlib"])
def test_load_rejects_a_payload_bit_flip(spark, tmp_path, compression):
    import glob
    import os
    from collections import OrderedDict

    import tensorflow_recorder_spark as trs
    from tensorflow_recorder_spark import types as tt

    schema = trs.Schema(
        OrderedDict([("split", tt.SplitKey), ("x", tt.IntegerInput), ("label", tt.StringLabel)])
    )
    df = spark.createDataFrame(
        [("TRAIN", i, "a") for i in range(30)], "split string, x long, label string"
    )
    job_dir = trs.convert(
        df, output_dir=str(tmp_path), schema=schema, spark=spark,
        compression=compression, num_shards=1,
    )["tfrecord_dir"]
    (path,) = glob.glob(os.path.join(job_dir, "train-*"))
    data, starts, _ = read_shard(path, compression)
    corrupt = bytearray(data)
    corrupt[int(starts[7]) + 3] ^= 0x01
    blob = {"gzip": lambda raw: gzip.compress(raw, mtime=0), "zlib": zlib.compress}.get(
        compression, lambda raw: raw
    )(bytes(corrupt))
    with open(path, "wb") as fh:
        fh.write(blob)
    with pytest.raises(Exception, match="corrupt TFRecord payload"):
        trs.load(job_dir, spark=spark)["TRAIN"].toPandas()
