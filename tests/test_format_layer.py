"""Format-layer unit tests: CRC-32C, Example proto codec, TFRecord
framing (golden byte-level round trips, reference test strategy
SURVEY.md §5 / beam_image_test.py:67-82 analog)."""

import gzip

import pytest

from tensorflow_recorder_spark.functions.crc32c import (
    crc32c,
    crc32c_many,
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
    records_to_bytes,
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
    # mixed sizes incl. empty and one record big enough to force its own
    # padding block when block_bytes is tiny; records from 4096 bytes up
    # are packed by row copies, shorter ones by an index gather
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
