"""Property tests: the columnar encoder ``encode_batch`` (and its
``build_batch_encoder`` list shim) is byte-identical to the per-row
reference ``encode_example`` on arbitrary batches, and raises where the
reference raises (hypothesis-driven)."""

import math
import random
import struct

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from tensorflow_recorder_spark.functions import example_proto
from tensorflow_recorder_spark.functions.example_proto import (
    build_batch_encoder,
    decode_example,
    encode_batch,
    encode_example,
)

names = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=1, max_size=8
)
kinds = st.sampled_from(["bytes", "int64", "float"])


def canonical(kind, v):
    """The reference's value list for one cell: a null or a scalar NaN is
    the empty list, a scalar a one-value list."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return []
    items = list(v) if isinstance(v, (list, tuple)) else [v]
    if kind == "bytes":
        return [x.encode("utf-8") if isinstance(x, str) else bytes(x) for x in items]
    if kind == "int64":
        return [int(x) for x in items]
    return [float(x) for x in items]


def reference(schema, rows):
    """encode_example per row of {name: cell} dicts."""
    return [
        encode_example({c: (schema[c], canonical(schema[c], r[c])) for c in schema})
        for r in rows
    ]


def value_for(kind):
    if kind == "bytes":
        return st.one_of(st.none(), st.text(max_size=20), st.binary(max_size=20))
    if kind == "int64":
        return st.one_of(
            st.none(), st.integers(min_value=-(2**62), max_value=2**62)
        )
    return st.one_of(
        st.none(),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        st.just(float("nan")),
        # beyond float32 range: the encoder raises OverflowError
        st.sampled_from([1e300, -1e300]),
    )


@given(st.dictionaries(names, kinds, min_size=1, max_size=6), st.data())
@settings(max_examples=200, deadline=None)
def test_fast_encoder_matches_reference(schema, data):
    encoder = build_batch_encoder(schema)
    values = [data.draw(value_for(schema[c])) for c in encoder.columns]
    paths = [
        lambda: encoder([[v] for v in values]),
        lambda: encoder([pa.array([v]) for v in values]),
    ]
    try:
        want = reference(schema, [dict(zip(encoder.columns, values))])
    except OverflowError:
        for path in paths:
            with pytest.raises(OverflowError):
                path()
        return
    for path in paths:
        assert path() == want


@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32),
        min_size=1, max_size=8,
    ),
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=8
    ),
    st.lists(st.one_of(st.text(max_size=10), st.binary(max_size=10)), min_size=1, max_size=4),
)
@settings(max_examples=100, deadline=None)
def test_batch_encoder_array_values_match_reference(floats, ints, blobs):
    schema = {"f": "float", "i": "int64", "b": "bytes"}
    batch = build_batch_encoder(schema)
    canonical_blobs = [
        v.encode("utf-8") if isinstance(v, str) else bytes(v) for v in blobs
    ]
    want = encode_example(
        {"f": ("float", floats), "i": ("int64", ints), "b": ("bytes", canonical_blobs)}
    )
    assert batch([[blobs], [floats], [ints]]) == [want]


@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False, width=32), max_size=8
    ),
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=8),
)
@settings(max_examples=100, deadline=None)
def test_fast_encoder_array_values_roundtrip(floats, ints):
    out = encode_batch(
        {"f": "float", "i": "int64"},
        [pa.array([floats], pa.list_(pa.float32())),
         pa.array([ints], pa.large_list(pa.int64()))],
    )
    decoded = decode_example(out[0].as_py())
    assert decoded["f"][1] == floats
    assert decoded["i"][1] == ints


# ------------------------------------------------ multi-row batch parity
#
# Hypothesis draws the shape of a batch (rows, columns, their kinds and
# Arrow forms, null rate, slicing, nulls laid over filled slots) and a
# seed; the seed draws the cell values, so a 300-row batch of 16 KiB
# strings stays within hypothesis' data budget.

# lengths around each varint boundary of the value, list and entry
# lengths (a value of 16,355-16,390 bytes puts the nested lengths on
# both sides of 16384), and free text
_LENGTHS = [(0, 40), (110, 135), (0, 300), (16355, 16390)]
_INT_SPECIALS = [0, 1, -1, 2**63 - 1, -(2**63)]
_FLOAT_SPECIALS = [0.0, -0.0, math.inf, -math.inf, 1e-45, 3.4028234663852886e38]

# Arrow forms per kind; "python" is a plain sequence, "null" the null type
FORMS = {
    "bytes": ["python", pa.string(), pa.large_string(), pa.binary(), pa.large_binary(), "null"],
    "int64": ["python", pa.int64(), pa.int32(), pa.uint64(), pa.bool_(), "null"],
    "float": ["python", pa.float64(), pa.float32(), "null"],
}


def _length(rng):
    low, high = _LENGTHS[rng.choice((0, 0, 0, 1, 1, 1, 2, 2, 2, 3))]
    return rng.randint(low, high)


def _item(rng, kind, form, overflow):
    """One value of ``kind`` that the Arrow ``form`` can hold."""
    if kind == "bytes":
        if form in (pa.string(), pa.large_string()) or (
            form == "python" and rng.random() < 0.5
        ):
            return rng.choice("azé€") * _length(rng)
        return rng.randbytes(_length(rng))
    if kind == "int64":
        if form == pa.bool_():
            return rng.random() < 0.5
        if form == pa.int32():
            return rng.randint(-(2**31), 2**31 - 1)
        if form == "python" and rng.random() < 0.05:
            return 2**63  # written mod 2**64: the varint of -2**63
        if rng.random() < 0.1:
            v = rng.choice(_INT_SPECIALS)
            return v % 2**64 if form == pa.uint64() else v
        width = rng.randint(1, 10)  # a varint of this many bytes
        v = rng.randrange(1 << (7 * width - 7), 1 << min(7 * width, 64))
        return v if form == pa.uint64() or v < 2**63 else v - 2**64
    if overflow and form != pa.float32() and rng.random() < 0.02:
        return rng.choice([1e300, -1e300])
    if rng.random() < 0.1:
        return rng.choice(_FLOAT_SPECIALS)
    return struct.unpack("<f", rng.randbytes(4))[0]  # any float32, NaNs too


@st.composite
def batches(draw):
    n = draw(st.integers(0, 300))
    overflow = draw(st.booleans())
    seed = draw(st.integers(0, 2**32))
    rng = random.Random(seed)
    schema, columns, cells = {}, [], {}
    for name in sorted(draw(st.sets(names, min_size=1, max_size=5))):
        kind = draw(kinds)
        form = draw(st.sampled_from(FORMS[kind]))
        is_list = draw(st.booleans())
        large_list = draw(st.booleans())
        null_rate = 1.0 if form == "null" else draw(st.sampled_from([0.0, 0.1, 0.5, 1.0]))
        sliced = draw(st.booleans())
        masked = draw(st.booleans())  # nulls laid over filled slots

        def cell(null):
            if null:
                return None
            if is_list:
                return [_item(rng, kind, form, overflow) for _ in range(rng.randint(0, 4))]
            return _item(rng, kind, form, overflow)

        nulls = [rng.random() < null_rate for _ in range(n)]
        values = [cell(null) for null in nulls]
        schema[name] = kind
        cells[name] = values
        columns.append(
            _arrow(kind, form, is_list, large_list, values, nulls, sliced, masked, cell)
        )
    rows = [{c: cells[c][i] for c in schema} for i in range(n)]
    return schema, columns, rows


def _arrow(kind, form, is_list, large_list, values, nulls, sliced, masked, cell):
    """``values`` in the drawn form: a Python list, or an Arrow array,
    optionally padded and sliced (non-zero offset) and with its nulls set
    by a validity bitmap over filled slots (a null string slot then has
    offsets of non-zero length, a null list a non-empty range)."""
    n = len(values)
    if form == "python":
        return values
    if form == "null":
        typ = pa.list_(pa.null()) if is_list else pa.null()
        return pa.array([[] if is_list and i % 2 else None for i in range(n)], typ)
    typ = form
    if is_list:
        typ = pa.large_list(form) if large_list else pa.list_(form)
    if all(nulls) and not sliced:
        return pa.nulls(n, typ)
    before = [cell(False) for _ in range(3)] if sliced else []
    after = [cell(False), None] if sliced else []
    full = before + values + after
    if masked:
        full = before + [cell(False) if v is None else v for v in values] + after
    arr = pa.array(full, type=typ)
    if masked:
        null_mask = np.array([False] * len(before) + nulls + [False, True][: len(after)])
        if is_list:
            arr = type(arr).from_arrays(arr.offsets, arr.values, mask=pa.array(null_mask))
        else:
            validity = pa.py_buffer(np.packbits(~null_mask, bitorder="little"))
            arr = pa.Array.from_buffers(typ, len(arr), [validity, *arr.buffers()[1:]])
    return arr.slice(len(before), n)


@given(batches())
@settings(max_examples=150, deadline=None)
def test_batch_matches_per_row_reference(batch):
    schema, columns, rows = batch
    try:
        want = reference(schema, rows)
    except OverflowError:
        with pytest.raises(OverflowError):
            encode_batch(schema, columns)
        return
    got = encode_batch(schema, columns)
    assert got.type == pa.binary()
    assert got.to_pylist() == want


def test_free_text_with_many_distinct_lengths():
    """300 rows of 300 distinct lengths, each nested length on both
    sides of 128 and 16384, nulls and a sliced large_string column."""
    rng = random.Random(5)
    lengths = list(range(100, 250)) + list(range(16300, 16450))
    rng.shuffle(lengths)
    text = ["x" * k if k % 7 else None for k in lengths]
    blobs = [rng.randbytes(k) if k % 5 else None for k in lengths]
    schema = {"b": "bytes", "t": "bytes"}
    columns = [
        pa.array([b"pad"] + blobs, pa.large_binary()).slice(1),
        pa.array(text + ["pad"], pa.large_string()).slice(0, len(text)),
    ]
    rows = [{"b": b, "t": t} for b, t in zip(blobs, text)]
    assert encode_batch(schema, columns).to_pylist() == reference(schema, rows)


def test_null_slots_with_bytes_behind_them():
    """A null string slot whose offsets span bytes, a null list over a
    non-empty range, and an all-null typed column: nulls encode as the
    empty list and no byte of a null slot is copied."""
    filled = pa.array(["secret", "kept", "hidden"])
    validity = pa.py_buffer(np.packbits([False, True, False], bitorder="little"))
    strings = pa.Array.from_buffers(pa.string(), 3, [validity, *filled.buffers()[1:]])
    lists = pa.ListArray.from_arrays(
        pa.array([0, 2, 3, 5], pa.int32()), pa.array([1, 2, 3, 4, 5]),
        mask=pa.array([True, False, True]),
    )
    schema = {"a": "bytes", "b": "int64", "c": "float", "d": "bytes"}
    got = encode_batch(
        schema, [strings, lists, pa.nulls(3, pa.float32()), pa.nulls(3)]
    ).to_pylist()
    rows = [
        {"a": None, "b": None, "c": None, "d": None},
        {"a": "kept", "b": [3], "c": None, "d": None},
        {"a": None, "b": None, "c": None, "d": None},
    ]
    assert got == reference(schema, rows)
    assert not any(b"secret" in r or b"hidden" in r for r in got)


def test_every_int64_varint_width():
    values = [0] + [v for k in range(1, 9) for v in ((1 << (7 * k)) - 1, 1 << (7 * k))]
    values += [2**63 - 1, -1, -(2**63)]
    schema = {"i": "int64"}
    want = reference(schema, [{"i": v} for v in values] + [{"i": 2**63}])
    assert encode_batch(schema, [pa.array(values)]).to_pylist() == want[:-1]
    assert encode_batch(schema, [values + [2**63]]).to_pylist() == want
    assert want[-1] == want[-2]  # 2**63 and -2**63 share their varint


@pytest.mark.parametrize("big", [1e300, -1e300])
def test_float_beyond_float32_raises(big):
    for column in ([1.0, big], pa.array([1.0, big]), pa.array([[1.0], [big]])):
        with pytest.raises(OverflowError):
            encode_batch({"f": "float"}, [column])
    with pytest.raises(OverflowError):
        encode_example({"f": ("float", [big])})


def test_null_inside_a_list_raises_like_the_reference():
    with pytest.raises(TypeError):
        encode_batch({"i": "int64"}, [pa.array([[1, None]])])
    with pytest.raises((TypeError, struct.error)):
        encode_example({"i": ("int64", [1, None])})


def test_batch_past_the_binary_limit_raises(monkeypatch):
    """Record offsets are summed in int64 and checked before they are
    narrowed to int32 (limit lowered so the batch stays small)."""
    monkeypatch.setattr(example_proto, "_MAX_BINARY", 100)
    schema = {"t": "bytes"}
    assert len(encode_batch(schema, [["x" * 40]])[0].as_py()) < 100
    with pytest.raises(ValueError, match="exceed"):
        encode_batch(schema, [["x" * 40] * 3])


def test_empty_batch_and_unknown_kind():
    empty = [[], pa.array([], pa.float64())]
    assert encode_batch({"a": "bytes", "b": "float"}, empty).to_pylist() == []
    assert encode_batch({}, []).to_pylist() == []
    with pytest.raises(ValueError):
        encode_batch({"a": "text"}, [["x"]])
