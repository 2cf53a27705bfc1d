#!/usr/bin/env python
"""Codec totality fuzz gate — EVERY exported codec surface, walkers
included (r10 verdict item 2).

Two consecutive rounds a judge Hypothesis draw found a totality hole the
builder's green gate missed (r9: progressive-JPEG scan-header table
refs through ``decode_jpeg``; r10: present-but-empty IFD tag through
``tiff_page_meta`` — the ad-hoc 19.5k-trial r10 fuzz drove only the
``decode_*`` entry points, so the walker hole survived). This script
closes the class, permanently:

* Targets are ENUMERATED FROM THE MODULE EXPORTS — every public
  callable in the codec modules named ``decode_*`` / ``read_*`` or
  ending in ``_meta`` / ``_census`` / ``_chain`` that takes one
  required ``bytes`` argument. A future walker is fuzzed the moment it
  is exported; forgetting to list it here is impossible. Surfaces that
  need more than the bytes (``build_batch_decoder(struct)``) are bound
  to a fixture schema in ``explicit_targets``.
* Fixtures cover every container shape the encoders can produce:
  single-page TIFF in all four compressions (+ palette, bilevel,
  predictor-2, multi-strip), MULTI-PAGE TIFF (the r10 hole lived
  here), PNG plain + Adam7, GIF plain + interlaced, BMP, JPEG baseline
  + progressive + restart markers, VP8L stills, lossy VP8, animated
  VP8X/ANMF WebP, and WebP with a raw ALPH alpha plane.
* Mutations per (fixture, target): an EXHAUSTIVE zero-every-byte pass
  (the r9 and r10 judge examples were both ``newbyte=0`` single-byte
  zeroings — this pass finds every such hole deterministically, no
  luck of the draw), plus seeded random byte flips and truncations.
* Every call is wrapped in ``signal.setitimer`` (hang guard) and may
  raise ONLY the declared exceptions: ValueError (the DISCARD route,
  operators/image.py) or NotImplementedError (documented capability
  gates, e.g. LossyWebPError). Anything else — IndexError, KeyError,
  struct.error, zlib.error, MemoryError, a hang — is a finding and
  fails the gate.

Usage (wired into scripts/ci.sh):

    python scripts/fuzz_codecs.py              # gate mode (~600 random
                                               # trials/fixture + exhaustive)
    python scripts/fuzz_codecs.py --trials 40  # smoke
    python scripts/fuzz_codecs.py --trials 1500 --seeds 0 1 2  # extended

Cross-format coverage is free: every target runs against every
fixture's mutants, so e.g. ``decode_jpeg`` also sees mutated TIFFs
(magic-check totality).
"""

from __future__ import annotations

import argparse
import inspect
import signal
import sys
import traceback

import numpy as np
from pyspark.sql import types as T

REPO = __file__.rsplit("/scripts/", 1)[0]
sys.path.insert(0, REPO)

from tensorflow_recorder_spark.functions import (  # noqa: E402
    bmp_codec,
    example_proto,
    gif_codec,
    jpeg_codec,
    png_codec,
    tfrecord_io,
    tiff_codec,
    vp8_codec,
    vp8l_codec,
)

MODULES = [
    bmp_codec, gif_codec, jpeg_codec, png_codec,
    tiff_codec, vp8_codec, vp8l_codec,
    # r11: the TFRecord load path has the same totality contract as
    # the codecs (corrupt shard -> declared ValueError, the tf.data
    # DataLossError analog) — truncated records used to leak
    # struct.error, bit-flipped gzip leaked BadGzipFile, and corrupt
    # protos leaked IndexError/TypeError/AttributeError
    tfrecord_io, example_proto,
]

# The declared totality contract: corrupt input -> ValueError (DISCARD
# route); NotImplementedError covers documented capability gates
# (LossyWebPError, WebP-container-without-image-chunk).
ALLOWED = (ValueError, NotImplementedError)

# 10s, not 3: a corrupt VP8 header can declare dims that pass the
# 2x-MAX_IMAGE_PIXELS bomb guard yet make the pure-Python macroblock
# loop grind for seconds before its data-length checks fire (measured
# 3.02s on a quiet host for a webp_vp8 burst mutant — a 3s alarm made
# the gate flaky under load). Slow-but-terminating is the DISCARD
# route, not a finding; only hangs are.
PER_CALL_SECONDS = 10.0


def discover_targets() -> dict:
    """Every public single-bytes-arg codec surface, from the exports."""
    targets = {}
    for mod in MODULES:
        short = mod.__name__.rsplit(".", 1)[-1]
        for name in sorted(dir(mod)):
            if name.startswith("_"):
                continue
            fn = getattr(mod, name)
            if not callable(fn) or inspect.isclass(fn):
                continue
            if getattr(fn, "__module__", None) != mod.__name__:
                continue
            if not (
                name.startswith(("decode_", "read_"))
                or name.endswith(("_meta", "_census", "_chain"))
            ):
                continue
            try:
                sig = inspect.signature(fn)
            except (TypeError, ValueError):
                continue
            required = [
                p
                for p in sig.parameters.values()
                if p.default is p.empty
                and p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            ]
            if len(required) == 1:
                targets[f"{short}.{name}"] = fn
    return targets


# The struct the batch Example decoder is bound to: one column per
# fast-path type, so the scalar-layout fixtures below exercise its numpy
# walk and every other TFRecord fixture its reference fallback.
BATCH_STRUCT = T.StructType([
    T.StructField("b", T.BinaryType()),
    T.StructField("f", T.DoubleType()),
    T.StructField("i", T.LongType()),
    T.StructField("s", T.StringType()),
])


def explicit_targets() -> dict:
    """Surfaces the export scan cannot see: ``build_batch_decoder``
    takes a schema, so it is bound to BATCH_STRUCT and fed whole
    shards the way the load path feeds it."""
    decode = example_proto.build_batch_decoder(BATCH_STRUCT)
    return {
        "example_proto.build_batch_decoder": (
            lambda blob: decode(*tfrecord_io.read_shard(blob))
        ),
    }


def _rgb(seed: int, w: int, h: int) -> bytes:
    return (
        np.random.RandomState(seed)
        .randint(0, 256, (h, w, 3))
        .astype("uint8")
        .tobytes()
    )


def _gray(seed: int, w: int, h: int) -> bytes:
    return (
        np.random.RandomState(seed)
        .randint(0, 256, (h, w))
        .astype("uint8")
        .tobytes()
    )


def build_fixtures() -> dict[str, bytes]:
    """One well-formed container per shape the encoders can emit."""
    fx: dict[str, bytes] = {}

    fx["bmp_rgb"] = bmp_codec.encode_bmp(_rgb(1, 6, 5), 6, 5)

    pal = [((i * 31) % 256, (i * 57) % 256, (i * 93) % 256) for i in range(8)]
    idx = bytes((i * 131) % 8 for i in range(6 * 5))
    fx["gif_plain"] = gif_codec.encode_gif(idx, pal, 6, 5, interlace=False)
    fx["gif_interlaced"] = gif_codec.encode_gif(idx, pal, 6, 5, interlace=True)

    fx["jpeg_baseline"] = jpeg_codec.encode_jpeg(_rgb(2, 10, 9), 10, 9)
    fx["jpeg_progressive"] = jpeg_codec.encode_jpeg_progressive(
        _rgb(3, 10, 9), 10, 9
    )
    try:
        fx["jpeg_restart"] = jpeg_codec.encode_jpeg(
            _rgb(4, 18, 10), 18, 10, restart_interval=2
        )
    except TypeError:
        pass  # encoder without restart support: shape covered by baseline

    fx["png_rgb"] = png_codec.encode_png(_rgb(5, 9, 7), 9, 7, "RGB")
    fx["png_adam7"] = png_codec.encode_png(
        _rgb(6, 9, 7), 9, 7, "RGB", interlace=True, gamma=45455
    )

    for comp in ("none", "packbits", "lzw", "deflate"):
        fx[f"tiff_{comp}"] = tiff_codec.encode_tiff(
            _rgb(7, 6, 5), 6, 5, "RGB", compression=comp
        )
    fx["tiff_gray_strips"] = tiff_codec.encode_tiff(
        _gray(8, 6, 8), 6, 8, "L", compression="packbits", rows_per_strip=3,
        orientation=6,
    )
    # the r10 judge hole lived on the MULTIPAGE walker path
    fx["tiff_multipage"] = tiff_codec.encode_tiff_multipage(
        [
            (_rgb(0, 4, 3), 4, 3, "RGB", "packbits"),
            (_rgb(1, 5, 4), 5, 4, "RGB", "deflate"),
        ]
    )

    # TFRecord shard images (raw + gzip) holding two Example protos —
    # the S5/C5 load-path surface (read_file_records/read_records +
    # decode_example are auto-discovered like any other decode_*)
    ex = example_proto.encode_example(
        {
            "a": ("bytes", [b"hello", b"world"]),
            "b": ("int64", [1, -2, 3]),
            "c": ("float", [0.5, -1.25]),
        }
    )
    fx["tfrecord_raw"] = tfrecord_io.records_to_bytes([ex, ex])
    fx["tfrecord_gzip"] = tfrecord_io.records_to_bytes([ex, ex], compress=True)
    # scalar-layout shards: the canonical records the batch decoder's
    # fast path parses (build_batch_encoder output over BATCH_STRUCT)
    scalar = example_proto.build_batch_encoder(
        {"b": "bytes", "f": "float", "i": "int64", "s": "bytes"}
    )([[b"\x00\xff", None], [0.5, None], [300, -(2**63)], ["hello", None]])
    fx["tfrecord_scalar_raw"] = tfrecord_io.records_to_bytes(scalar)
    fx["tfrecord_scalar_gzip"] = tfrecord_io.records_to_bytes(
        scalar, compress=True
    )

    fx["webp_vp8l"] = vp8l_codec.encode_vp8l(_rgb(9, 6, 5), 6, 5, "RGB")
    fx["webp_vp8"] = vp8_codec.encode_webp_vp8(_rgb(10, 8, 8), 8, 8, "RGB")

    def _chunk_body(container: bytes, tag: bytes) -> bytes:
        import struct as _s

        pos = 12
        while container[pos : pos + 4] != tag:
            (size,) = _s.unpack_from("<I", container, pos + 4)
            pos += 8 + size + (size & 1)
        (size,) = _s.unpack_from("<I", container, pos + 4)
        return container[pos + 8 : pos + 8 + size]

    # animated VP8X/ANMF container wrapping two VP8L frames
    f1 = _chunk_body(vp8l_codec.encode_vp8l(_rgb(11, 4, 3), 4, 3), b"VP8L")
    f2 = _chunk_body(vp8l_codec.encode_vp8l(_rgb(12, 4, 3), 4, 3), b"VP8L")
    fx["webp_animated"] = vp8l_codec.build_webp(
        [
            vp8l_codec.build_vp8x(4, 3, animated=True),
            vp8l_codec.build_anim(0),
            vp8l_codec.build_anmf([(b"VP8L", f1)], 4, 3, duration_ms=40),
            vp8l_codec.build_anmf(
                [(b"VP8L", f2)], 4, 3, duration_ms=70, no_blend=True
            ),
        ]
    )

    # WebP with a raw (method-0) ALPH plane over a lossy VP8 frame
    vp8_body = vp8_codec.encode_vp8_frame(_rgb(13, 8, 8), 8, 8)
    alph = b"\x00" + _gray(14, 8, 8)
    fx["webp_alph"] = vp8l_codec.build_webp(
        [
            vp8l_codec.build_vp8x(8, 8, has_alpha=True),
            (b"ALPH", alph),
            (b"VP8 ", vp8_body),
        ]
    )
    return fx


class _Timeout(Exception):
    pass


def _alarm(_sig, _frm):
    raise _Timeout()


def run_one(fn, data: bytes):
    """-> None if OK/allowed, else (exc_type_name, traceback_str)."""
    signal.setitimer(signal.ITIMER_REAL, PER_CALL_SECONDS)
    try:
        res = fn(data)
        if inspect.isgenerator(res):
            # generator surfaces (read_records/read_file_records)
            # raise lazily — drain them or the call trivially passes
            for _ in res:
                pass
        return None
    except ALLOWED:
        return None
    except _Timeout:
        return ("TIMEOUT", f"no return within {PER_CALL_SECONDS}s")
    except BaseException as exc:  # noqa: BLE001 — the gate's whole point
        return (type(exc).__name__, traceback.format_exc(limit=6))
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--trials", type=int, default=600,
                    help="random mutants per fixture (on top of the "
                         "exhaustive zero-byte pass)")
    ap.add_argument("--seeds", type=int, nargs="*", default=[0, 1],
                    help="RNG seeds for the random passes")
    ap.add_argument("--max-failures", type=int, default=20)
    args = ap.parse_args()

    signal.signal(signal.SIGALRM, _alarm)

    targets = {**discover_targets(), **explicit_targets()}
    fixtures = build_fixtures()
    print(f"targets ({len(targets)}): {', '.join(sorted(targets))}")
    print(f"fixtures ({len(fixtures)}): {', '.join(sorted(fixtures))}")

    failures: list[str] = []
    calls = 0

    def check(fname, fn_name, fn, mutant, desc):
        nonlocal calls
        calls += 1
        res = run_one(fn, mutant)
        if res is not None:
            failures.append(
                f"{fn_name} on {fname} [{desc}] -> {res[0]}\n{res[1]}"
            )
            print(f"FAIL {fn_name} on {fname} [{desc}] -> {res[0]}",
                  flush=True)

    for fname, fdata in fixtures.items():
        mutants: list[tuple[bytes, str]] = []
        # exhaustive zero-every-byte (both judge examples were newbyte=0)
        for pos in range(len(fdata)):
            if fdata[pos] == 0:
                continue
            m = bytearray(fdata)
            m[pos] = 0
            mutants.append((bytes(m), f"zero@{pos}"))
        # seeded random flips + truncations. zlib.crc32, NOT hash():
        # str hash is randomized per process (PYTHONHASHSEED), which
        # would silently make every "fixed-seed" run draw different
        # mutants — the gate must replay byte-identically.
        import zlib as _zlib

        for seed in args.seeds:
            rng = np.random.RandomState(
                seed ^ (_zlib.crc32(fname.encode()) & 0x7FFFFFFF)
            )
            for t in range(args.trials):
                mode = rng.randint(3)
                if mode == 0:  # single-byte flip
                    pos = int(rng.randint(len(fdata)))
                    m = bytearray(fdata)
                    m[pos] = int(rng.randint(256))
                    mutants.append((bytes(m), f"s{seed}flip@{pos}"))
                elif mode == 1:  # truncation
                    cut = int(rng.randint(1, len(fdata)))
                    mutants.append((fdata[:cut], f"s{seed}trunc@{cut}"))
                else:  # burst of up to 4 flips
                    m = bytearray(fdata)
                    for _ in range(int(rng.randint(1, 5))):
                        m[int(rng.randint(len(m)))] = int(rng.randint(256))
                    mutants.append((bytes(m), f"s{seed}burst{t}"))
        for fn_name, fn in targets.items():
            for mutant, desc in mutants:
                check(fname, fn_name, fn, mutant, desc)
                if len(failures) >= args.max_failures:
                    break
            if len(failures) >= args.max_failures:
                break
        if len(failures) >= args.max_failures:
            break

    print(f"\n{calls} calls, {len(failures)} failures")
    if failures:
        print("\n=== FAILURES ===")
        for f in failures:
            print(f, "\n")
        return 1
    print("FUZZ GATE GREEN")
    return 0


if __name__ == "__main__":
    sys.exit(main())
