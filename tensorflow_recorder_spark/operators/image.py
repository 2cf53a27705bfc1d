"""Image extraction — the multimodal enrich operator (T3/P2, SURVEY.md
§2.2/§2.3).

Reference: /root/reference/tfrecorder/beam_image.py:78-119
(``ExtractImagesDoFn``): per row, open the ``image_uri`` file with PIL,
replace the URI column with five generated columns — ``image_name``
(basename), ``image`` (base64 of raw pixels, altchars ``-_``),
``image_height``, ``image_width``, ``image_channels`` (1 or 3) — and on
ANY failure log it, count it, and rewrite ``split`` to ``DISCARD``
(beam_image.py:112-116). Counters ``image_good``/``image_bad``
(beam_image.py:85-86, 109, 115).

Spark-first design: an Arrow-batched ``mapInPandas`` over the URI column
— the Spark analog of the reference's ``beam.DoFn``, but batch-at-a-time
instead of row-at-a-time. The failure->DISCARD routing happens inside
the same pass (no second shuffle), and good/bad counts are emitted as
columns aggregated later via ``observe``-style counting, not
driver-side state.

PIL is not available in this runtime, so the *decode* step is pluggable:
``set_image_loader`` installs a real loader when PIL exists; otherwise a
deterministic synthetic loader (seeded by the path) keeps the full
pipeline — schema, batching, error routing, base64 encoding — real and
testable. Paths that do not exist always fail -> DISCARD, matching the
reference's missing-file behavior (beam_image_test.py:44-52).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..constants import DISCARD
from ..functions.image_codec import encode_pixels, mode_to_channel
from ..functions.worker import drops_zip_finders

# An image loader returns (pixels, width, height, mode) for a path.
ImageLoader = Callable[[str], tuple[bytes, int, int, str]]

try:  # pragma: no cover - PIL not present in this runtime
    from PIL import Image as _PILImage

    def _pil_loader(path: str) -> tuple[bytes, int, int, str]:
        """Real loader: PIL open, exactly the reference's load()
        (beam_image.py:62-73)."""
        with open(path, "rb") as fh:
            img = _PILImage.open(fh)
            img.load()
        return img.tobytes(), img.width, img.height, img.mode

    DEFAULT_LOADER: ImageLoader = _pil_loader
    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False

    from ..functions.bmp_codec import decode_bmp, is_bmp
    from ..functions.gif_codec import decode_gif, is_gif
    from ..functions.jpeg_codec import decode_jpeg, is_jpeg
    from ..functions.png_codec import decode_png, is_png
    from ..functions.tiff_codec import decode_tiff, is_tiff
    from ..functions.vp8l_codec import decode_webp, is_webp

    def _stdlib_loader(path: str) -> tuple[bytes, int, int, str]:
        """No-PIL loader: REAL decode for PNG (pure-stdlib zlib inflate
        + per-row unfilter, ``functions/png_codec.py``), JPEG — baseline
        AND progressive (``functions/jpeg_codec.py``), GIF (first
        frame, ``functions/gif_codec.py``), BMP
        (``functions/bmp_codec.py``), baseline strip TIFF —
        none/PackBits/LZW/Deflate (``functions/tiff_codec.py``), and
        BOTH WebP flavors — lossless VP8L
        (``functions/vp8l_codec.py``) and lossy VP8 key frames
        (``functions/vp8_codec.py``, r8 — previously the loader's one
        synthetic fallback). Real filesystem semantics: the file must
        exist and be readable (missing file -> the DISCARD route);
        a corrupt file — including flavors a decoder rejects
        (lossless/12-bit JPEG, RLE BMP) — raises -> DISCARD, matching
        the reference's failure handling (beam_image.py:112-116);
        animated/extended WebP decodes its first frame (r9)."""
        with open(path, "rb") as fh:
            content = fh.read()
        if is_png(content):
            return decode_png(content)
        if is_jpeg(content):
            return decode_jpeg(content)
        if is_gif(content):
            return decode_gif(content)
        if is_bmp(content):
            return decode_bmp(content)
        if is_tiff(content):
            return decode_tiff(content)
        if is_webp(content):
            # both still flavors decode for REAL (lossless VP8L r7,
            # lossy VP8 r8), and VP8X/animated containers decode their
            # first image stream (r9) — NotImplementedError now only
            # fires for a container with NO image chunk at all, keeping
            # the r5 contract: capability gap -> synthetic fallback, so
            # a VALID file is never DISCARDed over a capability gap
            try:
                return decode_webp(content)
            except NotImplementedError:
                pass
        # unrecognized container / capability gap: deterministic
        # synthetic pixels (the documented fixture convention — any
        # readable non-image bytes act as a tiny valid image so
        # pipeline tests can fabricate corpora without shipping files)
        width = height = 4
        mode = "RGB"
        n = width * height * 3
        digest = hashlib.sha256(content).digest()
        pixels = (digest * (n // len(digest) + 1))[:n]
        return pixels, width, height, mode

    DEFAULT_LOADER = _stdlib_loader

_loader: ImageLoader = DEFAULT_LOADER


def set_image_loader(loader: ImageLoader) -> None:
    """Install a custom image decoder (e.g. a real PIL/OpenCV loader)."""
    global _loader
    _loader = loader


def extract_images(
    df: DataFrame, image_uri_key: str, split_key: str = "split"
) -> DataFrame:
    """Replace ``image_uri_key`` with the five generated image columns;
    failures route the row's split to DISCARD and null the image columns.

    Adds a transient ``__image_ok`` boolean used for the good/bad
    counters (V5); callers aggregate and drop it.
    """
    loader = _loader
    passthrough = [c for c in df.columns if c != image_uri_key]

    out_fields = [f for f in df.schema.fields if f.name != image_uri_key]
    out_struct = T.StructType(
        out_fields
        + [
            T.StructField("image_name", T.StringType()),
            T.StructField("image", T.StringType()),
            T.StructField("image_height", T.LongType()),
            T.StructField("image_width", T.LongType()),
            T.StructField("image_channels", T.LongType()),
            T.StructField("__image_ok", T.BooleanType()),
        ]
    )

    @drops_zip_finders
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            names, images, heights, widths, channels, oks = [], [], [], [], [], []
            new_split = list(pdf[split_key])
            for i, uri in enumerate(pdf[image_uri_key]):
                try:
                    pixels, width, height, mode = loader(uri)
                    names.append(os.path.basename(uri))
                    images.append(encode_pixels(pixels))
                    heights.append(height)
                    widths.append(width)
                    channels.append(mode_to_channel(mode))
                    oks.append(True)
                except Exception:
                    # Reference: log, count image_bad, split -> DISCARD
                    # (beam_image.py:112-116).
                    names.append(None)
                    images.append(None)
                    heights.append(None)
                    widths.append(None)
                    channels.append(None)
                    oks.append(False)
                    new_split[i] = DISCARD
            out = pdf[passthrough].copy()
            out[split_key] = new_split
            out["image_name"] = names
            out["image"] = images
            out["image_height"] = pd.array(heights, dtype="Int64")
            out["image_width"] = pd.array(widths, dtype="Int64")
            out["image_channels"] = pd.array(channels, dtype="Int64")
            out["__image_ok"] = oks
            yield out[[f.name for f in out_struct.fields]]

    return df.mapInPandas(extract, schema=out_struct)
