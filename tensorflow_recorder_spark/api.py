"""User-facing API: ``convert``, ``load``, ``inspect``,
``convert_and_load`` (C1/C4/C5/K5, SURVEY.md §2.6).

Signatures mirror the reference (/root/reference/tfrecorder/
converter.py:248-366, dataset_loader.py:82-129, utils.py:51-101) with
Beam-runner knobs replaced by the SparkSession (Spark's master/cluster
config is the runner).
"""

from __future__ import annotations

import datetime
import logging
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from .constants import AUTO_SHARDS, LOG_FILE, TRAIN
from .plans.convert import ConvertResult, run_convert
from .schema import IMAGE_CSV_SCHEMA, Schema
from .session import get_spark
from .sources.dispatch import to_dataframe
from .sources.tfrecord import load as load_tfrecords
from .functions import fs
from .functions.image_codec import channel_to_mode, decode_pixels


def convert(
    input_data: Any,
    output_dir: str = "./tfrecords",
    schema: Schema = IMAGE_CSV_SCHEMA,
    header: str | int | None = "infer",
    names: list[str] | None = None,
    spark: SparkSession | None = None,
    job_label: str = "convert",
    compression: str | None = "gzip",
    num_shards: int = AUTO_SHARDS,
    scale_numeric: bool = False,
) -> dict:
    """Convert a DataFrame / CSV / image directory into split TFRecords.

    Returns {job_id, metrics{rows,good_images,bad_images}, tfrecord_dir}
    — the reference's DirectRunner result shape (converter.py:330-348).
    """
    _configure_logging()
    spark = spark or get_spark()
    df = to_dataframe(spark, input_data, header=header, names=names)
    result = run_convert(
        spark,
        df,
        schema,
        output_dir,
        job_label=job_label,
        compression=compression,
        num_shards=num_shards,
        scale_numeric=scale_numeric,
    )
    _copy_logfile(result.tfrecord_dir)
    return result.as_dict()


def _configure_logging(logfile: str = LOG_FILE) -> None:
    """Attach a file handler for the job log (V6/K6 parity; reference
    converter.py:231-242 logs to /tmp/tfrecorder-beam.log)."""
    root = logging.getLogger("tensorflow_recorder_spark")
    if any(
        isinstance(h, logging.FileHandler)
        and getattr(h, "baseFilename", None) == logfile
        for h in root.handlers
    ):
        return
    handler = logging.FileHandler(logfile)
    handler.setFormatter(
        logging.Formatter("%(asctime)s %(levelname)s %(name)s: %(message)s")
    )
    root.addHandler(handler)
    root.setLevel(logging.INFO)


def _copy_logfile(job_dir: str, logfile: str = LOG_FILE) -> str | None:
    """Copy the job log next to the output (K6 parity; reference
    utils.py:109-119 copies to GCS — here any filesystem path)."""
    if not os.path.exists(logfile):
        return None
    dest = fs.join(job_dir, os.path.basename(logfile))
    fs.copyfile(logfile, dest)
    return dest


def load(tfrecord_dir: str, spark: SparkSession | None = None) -> dict[str, DataFrame]:
    """TFRecord dir -> {split: DataFrame} (C5; reference returns
    {split: tf.data.Dataset}).

    Both CRCs of every record are verified; a corrupt shard fails the
    Spark job with the reader's ``ValueError``. Row order across a split's shards is
    unspecified: ``binaryFile`` packs files into partitions in its own
    order, not by shard name."""
    return load_tfrecords(spark or get_spark(), tfrecord_dir)


def convert_and_load(input_data: Any, **kwargs) -> dict[str, DataFrame]:
    """C4: convert then load (reference converter.py:369-373)."""
    result = convert(input_data, **kwargs)
    spark = kwargs.get("spark")
    return load(result["tfrecord_dir"], spark=spark)


def inspect(
    tfrecord_dir: str,
    split: str = TRAIN,
    num_records: int = 1,
    output_dir: str = "/tmp",
    spark: SparkSession | None = None,
) -> str:
    """Dump ``num_records`` rows of one split to CSV (+ decoded image
    files when image columns exist) for debugging (K5).

    Reference: utils.py:51-101 — creates ``check-tfrecords-<ts>/`` with
    ``data.csv`` (all non-image columns) and one image file per row when
    ``image_name`` is present. Returns the created directory.
    """
    spark = spark or get_spark()
    datasets = load(tfrecord_dir, spark=spark)
    if split not in datasets:
        raise ValueError(f"Split {split!r} not found in {tfrecord_dir}")

    ts = datetime.datetime.now().strftime("%Y%m%d-%H%M%S")
    out_dir = fs.join(output_dir, f"check-tfrecords-{ts}")
    fs.makedirs(out_dir)

    # limit(n) is the reference's only top-k (dataset.take, utils.py:80-87);
    # tiny by construction, so driver-side pandas is fine here.
    pdf = datasets[split].limit(num_records).toPandas()
    csv_cols = [c for c in pdf.columns if c != "image"]
    with fs.open_output(fs.join(out_dir, "data.csv"), "w") as fh:
        pdf[csv_cols].to_csv(fh, index=False)

    if "image_name" in pdf.columns and "image" in pdf.columns:
        for _, row in pdf.iterrows():
            if row["image"] is None or row["image_name"] is None:
                continue
            pixels = decode_pixels(row["image"])
            _save_image(
                pixels,
                int(row["image_width"]),
                int(row["image_height"]),
                int(row["image_channels"]),
                fs.join(out_dir, str(row["image_name"])),
            )
    return out_dir


def _save_image(pixels: bytes, width: int, height: int, channels: int, path: str) -> None:
    """Rebuild an image file from raw pixels (utils.py:93-97). Falls back
    to writing raw bytes when PIL is unavailable in the runtime."""
    try:  # pragma: no cover - PIL absent in this runtime
        from PIL import Image

        img = Image.frombytes(channel_to_mode(channels), (width, height), pixels)
        img.save(path)
    except ImportError:
        # No PIL: write a REAL PNG via the pure-stdlib encoder (r3) —
        # the reference saves a viewable image file (utils.py:93-97).
        from .functions.png_codec import encode_png

        mode = channel_to_mode(channels)
        with fs.open_output(path + ".png", "wb") as fh:
            fh.write(encode_png(pixels, width, height, mode))
