"""TFRecord scan (S5, SURVEY.md §2.1): TFRecord files -> Spark DataFrames
per split.

Reference: /root/reference/tfrecorder/dataset_loader.py:82-129 —
``load()`` validates the job dir, globs ``train*/validation*/test*``
per split (DISCARD excluded), infers compression from the extension, and
parses records with the persisted feature spec.

Spark-first design: files are scanned with the distributed ``binaryFile``
source (one task per file; TFRecord files are the write-side shards, so
file-level parallelism equals write-side shard parallelism) and parsed in
``mapInArrow``, one Arrow RecordBatch per file. Each shard is
decompressed, unframed in one offsets pass and CRC-verified in one
batch (tfrecord_io.read_shard), then decoded column-wise by the batch Example
decoder compiled for the persisted transformed StructType
(example_proto.build_batch_decoder, replacing TFTransformOutput): the
encoder's canonical layout is parsed in numpy, and any record outside it
falls back to the reference ``decode_example`` + ``_scalar`` at its row.
"""

from __future__ import annotations

import glob as globlib
import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, types as T

from ..constants import GZIP_SUFFIX, OUTPUT_SPLITS, TFRECORD_SUFFIX, ZLIB_SUFFIX
from ..functions import fs
from ..functions.example_proto import build_batch_decoder
from ..functions.tfrecord_io import read_shard
from ..functions.worker import drops_zip_finders
from ..sinks.artifacts import read_schema_metadata, validate_job_dir


def read_tfrecords(
    spark: SparkSession, paths: list[str], struct: T.StructType
) -> DataFrame:
    """Parse TFRecord files into rows of ``struct``."""
    decode = build_batch_decoder(struct)

    @drops_zip_finders
    def parse(batches: Iterator) -> Iterator:
        for rb in batches:
            content = rb.column(0)
            for i in range(len(content)):
                yield decode(*read_shard(content[i].as_py()))

    files = (
        spark.read.format("binaryFile")
        .load([fs.glob_escape(path) for path in paths])
        .select("content")
    )
    return files.mapInArrow(parse, schema=struct)


def split_files(job_dir: str, split: str) -> list[str]:
    """Glob one split's finished shard files (reference
    dataset_loader.py:52-69): only the ``.tfrecord[.gz|.zlib]`` names a
    writer publishes, never a temp or partial file beside them.

    ``file:``/``file://`` URIs are globbed on their local form — glob on
    the raw URI string would silently match nothing — and the directory
    is escaped, so a name like ``out[1]`` is not read as a pattern."""
    if fs.is_local(job_dir):
        job_dir = fs.to_local(job_dir)
    pattern = os.path.join(globlib.escape(job_dir), f"{split.lower()}-*")
    return sorted(
        path
        for path in globlib.glob(pattern)
        if path.endswith((TFRECORD_SUFFIX, GZIP_SUFFIX, ZLIB_SUFFIX))
    )


def load(spark: SparkSession, tfrecord_dir: str) -> dict[str, DataFrame]:
    """TFRecords -> {split: DataFrame} (C5/S5).

    Mirrors ``tfrecorder.load``: validates layout, excludes DISCARD,
    returns only splits that have files. Every record's header and
    payload CRCs are checked (``read_shard``), so a corrupt shard fails
    the Spark job with a ``ValueError`` rather than yielding wrong
    values.

    Row order across a split's shards is unspecified: ``binaryFile``
    packs the files into partitions in its own order, not by shard
    name, and rows follow that packing. Within one shard, rows keep
    their write order."""
    validate_job_dir(tfrecord_dir)
    _, struct = read_schema_metadata(tfrecord_dir)
    out: dict[str, DataFrame] = {}
    for split in OUTPUT_SPLITS:
        files = split_files(tfrecord_dir, split)
        if files:
            out[split] = read_tfrecords(spark, files, struct)
    return out
