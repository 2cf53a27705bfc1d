"""The traced run: per-layer numbers for one workload.

Two views, both taken from outside the package by calling each layer's
public functions:

* :func:`staged_convert` and :func:`staged_load` replay
  ``plans.convert.run_convert`` and ``sources.tfrecord.load`` step by step, each step under its own Spark
  job group (``probes.JobGroups``), materializing at every step
  boundary so a step's jobs are its own. Materializing adds work the
  fused pipeline does not do; ``trace.overhead_frac`` reports the cost.
* :func:`kernel_bench` times the ``functions.*`` kernels on one core,
  without Spark, over a sample of the records the staged convert wrote.

The ``*_cpu_s`` numbers are Spark's executor CPU time, which counts the
JVM task threads only: CPU spent in the Python workers (encode, write,
decode) shows in the step's wall time, not there.
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
from pyspark.sql import functions as F

from tensorflow_recorder_spark.constants import DISCARD, OUTPUT_SPLITS
from tensorflow_recorder_spark.functions import fs
from tensorflow_recorder_spark.functions.crc32c import masked_crc32c_many
from tensorflow_recorder_spark.functions.example_proto import (
    build_batch_encoder,
    decode_example,
)
from tensorflow_recorder_spark.functions.image_codec import encode_pixels
from tensorflow_recorder_spark.functions.partitioning import spread_to_parallelism
from tensorflow_recorder_spark.functions.png_codec import decode_png
from tensorflow_recorder_spark.functions.tfrecord_io import (
    frame_records,
    open_output,
    read_file_records,
    read_records,
)
from tensorflow_recorder_spark.operators.image import extract_images
from tensorflow_recorder_spark.operators.split import (
    normalize_split,
    require_train,
    split_counts,
)
from tensorflow_recorder_spark.operators.vocabulary import fit_and_apply_vocabularies
from tensorflow_recorder_spark.plans.convert import get_job_name
from tensorflow_recorder_spark.sinks.artifacts import (
    write_discarded,
    write_schema_metadata,
    write_vocabulary_assets,
)
from tensorflow_recorder_spark.sinks.tfrecord import encode_examples, write_all_splits
from tensorflow_recorder_spark.sources.dispatch import to_dataframe
from tensorflow_recorder_spark.sources.tfrecord import load, split_files
from workloads import shard_bytes

KERNELS = (
    "example_proto.encode",
    "tfrecord_io.frame",
    "crc32c.many",
    "tfrecord_io.compress",
    "tfrecord_io.decompress",
    "tfrecord_io.unframe",
    "tfrecord_io.verify",
    "example_proto.decode",
    "png_codec.decode",
    "image_codec.encode_pixels",
)

# name -> unit of every per-layer metric a traced run prints
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.files_listed": "count",
    "operators.split.counts_s": "s",
    **{f"operators.split.rows.{s}": "count" for s in OUTPUT_SPLITS + (DISCARD,)},
    "operators.image.extract_s": "s",
    "operators.image.extract_cpu_s": "s",
    "operators.image.good": "count",
    "operators.image.bad": "count",
    "operators.image.good_ratio": "frac",
    "operators.vocabulary.fit_s": "s",
    "operators.vocabulary.apply_s": "s",
    "operators.vocabulary.size": "count",
    "sinks.tfrecord.encode_s": "s",
    "sinks.tfrecord.encode_cpu_s": "s",
    "sinks.tfrecord.encode_tasks": "count",
    "sinks.tfrecord.write_s": "s",
    "sinks.tfrecord.write_cpu_s": "s",
    "sinks.tfrecord.shards": "count",
    "sinks.tfrecord.records": "count",
    "sinks.tfrecord.bytes_out": "bytes",
    "sinks.artifacts.s": "s",
    "plans.convert.jobs": "count",
    "plans.convert.stages": "count",
    "plans.convert.tasks": "count",
    "plans.convert.executor_run_s": "s",
    "plans.convert.executor_cpu_s": "s",
    "plans.convert.shuffle_write_bytes": "bytes",
    "sources.tfrecord.open_s": "s",
    "sources.tfrecord.read_s": "s",
    "sources.tfrecord.read_cpu_s": "s",
    "sources.tfrecord.tasks": "count",
    "sources.tfrecord.records": "count",
    "sources.tfrecord.bytes_in": "bytes",
    **{
        f"functions.{k}{suffix}": unit
        for k in KERNELS
        for suffix, unit in (("_s", "s"), (".records", "count"), (".bytes", "bytes"))
    },
    "trace.staged_s": "s",
    "trace.untraced_s": "s",
    "trace.overhead_frac": "frac",
}

# the wall-time steps of the staged convert and load, which add up to
# their whole (compare with the untraced convert_s / load_s)
CONVERT_STEPS = (
    "sources.scan_s",
    "operators.image.extract_s",
    "operators.split.counts_s",
    "operators.vocabulary.fit_s",
    "operators.vocabulary.apply_s",
    "sinks.tfrecord.encode_s",
    "sinks.tfrecord.write_s",
    "sinks.artifacts.s",
)
LOAD_STEPS = ("sources.tfrecord.open_s", "sources.tfrecord.read_s")

# kernel sample: the first records of the written shards, up to both caps
SAMPLE_RECORDS = 8192
SAMPLE_BYTES = 4 << 20
PNG_SAMPLE = 16


def staged_convert(spark, groups, kwargs: dict, output_dir: str) -> tuple[dict, dict]:
    """``run_convert``'s steps, in its order, one job group per layer.
    Returns (per-layer metrics, a result shaped like ``convert``'s)."""
    schema = kwargs["schema"]
    split_key = schema.split_key
    image_key = schema.image_uri_key
    m: dict = {}

    with groups.group("sources") as g:
        df = to_dataframe(spark, kwargs["input_data"])
        m["sources.files_listed"] = len(df.inputFiles())
    m["sources.scan_s"] = g["wall_s"]

    typed = df.select(
        *[
            F.col(name).cast(inst.spark_type).alias(name)
            for name, inst in schema.input_schema_map.items()
        ]
    )
    work = extract_images(typed, image_key, split_key) if image_key else typed
    work = normalize_split(work, split_key)
    work = spread_to_parallelism(work, spark.sparkContext.defaultParallelism).cache()
    try:
        # without an image column the layer does not run: it reads 0
        good = bad = 0
        m["operators.image.extract_s"] = m["operators.image.extract_cpu_s"] = 0.0
        if image_key:
            with groups.group("operators.image") as g:
                row = work.agg(
                    F.count(F.when(F.col("__image_ok"), 1)).alias("good"),
                    F.count(F.when(~F.col("__image_ok"), 1)).alias("bad"),
                ).collect()[0]
            good, bad = row["good"], row["bad"]
            m["operators.image.extract_s"] = g["wall_s"]
            m["operators.image.extract_cpu_s"] = g["cpu_s"]
            # split counts see the input splits, before image failures
            split_input = normalize_split(typed, split_key)
        else:
            split_input = work
        m["operators.image.good"] = good
        m["operators.image.bad"] = bad
        m["operators.image.good_ratio"] = good / (good + bad) if good + bad else 0.0

        with groups.group("operators.split") as g:
            counts = split_counts(split_input, split_key)
        require_train(counts)
        m["operators.split.counts_s"] = g["wall_s"]
        for split in OUTPUT_SPLITS + (DISCARD,):
            m[f"operators.split.rows.{split}"] = counts.get(split, 0)

        # the fitted vocabularies stay lazy, as in run_convert: the apply
        # and the asset writer each evaluate them again
        transformed, vocabs = fit_and_apply_vocabularies(
            work, schema.vocabulary_columns(), split_key
        )
        with groups.group("operators.vocabulary.fit") as g:
            size = sum(len(vocab.collect()) for vocab in vocabs.values())
        m["operators.vocabulary.fit_s"] = g["wall_s"]
        m["operators.vocabulary.size"] = size
        with groups.group("operators.vocabulary.apply") as g:
            transformed.write.format("noop").mode("overwrite").save()
        m["operators.vocabulary.apply_s"] = g["wall_s"]
        if image_key:
            transformed = transformed.drop("__image_ok")

        job_dir = fs.join(output_dir, get_job_name("traced"))
        fs.makedirs(job_dir)
        with groups.group("sinks.tfrecord.encode") as g:
            encoded = encode_examples(transformed, split_key).cache()
            encoded.count()
        m["sinks.tfrecord.encode_s"] = g["wall_s"]
        m["sinks.tfrecord.encode_cpu_s"] = g["cpu_s"]
        m["sinks.tfrecord.encode_tasks"] = g["tasks"]
        try:
            with groups.group("sinks.tfrecord.write") as g:
                files = write_all_splits(
                    encoded,
                    job_dir,
                    [s for s in OUTPUT_SPLITS if counts.get(s, 0) > 0],
                    compression=kwargs.get("compression", "gzip"),
                    num_shards=kwargs.get("num_shards", 0),
                )
        finally:
            encoded.unpersist()
        shards = [path for split in files.values() for path in split]
        m["sinks.tfrecord.write_s"] = g["wall_s"]
        m["sinks.tfrecord.write_cpu_s"] = g["cpu_s"]
        m["sinks.tfrecord.shards"] = len(shards)
        m["sinks.tfrecord.records"] = sum(n for split in files.values() for n in split.values())
        m["sinks.tfrecord.bytes_out"] = shard_bytes(job_dir)

        with groups.group("sinks.artifacts") as g:
            write_discarded(transformed.where(F.col(split_key) == DISCARD), job_dir)
            write_vocabulary_assets(job_dir, vocabs)
            write_schema_metadata(job_dir, schema, transformed.schema)
        m["sinks.artifacts.s"] = g["wall_s"]
    finally:
        work.unpersist()
    metrics = {"rows": sum(counts.values()), "good_images": good, "bad_images": bad}
    return m, {"metrics": metrics, "tfrecord_dir": job_dir}


def staged_load(spark, groups, job_dir: str) -> tuple[dict, dict]:
    """``sources.tfrecord.load`` then a full ``toPandas`` of every split.
    Returns (per-layer metrics, {split: pandas frame})."""
    m: dict = {}
    with groups.group("sources.tfrecord.open") as g:
        splits = load(spark, job_dir)
    m["sources.tfrecord.open_s"] = g["wall_s"]
    with groups.group("sources.tfrecord.read") as g:
        frames = {split: df.toPandas() for split, df in splits.items()}
    m["sources.tfrecord.read_s"] = g["wall_s"]
    m["sources.tfrecord.read_cpu_s"] = g["cpu_s"]
    m["sources.tfrecord.tasks"] = g["tasks"]
    m["sources.tfrecord.records"] = sum(len(f) for f in frames.values())
    m["sources.tfrecord.bytes_in"] = sum(
        os.path.getsize(p) for split in splits for p in split_files(job_dir, split)
    )
    return m, frames


def plan_metrics(group: dict) -> dict:
    """``plans.convert.*`` from the job group of one whole ``convert``."""
    return {
        "plans.convert.jobs": group["jobs"],
        "plans.convert.stages": group["stages"],
        "plans.convert.tasks": group["tasks"],
        "plans.convert.executor_run_s": group["run_s"],
        "plans.convert.executor_cpu_s": group["cpu_s"],
        "plans.convert.shuffle_write_bytes": group["shuffle_write_bytes"],
    }


def _timed(fn, *args):
    start = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - start, out


def kernel_bench(
    job_dir: str, compression: str | None, workdir: str, image_files: list[str]
) -> tuple[dict, list[str]]:
    """Time each ``functions.*`` kernel once on one core over a sample of
    the written records. Returns (metrics, problems): re-encoding the
    decoded sample must give back the written bytes."""
    sample, size = _sample(job_dir)
    m: dict = {}
    problems: list[str] = []

    def put(kernel: str, seconds: float, records: int, nbytes: int) -> None:
        m[f"functions.{kernel}_s"] = seconds
        m[f"functions.{kernel}.records"] = records
        m[f"functions.{kernel}.bytes"] = nbytes

    n = len(sample)
    t, decoded = _timed(lambda: [decode_example(r) for r in sample])
    put("example_proto.decode", t, n, size)

    kinds = {name: kind for name, (kind, _) in decoded[0].items()}
    arrow_type = {"int64": pa.int64(), "float": pa.float64(), "bytes": pa.string()}
    columns = [
        pa.array(
            [_scalar(d[name][1], kinds[name]) for d in decoded],
            type=arrow_type[kinds[name]],
        )
        for name in sorted(kinds)
    ]
    encoder = build_batch_encoder(kinds)
    t, encoded = _timed(encoder, columns)
    put("example_proto.encode", t, n, size)
    if encoded != sample:
        problems.append("kernels: re-encoded sample differs from the written records")

    t, framed = _timed(frame_records, sample)
    put("tfrecord_io.frame", t, n, size)
    t, _ = _timed(masked_crc32c_many, sample)
    put("crc32c.many", t, n, size)

    path = os.path.join(workdir, "kernel-shard" + (".gz" if compression == "gzip" else ""))

    def compress() -> None:
        with open_output(path, compression) as fh:
            fh.write(framed)

    t, _ = _timed(compress)
    put("tfrecord_io.compress", t, n, len(framed))
    t_unframe, _ = _timed(lambda: list(read_records(framed)))
    put("tfrecord_io.unframe", t_unframe, n, len(framed))
    t_file, _ = _timed(lambda: list(read_file_records(path)))
    put("tfrecord_io.decompress", t_file - t_unframe, n, os.path.getsize(path))
    t_verify, _ = _timed(lambda: list(read_records(framed, verify=True)))
    put("tfrecord_io.verify", t_verify - t_unframe, n, len(framed))
    os.remove(path)

    if not image_files:  # a workload without images: the codecs read 0
        put("png_codec.decode", 0.0, 0, 0)
        put("image_codec.encode_pixels", 0.0, 0, 0)
        return m, problems
    pngs = []
    for image in image_files:
        with open(image, "rb") as fh:
            data = fh.read()
        try:
            decode_png(data)
        except ValueError:
            continue  # the corrupt fixtures
        pngs.append(data)
        if len(pngs) == PNG_SAMPLE:
            break
    t, pixels = _timed(lambda: [decode_png(d)[0] for d in pngs])
    put("png_codec.decode", t, len(pngs), sum(map(len, pngs)))
    t, _ = _timed(lambda: [encode_pixels(p) for p in pixels])
    put("image_codec.encode_pixels", t, len(pixels), sum(map(len, pixels)))
    return m, problems


def _sample(job_dir: str) -> tuple[list[bytes], int]:
    """The first written records, up to SAMPLE_RECORDS and SAMPLE_BYTES."""
    sample: list[bytes] = []
    size = 0
    for split in OUTPUT_SPLITS:
        for path in split_files(job_dir, split):
            for record in read_file_records(path):
                if len(sample) >= SAMPLE_RECORDS or size + len(record) > SAMPLE_BYTES:
                    return sample, size
                sample.append(record)
                size += len(record)
    return sample, size


def _scalar(values: list, kind: str):
    if not values:
        return None
    value = values[0]
    return value.decode("utf-8") if kind == "bytes" else value
