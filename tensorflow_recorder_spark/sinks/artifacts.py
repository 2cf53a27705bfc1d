"""Transform-artifact + discarded-rows sinks (K3/K4, SURVEY.md §2.5).

The reference persists the fitted transform as a ``transform_fn/``
SavedModel with vocabulary text assets plus ``transformed_metadata/
schema.pbtxt`` (/root/reference/tfrecorder/beam_pipeline.py:321-322).
Without a TF runtime the fitted state here is plain artifacts in the
same layout:

    <job_dir>/transform_fn/assets/vocab_<col>_vocabulary   (value/line,
        frequency-descending — byte-compatible with the reference's
        asset, e.g. "goat\ncat")
    <job_dir>/transform_fn/scale_stats.json                (A4 stats)
    <job_dir>/transformed_metadata/schema.json             (StructType +
        input schema map; replaces schema.pbtxt)

Discarded rows are written as CSV text under ``discarded-data``
(reference: beam_pipeline.py:315-318 WriteToText).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, types as T

from ..functions import fs
from ..schema import Schema

VOCAB_ASSET_DIR = os.path.join("transform_fn", "assets")
METADATA_DIR = "transformed_metadata"


def vocab_asset_path(job_dir: str, column: str) -> str:
    return fs.join(job_dir, VOCAB_ASSET_DIR, f"vocab_{column}_vocabulary")


def write_vocabulary_assets(
    job_dir: str, vocabs: dict[str, list[str] | DataFrame]
) -> None:
    """Persist each fitted vocabulary as a text asset, one value per line
    in index order. A vocabulary is a driver list of values in index
    order (no Spark job); a (value, index) DataFrame is still accepted
    and collected first. Vocabularies are fitted state (bounded, already
    aggregated) — holding them on the driver is the design, exactly as
    the reference materializes them into SavedModel assets."""
    fs.makedirs(fs.join(job_dir, VOCAB_ASSET_DIR))
    for column, vocab in vocabs.items():
        if isinstance(vocab, DataFrame):
            vocab = [r["value"] for r in vocab.orderBy("index").collect()]
        with fs.open_output(vocab_asset_path(job_dir, column), "w") as fh:
            fh.write("\n".join(vocab))


def read_vocabulary_asset(job_dir: str, column: str) -> list[str]:
    with fs.open_input(vocab_asset_path(job_dir, column), "r") as fh:
        content = fh.read()
    return content.split("\n") if content else []


def write_scale_stats(job_dir: str, stats: dict[str, tuple[float, float]]) -> None:
    fs.makedirs(fs.join(job_dir, "transform_fn"))
    path = fs.join(job_dir, "transform_fn", "scale_stats.json")
    with fs.open_output(path, "w") as fh:
        json.dump({c: {"mean": m, "stddev": s} for c, (m, s) in stats.items()}, fh, indent=2)


def write_schema_metadata(
    job_dir: str, schema: Schema, transformed_struct: T.StructType
) -> None:
    """Persist the transformed schema (replaces schema.pbtxt, K4)."""
    fs.makedirs(fs.join(job_dir, METADATA_DIR))
    payload = {
        "input_schema": {n: t.name for n, t in schema.input_schema_map.items()},
        "transformed_struct": json.loads(transformed_struct.json()),
    }
    with fs.open_output(fs.join(job_dir, METADATA_DIR, "schema.json"), "w") as fh:
        json.dump(payload, fh, indent=2)


def read_schema_metadata(job_dir: str) -> tuple[Schema, T.StructType]:
    path = fs.join(job_dir, METADATA_DIR, "schema.json")
    with fs.open_input(path, "r") as fh:
        payload = json.load(fh)
    schema = Schema.from_json(json.dumps(payload["input_schema"]))
    struct = T.StructType.fromJson(payload["transformed_struct"])
    return schema, struct


def write_discarded(df: DataFrame, job_dir: str) -> None:
    """Write DISCARD-routed rows as CSV text (K3). Reference:
    beam_pipeline.py:315-318 (WriteToText to '<job_dir>/discarded-data')."""
    out = fs.join(job_dir, "discarded-data")
    df.write.mode("overwrite").option("header", True).csv(out)


def validate_job_dir(job_dir: str) -> None:
    """Reader-side layout validation (reference:
    dataset_loader.py:38-48 — requires transformed_metadata/ and
    transform_fn/)."""
    if not fs.exists(job_dir):
        raise FileNotFoundError(f"no such tfrecord dir: {job_dir}")
    for required in (METADATA_DIR, "transform_fn"):
        if not fs.exists(fs.join(job_dir, required)):
            raise FileNotFoundError(
                f"{job_dir} is not a tfrecorder output dir (missing {required}/)"
            )
