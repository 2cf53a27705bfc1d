"""The convert pipeline as a streaming sink (E4 extension; SURVEY.md
§2.8).

Fit-on-train / apply-to-all becomes fit-offline / apply-online: the
vocabulary (and scale stats) are fitted ONCE from a bounded TRAIN
DataFrame to driver lists, then every micro-batch is transformed with
those lists as literals (``apply_fitted_vocabulary``, the same apply as
batch convert) and appended as TFRecord shards via ``foreachBatch``.
Never re-fit inside the stream — that would make output semantics
depend on micro-batch boundaries.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..functions import fs
from ..operators.split import normalize_split
from ..operators.vocabulary import apply_fitted_vocabulary, fit_vocabularies
from ..schema import Schema
from ..sinks.artifacts import write_schema_metadata, write_vocabulary_assets
from ..sinks.tfrecord import encode_examples, write_all_splits


def convert_stream(
    stream: DataFrame,
    train_df: DataFrame,
    schema: Schema,
    job_dir: str,
    compression: str | None = "gzip",
    checkpoint_dir: str | None = None,
    trigger: dict[str, Any] | None = None,
) -> StreamingQuery:
    """Incrementally convert ``stream`` to TFRecords under ``job_dir``.

    ``train_df`` (bounded) supplies the fitted vocabulary state up
    front; each micro-batch is split-routed, transformed, and written in
    one job as one shard per non-empty split (the shard name carries the
    batch id so appends never collide; exactly-once comes from
    foreachBatch + idempotent same-name writes).
    """
    split_key = schema.split_key
    vocab_cols = schema.vocabulary_columns()
    _, vocabs = fit_vocabularies(train_df, vocab_cols)

    fs.makedirs(job_dir)
    write_vocabulary_assets(job_dir, vocabs)
    write_schema_metadata(job_dir, schema, schema.transformed_struct())

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        work = normalize_split(batch_df, split_key)
        for c, vocab in vocabs.items():
            work = apply_fitted_vocabulary(work, c, vocab)
        write_all_splits(
            encode_examples(work, split_key),
            job_dir,
            compression=compression,
            num_shards=1,
            name_tag=f"-batch{batch_id:06d}",
        )

    writer = stream.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
