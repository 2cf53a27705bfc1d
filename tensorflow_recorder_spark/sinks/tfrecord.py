"""TFRecord sink (K1/K2, SURVEY.md §2.5).

Reference behavior (/root/reference/tfrecorder/beam_pipeline.py:90-117,
187-192): per split, encode each row dict as a ``tf.train.Example`` and
write sharded, optionally gzip-compressed files named
``<split>-SSSSS-of-NNNNN.tfrecord[.gz]``; ``num_shards=0`` lets the
runner pick sharding (converter.py:290-291).

Spark-first design:
  * Row -> Example encoding happens in ``mapInPandas`` (Arrow-batched;
    the per-row proto build is unavoidable — it IS the output format —
    but framing/IO are amortized per partition, not per row).
  * One encode pass is shared by all splits (the encoded frame is cached
    by the caller); each split's write is a partition-parallel job with
    zero driver materialization.
  * ``num_shards=0`` keeps the encode partitioning (AQE-coalesced), so
    shard count tracks data size; an explicit ``num_shards`` becomes a
    ``repartition`` (round-robin) before the write.
  * Executors write files directly (shared filesystem). A task retry can
    leave a partial file that the retry overwrites — same-name
    idempotent writes, acceptable for a direct local/DFS sink; a
    cluster deployment would route this through a commit protocol
    (note: this is the one place local-mode and cluster semantics
    differ).
"""

from __future__ import annotations


from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..constants import GZIP_SUFFIX, TFRECORD_SUFFIX, ZLIB_SUFFIX
from ..functions import fs
from ..functions.example_proto import build_batch_encoder
from ..functions.partitioning import spread_to_parallelism
from ..functions.tfrecord_io import frame_records, open_maybe_gzip, open_output

# Spark simpleString -> Example feature kind
_KIND_BY_TYPE = {
    "string": "bytes",
    "binary": "bytes",
    "tinyint": "int64",
    "smallint": "int64",
    "int": "int64",
    "bigint": "int64",
    "boolean": "int64",
    "float": "float",
    "double": "float",
    "array<float>": "float",
    "array<double>": "float",
    "array<int>": "int64",
    "array<bigint>": "int64",
    "array<string>": "bytes",
    "array<binary>": "bytes",
}


def feature_kinds(df: DataFrame, exclude: tuple[str, ...] = ()) -> dict[str, str]:
    """Derive the Example feature kind for every column from the Spark
    schema (scalars and flat arrays; the reference model is all-scalar)."""
    kinds: dict[str, str] = {}
    for field in df.schema.fields:
        if field.name in exclude:
            continue
        simple = field.dataType.simpleString()
        kind = _KIND_BY_TYPE.get(simple)
        if kind is None:
            raise ValueError(
                f"column {field.name!r}: no Example mapping for type {simple}"
            )
        kinds[field.name] = kind
    return kinds


def encode_examples(
    df: DataFrame, split_key: str = "split", keep_split: bool = True
) -> DataFrame:
    """Encode every row into a serialized Example (K1).

    Output schema: (split string, example binary). The split column rides
    along for write routing but — matching the reference, whose Examples
    include the split feature (it is part of the schema) — it is also
    encoded into the proto.
    """
    kinds = feature_kinds(df)
    if not keep_split:
        kinds = {k: v for k, v in kinds.items() if k != split_key}
    encoder = build_batch_encoder(kinds)
    columns = encoder.columns  # sorted canonical order

    def encode_batches(batches):
        # r12: mapInArrow — the encoder's column fast paths consume the
        # Arrow arrays Spark already holds (grouped-by-wire-width numpy
        # assembly, example_proto.py), so the previous
        # pandas-materialize + astype(object) + tolist() round-trip per
        # column is gone; the per-value python loops remain only as the
        # exact-semantics fallback for inputs the fast paths decline
        # (sub-lists, mixed types). Measured single-core on 600k
        # lineitem-shaped rows: 3.62 -> 1.72 s, byte-identical output.
        import pyarrow as pa

        for rb in batches:
            names = rb.schema.names
            cols = [rb.column(names.index(c)) for c in columns]
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(names.index(split_key)),
                    pa.array(encoder(cols), type=pa.binary()),
                ],
                names=["split", "example"],
            )

    out_schema = T.StructType(
        [
            T.StructField("split", T.StringType()),
            T.StructField("example", T.BinaryType()),
        ]
    )
    # Example encoding is per-row Python: its parallelism equals the input
    # partition count. A source that scanned into fewer partitions than
    # the session has cores (one ~40 MB parquet file -> 3 partitions)
    # would leave most workers idle through the most expensive stage of
    # convert — fan out first (measured 3x on 600k rows at local[32]).
    # At num_shards=0 this also sets "runner-chosen" shard count, exactly
    # the reference's semantics (converter.py:290-291).
    df = spread_to_parallelism(df)
    return df.mapInArrow(encode_batches, schema=out_schema)


def write_all_splits(
    encoded: DataFrame,
    job_dir: str,
    splits: list[str],
    compression: str | None = "gzip",
    num_shards: int = 0,
) -> dict[str, dict[str, int]]:
    """Write every split's Examples in ONE pass (K2, batch convert path).

    With ``num_shards=0`` (runner-chosen, the default) a single
    Arrow-batched ``mapInPandas`` walks each partition once and appends
    rows to at most |splits| open shard files, so the encoded frame is
    scanned once regardless of split count. Shard files are written
    under partition-id temp names and renamed by the driver to
    contiguous ``<split>-SSSSS-of-NNNNN`` (a rename manifest, not data,
    crosses to the driver). Splits that end up empty still get one
    empty shard (V8 parity). Returns {split: {path: record_count}}.

    An explicit ``num_shards`` applies PER SPLIT — the reference's
    ``WriteToTFRecord(num_shards=N)`` runs per split
    (beam_pipeline.py:303-313), so every split gets exactly N shards.
    That routes through one repartition+write job per split over the
    cached encoded frame (a deliberate trade: exact shard counts cost
    one scan per split; the auto path stays single-pass).

    ``compression``: 'gzip' (default), 'zlib' (TF's ZLIB whole-file
    stream; reference infers it from the .zlib extension,
    dataset_loader.py:32-35), or None for raw.
    """
    if compression not in (None, "", "gzip", "zlib"):
        raise ValueError(f"unsupported TFRecord compression {compression!r}")
    suffix = {"gzip": GZIP_SUFFIX, "zlib": ZLIB_SUFFIX}.get(
        compression or "", TFRECORD_SUFFIX
    )
    fs.makedirs(job_dir)
    if num_shards > 0:
        encoded = encoded.cache()
        try:
            return {
                split_value: write_split_tfrecords(
                    encoded,
                    job_dir,
                    split_value.lower(),
                    split_value,
                    compression=compression,
                    num_shards=num_shards,
                )
                for split_value in splits
            }
        finally:
            encoded.unpersist()
    df = encoded.withColumn("__pid", F.spark_partition_id())
    wanted = set(splits)
    compressed = compression

    out_schema = T.StructType(
        [
            T.StructField("split", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        handles: dict[str, tuple] = {}
        counts: dict[str, int] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            pid = int(pdf["__pid"].iloc[0])
            for split_value, sub in pdf.groupby("split"):
                if split_value not in wanted:
                    continue
                entry = handles.get(split_value)
                if entry is None:
                    path = fs.join(
                        job_dir, f".{split_value.lower()}-pid{pid:05d}{suffix}.inprogress"
                    )
                    entry = (open_output(path, compressed), path)
                    handles[split_value] = entry
                    counts[split_value] = 0
                fh = entry[0]
                fh.write(frame_records([bytes(b) for b in sub["example"]]))
                counts[split_value] += len(sub)
        for split_value, (fh, _) in handles.items():
            fh.close()
        yield pd.DataFrame(
            {
                "split": list(handles),
                "path": [p for _, p in handles.values()],
                "n": [counts[s] for s in handles],
            }
        )

    try:
        manifest = df.mapInPandas(write_partition, schema=out_schema).collect()
    except BaseException:
        _remove_inprogress(job_dir, tuple(f".{s.lower()}-pid" for s in splits))
        raise

    # Driver-side rename to contiguous shard names (metadata-only).
    results: dict[str, dict[str, int]] = {}
    by_split: dict[str, list] = {}
    for row in manifest:
        by_split.setdefault(row["split"], []).append((row["path"], row["n"]))
    for split_value in splits:
        shards = sorted(by_split.get(split_value, []))
        prefix = split_value.lower()
        if not shards:  # V8: empty-but-present split output
            path = fs.join(job_dir, f"{prefix}-00000-of-00001{suffix}")
            with open_output(path, compressed):
                pass
            results[split_value] = {path: 0}
            continue
        k = len(shards)
        split_files: dict[str, int] = {}
        for i, (tmp, n) in enumerate(shards):
            final = fs.join(job_dir, f"{prefix}-{i:05d}-of-{k:05d}{suffix}")
            fs.replace(tmp, final)
            split_files[final] = n
        results[split_value] = split_files
    return results


def _remove_inprogress(job_dir: str, prefixes: tuple[str, ...]) -> None:
    """Driver-side cleanup of a failed write: the job's finished tasks
    leave temp files that no rename will publish, and a task that raised
    or was killed leaves a partial one. Only this write's temp names
    (``prefixes``) are removed.

    Best-effort: Spark cancels the job's other tasks asynchronously, so
    a task still running after the listing can open (or publish) a file
    this cleanup does not see."""
    for name in fs.listdir(job_dir):
        if name.endswith(".inprogress") and name.startswith(prefixes):
            fs.remove(fs.join(job_dir, name))


def _write_partition_factory(
    job_dir: str, prefix: str, num_shards: int, suffix: str, compressed: str | None
):
    def write_partition(index: int, rows) -> Iterator[tuple[str, int]]:
        path = fs.join(
            job_dir, f"{prefix}-{index:05d}-of-{num_shards:05d}{suffix}"
        )
        count = 0
        tmp = path + ".inprogress"
        with open_output(tmp, compressed) as fh:
            chunk: list[bytes] = []
            for row in rows:
                chunk.append(bytes(row["example"]))
                if len(chunk) >= 4096:
                    fh.write(frame_records(chunk))
                    count += len(chunk)
                    chunk = []
            if chunk:
                fh.write(frame_records(chunk))
                count += len(chunk)
        fs.replace(tmp, path)  # atomic publish per shard
        yield path, count

    return write_partition


def write_split_tfrecords(
    encoded: DataFrame,
    job_dir: str,
    prefix: str,
    split_value: str,
    compression: str | None = "gzip",
    num_shards: int = 0,
    skip_empty: bool = False,
) -> dict[str, int]:
    """Write one split's Examples as sharded TFRecord files (K2).

    Returns {file_path: record_count}. Empty splits produce one empty
    shard file — the reference's empty-but-present output parity (V8,
    beam_pipeline.py:269-273) — unless ``skip_empty`` (streaming
    appends, where per-batch empty shards would accumulate).
    """
    if compression not in (None, "", "gzip", "zlib"):
        raise ValueError(f"unsupported TFRecord compression {compression!r}")
    suffix = {"gzip": GZIP_SUFFIX, "zlib": ZLIB_SUFFIX}.get(
        compression or "", TFRECORD_SUFFIX
    )
    split_df = encoded.where(F.col("split") == split_value).select("example")
    if num_shards > 0:
        split_df = split_df.repartition(num_shards)
    rdd = split_df.rdd
    n = max(rdd.getNumPartitions(), 1)
    fs.makedirs(job_dir)
    try:
        results = rdd.mapPartitionsWithIndex(
            _write_partition_factory(job_dir, prefix, n, suffix, compression)
        ).collect()
    except BaseException:
        _remove_inprogress(job_dir, (f"{prefix}-",))
        raise
    if skip_empty and results and all(count == 0 for _, count in results):
        for path, _ in results:
            fs.remove(path)
        return {}
    if not results:  # zero partitions: still touch one empty shard (V8)
        if skip_empty:
            return {}
        path = fs.join(job_dir, f"{prefix}-00000-of-00001{suffix}")
        with open_output(path, compression):
            pass
        results = [(path, 0)]
    return dict(results)
