"""TFRecord sink (K1/K2, SURVEY.md §2.5).

Reference behavior (/root/reference/tfrecorder/beam_pipeline.py:90-117,
187-192): per split, encode each row dict as a ``tf.train.Example`` and
write sharded, optionally gzip-compressed files named
``<split>-SSSSS-of-NNNNN.tfrecord[.gz]``; ``num_shards=0`` lets the
runner pick sharding (converter.py:290-291).

Spark-first design:
  * Row -> Example encoding is one ``mapInArrow``: ``encode_batch``
    turns each batch's Arrow columns into one Arrow binary column of
    Examples, with no per-row Python.
  * ONE writer, ``write_all_splits``, serves batch convert (auto and
    explicit shard counts) and the streaming sink: a single
    ``mapInArrow`` job over the encoded ``(split, example)`` frame, in
    which every task appends to one open temp file per ``(split, shard)``
    key it sees. Only a rename manifest crosses to the driver.
  * ``num_shards=0`` keeps the encode partitioning (AQE-coalesced), so
    shard count tracks data size; an explicit ``num_shards`` assigns
    every row a per-split round-robin shard index after the encode and
    adds one ``repartition`` on (split, shard) before the write.
  * Executors write files directly (shared filesystem) under dot-prefixed
    temp names that no shard glob matches; the driver publishes them by
    rename. A task retry overwrites its own temp file — same-name
    idempotent writes, acceptable for a direct local/DFS sink; a
    cluster deployment would route this through a commit protocol
    (note: this is the one place local-mode and cluster semantics
    differ).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from contextlib import ExitStack

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F, types as T

from ..constants import GZIP_SUFFIX, OUTPUT_SPLITS, TFRECORD_SUFFIX, ZLIB_SUFFIX
from ..functions import fs
from ..functions.example_proto import encode_batch
from ..functions.partitioning import spread_to_parallelism
from ..functions.tfrecord_io import frame_records, open_output
from ..functions.worker import drops_zip_finders

# records framed per write call: bounds the framed copy of a batch
_FRAME_CHUNK = 4096
# one row per shard file a write task produced
_MANIFEST = pa.schema(
    [("split", pa.string()), ("shard", pa.int64()), ("path", pa.string()), ("n", pa.int64())]
)

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


def encode_examples(df: DataFrame, split_key: str = "split") -> DataFrame:
    """Encode every row into a serialized Example (K1).

    Output schema: (split string, example binary). The split column rides
    along for write routing but — matching the reference, whose Examples
    include the split feature (it is part of the schema) — it is also
    encoded into the proto.
    """
    kinds = feature_kinds(df)
    columns = sorted(kinds)  # encode_batch's column order

    @drops_zip_finders
    def encode_batches(batches):
        # The Arrow columns Spark hands over go to the encoder as they
        # are, and its binary array is the output column: no pandas or
        # Python list on either side.
        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(split_key),
                    encode_batch(kinds, [rb.column(c) for c in columns]),
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
    splits: Sequence[str] = (),
    compression: str | None = "gzip",
    num_shards: int = 0,
    name_tag: str = "",
) -> dict[str, dict[str, int]]:
    """Write the Examples of every output split in ONE job (K2).

    Rows of TRAIN/VALIDATION/TEST are written; DISCARD rows never become
    shards (they go to the discard CSV). Each task of one ``mapInArrow``
    keeps an open temp file per ``(split, shard)`` key it sees and
    returns a rename manifest; the driver renames the temp files to
    ``<split><name_tag>-SSSSS-of-NNNNN``. Returns
    {split: {path: record_count}}.

    * ``num_shards=0`` (runner-chosen): the shard is the encode
      partition, renamed contiguously per split.
    * ``num_shards=N`` applies PER SPLIT — the reference's
      ``WriteToTFRecord(num_shards=N)`` runs per split
      (beam_pipeline.py:303-313). Every row gets a per-split
      round-robin index out of N (:func:`_round_robin_shard`), then one
      ``repartition`` on (split, shard) feeds the write, so the Python
      encode keeps its own parallelism. A hash collision puts several
      keys in one task; missing indices become empty shards.

    Every split in ``splits`` gets shards even when it has no rows
    (V8 parity: one empty shard, or N with ``num_shards``); a split
    not listed gets shards only if it has rows — the streaming sink
    lists none and tags each micro-batch through ``name_tag``.

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
    frame = encoded.where(F.col("split").isin(list(OUTPUT_SPLITS)))
    if num_shards > 0:
        frame = frame.withColumn(
            "shard", _round_robin_shard(num_shards)(F.col("split"))
        ).repartition(num_shards * len(OUTPUT_SPLITS), "split", "shard")

    @drops_zip_finders
    def write_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as np
        import pyarrow.compute as pc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        handles: dict[tuple[str, int], list] = {}  # key -> [fh, path, n]
        with ExitStack() as stack:
            for rb in batches:
                split = pc.dictionary_encode(rb.column("split"))
                names = split.dictionary.to_pylist()
                keys = split.indices.to_numpy(zero_copy_only=False).astype(np.int64)
                if num_shards > 0:
                    keys = keys * num_shards + rb.column("shard").to_numpy()
                unique = np.unique(keys).tolist()
                for key in unique:
                    rows = rb.column("example")
                    if len(unique) > 1:
                        rows = rows.take(np.flatnonzero(keys == key))
                    code, shard = divmod(key, num_shards) if num_shards > 0 else (key, pid)
                    entry = handles.get((names[code], shard))
                    if entry is None:
                        prefix = f"{names[code].lower()}{name_tag}"
                        path = fs.join(job_dir, f".{prefix}-{shard:05d}{suffix}.inprogress")
                        fh = stack.enter_context(open_output(path, compression))
                        entry = handles[(names[code], shard)] = [fh, path, 0]
                    for start in range(0, len(rows), _FRAME_CHUNK):
                        entry[0].write(frame_records(rows.slice(start, _FRAME_CHUNK)))
                    entry[2] += len(rows)
        yield pa.RecordBatch.from_pylist(
            [
                {"split": split, "shard": shard, "path": path, "n": n}
                for (split, shard), (_, path, n) in handles.items()
            ],
            schema=_MANIFEST,
        )

    try:
        manifest = frame.mapInArrow(
            write_partition, schema="split string, shard long, path string, n long"
        ).collect()
    except BaseException:
        _remove_inprogress(
            job_dir, tuple(f".{s.lower()}{name_tag}-" for s in OUTPUT_SPLITS)
        )
        raise

    # Driver-side rename to final shard names (metadata-only), then an
    # empty file for every shard a split is owed but no task wrote.
    by_split: dict[str, dict[int, tuple[str, int]]] = {s: {} for s in splits}
    for row in manifest:
        by_split.setdefault(row["split"], {})[row["shard"]] = (row["path"], row["n"])
    results: dict[str, dict[str, int]] = {}
    for split_value, written in by_split.items():
        if num_shards > 0:
            k = num_shards
        else:  # contiguous renumbering of the partition ids
            written = dict(enumerate(written[pid] for pid in sorted(written)))
            k = max(len(written), 1)
        prefix = f"{split_value.lower()}{name_tag}"
        files: dict[str, int] = {}
        for i in range(k):
            final = fs.join(job_dir, f"{prefix}-{i:05d}-of-{k:05d}{suffix}")
            tmp, n = written.get(i, (None, 0))
            if tmp is None:
                with open_output(final, compression):
                    pass
            else:
                fs.replace(tmp, final)
            files[final] = n
        results[split_value] = files
    return results


def _round_robin_shard(num_shards: int):
    """Arrow UDF ``split -> shard index`` in [0, num_shards): within each
    task every split counts its own rows round-robin, starting at the
    partition id, so per split the shards' record counts differ by at
    most the number of input partitions — the balance of the old
    filter-then-``repartition(N)`` per split. Only the split column
    crosses to Python."""

    @drops_zip_finders
    def shard(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        import numpy as np
        import pyarrow.compute as pc
        from pyspark import TaskContext

        next_index: dict[str, int] = {}
        first = TaskContext.get().partitionId()
        for split in batches:
            codes = pc.dictionary_encode(split)
            indices = codes.indices.to_numpy(zero_copy_only=False)
            out = np.empty(len(indices), dtype=np.int32)
            for code, value in enumerate(codes.dictionary.to_pylist()):
                rows = np.flatnonzero(indices == code)
                start = next_index.get(value, first)
                out[rows] = (start + np.arange(len(rows))) % num_shards
                next_index[value] = start + len(rows)
            yield pa.array(out)

    return F.arrow_udf(shard, "int").asNondeterministic()


def _remove_inprogress(job_dir: str, prefixes: tuple[str, ...]) -> None:
    """Driver-side cleanup of a failed write: the job's finished tasks
    leave temp files that no rename will publish, and a task that raised
    or was killed leaves a partial one. Only this write's temp names
    (``prefixes``) are removed.

    Best-effort: Spark cancels the job's other tasks asynchronously, so
    a task still running after the listing can open a file this cleanup
    does not see."""
    for name in fs.listdir(job_dir):
        if name.endswith(".inprogress") and name.startswith(prefixes):
            fs.remove(fs.join(job_dir, name))
