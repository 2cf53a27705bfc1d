"""Source dispatch (S1/S2/S4, SURVEY.md §2.1).

Reference: /root/reference/tfrecorder/converter.py:177-208 — ``convert``
accepts a pandas DataFrame, a ``*.csv`` path, or an image directory and
normalizes all three into one tabular collection. The Spark-first version
returns a *Spark* DataFrame and never materializes files on the driver:
CSV paths go straight to ``spark.read.csv`` (distributed scan with
pushdown) and directories to one recursive ``binaryFile`` scan in
``image_dir.py`` (the driver lists only the split and label directory
levels; Spark's file source lists the files). A pandas DataFrame is the
one intentionally driver-resident case (S1) and is ingested via the
Arrow fast path.
"""

from __future__ import annotations

import os
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .image_dir import read_image_directory


def read_csv(
    spark: SparkSession,
    csv_file: str,
    header: str | int | None = "infer",
    names: list[str] | None = None,
) -> DataFrame:
    """CSV file scan (S2). Reference: converter.py:177-187.

    Mirrors the pandas header/names contract: header='infer' reads the
    first line as column names; ``names`` overrides/assigns names; with
    neither, columns are autogenerated as c0..cN (the reference's
    RangeIndex analog, converter.py:183-184).
    """
    use_header = header == "infer" or header == 0
    df = spark.read.csv(csv_file, header=use_header, inferSchema=False)
    if names is not None:
        if len(names) != len(df.columns):
            raise ValueError(
                f"names has {len(names)} entries but CSV has {len(df.columns)} columns"
            )
        df = df.toDF(*names)
    elif not use_header:
        df = df.toDF(*[f"c{i}" for i in range(len(df.columns))])
    return df


def read_jsonl(
    spark: SparkSession, path: str, names: list[str] | None = None
) -> DataFrame:
    """JSON-lines scan — the de-facto LLM-corpus interchange format
    (one JSON object per line; ``.jsonl`` / ``.jsonl.gz`` / ``.ndjson``).
    Distributed scan with schema inference over the whole file set;
    ``names`` projects/reorders columns. Beyond the reference's source
    list (its converter reads CSV/DataFrame/dirs only) but required for
    a training-data pipeline surface."""
    df = spark.read.json(path)
    return df.select(*names) if names else df


_JSONL_SUFFIXES = (".jsonl", ".ndjson", ".jsonl.gz", ".ndjson.gz")


def to_dataframe(
    spark: SparkSession,
    input_data: Any,
    header: str | int | None = "infer",
    names: list[str] | None = None,
) -> DataFrame:
    """Normalize any supported source into a Spark DataFrame (S4).

    Reference: converter.py:190-208 (DataFrame / csv / directory dispatch,
    ValueError otherwise). A Spark DataFrame passes through; a pandas
    DataFrame ingests via Arrow; the ``names`` projection applies to
    in-memory frames as in the reference (converter.py:197). Extension
    formats: ``.jsonl``/``.ndjson`` (+ ``.gz``) and ``.parquet`` paths
    scan distributed.
    """
    if isinstance(input_data, DataFrame):
        return input_data.select(names) if names else input_data
    if isinstance(input_data, pd.DataFrame):
        pdf = input_data[names] if names else input_data
        return spark.createDataFrame(pdf)
    if isinstance(input_data, str):
        lower = input_data.lower()
        if lower.endswith(".csv") or lower.endswith(".csv.gz"):
            return read_csv(spark, input_data, header=header, names=names)
        if lower.endswith(_JSONL_SUFFIXES):
            return read_jsonl(spark, input_data, names=names)
        if lower.endswith(".json") or lower.endswith(".json.gz"):
            # Plain .json may be pretty-printed / multi-object: read it
            # with multiLine so it parses whole documents instead of
            # silently yielding _corrupt_record per line. (.jsonl/.ndjson
            # keep the splittable line-delimited fast path above —
            # multiLine files are NOT splittable: one file = one task.)
            df = spark.read.json(input_data, multiLine=True)
            return df.select(*names) if names else df
        if lower.endswith(".parquet"):
            df = spark.read.parquet(input_data)
            return df.select(*names) if names else df
        if lower.endswith(".orc"):
            # Columnar sibling of parquet: same pushdown/pruning path
            # through Spark's native ORC reader — free coverage for
            # Hive-era corpora.
            df = spark.read.orc(input_data)
            return df.select(*names) if names else df
        if os.path.isdir(input_data):
            return read_image_directory(spark, input_data)
    raise ValueError(f"Unsupported input type or path: {input_data!r}")
