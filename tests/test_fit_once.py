"""Fit-once convert: the one-aggregate fit and the literal apply must give
the same assets, loaded values and schema.json as the lazy broadcast-join
reference (``fit_and_apply_vocabularies`` + the DataFrame asset path);
a write that fails, at auto or explicit shard counts, leaves no
``.inprogress`` file and a failed convert no job dir."""

import csv
import json
import os
from collections import OrderedDict

import pytest
from pyspark.sql import functions as F

import tensorflow_recorder_spark as trs
from tensorflow_recorder_spark import types as tt
from tensorflow_recorder_spark.operators import vocabulary
from tensorflow_recorder_spark.operators.split import normalize_split
from tensorflow_recorder_spark.sinks.artifacts import (
    METADATA_DIR,
    read_vocabulary_asset,
    write_schema_metadata,
    write_vocabulary_assets,
)
from tensorflow_recorder_spark.sinks.tfrecord import write_all_splits

SCHEMA = trs.Schema(
    OrderedDict(
        [
            ("split", tt.SplitKey),
            ("x", tt.IntegerInput),
            ("label", tt.StringLabel),
            ("tag", tt.StringLabel),
        ]
    )
)

# label: count ties broken by value (ASCII and non-ASCII), NULLs, and a
# value seen only outside TRAIN; tag: every TRAIN value NULL (empty
# asset, all -1), values only in TEST/VALIDATION/DISCARD.
_TRAIN_LABELS = ["b", "a", "é", "日本", "z", "ab", "b", "a", "é", "日本", None, None]
ROWS = (
    [("TRAIN", i, lab, None) for i, lab in enumerate(_TRAIN_LABELS)]
    + [
        ("VALIDATION", 100, "a", "t1"),
        ("VALIDATION", 101, None, None),
        ("TEST", 102, "only_test", "t1"),
        ("TEST", 103, "z", "t2"),
        ("FOO", 104, "a", "t3"),
        ("FOO", 105, "only_discard", None),
    ]
)


def _reference(spark, input_df, job_dir):
    """The lazy join path: fit_and_apply_vocabularies over the same
    typed, split-normalized frame, assets from the vocab DataFrames."""
    typed = input_df.select(
        *[F.col(n).cast(t.spark_type).alias(n) for n, t in SCHEMA.input_schema_map.items()]
    )
    work = normalize_split(typed, "split")
    transformed, vocabs = vocabulary.fit_and_apply_vocabularies(
        work, SCHEMA.vocabulary_columns(), "split"
    )
    os.makedirs(job_dir)
    write_vocabulary_assets(job_dir, vocabs)
    write_schema_metadata(job_dir, SCHEMA, transformed.schema)
    return transformed


def _schema_json(job_dir):
    with open(os.path.join(job_dir, METADATA_DIR, "schema.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("limit", [vocabulary.LITERAL_VOCAB_LIMIT, 2])
def test_fit_once_matches_join_reference(spark, tmp_path, monkeypatch, limit):
    # limit=2 puts `label` (6 values) on the join side and keeps `tag`
    # (empty vocabulary) on the literal side.
    monkeypatch.setattr(vocabulary, "LITERAL_VOCAB_LIMIT", limit)
    input_df = spark.createDataFrame(
        ROWS, "split string, x bigint, label string, tag string"
    )
    applied = vocabulary.apply_fitted_vocabulary(input_df, "label", ["a", "b", "c"])
    plan = applied._jdf.queryExecution().optimizedPlan().toString()
    assert ("Join" in plan) == (limit < 3)
    ref_dir = str(tmp_path / "ref")
    ref = _reference(spark, input_df, ref_dir)

    result = trs.convert(input_df, output_dir=str(tmp_path), schema=SCHEMA, spark=spark)
    job_dir = result["tfrecord_dir"]
    assert result["metrics"]["rows"] == len(ROWS)

    assert read_vocabulary_asset(job_dir, "label") == ["a", "b", "é", "日本", "ab", "z"]
    assert read_vocabulary_asset(job_dir, "tag") == []
    for column in ("label", "tag"):
        assert read_vocabulary_asset(job_dir, column) == read_vocabulary_asset(
            ref_dir, column
        )
    assert _schema_json(job_dir) == _schema_json(ref_dir)

    loaded = trs.load(job_dir, spark=spark)
    assert set(loaded) == {"TRAIN", "VALIDATION", "TEST"}
    for split, df in loaded.items():
        got = sorted(tuple(r) for r in df.collect())
        want = sorted(tuple(r) for r in ref.where(F.col("split") == split).collect())
        assert got == want, split
    train = {r["x"]: (r["label"], r["tag"]) for r in loaded["TRAIN"].collect()}
    assert train[10] == (-1, -1)  # NULL label -> OOV, all-NULL tag -> OOV
    test = {r["x"]: r["label"] for r in loaded["TEST"].collect()}
    assert test[102] == -1  # seen only outside TRAIN

    assert _discarded(job_dir) == sorted(
        tuple("" if v is None else str(v) for v in r)
        for r in ref.where(F.col("split") == "DISCARD").collect()
    )


def _discarded(job_dir):
    out_dir = os.path.join(job_dir, "discarded-data")
    rows = []
    for name in os.listdir(out_dir):
        if name.endswith(".csv"):
            with open(os.path.join(out_dir, name), newline="") as fh:
                rows += [tuple(r) for r in list(csv.reader(fh))[1:]]
    return sorted(rows)


def test_failed_write_leaves_no_inprogress_files(spark, tmp_path):
    # 1e300 overflows float32: the encoder raises in one task while, with
    # auto shards, the writer already holds open temp files in the others
    # (with num_shards it fails in the shuffle before any file opens).
    schema = trs.Schema(
        OrderedDict([("split", tt.SplitKey), ("f", tt.FloatInput), ("label", tt.StringLabel)])
    )
    rows = [("TRAIN", float(i), "a") for i in range(4000)]
    rows[1234] = ("TRAIN", 1e300, "a")
    df = spark.createDataFrame(rows, "split string, f double, label string").repartition(8)
    for num_shards in (0, 2):
        out = tmp_path / str(num_shards)
        with pytest.raises(Exception):
            trs.convert(df, output_dir=str(out), schema=schema, spark=spark, num_shards=num_shards)
        leftovers = [
            name for _, _, names in os.walk(out) for name in names if name.endswith(".inprogress")
        ]
        assert leftovers == []
        assert [n for n in os.listdir(out) if n.startswith("tfrecorder-")] == []


def test_failed_split_write_leaves_no_inprogress_files(spark, tmp_path):
    # Through convert an explicit-shard write fails in the encoder, before
    # any writer opens a file, so call the writer itself: a NULL example
    # raises after its temp file is open.
    rows = [("TRAIN", b"x")] * 400
    rows[399] = ("TRAIN", None)
    encoded = spark.sparkContext.parallelize(rows, 4).toDF("split string, example binary")
    job_dir = str(tmp_path / "job")
    with pytest.raises(Exception):
        write_all_splits(encoded, job_dir, ["TRAIN"], compression=None, num_shards=2)
    assert [n for n in os.listdir(job_dir) if n.endswith(".inprogress")] == []
