"""The one shard writer (``sinks/tfrecord.write_all_splits``): explicit
and auto shard counts, empty-but-listed splits, streaming name tags,
gzip headers free of temp names, and a job dir that ``load`` reads only
through finished shard names."""

import collections
import os
from collections import OrderedDict

import pytest

import tensorflow_recorder_spark as trs
from tensorflow_recorder_spark import types as tt
from tensorflow_recorder_spark.functions.tfrecord_io import read_file_records
from tensorflow_recorder_spark.plans import convert as convert_plan
from tensorflow_recorder_spark.sinks.tfrecord import write_all_splits

SCHEMA = trs.Schema(
    OrderedDict([("split", tt.SplitKey), ("x", tt.IntegerInput), ("label", tt.StringLabel)])
)


def _encoded(spark, rows, partitions=4):
    return spark.createDataFrame(rows, "split string, example binary").repartition(partitions)


def _records(files):
    return {path: list(read_file_records(path)) for path in files}


def test_explicit_shards_balanced_per_split(spark, tmp_path):
    # TRAIN and TEST alternate row by row: a shard index taken from the
    # row position (not counted per split) would put every TRAIN row in
    # one shard.
    rows = [("TRAIN" if i % 2 else "TEST", b"r%d" % i) for i in range(1000)]
    rows += [("DISCARD", b"d%d" % i) for i in range(10)]
    job_dir = str(tmp_path / "job")
    files = write_all_splits(
        _encoded(spark, rows), job_dir, ["TRAIN", "VALIDATION", "TEST"],
        compression=None, num_shards=3,
    )
    for split in ("TRAIN", "VALIDATION", "TEST"):
        prefix = split.lower()
        assert sorted(os.path.basename(p) for p in files[split]) == [
            f"{prefix}-{i:05d}-of-00003.tfrecord" for i in range(3)
        ]
        got = _records(files[split])
        assert {p: len(r) for p, r in got.items()} == files[split]
        assert collections.Counter(r for recs in got.values() for r in recs) == (
            collections.Counter(e for s, e in rows if s == split)
        )
        sizes = [len(r) for r in got.values()]
        assert max(sizes) - min(sizes) <= 4  # at most one per input partition
    assert sorted(os.listdir(job_dir)) == sorted(
        os.path.basename(p) for split in files.values() for p in split
    )


def test_auto_shards_give_a_listed_empty_split_one_shard(spark, tmp_path):
    rows = [("TRAIN", b"r%d" % i) for i in range(100)]
    job_dir = str(tmp_path / "job")
    files = write_all_splits(_encoded(spark, rows), job_dir, ["TRAIN", "VALIDATION"])
    assert files["VALIDATION"] == {
        os.path.join(job_dir, "validation-00000-of-00001.tfrecord.gz"): 0
    }
    names = sorted(os.path.basename(p) for p in files["TRAIN"])
    k = len(names)
    assert names == [f"train-{i:05d}-of-{k:05d}.tfrecord.gz" for i in range(k)]
    assert sum(files["TRAIN"].values()) == 100
    assert "TEST" not in files


def test_name_tag_without_splits_writes_only_present_splits(spark, tmp_path):
    rows = [("TEST", b"t%d" % i) for i in range(5)] + [("DISCARD", b"d")]
    job_dir = str(tmp_path / "job")
    files = write_all_splits(
        _encoded(spark, rows), job_dir, num_shards=1, name_tag="-batch000003"
    )
    assert files == {
        "TEST": {os.path.join(job_dir, "test-batch000003-00000-of-00001.tfrecord.gz"): 5}
    }
    assert os.listdir(job_dir) == ["test-batch000003-00000-of-00001.tfrecord.gz"]


@pytest.mark.parametrize("num_shards", [0, 2])
def test_gzip_shard_header_carries_no_file_name(spark, tmp_path, num_shards):
    rows = [("TRAIN", b"r%d" % i) for i in range(50)]
    files = write_all_splits(
        _encoded(spark, rows), str(tmp_path / "job"), ["TRAIN"], num_shards=num_shards
    )
    for path in files["TRAIN"]:
        with open(path, "rb") as fh:
            header = fh.read(10)
        assert header[:2] == b"\x1f\x8b"
        assert not header[3] & 0x08, path  # FLG.FNAME


def test_load_ignores_a_stray_partial_shard(spark, tmp_path):
    df = spark.createDataFrame(
        [("TRAIN", i, "a") for i in range(20)], "split string, x long, label string"
    )
    job_dir = trs.convert(df, output_dir=str(tmp_path), schema=SCHEMA, spark=spark)[
        "tfrecord_dir"
    ]
    with open(os.path.join(job_dir, "train-00000-of-00001.tfrecord.gz.inprogress"), "wb") as fh:
        fh.write(b"\x1f\x8b not a finished shard")
    assert trs.load(job_dir, spark=spark)["TRAIN"].count() == 20


def test_convert_job_dir_is_exclusive(spark, tmp_path, monkeypatch):
    # two converts with the same label in the same second name the same dir
    monkeypatch.setattr(convert_plan, "get_job_name", lambda label=None: "tfrecorder-same")
    df = spark.createDataFrame(
        [("TRAIN", i, "a") for i in range(10)], "split string, x long, label string"
    )
    job_dir = trs.convert(df, output_dir=str(tmp_path), schema=SCHEMA, spark=spark)[
        "tfrecord_dir"
    ]
    before = sorted(os.listdir(job_dir))
    with pytest.raises(FileExistsError):
        trs.convert(df, output_dir=str(tmp_path), schema=SCHEMA, spark=spark)
    assert sorted(os.listdir(job_dir)) == before
    assert trs.load(job_dir, spark=spark)["TRAIN"].count() == 10
