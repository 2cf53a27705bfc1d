"""End-to-end convert -> load -> inspect tests (reference
accessor_test.py / utils_test.py / dataset_loader_test.py analogs)."""

import os
from collections import OrderedDict
from pathlib import Path

import pandas as pd
import pytest

import tensorflow_recorder_spark as trs
from tensorflow_recorder_spark import types as tt
from tensorflow_recorder_spark.functions.tfrecord_io import read_file_records
from tensorflow_recorder_spark.sinks.artifacts import read_vocabulary_asset


@pytest.fixture()
def image_pdf(tmp_images):
    return pd.DataFrame(
        {
            "split": ["TRAIN", "TRAIN", "TRAIN", "VALIDATION", "TEST", "FOO"],
            "image_uri": tmp_images[:5] + ["/nonexistent/file.png"],
            "label": ["cat", "cat", "goat", "goat", "cat", "cat"],
        }
    )


def test_convert_image_csv_end_to_end(spark, image_pdf, tmp_path):
    result = trs.convert(image_pdf, output_dir=str(tmp_path), spark=spark)
    assert result["job_id"] == "spark-local"
    # Reference metrics shape (converter.py:330-348): FOO row never enters
    # image extraction metrics as bad; the bad URI does.
    assert result["metrics"] == {"rows": 6, "good_images": 5, "bad_images": 1}
    job_dir = result["tfrecord_dir"]
    assert os.path.basename(job_dir).startswith("tfrecorder-")

    # vocabulary asset: freq-desc, cat(2) before goat(1) on TRAIN only
    assert read_vocabulary_asset(job_dir, "label") == ["cat", "goat"]

    splits = trs.load(job_dir, spark=spark)
    assert set(splits) == {"TRAIN", "VALIDATION", "TEST"}
    assert splits["TRAIN"].count() == 3
    assert splits["VALIDATION"].count() == 1
    assert splits["TEST"].count() == 1
    train = splits["TRAIN"].collect()
    labels = sorted(r["label"] for r in train)
    assert labels == [0, 0, 1]  # integerized
    cols = set(splits["TRAIN"].columns)
    assert {"split", "label", "image_name", "image", "image_height"} <= cols


def test_convert_num_shards_and_uncompressed(spark, image_pdf, tmp_path):
    result = trs.convert(
        image_pdf,
        output_dir=str(tmp_path),
        spark=spark,
        compression=None,
        num_shards=2,
    )
    files = os.listdir(result["tfrecord_dir"])
    # num_shards applies PER SPLIT (reference WriteToTFRecord runs per
    # split): every written split gets exactly 2 shards
    for prefix in ("train", "validation", "test"):
        got = sorted(f for f in files if f.startswith(f"{prefix}-"))
        assert got == [
            f"{prefix}-00000-of-00002.tfrecord",
            f"{prefix}-00001-of-00002.tfrecord",
        ], got
    loaded = trs.load(result["tfrecord_dir"], spark=spark)
    expected = image_pdf[image_pdf["split"] != "FOO"]["split"].value_counts().to_dict()
    assert {split: df.count() for split, df in loaded.items()} == expected
    # shards of a split are balanced to within one record per encode
    # partition (the work frame is spread to the default parallelism)
    for prefix in ("train", "validation", "test"):
        sizes = [
            len(list(read_file_records(os.path.join(result["tfrecord_dir"], f))))
            for f in files
            if f.startswith(f"{prefix}-")
        ]
        assert max(sizes) - min(sizes) <= spark.sparkContext.defaultParallelism, sizes


def test_convert_zlib_compression_round_trips(spark, image_pdf, tmp_path):
    """compression='zlib' writes .tfrecord.zlib shards that load() reads
    back (reference extension-inferred compression,
    dataset_loader.py:32-35)."""
    result = trs.convert(
        image_pdf, output_dir=str(tmp_path), spark=spark, compression="zlib"
    )
    files = os.listdir(result["tfrecord_dir"])
    assert any(f.endswith(".tfrecord.zlib") for f in files), files
    assert not any(f.endswith(".gz") for f in files), files
    splits = trs.load(result["tfrecord_dir"], spark=spark)
    total = sum(df.count() for df in splits.values())
    assert total == result["metrics"]["good_images"]


def test_inspect_writes_csv_and_images(spark, image_pdf, tmp_path):
    result = trs.convert(image_pdf, output_dir=str(tmp_path), spark=spark)
    out_dir = trs.inspect(
        result["tfrecord_dir"], split="TRAIN", num_records=2,
        output_dir=str(tmp_path), spark=spark,
    )
    entries = os.listdir(out_dir)
    assert "data.csv" in entries
    csv = pd.read_csv(os.path.join(out_dir, "data.csv"))
    assert len(csv) == 2
    assert "image" not in csv.columns  # image bytes excluded (utils.py:80-85)
    # PIL absent -> real PNGs via the pure-stdlib encoder (r3)
    pngs = [e for e in entries if e.endswith(".png")]
    assert len(pngs) == 2
    from tensorflow_recorder_spark.functions.png_codec import decode_png

    pixels, w, h, mode = decode_png((Path(out_dir) / pngs[0]).read_bytes())
    assert mode == "RGB" and len(pixels) == w * h * 3


def test_convert_and_load_composition(spark, image_pdf, tmp_path):
    splits = trs.convert_and_load(image_pdf, output_dir=str(tmp_path), spark=spark)
    assert set(splits) == {"TRAIN", "VALIDATION", "TEST"}


def test_pandas_accessor(spark, image_pdf, tmp_path):
    # Reference accessor_test.py: df.tensorflow.to_tfr(...)
    result = image_pdf.tensorflow.to_tfr(output_dir=str(tmp_path), spark=spark)
    assert result["metrics"]["rows"] == 6


def test_structured_schema_with_scaling(spark, tmp_path):
    pdf = pd.DataFrame(
        {
            "split": ["TRAIN", "TRAIN", "TRAIN", "VALIDATION", "TEST"],
            "x": [1.5, 2.5, 3.5, 4.5, 5.5],
            "y": [10, 20, 30, 40, 50],
            "name": ["alice", "bob", "carol", "dan", "eve"],
            "category": ["A", "B", "A", "C", "B"],
            "label": [1, 0, 1, 0, 1],
        }
    )
    schema = trs.Schema(
        OrderedDict(
            [
                ("split", tt.SplitKey),
                ("x", tt.FloatInput),
                ("y", tt.IntegerInput),
                ("name", tt.StringInput),
                ("category", tt.StringLabel),
                ("label", tt.IntegerLabel),
            ]
        )
    )
    result = trs.convert(
        pdf, output_dir=str(tmp_path), schema=schema, spark=spark, scale_numeric=True
    )
    splits = trs.load(result["tfrecord_dir"], spark=spark)
    val = splits["VALIDATION"].collect()[0]
    # category C is OOV (fitted on TRAIN {A,B}) -> -1
    assert val["category"] == -1
    # x scaled with TRAIN stats: (4.5-2.5)/sqrt(2/3)
    assert abs(val["x"] - 2.449489742783178) < 1e-6
    # integer label passes through
    assert val["label"] == 0


def test_empty_split_parity(spark, tmp_images, tmp_path):
    # A split present in the input but emptied by image-failure rerouting
    # still produces an (empty) output shard (V8, beam_pipeline.py:269-273).
    pdf = pd.DataFrame(
        {
            "split": ["TRAIN", "TRAIN", "TEST"],
            "image_uri": tmp_images[:2] + ["/nonexistent/file.png"],
            "label": ["cat", "goat", "cat"],
        }
    )
    result = trs.convert(pdf, output_dir=str(tmp_path), spark=spark)
    files = os.listdir(result["tfrecord_dir"])
    test_files = [f for f in files if f.startswith("test-")]
    assert test_files, "TEST split must produce a file even when emptied"
    splits = trs.load(result["tfrecord_dir"], spark=spark)
    assert splits["TEST"].count() == 0


def test_logfile_written_and_copied(spark, image_pdf, tmp_path):
    import tensorflow_recorder_spark as trs

    result = trs.convert(image_pdf, output_dir=str(tmp_path / "out"), spark=spark)
    copied = os.path.join(result["tfrecord_dir"], "tfrecorder-spark.log")
    assert os.path.exists(copied)
    assert "convert job" in open(copied).read()


def test_convert_from_jsonl(spark, tmp_path):
    """JSONL corpus -> TFRecords end to end (extension source format)."""
    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"split": "TRAIN", "label": "cat", "note": "a"}\n'
        '{"split": "TRAIN", "label": "goat", "note": "b"}\n'
        '{"split": "TEST", "label": "cat", "note": "c"}\n'
    )
    schema = trs.Schema(
        OrderedDict(
            [("split", tt.SplitKey), ("label", tt.StringLabel), ("note", tt.StringInput)]
        )
    )
    result = trs.convert(
        str(p), output_dir=str(tmp_path / "out"), schema=schema, spark=spark
    )
    assert result["metrics"]["rows"] == 3
    splits = trs.load(result["tfrecord_dir"], spark=spark)
    assert splits["TRAIN"].count() == 2 and splits["TEST"].count() == 1


def _png_tree(base: Path, rel_paths: list[str]) -> None:
    from tensorflow_recorder_spark.functions.png_codec import encode_png

    for i, rel in enumerate(rel_paths):
        path = base / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(encode_png(bytes([40 * i % 256]) * 12, 2, 2, "RGB"))


def test_image_directory_keeps_hidden_label_dirs(spark, tmp_path):
    """A ``_``-prefixed label directory is a label like any other (the
    reference walk keeps it); a file at the directory root is not a row."""
    base = tmp_path / "imgs"
    _png_tree(
        base,
        [
            "TRAIN/_background/a.png",
            "TRAIN/_background/b.png",
            "TRAIN/cat/c.png",
            "TEST/_background/d.png",
            "TEST/cat/e.png",
        ],
    )
    (base / "README.txt").write_text("not an image\n")
    result = trs.convert(str(base), output_dir=str(tmp_path / "out"), spark=spark)
    assert result["metrics"] == {"rows": 5, "good_images": 5, "bad_images": 0}
    job_dir = result["tfrecord_dir"]
    assert read_vocabulary_asset(job_dir, "label") == ["_background", "cat"]
    splits = trs.load(job_dir, spark=spark)
    rows = {
        split: sorted((r["image_name"], r["label"]) for r in df.collect())
        for split, df in splits.items()
    }
    assert rows["TRAIN"] == [("a.png", 0), ("b.png", 0), ("c.png", 1)]
    assert rows["TEST"] == [("d.png", 0), ("e.png", 1)]


def test_glob_characters_in_image_and_output_dirs_round_trip(spark, tmp_path):
    base = tmp_path / "imgs[1]{a,b}"
    _png_tree(base, ["TRAIN/cat/a.png", "TRAIN/dog/b.png", "TEST/cat/c.png"])
    result = trs.convert(str(base), output_dir=str(tmp_path / "out[1]"), spark=spark)
    assert result["metrics"] == {"rows": 3, "good_images": 3, "bad_images": 0}
    splits = trs.load(result["tfrecord_dir"], spark=spark)
    counts = {split: df.count() for split, df in splits.items()}
    assert counts["TRAIN"] == 2 and counts["TEST"] == 1


def test_backslash_in_image_directory_names_round_trips(spark, tmp_path):
    """Files under directories (and with names) holding a backslash are
    rows like any other: none is dropped uncounted. A 4-deep file takes
    (grandparent, parent) as (split, label), so ``b\\s`` is an unknown
    split and routes to DISCARD."""
    base = tmp_path / "imgs"
    _png_tree(
        base,
        [
            "TRAIN/cat/a.png",
            "TRAIN/back\\slash/z.png",
            "TRAIN/a/we\\ird.png",
            "TRAIN/b\\s/c/w.png",
            "VALIDATION/cat/v.png",
            "TEST/cat/t.png",
        ],
    )
    result = trs.convert(str(base), output_dir=str(tmp_path / "out"), spark=spark)
    assert result["metrics"] == {"rows": 6, "good_images": 6, "bad_images": 0}
    job_dir = result["tfrecord_dir"]
    splits = trs.load(job_dir, spark=spark)
    names = {split: sorted(r["image_name"] for r in df.collect()) for split, df in splits.items()}
    assert names == {
        "TRAIN": ["a.png", "we\\ird.png", "z.png"],
        "VALIDATION": ["v.png"],
        "TEST": ["t.png"],
    }
    discarded = "".join(
        p.read_text() for p in (Path(job_dir) / "discarded-data").glob("part-*")
    )
    assert "w.png" in discarded
