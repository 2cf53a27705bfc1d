"""Source tests (reference converter_test.py CSV/dispatch/image-dir
coverage)."""

import os

import pandas as pd
import pytest

from tensorflow_recorder_spark.sources.dispatch import read_csv, to_dataframe
from tensorflow_recorder_spark.sources.image_dir import read_image_directory


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "data.csv"
    p.write_text("split,image_uri,label\nTRAIN,/a.png,cat\nTEST,/b.png,goat\n")
    return str(p)


def test_read_csv_header_infer(spark, csv_file):
    df = read_csv(spark, csv_file)
    assert df.columns == ["split", "image_uri", "label"]
    assert df.count() == 2


def test_read_csv_names_override(spark, csv_file):
    df = read_csv(spark, csv_file, names=["s", "u", "l"])
    assert df.columns == ["s", "u", "l"]


def test_read_csv_headerless_autonames(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text("TRAIN,/a.png,cat\n")
    df = read_csv(spark, str(p), header=None)
    assert df.columns == ["c0", "c1", "c2"]


def test_read_csv_names_length_mismatch(spark, csv_file):
    with pytest.raises(ValueError):
        read_csv(spark, csv_file, names=["only", "two"])


def test_to_dataframe_dispatch(spark, csv_file):
    # pandas -> spark
    pdf = pd.DataFrame({"split": ["TRAIN"], "x": [1]})
    assert to_dataframe(spark, pdf).count() == 1
    # spark passthrough with projection
    sdf = to_dataframe(spark, pdf)
    assert to_dataframe(spark, sdf, names=["split"]).columns == ["split"]
    # csv path
    assert to_dataframe(spark, csv_file).count() == 2
    # unsupported
    with pytest.raises(ValueError):
        to_dataframe(spark, 42)


def test_image_directory_scan(spark, tmp_path):
    # Reference converter_test.py:219-258 directory walk round-trip.
    for split, label, name in [
        ("TRAIN", "cat", "a.png"),
        ("TRAIN", "goat", "b.png"),
        ("TEST", "cat", "c.png"),
        ("FOO", "cat", "d.png"),  # unknown split dir: kept, warns
    ]:
        d = tmp_path / split / label
        d.mkdir(parents=True, exist_ok=True)
        (d / name).write_bytes(b"fake")
    df = read_image_directory(spark, str(tmp_path))
    rows = {(r["split"], r["label"], os.path.basename(r["image_uri"])) for r in df.collect()}
    assert rows == {
        ("TRAIN", "cat", "a.png"),
        ("TRAIN", "goat", "b.png"),
        ("TEST", "cat", "c.png"),
        ("FOO", "cat", "d.png"),
    }


def _touch_tree(base, rel_paths):
    for rel in rel_paths:
        path = base / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(b"fake")


def _rows(df, base):
    """Sorted (split, label, path under ``base``) rows: a file listed
    under two roots shows up twice."""
    prefix = len(str(base)) + 1
    return sorted((r["split"], r["label"], r["image_uri"][prefix:]) for r in df.collect())


def test_image_directory_edge_tree_matches_the_glob_listing(spark, tmp_path):
    """Expected rows are what a ``<dir>/*/*/*`` binaryFile glob lists."""
    base = tmp_path / "imgs"
    _touch_tree(
        base,
        [
            "TRAIN/cat/a.png",
            "TRAIN/cat/_skip.png",  # hidden file names are not rows
            "TRAIN/cat/.skip.png",
            "TRAIN/dog/b.png",
            "_SPLIT/cat/c.png",  # hidden split and label dirs are kept
            "_SPLIT/_lbl/m.png",
            ".hid/cat/d.png",
            "TRAIN/.ipynb_checkpoints/e.png",
            "TEST/_lbl/f.png",
            "x._COPYING_/cat/j.png",
            "_a=b/cat/h.png",  # hidden-looking names Spark lists anyway:
            # each is also an extra root, and must not yield a row twice
            "_metadata/cat/i.png",
            "TRAIN/cat/deeper/z.png",  # four levels: grandparent/parent
            "TRAIN/cat/deeper/more/w.png",  # five levels: not a row
            "TRAIN/top.png",  # one and two levels: not rows
            "README.txt",
            "k=v/cat/g.png",  # no partition column
        ],
    )
    df = read_image_directory(spark, str(base))
    assert df.columns == ["split", "image_uri", "label"]
    assert _rows(df, base) == sorted([
        ("TRAIN", "cat", "TRAIN/cat/a.png"),
        ("TRAIN", "dog", "TRAIN/dog/b.png"),
        ("_SPLIT", "cat", "_SPLIT/cat/c.png"),
        ("_SPLIT", "_lbl", "_SPLIT/_lbl/m.png"),
        (".hid", "cat", ".hid/cat/d.png"),
        ("TRAIN", ".ipynb_checkpoints", "TRAIN/.ipynb_checkpoints/e.png"),
        ("TEST", "_lbl", "TEST/_lbl/f.png"),
        ("x._COPYING_", "cat", "x._COPYING_/cat/j.png"),
        ("_a=b", "cat", "_a=b/cat/h.png"),
        ("_metadata", "cat", "_metadata/cat/i.png"),
        ("cat", "deeper", "TRAIN/cat/deeper/z.png"),
        ("k=v", "cat", "k=v/cat/g.png"),
    ])
    # image_uri is a plain local path
    assert all(r["image_uri"].startswith(str(base)) for r in df.collect())


def test_image_directory_relative_and_file_uri_bases_agree(spark, tmp_path, monkeypatch):
    base = tmp_path / "imgs"
    _touch_tree(base, ["TRAIN/cat/a.png", "TEST/dog/b.png", "_X/cat/c.png"])
    expected = [
        ("TEST", "dog", "TEST/dog/b.png"),
        ("TRAIN", "cat", "TRAIN/cat/a.png"),
        ("_X", "cat", "_X/cat/c.png"),
    ]
    assert _rows(read_image_directory(spark, f"file://{base}"), base) == expected
    # relative to this process's working directory, not the JVM's
    monkeypatch.chdir(tmp_path)
    assert _rows(read_image_directory(spark, "imgs/"), base) == expected


def test_image_directory_with_glob_characters_in_its_path(spark, tmp_path):
    base = tmp_path / "imgs[1]{a,b}"
    _touch_tree(base, ["TRAIN/cat/a.png", "_T/cat/b.png"])
    assert _rows(read_image_directory(spark, str(base)), base) == [
        ("TRAIN", "cat", "TRAIN/cat/a.png"),
        ("_T", "cat", "_T/cat/b.png"),
    ]


def test_image_directory_listing_starts_no_spark_job(spark, tmp_path):
    # more files than parallelPartitionDiscovery.threshold (32): listed
    # as one root path each, they would be listed again by a Spark job
    base = tmp_path / "imgs"
    _touch_tree(
        base,
        [f"{split}/{label}/{i}.png" for split in ("TRAIN", "TEST", "_X")
         for label in ("cat", "dog") for i in range(7)],
    )
    sc = spark.sparkContext
    group = "test_sources.image_directory_listing"
    sc.setJobGroup(group, "read_image_directory")
    try:
        df = read_image_directory(spark, str(base))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.count() == 42


def test_image_directory_warns_on_unknown_split(spark, tmp_path, caplog):
    base = tmp_path / "imgs"
    _touch_tree(base, ["TRAIN/cat/a.png", "FOO/cat/b.png"])
    with caplog.at_level("WARNING", logger="tensorflow_recorder_spark.sources.image_dir"):
        read_image_directory(spark, str(base))
    warnings = [r.getMessage() for r in caplog.records if r.levelname == "WARNING"]
    assert len(warnings) == 1 and "FOO" in warnings[0] and "TRAIN" not in warnings[0]

def test_to_dataframe_jsonl(spark, tmp_path):
    from tensorflow_recorder_spark.sources.dispatch import to_dataframe

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"split": "TRAIN", "label": "cat", "x": 1}\n'
        '{"split": "TEST", "label": "goat", "x": 2}\n'
    )
    df = to_dataframe(spark, str(p))
    assert set(df.columns) == {"split", "label", "x"}
    assert df.count() == 2
    # names projects/reorders
    df2 = to_dataframe(spark, str(p), names=["label", "split"])
    assert df2.columns == ["label", "split"]


def test_to_dataframe_parquet(spark, tmp_path):
    from tensorflow_recorder_spark.sources.dispatch import to_dataframe

    src = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(src)
    df = to_dataframe(spark, src)
    assert df.count() == 2 and set(df.columns) == {"id", "v"}


def test_to_dataframe_orc(spark, tmp_path):
    from tensorflow_recorder_spark.sources.dispatch import to_dataframe

    src = str(tmp_path / "t.orc")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.orc(src)
    df = to_dataframe(spark, src, names=["v"])
    assert df.columns == ["v"] and df.count() == 2


def test_to_dataframe_rejects_unknown(spark):
    import pytest as _pytest

    from tensorflow_recorder_spark.sources.dispatch import to_dataframe

    with _pytest.raises(ValueError):
        to_dataframe(spark, "/no/such/thing.xyz")


def test_to_dataframe_plain_json_multiline(spark, tmp_path):
    """Pretty-printed .json must parse as whole documents (multiLine),
    not yield _corrupt_record rows from the line-delimited reader."""
    p = tmp_path / "docs.json"
    p.write_text('[\n  {"a": 1, "b": "x"},\n  {"a": 2, "b": "y"}\n]\n')
    df = to_dataframe(spark, str(p))
    assert "_corrupt_record" not in df.columns
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [(1, "x"), (2, "y")]
