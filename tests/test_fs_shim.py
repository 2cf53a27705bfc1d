"""FS shim tests (functions/fs.py): URI transparency for the format
layer, matching the reference's tf.io.gfile behavior
(/root/reference/tfrecorder/utils.py:109-119)."""

import os

import pandas as pd
import pytest

import tensorflow_recorder_spark as trs
from tensorflow_recorder_spark.functions import fs
from tensorflow_recorder_spark.functions.tfrecord_io import (
    open_maybe_gzip,
    open_output,
    read_file_records,
)


def test_parse_uri():
    assert fs.parse_uri("/plain/path") == (None, "/plain/path")
    assert fs.parse_uri("relative/path") == (None, "relative/path")
    assert fs.parse_uri("file:///a/b") == ("file", "/a/b")
    assert fs.parse_uri("gs://bucket/key") == ("gs", "bucket/key")
    assert fs.parse_uri("s3a://bucket/key") == ("s3a", "bucket/key")
    # single letters are drive-ish, not schemes
    assert fs.parse_uri("C://weird")[0] is None
    # Hadoop's normalized single-slash form IS the file scheme
    assert fs.parse_uri("file:/a/b") == ("file", "/a/b")
    assert fs.parse_uri("FILE:/a/b") == ("file", "/a/b")
    # but a file-named relative path is not a URI
    assert fs.parse_uri("file:x")[0] is None


def test_to_local_and_is_local():
    assert fs.is_local("/a") and fs.is_local("file:///a") and not fs.is_local("gs://b/k")
    assert fs.to_local("file:///a/b") == "/a/b"
    assert fs.to_local("file:/a/b") == "/a/b"
    assert fs.to_local("/a/b") == "/a/b"
    with pytest.raises(ValueError, match="remote scheme"):
        fs.to_local("gs://bucket/key")


def test_join_preserves_scheme():
    assert fs.join("/a/b", "c") == os.path.join("/a/b", "c")
    assert fs.join("file:///a/b", "c", "d") == "file:///a/b/c/d"
    assert fs.join("gs://bucket/pre/", "x") == "gs://bucket/pre/x"


def test_list_dirs_and_qualify(tmp_path, monkeypatch):
    (tmp_path / "b").mkdir()
    (tmp_path / "a").mkdir()
    (tmp_path / "f.txt").write_text("x")
    assert fs.list_dirs(str(tmp_path)) == ["a", "b"]
    assert fs.list_dirs(f"file://{tmp_path}") == ["a", "b"]
    assert fs.list_dirs(str(tmp_path / "missing")) == []
    assert fs.qualify(f"file://{tmp_path}/a") == f"file:{tmp_path}/a"
    monkeypatch.chdir(tmp_path)
    assert fs.qualify("a/") == f"file:{tmp_path}/a"


def test_glob_escape():
    assert fs.glob_escape("/data/out") == "/data/out"
    assert fs.glob_escape("/d/imgs[1]{a,b}") == r"/d/imgs\[1\]\{a,b\}"
    assert fs.glob_escape(r"/d/*?\x") == r"/d/\*\?\\x"


def test_file_uri_round_trip(tmp_path):
    uri = f"file://{tmp_path}/sub/out.bin"
    fs.makedirs(f"file://{tmp_path}/sub")
    with fs.open_output(uri) as fh:
        fh.write(b"payload")
    assert fs.exists(uri)
    with fs.open_input(uri) as fh:
        assert fh.read() == b"payload"
    dst = f"file://{tmp_path}/sub/renamed.bin"
    fs.replace(uri, dst)
    assert not fs.exists(uri) and fs.exists(dst)
    fs.copyfile(dst, f"file://{tmp_path}/sub/copy.bin")
    fs.remove(dst)
    assert not fs.exists(dst) and (tmp_path / "sub" / "copy.bin").read_bytes() == b"payload"


def test_tfrecord_io_through_file_uris(tmp_path):
    """Golden framing round-trip entirely through file:// URIs, gzip and
    raw (task: format layer passes through the shim)."""
    recs = [b"alpha", b"b" * 100, b""]
    for compressed, name in [(True, "x.tfrecord.gz"), (False, "x.tfrecord")]:
        uri = f"file://{tmp_path}/{name}"
        with open_output(uri, compressed) as fh:
            from tensorflow_recorder_spark.functions.tfrecord_io import frame_records

            fh.write(frame_records(recs))
        # underlying local file really exists (scheme was stripped)
        assert (tmp_path / name).exists()
        assert list(read_file_records(str(tmp_path / name))) == recs
        with open_maybe_gzip(uri, "rb") as fh:
            data = fh.read()
        assert data  # readable back through the shim as well


def test_convert_e2e_with_file_uri_output(spark, tmp_path):
    """Full convert writes every artifact under a file:// output dir."""
    pdf = pd.DataFrame(
        {
            "split": ["TRAIN", "VALIDATION", "TEST"],
            "image_uri": ["/nonexistent/a.png"] * 3,
            "label": ["x", "y", "x"],
        }
    )
    res = trs.convert(pdf, output_dir=f"file://{tmp_path}/out", spark=spark)
    assert res["metrics"]["rows"] == 3
    # all rows had bad images -> everything discarded, but the layout
    # (empty-but-present shards, metadata, transform_fn) must exist
    local_job = str(tmp_path / "out")
    sub = os.listdir(local_job)
    assert len(sub) == 1
    job_dir = os.path.join(local_job, sub[0])
    assert os.path.isdir(os.path.join(job_dir, "transformed_metadata"))
    loaded = trs.load(job_dir, spark=spark)
    assert set(loaded) == {"TRAIN", "VALIDATION", "TEST"}


def test_single_slash_file_uri_writes_nothing_under_cwd(spark, tmp_path):
    """Regression (r3 verdict): ``file:/abs`` (Hadoop's normalized form,
    what Spark APIs hand back) used to be mistaken for a relative path,
    landing writes in a literal ``./file:`` tree under CWD."""
    fs.makedirs(f"file:{tmp_path}/one")
    with fs.open_output(f"file:{tmp_path}/one/out.bin") as fh:
        fh.write(b"x")
    assert (tmp_path / "one" / "out.bin").read_bytes() == b"x"

    pdf = pd.DataFrame(
        {
            "split": ["TRAIN", "VALIDATION", "TEST"],
            "image_uri": ["/nonexistent/a.png"] * 3,
            "label": ["x", "y", "x"],
        }
    )
    res = trs.convert(pdf, output_dir=f"file:{tmp_path}/out", spark=spark)
    assert res["metrics"]["rows"] == 3
    assert os.listdir(tmp_path / "out")  # landed at the real destination
    assert not os.path.exists(os.path.join(os.getcwd(), "file:"))
    # load() back through the returned file: URI (glob must localize it)
    assert set(trs.load(res["tfrecord_dir"], spark=spark)) == {
        "TRAIN", "VALIDATION", "TEST",
    }


def test_swap_dir_and_remove_tree(tmp_path):
    from tensorflow_recorder_spark.functions import fs

    old = tmp_path / "idx"
    new = tmp_path / "idx__compacting"
    (old / "cell=1").mkdir(parents=True)
    (old / "cell=1" / "a.parquet").write_text("old")
    (new / "cell=1").mkdir(parents=True)
    (new / "cell=1" / "b.parquet").write_text("new")
    fs.swap_dir(str(new), str(old))
    assert (old / "cell=1" / "b.parquet").read_text() == "new"
    assert not (old / "cell=1" / "a.parquet").exists()
    assert not new.exists()
    assert not (tmp_path / "idx__old").exists()  # parked tree cleaned up
    # swap into a non-existent destination works too (first write)
    target = tmp_path / "fresh"
    src2 = tmp_path / "src2"
    src2.mkdir()
    (src2 / "x").write_text("x")
    fs.swap_dir(str(src2), str(target))
    assert (target / "x").read_text() == "x"
    fs.remove_tree(str(target))
    assert not target.exists()
    fs.remove_tree(str(target))  # missing path is a no-op

    # failed swap rolls the live tree back instead of leaving dst missing
    live = tmp_path / "live"
    (live / "cell=1").mkdir(parents=True)
    (live / "cell=1" / "data").write_text("live")
    import pytest as _pytest

    with _pytest.raises(OSError):
        fs.swap_dir(str(tmp_path / "does_not_exist"), str(live))
    assert (live / "cell=1" / "data").read_text() == "live"
