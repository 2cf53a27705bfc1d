"""Tests of the round-trip benchmark itself.

    python3 -m pytest perfbench/tests -q

The seed tests need no Spark. The worker-memory test starts a small
local session and takes about half a minute.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import layers  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SMALL = {"make_tabular": 3000, "make_images": 40}


@pytest.mark.parametrize("generator", sorted(SMALL))
def test_same_seed_gives_same_input(tmp_path, generator):
    make = getattr(workloads, generator)
    a = make(7, str(tmp_path / "a"), SMALL[generator])
    b = make(7, str(tmp_path / "b"), SMALL[generator])
    assert a.input_digest == b.input_digest
    assert a.input_bytes == b.input_bytes
    assert a.metrics == b.metrics
    for split, frame in a.frames.items():
        pd.testing.assert_frame_equal(frame, b.frames[split])


@pytest.mark.parametrize("generator", sorted(SMALL))
def test_other_seed_gives_other_input_of_same_size(tmp_path, generator):
    make = getattr(workloads, generator)
    a = make(7, str(tmp_path / "a"), SMALL[generator])
    b = make(8, str(tmp_path / "b"), SMALL[generator])
    assert a.input_digest != b.input_digest
    assert a.input_rows == b.input_rows == SMALL[generator]
    assert a.metrics["rows"] == b.metrics["rows"]


def test_images_hold_every_odd_case(tmp_path):
    wl = workloads.make_images(3, str(tmp_path), 100)
    assert wl.metrics["bad_images"] == 1
    assert os.path.isdir(os.path.join(tmp_path, "images", "HOLDOUT"))
    assert wl.discard_rows == 2
    oov = [(wl.frames[s]["label"] == -1).sum() for s in ("VALIDATION", "TEST") if s in wl.frames]
    assert sum(oov) >= 1
    assert "label_unseen" not in wl.vocabularies["label"]


def test_frame_digest_ignores_row_order_but_not_values(tmp_path):
    wl = workloads.make_tabular(5, str(tmp_path), 500)
    frame = wl.frames["TRAIN"]
    digest = workloads.frame_digest(frame, wl.kinds)
    shuffled = frame.sample(frac=1.0, random_state=0)
    assert workloads.frame_digest(shuffled, wl.kinds) == digest
    changed = frame.copy()
    changed.loc[0, "l_quantity"] += 1
    assert workloads.frame_digest(changed, wl.kinds) != digest


def test_benchmark_json_names_what_the_code_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER


def test_worker_rss_sees_one_large_raw_shard(tmp_path, monkeypatch):
    """Loading one large uncompressed shard must lift the sampled worker
    peak well above a tiny load's: the sampler sees per-task memory."""
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]))
    import tensorflow_recorder_spark as trs
    from tensorflow_recorder_spark import types as tt

    schema = trs.Schema({"split": tt.SplitKey, "blob": tt.StringInput})
    frames = {
        "tiny": pd.DataFrame({"split": ["TRAIN"] * 4, "blob": ["x"] * 4}),
        "large": pd.DataFrame({"split": ["TRAIN"] * 32, "blob": ["y" * (1 << 20)] * 32}),
    }
    spark = trs.get_spark("perfbench-tests", master="local[2]")
    try:
        dirs = {
            name: trs.convert(
                frame,
                output_dir=str(tmp_path / name),
                schema=schema,
                spark=spark,
                compression=None,
                num_shards=1,
            )["tfrecord_dir"]
            for name, frame in frames.items()
        }
        peaks = {}
        for name in ("tiny", "large"):
            with probes.WorkerRss() as rss:
                time.sleep(0.5)  # let the sampler find the workers
                for df in trs.load(dirs[name], spark=spark).values():
                    assert df.count() == len(frames[name])
                time.sleep(0.1)
            peaks[name] = rss.peak_mb
    finally:
        run.stop_spark(spark)
    assert peaks["tiny"] > 0
    assert peaks["large"] > peaks["tiny"] + 32
