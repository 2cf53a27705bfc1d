"""Seeded inputs for the round-trip benchmark, and what a correct
convert -> load round trip must return for them.

Every input is generated here from the workload seed; the engine only
ever sees the generated parquet file or image tree. The
expected outputs are computed independently of the engine, with numpy
and pandas over the generated values:

* unknown split values and corrupt images route to DISCARD;
* a StringLabel becomes its index in the TRAIN-only vocabulary, ordered
  by count desc then value asc; a value unseen in TRAIN becomes -1;
* image pixels load as URL-safe base64 of the raw RGB bytes;
* float features round-trip through float32 (the Example wire type).

Generation needs no Spark, so the seed tests run without a session.
"""

from __future__ import annotations

import base64
import glob
import hashlib
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from tensorflow_recorder_spark import IMAGE_CSV_SCHEMA, Schema
from tensorflow_recorder_spark import types as tt
from tensorflow_recorder_spark.functions.png_codec import encode_png
from tensorflow_recorder_spark.sources.tfrecord import split_files

SPLITS = ("TRAIN", "VALIDATION", "TEST")
DISCARD = "DISCARD"


@dataclass
class Workload:
    """Generated input plus the round trip's expected outputs."""

    convert_kwargs: dict
    input_rows: int
    input_bytes: int
    input_digest: str
    # convert()'s metrics dict
    metrics: dict[str, int]
    # loaded split -> expected frame; kinds maps column -> int|float|str
    frames: dict[str, pd.DataFrame]
    kinds: dict[str, str]
    vocabularies: dict[str, list[str]]
    discard_rows: int
    # the generated image files, for the codec microbench
    image_files: list[str] = field(default_factory=list)

    @property
    def rows_written(self) -> int:
        return sum(len(f) for f in self.frames.values())

    def check_convert(self, result: dict) -> list[str]:
        """Problems with a ``convert`` result: its metrics dict, the
        vocabulary assets and the DISCARD rows written."""
        problems = []
        if result["metrics"] != self.metrics:
            problems.append(f"convert metrics {result['metrics']} != {self.metrics}")
        job_dir = result["tfrecord_dir"]
        for column, vocab in self.vocabularies.items():
            path = os.path.join(
                job_dir, "transform_fn", "assets", f"vocab_{column}_vocabulary"
            )
            try:
                with open(path) as fh:
                    written = fh.read().split("\n")
            except OSError as exc:
                problems.append(f"vocabulary {column}: {exc}")
                continue
            if written != vocab:
                problems.append(f"vocabulary {column}: {written} != {vocab}")
        discarded = 0
        for path in glob.glob(os.path.join(job_dir, "discarded-data", "*.csv")):
            with open(path) as fh:
                discarded += max(sum(1 for _ in fh) - 1, 0)  # minus the header
        if discarded != self.discard_rows:
            problems.append(f"{discarded} DISCARD rows written, {self.discard_rows} expected")
        return problems

    def check_load(self, frames: dict[str, pd.DataFrame], digests: dict) -> list[str]:
        """Problems with loaded splits: which splits, and per split the
        row count and the order-insensitive value digest."""
        if set(frames) != set(digests):
            return [f"loaded splits {sorted(frames)} != {sorted(digests)}"]
        problems = []
        for split, expected in digests.items():
            if set(frames[split].columns) != set(self.kinds):
                problems.append(f"split {split}: columns {list(frames[split].columns)}")
                continue
            try:
                got = frame_digest(frames[split], self.kinds)
            except (KeyError, TypeError, ValueError) as exc:
                problems.append(f"split {split}: cannot digest: {exc!r}")
                continue
            if got != expected:
                problems.append(f"split {split}: (rows, digest) {got} != {expected}")
        return problems


def shard_bytes(job_dir: str) -> int:
    """Total size of a convert's TFRecord shard files."""
    return sum(os.path.getsize(p) for s in SPLITS for p in split_files(job_dir, s))


def vocabulary(train_values) -> list[str]:
    """TRAIN-only vocabulary, count desc then value asc."""
    counts = Counter(train_values)
    return sorted(counts, key=lambda v: (-counts[v], v))


def integerize(values: pd.Series, vocab: list[str]) -> pd.Series:
    index = {v: i for i, v in enumerate(vocab)}
    return values.map(lambda v: index.get(v, -1)).astype("int64")


def as_float32(values) -> np.ndarray:
    return np.asarray(values, dtype=np.float64).astype(np.float32).astype(np.float64)


def frame_digest(pdf: pd.DataFrame, kinds: dict[str, str]) -> tuple[int, int]:
    """Order-insensitive digest of a frame: (rows, sum of per-row hashes
    mod 2**64). Columns are cast to one canonical dtype per kind first,
    so an engine-loaded frame and a generated one hash alike."""
    canon = {}
    for name, kind in kinds.items():
        col = pdf[name]
        if kind == "int":
            canon[name] = col.astype("Int64")
        elif kind == "float":
            canon[name] = col.astype("Float64")
        else:
            canon[name] = col.astype("string")
    hashed = pd.util.hash_pandas_object(pd.DataFrame(canon), index=False)
    return len(hashed), int(hashed.to_numpy().sum(dtype=np.uint64))


def _split_frames(df: pd.DataFrame, columns: list[str]) -> dict[str, pd.DataFrame]:
    return {
        s: df.loc[df["split"] == s, columns].reset_index(drop=True)
        for s in SPLITS
        if (df["split"] == s).any()
    }


def _frame_sha(pdf: pd.DataFrame) -> str:
    hashed = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return hashlib.sha256(hashed.tobytes()).hexdigest()


# --------------------------------------------------------------- tabular

TABULAR_SCHEMA = Schema(
    {
        "split": tt.SplitKey,
        "l_orderkey": tt.IntegerInput,
        "l_quantity": tt.IntegerInput,
        "l_extendedprice": tt.FloatInput,
        "l_discount": tt.FloatInput,
        "l_returnflag": tt.StringLabel,
        "l_shipdate": tt.StringInput,
    }
)
TABULAR_KINDS = {
    "split": "str",
    "l_orderkey": "int",
    "l_quantity": "int",
    "l_extendedprice": "float",
    "l_discount": "float",
    "l_returnflag": "int",
    "l_shipdate": "str",
}


def tabular_frame(seed: int, rows: int) -> pd.DataFrame:
    """Lineitem-shaped rows: 69/20/10 over the known splits plus 1% of an
    unknown ``HOLDOUT`` split (-> DISCARD), two int64, two floats, a
    3-value label and a date string."""
    rng = np.random.default_rng([seed, 1])
    days = rng.integers(0, 2526, rows)
    return pd.DataFrame(
        {
            "split": rng.choice(SPLITS + ("HOLDOUT",), rows, p=[0.69, 0.2, 0.1, 0.01]),
            "l_orderkey": rng.integers(1, 6_000_000, rows),
            "l_quantity": rng.integers(1, 51, rows),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, rows), 2),
            "l_discount": np.round(rng.integers(0, 11, rows) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], rows, p=[0.25, 0.5, 0.25]),
            "l_shipdate": (
                np.datetime64("1992-01-02") + days.astype("timedelta64[D]")
            ).astype(str),
        }
    )


def make_tabular(seed: int, workdir: str, rows: int) -> Workload:
    df = tabular_frame(seed, rows)
    os.makedirs(workdir, exist_ok=True)
    path = os.path.join(workdir, "lineitem.parquet")
    df.to_parquet(path, index=False)

    vocab = vocabulary(df.loc[df["split"] == "TRAIN", "l_returnflag"])
    out = df.copy()
    out["l_returnflag"] = integerize(df["l_returnflag"], vocab)
    for col in ("l_extendedprice", "l_discount"):
        out[col] = as_float32(df[col])
    return Workload(
        convert_kwargs={"input_data": path, "schema": TABULAR_SCHEMA},
        input_rows=rows,
        input_bytes=os.path.getsize(path),
        input_digest=_frame_sha(df),
        metrics={"rows": rows, "good_images": 0, "bad_images": 0},
        frames=_split_frames(out, list(TABULAR_KINDS)),
        kinds=TABULAR_KINDS,
        vocabularies={"l_returnflag": vocab},
        discard_rows=int((df["split"] == "HOLDOUT").sum()),
    )


# ---------------------------------------------------------------- images

IMAGE_SIDE = 128
IMAGE_KINDS = {
    "split": "str",
    "label": "int",
    "image_name": "str",
    "image": "str",
    "image_height": "int",
    "image_width": "int",
    "image_channels": "int",
}


def _pixels(rng: np.random.Generator) -> bytes:
    """A smooth colour gradient plus noise: compresses like a photo more
    than like random bytes."""
    ramp = np.linspace(0, 1, IMAGE_SIDE)
    base = rng.uniform(0, 255, 3) * np.add.outer(ramp, ramp)[..., None] / 2
    noise = rng.integers(0, 48, (IMAGE_SIDE, IMAGE_SIDE, 3))
    return (base + noise).clip(0, 255).astype(np.uint8).tobytes()


def make_images(seed: int, workdir: str, count: int) -> Workload:
    """``<dir>/<SPLIT>/<label>/<file>.png``: 128x128 RGB PNGs in 20
    labels, 70/20/10 over the known splits. About 1% (at least one) sit
    under an unknown ``HOLDOUT`` split directory, as many TRAIN images
    are truncated (corrupt), and as many VALIDATION/TEST images carry a
    label that never occurs in TRAIN (-> OOV). Corrupt files stay in
    TRAIN: a small held-out split whose only image failed would be
    written empty."""
    rng = np.random.default_rng([seed, 3])
    root = os.path.join(workdir, "images")
    splits = rng.choice(SPLITS, count, p=[0.7, 0.2, 0.1]).astype(object)
    labels = np.array([f"label_{i:02d}" for i in rng.integers(0, 20, count)], dtype=object)
    few = max(1, count // 100)
    splits[rng.choice(count, few, replace=False)] = "HOLDOUT"
    corrupt = np.zeros(count, dtype=bool)
    corrupt[rng.choice(np.flatnonzero(splits == "TRAIN"), few, replace=False)] = True
    held_out = np.flatnonzero((splits == "VALIDATION") | (splits == "TEST"))
    labels[rng.choice(held_out, few, replace=False)] = "label_unseen"
    rows, files, sha = [], [], hashlib.sha256()
    for i in range(count):
        split, label = splits[i], labels[i]
        name = f"img_{i:05d}.png"
        pixels = _pixels(rng)
        data = encode_png(pixels, IMAGE_SIDE, IMAGE_SIDE, "RGB")
        if corrupt[i]:
            data = data[: len(data) // 2]
        directory = os.path.join(root, split, label)
        os.makedirs(directory, exist_ok=True)
        path = os.path.join(directory, name)
        with open(path, "wb") as fh:
            fh.write(data)
        files.append(path)
        sha.update(f"{split}/{label}/{name}:".encode() + hashlib.sha256(data).digest())
        rows.append(
            {
                "split": DISCARD if corrupt[i] or split not in SPLITS else split,
                "label": label,
                "image_name": name,
                "image": base64.urlsafe_b64encode(pixels).decode("ascii"),
                "ok": not corrupt[i],
            }
        )
    df = pd.DataFrame(rows)
    vocab = vocabulary(df.loc[df["split"] == "TRAIN", "label"])
    df["label"] = integerize(df["label"], vocab)
    for dim in ("image_height", "image_width"):
        df[dim] = IMAGE_SIDE
    df["image_channels"] = 3
    good = int(df["ok"].sum())
    return Workload(
        convert_kwargs={
            "input_data": root,
            "schema": IMAGE_CSV_SCHEMA,
            "num_shards": 1,
        },
        input_rows=count,
        input_bytes=sum(os.path.getsize(f) for f in files),
        input_digest=sha.hexdigest(),
        metrics={"rows": count, "good_images": good, "bad_images": count - good},
        frames=_split_frames(df, list(IMAGE_KINDS)),
        kinds=IMAGE_KINDS,
        vocabularies={"label": vocab},
        discard_rows=int((df["split"] == DISCARD).sum()),
        image_files=files,
    )

