"""Image-directory scan (S3, SURVEY.md §2.1).

Reference: /root/reference/tfrecorder/converter.py:92-135 — walk
``<dir>/<SPLIT>/<label>/<file>`` and emit (split, image_uri, label) rows,
warning on unknown split directories (converter.py:125-127).

Spark-first design: the rows come from one ``binaryFile`` scan in
path-only mode (ReadSchema prunes to ``path``; no file contents are
read), with split and label derived from each path by
``regexp_extract``. The frame stays a file source: its partitions pack
files by size like any scan, and ``inputFiles()`` reports the listing.

Listing. The scan is rooted at the directory itself, with
``recursiveFileLookup``. Spark lists a level of at most
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
directories on the driver, and fans a wider level out into a job by
directory, never by file. A ``<dir>/*/*/*`` glob would cost more than
it looks: Hadoop's glob lists every file serially on the driver, each
match becomes a root path of its own, and past 32 roots Spark runs a
job with one task per file to list them again.

Spark's recursive listing skips every name that its file index treats as
hidden (``_``/``.`` prefix, ``._COPYING_`` suffix). The reference walk
keeps such split and label directories, and a root is listed whatever
its name, so the driver lists the top two levels — O(#split dirs +
#label dirs), not O(#files) — and passes each such directory as an extra
root. The same listing names the unknown split directories for the
warning, so building the frame starts no Spark job.

Depth, as a ``*/*/*`` glob lists it: a file three levels down is a row;
so is a file four levels down (in a subdirectory of a label directory),
attributed to its grandparent and parent directory, which routes it to
DISCARD unless that grandparent is named after a split. Shallower and
deeper files are not rows, and neither are the files of a hidden
directory three levels down (a glob would keep them). Rows under an
unknown split directory are kept (they route to DISCARD at partition
time, matching the reference's warn-don't-drop behavior).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..constants import SPLIT_VALUES
from ..functions import fs

logger = logging.getLogger(__name__)

# depth below the image directory of the files that become rows:
# <split>/<label>/<file>, and <split>/<label>/<dir>/<file>
_MIN_DEPTH, _MAX_DEPTH = 3, 4


def _listing_skips(name: str) -> bool:
    """Whether Spark's recursive file listing may skip an entry of this
    name (HadoopFSUtils.shouldFilterOutPathName). The few such names it
    lists after all (``_metadata``, ``_k=v``) are harmless extra roots:
    the file index keys files by path, so none is listed twice."""
    return name.startswith(("_", ".")) or name.endswith("._COPYING_")


def read_image_directory(spark: SparkSession, image_dir: str) -> DataFrame:
    """Emit (split, image_uri, label) for every file two levels below a
    split directory of ``image_dir``. The driver lists two directory
    levels; the files are listed by the file source, with no job for an
    ordinary tree."""
    base = fs.qualify(image_dir).rstrip("/")
    roots = [base]
    unknown = []
    for split in fs.list_dirs(base):
        split_dir = fs.join(base, split)
        labels = fs.list_dirs(split_dir)
        if labels and split not in SPLIT_VALUES:
            unknown.append(split)
        if _listing_skips(split):
            roots.append(split_dir)
        roots.extend(fs.join(split_dir, lab) for lab in labels if _listing_skips(lab))
    # Reference warns on unknown split dirs (converter.py:125-127) but still
    # emits the rows; they later route to DISCARD (P1).
    if unknown:
        logger.warning("unknown split directories (will route to DISCARD): %s", unknown)

    # every listed path is <base>/<relative path>, so its depth is its
    # count of "/" minus the base's
    depth = F.size(F.split("path", "/")) - 1 - base.count("/")
    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load([fs.glob_escape(root) for root in roots])
        .select("path")
        .where(depth.between(_MIN_DEPTH, _MAX_DEPTH))
    )
    # path layout: .../<split>/<label>/<filename>
    return files.select(
        F.regexp_extract("path", r"([^/]+)/[^/]+/[^/]+$", 1).alias("split"),
        F.regexp_replace("path", r"^file:", "").alias("image_uri"),
        F.regexp_extract("path", r"[^/]+/([^/]+)/[^/]+$", 1).alias("label"),
    )
