"""Vocabulary fit/apply — the reference's one real aggregation (A2/A3,
SURVEY.md §2.4).

Reference semantics (/root/reference/tfrecorder/beam_pipeline.py:120-127 +
test_data/sample_tfrecords): for every StringLabel column, compute the
vocabulary over the **TRAIN split only**, ordered by descending frequency,
persist it as a text asset (one value per line), then map every value —
in ALL splits — to its vocabulary index; out-of-vocabulary values map to
-1 (schema.pbtxt int_domain {min: -1}).

Tie-break: the reference delegates to TFT whose ordering below equal
frequencies is unspecified; the engine pins ``ORDER BY count DESC, value
ASC`` so results are deterministic and oracle-checkable (SURVEY.md §7
phase 2).

Scale design: the fit is a groupBy(count) shuffle over the TRAIN subset
— partial aggregation (map-side combine) makes the shuffled data
|distinct values|, not |rows|. The global rank has two formulations
with identical output:

* :func:`fit_vocabulary` — a single-partition window over the
  *aggregated* vocabulary, deliberate and bounded for label
  vocabularies (the reference's semantics: a handful of classes).
* :func:`fit_vocabulary_large` — token-scale path: the shared
  ``distributed_global_rank`` two-phase rank (range-partition on the
  rank order, window within ranges, broadcast count offsets). No single
  task ever holds the whole vocabulary.

The convert path fits every vocabulary in ONE driver collect
(:func:`fit_vocabularies`): a single aggregate over the stacked
(column, TRAIN value) pairs that also carries the caller's group keys
(the split histogram, the image counters), ranked on the driver in the
same count desc, value asc order. The fitted lists then apply as a JVM
literal map (:func:`apply_fitted_vocabulary`), so no action re-runs the
fit and no join stage is planned. Spark's map lookup scans its keys per
row, so above :data:`LITERAL_VOCAB_LIMIT` values the list applies
through :func:`apply_vocabulary`'s broadcast join instead. Either way
no shuffle touches the fact table.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from ..constants import OOV_INDEX, TRAIN

# Largest vocabulary applied as a literal map; larger ones join. Spark's
# map lookup compares the row's value with every key, so the literal's
# cost grows with rows x values while the broadcast join pays a fixed
# ~0.3 s per action. Measured per action on 4 cores (noop write of a
# cached frame, literal / join): 600k rows at 100 values 0.14 / 0.35 s,
# 500 values 0.28 / 0.34 s, 1,000 values 0.63 / 0.31 s; 6M rows at 100
# values 0.62 / 0.91 s, 200 values 0.97 / 0.78 s. 128 keeps the literal
# no slower than the join up to 6M rows. That split point comes from
# this microbenchmark only: no end-to-end benchmark workload has a
# vocabulary above it, so the join side is covered by tests, not timed.
LITERAL_VOCAB_LIMIT = 128


def fit_vocabulary(
    train_df: DataFrame,
    column: str,
    value_alias: str = "value",
    index_alias: str = "index",
    top_k: int | None = None,
) -> DataFrame:
    """Compute the frequency-descending vocabulary of ``column`` (A2 fit).

    Returns a small DataFrame (value, index) with index 0..V-1 assigned by
    count desc, value asc. NULLs do not enter the vocabulary (the
    reference's CSV path never produces NULL labels).

    ``top_k`` truncates to the K most frequent values (TFT's
    ``compute_and_apply_vocabulary(top_k=...)`` knob, tft API surface the
    reference inherits): truncated values integerize to OOV on apply.
    """
    counts = _value_counts(train_df, column, value_alias)
    # The window input is the aggregated vocabulary (small); a single
    # ordered partition here is deliberate and bounded. The partition key
    # is a constant-valued but non-foldable expression (pmod(hash, 1) is
    # always 0): same one-partition plan, but the partition spec survives
    # Catalyst constant folding so WindowExec does not emit its
    # "No Partition Defined" warning for this intentionally-global sort.
    one_bucket = F.pmod(F.hash(F.col(value_alias)), F.lit(1))
    w = Window.partitionBy(one_bucket).orderBy(F.desc("_freq"), F.asc(value_alias))
    vocab = counts.select(
        value_alias,
        (F.row_number().over(w) - F.lit(1)).cast("long").alias(index_alias),
    )
    if top_k is not None:
        vocab = vocab.where(F.col(index_alias) < top_k)
    return vocab


def _value_counts(train_df: DataFrame, column: str, value_alias: str) -> DataFrame:
    return (
        train_df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias(value_alias))
        .agg(F.count(F.lit(1)).alias("_freq"))
    )


def fit_vocabulary_large(
    train_df: DataFrame,
    column: str,
    value_alias: str = "value",
    index_alias: str = "index",
    top_k: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Token-scale A2 fit: identical output to :func:`fit_vocabulary`,
    no single-partition sort anywhere in the plan.

    Two-phase global rank (``sampling.distributed_global_rank``):
    ``repartitionByRange`` on (freq desc, value asc) spreads the
    aggregated vocabulary over ``num_partitions`` ordered ranges, each
    range windows locally, and broadcast per-range row-count offsets
    lift the local ranks to contiguous global indices (partition SIZES
    cross the driver, never values). Use when the vocabulary itself is
    too large for one task (billions of distinct tokens); for label
    vocabularies the windowed variant is one shuffle cheaper.
    """
    from .sampling import distributed_global_rank

    counts = _value_counts(train_df, column, value_alias)
    ranked, _total = distributed_global_rank(
        counts,
        [F.desc("_freq"), F.asc(value_alias)],
        num_partitions=num_partitions,
    )
    vocab = ranked.select(
        value_alias,
        (F.col("__rank") - F.lit(1)).cast("long").alias(index_alias),
    )
    if top_k is not None:
        vocab = vocab.where(F.col(index_alias) < top_k)
    return vocab


def apply_vocabulary(
    df: DataFrame, column: str, vocab: DataFrame, oov_index: int = OOV_INDEX
) -> DataFrame:
    """Integerize ``column`` via a broadcast join against the fitted
    vocabulary (A3 apply); OOV -> ``oov_index`` (A2 semantics).

    The vocabulary side is always broadcast: it is fitted state, bounded
    by label cardinality, so the fact table never shuffles.
    """
    vocab_renamed = vocab.select(
        F.col("value").alias("__vocab_value"), F.col("index").alias("__vocab_index")
    )
    joined = df.join(
        F.broadcast(vocab_renamed),
        df[column] == vocab_renamed["__vocab_value"],
        "left",
    )
    return joined.withColumn(
        column, F.coalesce(F.col("__vocab_index"), F.lit(oov_index))
    ).drop("__vocab_value", "__vocab_index")


def fit_and_apply_vocabularies(
    df: DataFrame,
    vocab_columns: list[str],
    split_key: str = "split",
    train_value: str = TRAIN,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Fit each vocabulary on the TRAIN subset, apply to the whole frame
    (A3 fit-on-train / apply-to-all; reference beam_pipeline.py:296-313).

    Returns (transformed df, {column: vocab DataFrame}) — the vocab frames
    are the fitted state to persist as assets (K4).
    """
    train = df.where(F.col(split_key) == train_value)
    vocabs: dict[str, DataFrame] = {}
    out = df
    for column in vocab_columns:
        vocab = fit_vocabulary(train, column)
        vocabs[column] = vocab
        out = apply_vocabulary(out, column, vocab)
    return out, vocabs


def fit_vocabularies(
    df: DataFrame,
    vocab_columns: Sequence[str],
    split_key: str | None = None,
    by: Sequence[str] = (),
) -> tuple[dict[tuple, int], dict[str, list[str]]]:
    """Fit every vocabulary of ``vocab_columns`` with one ``collect()``.

    One aggregate groups by ``by``, the vocabulary column's position and
    its value, the value counted only on TRAIN rows when
    ``split_key`` is given. The columns are stacked with one
    ``explode(array(struct(idx, value)))``, so rows outside TRAIN add
    only |by groups| x |columns| groups. Returns ``(row counts per
    by-tuple, {column: values in index order})``; the row counts come
    from column 0's rows (every row, when there is no vocabulary column),
    and each vocabulary is ranked count desc, value asc exactly as
    :func:`fit_vocabulary` ranks it (Python ``str`` order is Spark's
    UTF-8 byte order). NULLs do not enter a vocabulary.
    """
    by = list(by)
    if vocab_columns:
        entry = F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("i"), F.col(c).cast("string").alias("v"))
                    for i, c in enumerate(vocab_columns)
                ]
            )
        ).alias("__e")
        value = F.col("__e.v")
        if split_key is not None:
            value = F.when(F.col(split_key) == TRAIN, value)
        stacked = df.select(*by, entry).select(
            *by, F.col("__e.i").alias("__i"), value.alias("__v")
        )
    else:
        stacked = df.select(
            *by, F.lit(0).alias("__i"), F.lit(None).cast("string").alias("__v")
        )
    rows = stacked.groupBy(*by, "__i", "__v").count().collect()

    groups: Counter = Counter()
    freqs: list[Counter] = [Counter() for _ in vocab_columns]
    for r in rows:
        if r["__i"] == 0:
            groups[tuple(r[k] for k in by)] += r["count"]
        if r["__v"] is not None:
            freqs[r["__i"]][r["__v"]] += r["count"]
    vocabs = {
        c: sorted(f, key=lambda v, f=f: (-f[v], v))
        for c, f in zip(vocab_columns, freqs)
    }
    return dict(groups), vocabs


def apply_fitted_vocabulary(
    df: DataFrame, column: str, values: Sequence[str]
) -> DataFrame:
    """Integerize ``column`` by a vocabulary fitted to a driver list
    (value i -> i; NULL and unseen values -> ``OOV_INDEX``).

    Up to :data:`LITERAL_VOCAB_LIMIT` values this is one JVM expression,
    ``coalesce(map(values)[column], oov)``: no join, no extra job, and
    the column keeps its position and a non-null bigint type, as the
    join does. Larger vocabularies go through :func:`apply_vocabulary`.
    """
    if len(values) > LITERAL_VOCAB_LIMIT:
        vocab = df.sparkSession.createDataFrame(
            list(zip(values, range(len(values)))), "value string, index long"
        )
        return apply_vocabulary(df, column, vocab)
    if values:
        pairs = [x for i, v in enumerate(values) for x in (F.lit(v), F.lit(i))]
        index = F.create_map(*pairs)[F.col(column)].cast("long")
    else:
        index = F.lit(None).cast("long")
    return df.withColumn(column, F.coalesce(index, F.lit(OOV_INDEX)))
