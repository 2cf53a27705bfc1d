"""Structured Streaming tests: windowed rollup, session_window, and the
foreachBatch convert sink — driven by a file-source micro-batch over
temp parquet (the local smoke pattern from the public Spark docs)."""

import os
from collections import OrderedDict

import pytest
from pyspark.sql import Row, functions as F

import tensorflow_recorder_spark.types as tt
from tensorflow_recorder_spark.functions.tfrecord_io import read_file_records
from tensorflow_recorder_spark.schema import Schema
from tensorflow_recorder_spark.sources.tfrecord import load as load_tfr
from tensorflow_recorder_spark.streaming import (
    convert_stream,
    streaming_hourly_rollup,
    streaming_sessionize,
)


@pytest.fixture()
def events_stream(spark, tmp_path):
    rows = [
        Row(event_id=1, ts="2024-01-01 10:00:00", user_id=1, event_type="a", value=1.0),
        Row(event_id=2, ts="2024-01-01 10:10:00", user_id=1, event_type="b", value=2.0),
        Row(event_id=3, ts="2024-01-01 11:30:00", user_id=1, event_type="a", value=3.0),
        Row(event_id=4, ts="2024-01-01 10:05:00", user_id=2, event_type="a", value=4.0),
    ]
    src = str(tmp_path / "events_src")
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(src)
    return spark.readStream.schema(df.schema).parquet(src)


def _run_to_memory(spark, stream_df, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_streaming_hourly_rollup(spark, events_stream):
    out = _run_to_memory(
        spark, streaming_hourly_rollup(events_stream), "hourly_out", mode="complete"
    )
    got = {(r["hour"], r["event_type"]): r["n_events"] for r in out.collect()}
    assert got[("2024-01-01 10:00:00", "a")] == 2
    assert got[("2024-01-01 11:00:00", "a")] == 1


def test_streaming_sessionize(spark, events_stream):
    out = _run_to_memory(
        spark, streaming_sessionize(events_stream), "sess_out", mode="complete"
    )
    u1 = [r for r in out.collect() if r["user_id"] == 1]
    assert len(u1) == 2  # 80-min gap splits sessions


def test_convert_stream_foreachbatch(spark, tmp_path):
    pdf_rows = [
        Row(split="TRAIN", name="a", label="cat"),
        Row(split="TRAIN", name="b", label="cat"),
        Row(split="TEST", name="c", label="goat"),
        Row(split="FOO", name="d", label="cat"),
    ]
    static = spark.createDataFrame(pdf_rows)
    src = str(tmp_path / "src")
    static.write.parquet(src)

    schema = Schema(
        OrderedDict(
            [("split", tt.SplitKey), ("name", tt.StringInput), ("label", tt.StringLabel)]
        )
    )
    job_dir = str(tmp_path / "job")
    stream = spark.readStream.schema(static.schema).parquet(src)
    q = convert_stream(
        stream,
        train_df=static.where(F.col("split") == "TRAIN"),
        schema=schema,
        job_dir=job_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    files = os.listdir(job_dir)
    assert any(f.startswith("train-batch") for f in files)
    assert any(f.startswith("test-batch") for f in files)
    # FOO routed to DISCARD -> no validation/discard output files
    assert not any(f.startswith("validation-") for f in files)
    # one job per micro-batch writes only non-empty shards, and publishes
    # every temp file it opened
    shards = [f for f in files if ".tfrecord" in f]
    assert not any(f.endswith(".inprogress") for f in files), files
    assert all(
        sum(1 for _ in read_file_records(os.path.join(job_dir, f))) > 0 for f in shards
    ), shards

    splits = load_tfr(spark, job_dir)
    assert splits["TRAIN"].count() == 2
    assert {r["label"] for r in splits["TRAIN"].collect()} == {0}  # cat -> 0
    test_rows = splits["TEST"].collect()
    assert test_rows[0]["label"] == -1  # goat absent from TRAIN vocab -> OOV


def test_streaming_dedup_suppresses_duplicates(spark, tmp_path):
    from tensorflow_recorder_spark.streaming.stateful import streaming_dedup

    rows = [
        Row(event_id=1, ts="2024-01-01 10:00:00", user_id=1, event_type="a"),
        Row(event_id=2, ts="2024-01-01 10:01:00", user_id=1, event_type="a"),
        Row(event_id=3, ts="2024-01-01 10:02:00", user_id=1, event_type="b"),
        Row(event_id=4, ts="2024-01-01 10:03:00", user_id=2, event_type="a"),
    ]
    src = str(tmp_path / "dd_src")
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = _run_to_memory(
        spark,
        streaming_dedup(stream, ["user_id", "event_type"]).select(
            "user_id", "event_type"
        ),
        "dedup_out",
    )
    got = {(r["user_id"], r["event_type"]) for r in out.collect()}
    assert got == {(1, "a"), (1, "b"), (2, "a")}
    assert out.count() == 3  # the duplicate (1, a) emitted once


def test_streaming_user_stats_state_spans_batches(spark, tmp_path):
    """applyInPandasWithState must ACCUMULATE across micro-batches:
    two source files + maxFilesPerTrigger=1 force two batches; the final
    emission carries totals over both."""
    from tensorflow_recorder_spark.streaming.stateful import streaming_user_stats

    src = str(tmp_path / "us_src")
    mk = lambda rows: spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch1 = mk([Row(event_id=1, ts="2024-01-01 10:00:00", user_id=1,
                     event_type="a", value=5.0)])
    batch2 = mk([
        Row(event_id=2, ts="2024-01-01 10:01:00", user_id=1, event_type="a", value=1.0),
        Row(event_id=3, ts="2024-01-01 10:02:00", user_id=1, event_type="b", value=9.0),
    ])
    batch1.write.parquet(src)
    batch2.write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_to_memory(spark, streaming_user_stats(stream), "us_out", mode="update")
    final = (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n"),
            F.min("min_value").alias("mn"),
            F.max("max_value").alias("mx"),
        )
        .collect()[0]
    )
    assert (final["n"], final["mn"], final["mx"]) == (3, 1.0, 9.0)
    # update mode re-emitted at least once per batch that touched user 1
    assert out.where(F.col("user_id") == 1).count() >= 2


def test_streaming_contamination_matches_batch(spark, tmp_path):
    from tensorflow_recorder_spark.operators import dedup
    from tensorflow_recorder_spark.streaming.contamination import (
        streaming_contamination_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    train_rows = [(i, shared if i < 3 else f"unique train doc number {i} xyz")
                  for i in range(10)]
    eval_rows = [(100, shared), (101, "completely unrelated evaluation text")]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    src = str(tmp_path / "eval_docs")
    spark.createDataFrame(eval_rows, "doc_id long, text string").write.parquet(src)
    ev_stream = spark.readStream.schema("doc_id long, text string").parquet(src)

    stream_pairs = streaming_contamination_pairs(
        ev_stream, train, "text", "doc_id", shingle_len=5
    )
    got = _run_to_memory(spark, stream_pairs, "contam_pairs_out", mode="complete")
    batch = dedup.contamination_pairs(
        train, spark.createDataFrame(eval_rows, "doc_id long, text string"),
        "text", "doc_id", shingle_len=5, min_shared=1,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    # the contaminated eval doc matches exactly the 3 verbatim train docs
    assert got.where(F.col("eval_id") == 100).count() == 3
    assert got.where(F.col("eval_id") == 101).count() == 0

    with pytest.raises(ValueError):
        streaming_contamination_pairs(train, train, "text", "doc_id")


def test_streaming_hll_matches_batch(spark, tmp_path):
    """The streaming register sketch drained availableNow equals the
    batch sketch — and its state is bounded at 2**b rows."""
    from tensorflow_recorder_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
    )
    from tensorflow_recorder_spark.streaming.windows import (
        streaming_hll_registers,
    )

    batch_df = spark.range(0, 3000).select(
        (F.col("id") % 700).cast("string").alias("user_id")
    )
    src = str(tmp_path / "hll_src")
    batch_df.write.parquet(src)
    stream = spark.readStream.schema(batch_df.schema).parquet(src)
    regs = streaming_hll_registers(stream, "user_id", b=8)
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_regs_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.table("hll_regs_sink")
    assert drained.count() <= 256
    got = hll_estimate(drained, b=8).collect()[0]
    want = hll_distinct(batch_df, "user_id", b=8).collect()[0]
    assert got["n_distinct_est"] == want["n_distinct_est"]
    assert got["n_zero_registers"] == want["n_zero_registers"]


def test_streaming_ewma_matches_batch_fold(spark, tmp_path):
    """Single ordered source file drained availableNow: the stateful
    streaming EWMA equals the batch fold exactly."""
    from tensorflow_recorder_spark.operators.events import ewma_by_key
    from tensorflow_recorder_spark.streaming.stateful import streaming_ewma

    rows = [
        Row(event_id=i, ts=f"2024-01-01 10:{i:02d}:00", user_id=1 + i % 3,
            value=float((i * 7) % 23))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows).withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "ewma_src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = streaming_ewma(stream, "user_id", "ts", "value", alpha=0.4)
    q = (
        out.writeStream.format("memory").queryName("ewma_sink")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r["user_id"]: (r["n_events"], round(r["ewma"], 6))
           for r in spark.table("ewma_sink").collect()}
    want = {r["user_id"]: (r["n_events"], r["ewma"])
            for r in ewma_by_key(df, alpha=0.4).collect()}
    assert got == want


def test_streaming_transitions_state_spans_batches(spark, tmp_path):
    """s21 twin: the last event type must CARRY ACROSS micro-batches so
    the cross-batch transition (batch1's last -> batch2's first) is
    counted; cumulative counts recover the batch lag exactly."""
    from tensorflow_recorder_spark.streaming.stateful import (
        streaming_transitions,
    )

    src = str(tmp_path / "tr_src")
    mk = lambda rows: spark.createDataFrame(rows).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    batch1 = mk([
        Row(event_id=1, ts="2024-01-01 10:00:00", user_id=1,
            event_type="a", value=0.0),
        Row(event_id=2, ts="2024-01-01 10:01:00", user_id=1,
            event_type="b", value=0.0),
    ])
    batch2 = mk([
        Row(event_id=3, ts="2024-01-01 10:02:00", user_id=1,
            event_type="a", value=0.0),
        Row(event_id=4, ts="2024-01-01 10:03:00", user_id=1,
            event_type="b", value=0.0),
    ])
    # one file per logical batch: a multi-part write + maxFilesPerTrigger=1
    # would split rows into arbitrary-order single-row batches
    batch1.coalesce(1).write.parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = _run_to_memory(
        spark, streaming_transitions(stream), "tr_out", mode="update"
    )
    final = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in out.groupBy("from_type", "to_type")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    # a->b twice (within each batch), b->a once (ACROSS the batch cut)
    assert final == {("a", "b"): 2, ("b", "a"): 1}


def test_streaming_fold_order_across_arrow_chunks(spark, tmp_path):
    """Order-sensitive stateful folds must globally sort the key's
    micro-batch, not each Arrow chunk (r6 review finding): with
    maxRecordsPerBatch=2 a 6-event batch arrives as 3 chunks in
    arbitrary order, and a per-chunk sort would fold transitions out
    of (ts, id) order."""
    from tensorflow_recorder_spark.streaming.stateful import (
        streaming_transitions,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        src = str(tmp_path / "chunk_src")
        # written in REVERSE event-time order so chunk order != ts order
        rows = [
            Row(event_id=i, ts=f"2024-01-01 10:0{i}:00", user_id=1,
                event_type=("a" if i % 2 == 0 else "b"), value=0.0)
            for i in range(5, -1, -1)
        ]
        df = spark.createDataFrame(rows).withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        out = _run_to_memory(
            spark, streaming_transitions(stream), "chunk_out", mode="update"
        )
        final = {
            (r["from_type"], r["to_type"]): r["n"]
            for r in out.groupBy("from_type", "to_type")
            .agg(F.max("n").alias("n"))
            .collect()
        }
        # true ts order: a b a b a b -> ab x3, ba x2
        assert final == {("a", "b"): 3, ("b", "a"): 2}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
