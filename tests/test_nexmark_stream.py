"""Streaming Nexmark-analog checks: Q5 (hot users), Q7 (highest bid
per window) and Q11 (user sessions) run as Structured Streaming
queries over the events table replayed as a file-source stream, and
each must emit as many closed-window rows as a batch replay of the
identical window shapes — so a plan that streams nothing cannot pass."""

import heapq
import os
import shutil
import tempfile
from collections import defaultdict

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from beam_spark.pcollection import PCollection
from beam_spark.streaming import WriteStreamToFiles, WriteStreamToMemory


def build_stream_dir(sf_dir: str, tmpdir: str, batches: int) -> int:
    """Split the events table (ts-sorted — replay order) into one
    parquet file per micro-batch + a tail row 30 days later, which
    advances the watermark so every real-event window closes."""
    import pandas as pd

    pdf = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    pdf = pdf.sort_values("ts", kind="stable", ignore_index=True)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    per = (n + batches - 1) // batches
    for b in range(batches):
        chunk = pdf.iloc[b * per:(b + 1) * per]
        if len(chunk):
            chunk.to_parquet(
                os.path.join(tmpdir, f"batch_{b:03d}.parquet"), index=False)
    tail = pdf.iloc[-1:].copy()
    tail["ts"] = (tail["ts"] + pd.Timedelta(days=30)).astype("datetime64[us]")
    tail.to_parquet(os.path.join(tmpdir, f"batch_{batches:03d}.parquet"),
                    index=False)
    return n


def _source(spark, tmpdir: str):
    schema = ("event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(tmpdir)
            .withWatermark("ts", "10 seconds"))


def _drain(agg):
    """Run a streaming aggregate in append mode; return its rows."""
    return (PCollection(agg, is_bounded=False)
            | WriteStreamToMemory(output_mode="append")).collect()


def q5_hot_users(spark, tmpdir: str) -> int:
    """Sliding 1h/15m count per (window, user); top-3 per window ranked
    on the collected aggregate rows (a per-window Top combiner's state
    is exactly those aggregates)."""
    counts = _drain(_source(spark, tmpdir)
                    .groupBy(F.window("ts", "1 hour", "15 minutes"),
                             "user_id")
                    .agg(F.count(F.lit(1)).alias("n")))
    top = defaultdict(list)
    for r in counts:
        heap = top[r["window"]["start"]]
        heapq.heappush(heap, (r["n"], -r["user_id"]))
        if len(heap) > 3:
            heapq.heappop(heap)
    return sum(len(v) for v in top.values())


def _q7(events):
    return (events.groupBy(F.window("ts", "1 hour"))
            .agg(F.max_by(F.struct("event_id", "user_id", "value"),
                          F.struct(F.col("value"), F.col("event_id")))
                 .alias("m")))


def q7_highest_bid(spark, tmpdir: str) -> int:
    return len(_drain(_q7(_source(spark, tmpdir))))


def q11_user_sessions(spark, tmpdir: str) -> int:
    return len(_drain(_source(spark, tmpdir)
                      .groupBy(F.session_window("ts", "30 minutes"),
                               "user_id")
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.sum("value").alias("total"))))


@pytest.fixture(scope="module")
def stream_dir(sf_dir):
    d = tempfile.mkdtemp(prefix="bs_nexmark_stream_test_")
    n = build_stream_dir(sf_dir, d, batches=3)
    yield d, n
    shutil.rmtree(d, ignore_errors=True)


def _batch_events(spark, stream_dir):
    # the SAME files the stream consumes (incl. the watermark tail row,
    # which lands in its own far-future windows on both sides)
    return spark.read.parquet(stream_dir)


def test_q7_stream_equals_batch(spark, stream_dir):
    d, _ = stream_dir
    n_stream = q7_highest_bid(spark, d)
    batch = _q7(_batch_events(spark, d))
    # append mode holds windows the watermark has not passed: the tail
    # row's OWN window (watermark stops 10s short of it) is the single
    # open one — every real-event window is 30 days closed
    assert n_stream == batch.count() - 1 > 0


def test_q7_restart_keeps_checkpointed_state_partitions(spark, stream_dir,
                                                        tmp_path):
    """Q7 runs over the first two files at 8 state partitions, then
    restarts from its checkpoint at 2 over the rest. Spark keeps the
    count it recorded at the first start (the note in session.py), and
    the files written across the cut equal the batch replay: no window
    lost or written twice."""
    d, _ = stream_dir
    files = sorted(os.listdir(d))
    src, out, ckpt = (str(tmp_path / n) for n in ("src", "out", "ckpt"))
    os.mkdir(src)
    saved = spark.conf.get("spark.sql.shuffle.partitions")

    def run(names, partitions):
        for f in names:
            shutil.copy(os.path.join(d, f), src)
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
        return (PCollection(_q7(_source(spark, src)), is_bounded=False)
                | WriteStreamToFiles(out, checkpoint=ckpt))

    try:
        queries = [run(files[:2], "8"), run(files[2:], "2")]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    state = [[op.numShufflePartitions
              for p in q.recentProgress for op in p.stateOperators]
             for q in queries]
    assert all(state) and {n for s in state for n in s} == {8}, state

    events = _batch_events(spark, d)
    cutoff = events.agg(F.max("ts")).first()[0]
    # append mode holds only the tail row's own window
    expected = _q7(events).where(F.col("window.end") <= F.lit(cutoff))
    got = spark.read.parquet(out)
    assert sorted(got.collect()) == sorted(expected.collect())
    assert got.count() > 0


def test_q11_stream_equals_batch(spark, stream_dir):
    d, _ = stream_dir
    n_stream = q11_user_sessions(spark, d)
    batch = (_batch_events(spark, d)
             .groupBy(F.session_window("ts", "30 minutes"), "user_id")
             .agg(F.count(F.lit(1))))
    # the tail row's own session is the single held window
    assert n_stream == batch.count() - 1 > 0


def test_q5_stream_top3_matches_batch(spark, stream_dir):
    d, _ = stream_dir
    n_stream = q5_hot_users(spark, d)
    counts = (_batch_events(spark, d)
              .groupBy(F.window("ts", "1 hour", "15 minutes"), "user_id")
              .agg(F.count(F.lit(1)).alias("n")))
    top3 = (counts
            .withColumn("rk", F.row_number().over(
                Window.partitionBy("window")
                .orderBy(F.desc("n"), F.asc("user_id"))))
            .where("rk <= 3"))
    # the tail row lands in 4 sliding (1h/15m) windows, each held open
    # with exactly its one top-3 row
    assert n_stream == top3.count() - 4 > 0
