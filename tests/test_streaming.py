"""Streaming semantics tests: watermarked windowed aggregation (default
trigger), TTL dedup, session windows on streams, GroupIntoBatches,
stateful batching — Beam's TestStream-style deterministic harness."""

import pandas as pd
import pytest

from beam_spark.pcollection import PCollection, Pipeline
from beam_spark.operators.core import Create
from beam_spark.operators.group import CombinePerKey
from beam_spark.operators.window import FixedWindows, Sessions, WindowInto
from beam_spark.streaming import (Deduplicate, GroupIntoBatches, TestStream,
                                  WithWatermark, WriteStreamToMemory)


def test_streaming_windowed_agg_default_trigger(spark):
    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:10", "k": "a", "v": 1},
                     {"t": "2024-01-01 00:00:50", "k": "a", "v": 2}])
    ts.add_elements([{"t": "2024-01-01 00:02:30", "k": "a", "v": 5}])  # advances watermark past w0

    pc = (ts.stream()
          | WithWatermark("t", "30 seconds")
          | WindowInto(FixedWindows(60), ts_col="t")
          | CombinePerKey("k", n="count(*)", s="sum(v)")
          | WriteStreamToMemory(output_mode="append"))
    rows = {(r["k"], r["__window"]["start"].isoformat(), r["n"], r["s"])
            for r in pc.collect()}
    # closed windows only (append mode = AfterWatermark once-per-window)
    assert ("a", "2024-01-01T00:00:00", 2, 3) in rows


def test_teststream_naive_datetimes_are_utc_on_both_write_paths(spark):
    """A naive datetime is the same UTC instant whether the scripted
    file is written by pyarrow or, for a field pyarrow is not mapped
    for (decimal here), by createDataFrame — also under a non-UTC
    process time zone."""
    import datetime
    import os
    import time
    from decimal import Decimal

    from pyspark.sql import functions as F

    expected = int(datetime.datetime(
        2024, 1, 1, 0, 0, 10, tzinfo=datetime.timezone.utc).timestamp())
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "Asia/Kolkata"
    time.tzset()
    try:
        seen = {}
        for path, schema, v in (
                ("arrow", "t timestamp, v long", 1),
                ("fallback", "t timestamp, v decimal(10,2)", Decimal(1))):
            ts = TestStream(spark, schema)
            ts.add_elements([{"t": datetime.datetime(2024, 1, 1, 0, 0, 10),
                              "v": v}, {"t": "2024-01-01 00:00:10", "v": v}])
            seen[path] = sorted(
                r[0] for r in spark.read.parquet(ts.dir)
                .select(F.unix_seconds("t")).collect())
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    assert seen == {"arrow": [expected] * 2, "fallback": [expected] * 2}


def test_streaming_dedup_within_watermark(spark):
    ts = TestStream(spark, "t timestamp, event_id long, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:00", "event_id": 1, "v": 1},
                     {"t": "2024-01-01 00:00:05", "event_id": 1, "v": 1}])  # dup
    ts.add_elements([{"t": "2024-01-01 00:00:20", "event_id": 2, "v": 2}])

    pc = (ts.stream()
          | WithWatermark("t", "1 minute")
          | Deduplicate("event_id")
          | WriteStreamToMemory(output_mode="append"))
    ids = sorted(r["event_id"] for r in pc.collect())
    assert ids == [1, 2]


def test_streaming_session_windows(spark):
    ts = TestStream(spark, "t timestamp, user string")
    ts.add_elements([{"t": "2024-01-01 00:00:00", "user": "u"},
                     {"t": "2024-01-01 00:00:30", "user": "u"}])   # same session
    ts.add_elements([{"t": "2024-01-01 00:10:00", "user": "u"}])   # new session, closes first

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | WindowInto(Sessions(60), ts_col="t")
          | CombinePerKey("user", n="count(*)")
          | WriteStreamToMemory(output_mode="append"))
    sessions = {(r["__window"]["start"].isoformat(), r["n"]) for r in pc.collect()}
    assert ("2024-01-01T00:00:00", 2) in sessions


def test_group_into_batches_bounded(spark):
    pc = (Pipeline(spark)
          | Create([{"k": "a", "v": i} for i in range(7)])
          | GroupIntoBatches("k", 3, "v"))
    rows = pc.collect()
    sizes = sorted(len(r["batch"]) for r in rows)
    assert sizes == [1, 3, 3]
    all_vals = sorted(v for r in rows for v in r["batch"])
    assert all_vals == list(range(7))


def test_group_into_batches_streaming(spark):
    ts = TestStream(spark, "k string, v long")
    ts.add_elements([{"k": "a", "v": i} for i in range(5)])

    pc = ts.stream() | GroupIntoBatches("k", 2, "v")
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = out.collect()
    # 5 values, cap 2 -> two full batches emitted; the remainder sits in
    # state awaiting the processing-time timeout (cross-batch flush is
    # exercised implicitly by availableNow termination semantics).
    emitted = sorted(v for r in rows for v in r["batch"])
    assert len(rows) >= 2
    assert set(emitted) <= set(range(5))


def test_streaming_file_sink_roundtrip(spark, tmp_path):
    from beam_spark.streaming import WriteStreamToFiles

    ts = TestStream(spark, "k string, v long")
    ts.add_elements([{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    out_dir = str(tmp_path / "out")
    (ts.stream() | WriteStreamToFiles(out_dir))
    back = spark.read.parquet(out_dir)
    assert sorted((r["k"], r["v"]) for r in back.collect()) == [("a", 1), ("b", 2)]


def test_triggered_count_streaming_panes(spark):
    from beam_spark.streaming import TriggeredCountPerKey

    ts = TestStream(spark, "k string, v long")
    ts.add_elements([{"k": "a", "v": i} for i in range(1, 6)])   # 5 values
    ts.add_elements([{"k": "a", "v": 10}])                       # completes pane 2

    out = (ts.stream()
           | TriggeredCountPerKey("k", 2, "v")
           | WriteStreamToMemory(output_mode="append"))
    rows = sorted(out.collect(), key=lambda r: r["pane_index"])
    # panes of 2, DISCARDING: (1,2), (3,4), (5,10)
    assert [(r["pane_index"], r["pane_count"], r["pane_sum"]) for r in rows] == [
        (0, 2, 3.0), (1, 2, 7.0), (2, 2, 15.0)]
    assert all(r["pane_timing"] == "EARLY" for r in rows)


def test_triggered_count_bounded(spark):
    from beam_spark.streaming import TriggeredCountPerKey

    pc = (Pipeline(spark)
          | Create([{"k": "a", "v": i} for i in range(1, 8)])
          | TriggeredCountPerKey("k", 3, "v"))
    rows = pc.collect()
    assert sorted(r["pane_count"] for r in rows) == [3, 3]  # 7 -> 2 full panes


def test_count_min_sketch(spark, sf_dir):
    from beam_spark import queries as q
    from beam_spark.operators.stats import CountMinSketch

    events = q.table(spark, sf_dir, "events").df
    cms = CountMinSketch(eps=0.0001).fit(events, "event_type")
    exact = {r["event_type"]: r["count"]
             for r in events.groupBy("event_type").count().collect()}
    for k, n in exact.items():
        est = cms.estimate(k)
        assert n <= est <= n * 1.05 + 5, (k, n, est)


def test_stateful_pardo_streaming_dedup_counter(spark):
    """Custom stateful automaton: per-user running count across
    micro-batches, emitting only when the count changes parity — state
    survives batches (the Beam stateful-DoFn contract)."""
    from beam_spark.streaming import StatefulDoFn, StatefulParDo

    class ParityEmitter(StatefulDoFn):
        def process(self, key, rows, state):
            n = state.get("n", 0)
            for _ in rows:
                n += 1
                if n % 2 == 0:
                    yield {"user": key[0], "n": n}
            state.set("n", n)

    ts = TestStream(spark, "user string, v long")
    ts.add_elements([{"user": "u", "v": 1}])          # n=1, no emit
    ts.add_elements([{"user": "u", "v": 2}])          # n=2 -> emit (state crossed batches)
    ts.add_elements([{"user": "u", "v": 3}, {"user": "u", "v": 4}])  # n=4 -> emit

    out = (ts.stream()
           | StatefulParDo("user", ParityEmitter(), "user string, n long")
           | WriteStreamToMemory(output_mode="append"))
    got = sorted(r["n"] for r in out.collect())
    assert got == [2, 4]


def test_stateful_pardo_bounded_with_completion(spark):
    from beam_spark.streaming import StatefulDoFn, StatefulParDo

    class SumWithFlush(StatefulDoFn):
        def process(self, key, rows, state):
            state.set("s", sum(r["v"] for r in rows))
            return ()

        def on_completion(self, key, state):
            yield {"k": key[0], "total": state.get("s")}

    pc = (Pipeline(spark)
          | Create([{"k": "a", "v": 1}, {"k": "a", "v": 2}, {"k": "b", "v": 5}])
          | StatefulParDo("k", SumWithFlush(), "k string, total long"))
    got = {r["k"]: r["total"] for r in pc.collect()}
    assert got == {"a": 3, "b": 5}


def test_after_watermark_early_count_panes(spark):
    """Full trigger emulation: AfterWatermark(early=AfterCount(2)) on 60s
    windows, DISCARDING mode — early panes mid-window, ON_TIME pane when
    the watermark closes the window."""
    from beam_spark.streaming import AfterWatermarkEarlyCount

    ts = TestStream(spark, "t timestamp, k string, v long")
    # window [00:00, 00:01): 3 elements -> one EARLY pane (2 els) + remainder
    ts.add_elements([{"t": "2024-01-01 00:00:05", "k": "a", "v": 1},
                     {"t": "2024-01-01 00:00:10", "k": "a", "v": 2},
                     {"t": "2024-01-01 00:00:20", "k": "a", "v": 4}])
    # watermark jumps past window end (10s delay) -> ON_TIME pane fires
    ts.add_elements([{"t": "2024-01-01 00:05:00", "k": "a", "v": 100}])

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | AfterWatermarkEarlyCount("k", 60, "v", early_count=2, ts_col="t"))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = [r for r in out.collect()
            if r["window_start"].isoformat() == "2024-01-01T00:00:00"]
    panes = sorted((r["pane_index"], r["pane_timing"], r["pane_count"],
                    r["pane_sum"]) for r in rows)
    assert panes == [(0, "EARLY", 2, 3.0), (1, "ON_TIME", 1, 4.0)]


def test_after_watermark_accumulating_mode(spark):
    from beam_spark.streaming import AfterWatermarkEarlyCount

    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:05", "k": "a", "v": 1},
                     {"t": "2024-01-01 00:00:10", "k": "a", "v": 2},
                     {"t": "2024-01-01 00:00:20", "k": "a", "v": 4}])
    ts.add_elements([{"t": "2024-01-01 00:05:00", "k": "a", "v": 100}])

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | AfterWatermarkEarlyCount("k", 60, "v", early_count=2, ts_col="t",
                                     accumulation_mode="accumulating"))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = [r for r in out.collect()
            if r["window_start"].isoformat() == "2024-01-01T00:00:00"]
    panes = sorted((r["pane_index"], r["pane_timing"], r["pane_count"],
                    r["pane_sum"]) for r in rows)
    # ACCUMULATING: ON_TIME pane re-states the whole window (3 els, 7.0)
    assert panes == [(0, "EARLY", 2, 3.0), (1, "ON_TIME", 3, 7.0)]


def test_after_watermark_late_panes(spark):
    """Late arrivals within allowed lateness fire LATE panes after the
    ON_TIME pane (Beam pane timing lifecycle EARLY* -> ON_TIME -> LATE*)."""
    from beam_spark.streaming import AfterWatermarkEarlyCount

    # lateness L=300s is held inside the operator; the upstream watermark
    # delay is bound(10s) + L so late-but-allowed rows pass Spark's filter
    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:05", "k": "a", "v": 1}])
    # wm -> 00:00:50; semantic wm -> 00:05:50 >= w0 end -> ON_TIME fires
    ts.add_elements([{"t": "2024-01-01 00:06:00", "k": "a", "v": 50}])
    # late for w0 but above spark wm (00:00:50) -> LATE pane
    ts.add_elements([{"t": "2024-01-01 00:00:55", "k": "a", "v": 7}])

    pc = (ts.stream() | WithWatermark("t", "310 seconds")
          | AfterWatermarkEarlyCount("k", 60, "v", early_count=99, ts_col="t",
                                     allowed_lateness_sec=300))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = [r for r in out.collect()
            if r["window_start"].isoformat() == "2024-01-01T00:00:00"]
    panes = sorted((r["pane_index"], r["pane_timing"], r["pane_count"],
                    r["pane_sum"]) for r in rows)
    assert panes == [(0, "ON_TIME", 1, 1.0), (1, "LATE", 1, 7.0)]


def test_composite_trigger_after_each_panes(spark):
    """AfterWatermark(early=AfterEach(AfterCount(1), AfterCount(2))):
    first early pane after 1 element, second after 2 more, then the
    sequence is finished — remaining elements fold into ON_TIME."""
    from beam_spark.streaming import (AfterCount, AfterEach,
                                      AfterWatermarkEarlyCount)

    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:05", "k": "a", "v": 1},
                     {"t": "2024-01-01 00:00:10", "k": "a", "v": 2},
                     {"t": "2024-01-01 00:00:15", "k": "a", "v": 4},
                     {"t": "2024-01-01 00:00:20", "k": "a", "v": 8},
                     {"t": "2024-01-01 00:00:25", "k": "a", "v": 16}])
    ts.add_elements([{"t": "2024-01-01 00:05:00", "k": "a", "v": 100}])

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | AfterWatermarkEarlyCount(
              "k", 60, "v", ts_col="t",
              early_trigger=AfterEach(AfterCount(1), AfterCount(2))))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = [r for r in out.collect()
            if r["window_start"].isoformat() == "2024-01-01T00:00:00"]
    panes = sorted((r["pane_index"], r["pane_timing"], r["pane_count"],
                    r["pane_sum"]) for r in rows)
    assert panes == [(0, "EARLY", 1, 1.0), (1, "EARLY", 2, 6.0),
                     (2, "ON_TIME", 2, 24.0)]


def test_composite_trigger_or_finally_stops_early_panes(spark):
    """Repeatedly(AfterCount(2)).orFinally(AfterCount(3)): panes at 2 and
    3 elements, then early firing stops for the window."""
    from beam_spark.streaming import (AfterCount, OrFinally, Repeatedly,
                                      AfterWatermarkEarlyCount)

    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": f"2024-01-01 00:00:{s:02d}", "k": "a", "v": 1}
                     for s in (5, 10, 15, 20, 25, 30)])
    ts.add_elements([{"t": "2024-01-01 00:05:00", "k": "a", "v": 100}])

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | AfterWatermarkEarlyCount(
              "k", 60, "v", ts_col="t",
              early_trigger=OrFinally(Repeatedly(AfterCount(2)),
                                      AfterCount(3))))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = [r for r in out.collect()
            if r["window_start"].isoformat() == "2024-01-01T00:00:00"]
    panes = sorted((r["pane_index"], r["pane_timing"], r["pane_count"])
                   for r in rows)
    assert panes == [(0, "EARLY", 2), (1, "EARLY", 1), (2, "ON_TIME", 3)]


def test_stateful_pardo_time_sorted_input(spark):
    """requires_time_sorted_input (beam_runner_api.proto:547-550): the
    DoFn sees per-key rows in event-time order regardless of input
    order."""
    from beam_spark.pcollection import Pipeline
    from beam_spark.operators.core import Create
    from beam_spark.streaming.state import StatefulDoFn, StatefulParDo

    class Collector(StatefulDoFn):
        def process(self, key, rows, state):
            seq = [r["v"] for r in rows]
            yield {"k": key[0], "order": ",".join(map(str, seq))}

    rows = [{"k": "a", "t": 5, "v": 3}, {"k": "a", "t": 1, "v": 1},
            {"k": "b", "t": 9, "v": 9}, {"k": "a", "t": 3, "v": 2},
            {"k": "b", "t": 2, "v": 5}]
    pc = Pipeline(spark) | Create(rows)
    out = (pc | StatefulParDo("k", Collector(), "k string, order string",
                              requires_time_sorted_input=True, ts_col="t"))
    got = {r["k"]: r["order"] for r in out.df.collect()}
    assert got == {"a": "1,2,3", "b": "5,9"}

    import pytest

    unbounded = pc.with_df(pc.df, is_bounded=False)
    with pytest.raises(ValueError, match="bounded-only"):
        (unbounded | StatefulParDo("k", Collector(), "k string, order string",
                                   requires_time_sorted_input=True,
                                   ts_col="t"))


def test_read_from_socket_streams_lines(spark):
    """Unbounded socket source adapter (Pub/Sub-shape: payload + arrival
    ts): a local TCP server feeds lines; the stream delivers them with
    timestamps."""
    import socket
    import threading
    import time as _t

    from beam_spark.pcollection import Pipeline
    from beam_spark.streaming import ReadFromSocket, WriteStreamToMemory

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("localhost", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def serve():
        conn, _ = srv.accept()
        for i in range(5):
            conn.sendall(f"msg-{i}\n".encode())
        _t.sleep(2.0)
        conn.close()

    th = threading.Thread(target=serve, daemon=True)
    th.start()

    pc = Pipeline(spark) | ReadFromSocket("localhost", port)
    q = (pc.df.writeStream.format("memory")
         .queryName("socket_test").outputMode("append").start())
    try:
        deadline = _t.time() + 30
        while _t.time() < deadline:
            got = {r["value"] for r in spark.sql(
                "SELECT value FROM socket_test").collect()}
            if len(got) >= 5:
                break
            _t.sleep(0.5)
        assert got == {f"msg-{i}" for i in range(5)}, got
        ts_ok = spark.sql("SELECT COUNT(*) AS n FROM socket_test "
                          "WHERE timestamp IS NOT NULL").first()["n"]
        assert ts_ok >= 5
    finally:
        q.stop()
        srv.close()


def test_with_late_output_tee(spark):
    """Beam late-pane visibility outside the trigger emulator: rows Spark's
    watermark would silently drop before a stateful agg surface in the
    late branch with pane metadata; on-time rows flow to the main branch."""
    from beam_spark.streaming import with_late_output

    ts = TestStream(spark, "t timestamp, k string, v long")
    # batch 0: establishes max event time 00:02:30 (no watermark yet)
    ts.add_elements([{"t": "2024-01-01 00:00:10", "k": "a", "v": 1},
                     {"t": "2024-01-01 00:02:30", "k": "a", "v": 2}])
    # batch 1: watermark = 00:02:30 - 30s = 00:02:00 -> 00:00:20 is LATE,
    # 00:02:10 is on time (late vs max-seen but inside allowed lateness)
    ts.add_elements([{"t": "2024-01-01 00:00:20", "k": "a", "v": 100},
                     {"t": "2024-01-01 00:02:10", "k": "a", "v": 3}])

    main_rows, late_rows = [], []
    with_late_output(
        ts.stream(), "t", "30 seconds",
        on_time_fn=lambda df, bid: main_rows.extend(df.collect()),
        late_fn=lambda df, bid: late_rows.extend(df.collect()))

    assert sorted(r["v"] for r in main_rows) == [1, 2, 3]
    assert [r["v"] for r in late_rows] == [100]
    late = late_rows[0]
    assert late["pane_timing"] == "LATE"
    # the classifying watermark is exposed: max seen (00:02:30) - 30s
    assert late["__watermark"].isoformat() == "2024-01-01T00:02:00"


def test_with_late_output_feeds_windowed_agg(spark):
    """The tee's main branch drives a per-batch windowed count while late
    rows stay visible — the WithLateOutput + native-agg composition."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from beam_spark.streaming import with_late_output

    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:10", "k": "a", "v": 1},
                     {"t": "2024-01-01 00:03:00", "k": "a", "v": 2}])
    ts.add_elements([{"t": "2024-01-01 00:00:40", "k": "a", "v": 9}])  # late

    counts: dict = defaultdict(int)
    late_rows = []

    def agg(df, bid):
        for r in (df.groupBy(F.window("t", "1 minute").alias("w"), "k")
                  .count().collect()):
            counts[(r["w"]["start"].isoformat(), r["k"])] += r["count"]

    with_late_output(ts.stream(), "t", "30 seconds",
                     on_time_fn=agg,
                     late_fn=lambda df, bid: late_rows.extend(df.collect()))

    assert counts[("2024-01-01T00:00:00", "a")] == 1  # late row not counted
    assert counts[("2024-01-01T00:03:00", "a")] == 1
    assert [r["v"] for r in late_rows] == [9]


def test_after_watermark_retracting_mode(spark):
    """ACCUMULATING_AND_RETRACTING (beam_runner_api.proto
    AccumulationMode): every non-first pane is preceded by a RETRACT row
    negating the previous emission, so SUM over all emitted pane_sum
    values equals the true window total at any prefix."""
    from beam_spark.streaming import AfterWatermarkEarlyCount

    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:05", "k": "a", "v": 1},
                     {"t": "2024-01-01 00:00:10", "k": "a", "v": 2},
                     {"t": "2024-01-01 00:00:20", "k": "a", "v": 4}])
    ts.add_elements([{"t": "2024-01-01 00:05:00", "k": "a", "v": 100}])

    pc = (ts.stream()
          | WithWatermark("t", "10 seconds")
          | AfterWatermarkEarlyCount(
              "k", 60, "v", early_count=2, ts_col="t",
              accumulation_mode="accumulating_and_retracting"))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = [r for r in out.collect()
            if r["window_start"].isoformat() == "2024-01-01T00:00:00"]
    panes = sorted((r["pane_index"], r["pane_timing"], r["pane_count"],
                    r["pane_sum"]) for r in rows)
    # EARLY(2 els, 3.0) -> RETRACT(-2, -3.0) -> ON_TIME restates (3, 7.0)
    assert panes == [(0, "EARLY", 2, 3.0), (0, "RETRACT", -2, -3.0),
                     (1, "ON_TIME", 3, 7.0)]
    # downstream-sum invariant
    assert sum(r["pane_sum"] for r in rows) == 7.0
    assert sum(r["pane_count"] for r in rows) == 3


def test_retracting_mode_late_panes(spark):
    """RETRACT rows also precede LATE panes: the late restatement retracts
    the ON_TIME emission, keeping the downstream-sum invariant."""
    from beam_spark.streaming import AfterWatermarkEarlyCount

    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": "2024-01-01 00:00:05", "k": "a", "v": 1}])
    ts.add_elements([{"t": "2024-01-01 00:06:00", "k": "a", "v": 50}])
    ts.add_elements([{"t": "2024-01-01 00:00:55", "k": "a", "v": 7}])  # late

    pc = (ts.stream() | WithWatermark("t", "310 seconds")
          | AfterWatermarkEarlyCount(
              "k", 60, "v", early_count=99, ts_col="t",
              allowed_lateness_sec=300,
              accumulation_mode="accumulating_and_retracting"))
    out = pc | WriteStreamToMemory(output_mode="append")
    rows = [r for r in out.collect()
            if r["window_start"].isoformat() == "2024-01-01T00:00:00"]
    panes = sorted((r["pane_index"], r["pane_timing"], r["pane_count"],
                    r["pane_sum"]) for r in rows)
    assert panes == [(0, "ON_TIME", 1, 1.0), (0, "RETRACT", -1, -1.0),
                     (1, "LATE", 2, 8.0)]
    assert sum(r["pane_sum"] for r in rows) == 8.0


def test_with_late_output_null_event_times_not_lost(spark):
    """NULL event-time rows must reach a tee branch, not vanish in the
    three-valued comparison (review finding)."""
    from beam_spark.streaming import with_late_output

    ts = TestStream(spark, "t timestamp, k string, v long")
    ts.add_elements([{"t": "2024-01-01 00:10:00", "k": "a", "v": 1}])
    ts.add_elements([{"t": None, "k": "a", "v": 42},
                     {"t": "2024-01-01 00:00:01", "k": "a", "v": 9}])  # late

    main_rows, late_rows = [], []
    with_late_output(
        ts.stream(), "t", "30 seconds",
        on_time_fn=lambda df, bid: main_rows.extend(df.collect()),
        late_fn=lambda df, bid: late_rows.extend(df.collect()))
    assert sorted(r["v"] for r in main_rows) == [1, 42]  # null -> on_time
    assert [r["v"] for r in late_rows] == [9]


def test_streaming_curation_ops_compose(spark):
    """The round-5 curation projections (NormalizeText, Gopher rules,
    SplitByHash) are stateless expressions, so they run UNCHANGED on an
    unbounded input — TestStream micro-batches in, per-doc verdicts
    out, no state required."""
    from beam_spark.operators.combiners import SplitByHash
    from beam_spark.operators.text import GopherQualityFilter, NormalizeText
    from beam_spark.streaming import (TestStream, WithWatermark,
                                      WriteStreamToMemory)

    good = " ".join(["the big dog and the cat of doom went home"] * 6)
    ts = TestStream(spark, "t timestamp, doc_id long, text string")
    ts.add_elements([
        {"t": "2024-01-01 00:00:01", "doc_id": 1, "text": good},
        {"t": "2024-01-01 00:00:02", "doc_id": 2, "text": "too short"},
    ])
    ts.add_elements([
        {"t": "2024-01-01 00:00:10", "doc_id": 3, "text": good + " again"},
    ])
    pc = (ts.stream()
          | WithWatermark("t", "1 minute")
          | NormalizeText()
          | GopherQualityFilter(min_words=50)
          | SplitByHash({"train": 0.5, "val": 0.5}, "doc_id"))
    rows = (pc | WriteStreamToMemory(output_mode="append")).collect()
    got = {r["doc_id"]: (r["keep"], r["split"]) for r in rows}
    assert set(got) == {1, 2, 3}
    assert got[1][0] == 1 and got[2][0] == 0 and got[3][0] == 1
    assert all(s in ("train", "val") for _, s in got.values())


def test_continuous_aggregate_equals_batch_rollup(spark, tmp_path):
    """ContinuousAggregate: micro-batch maintenance of the rollup table
    must equal the one-shot batch TimeRollup over all rows, even when a
    bucket's rows are SPLIT across micro-batches (the merge path)."""
    from beam_spark.operators.group import TimeRollup
    from beam_spark.pcollection import PCollection
    from beam_spark.streaming import TestStream
    from beam_spark.streaming.core import ContinuousAggregate

    rows = [
        # bucket hour 00: rows across BOTH batches (forces merge)
        [{"t": "2024-01-01 00:10:00", "k": "a", "v": 1.0},
         {"t": "2024-01-01 00:20:00", "k": "b", "v": 2.0}],
        [{"t": "2024-01-01 00:40:00", "k": "a", "v": 4.0},
         {"t": "2024-01-01 01:05:00", "k": "a", "v": 8.0},
         {"t": "2024-01-02 03:00:00", "k": "b", "v": 16.0}],
    ]
    ts = TestStream(spark, "t timestamp, k string, v double")
    for b in rows:
        ts.add_elements(b)
    out = str(tmp_path / "ca")
    grains = {"hour": 3600, "day": 86400}
    aggs = {"n": "count", "sum_v": "sum:v", "max_v": "max:v"}
    (ts.stream() | ContinuousAggregate(out, "t", grains, aggs,
                                       keys=["k"]))

    import itertools

    allrows = list(itertools.chain.from_iterable(rows))
    df = spark.createDataFrame(
        [(r["t"], r["k"], r["v"]) for r in allrows],
        "t string, k string, v double").selectExpr(
        "CAST(t AS TIMESTAMP) AS t", "k", "v")
    want = (PCollection(df) | TimeRollup(
        "t", grains,
        {"n": "CAST(count(*) AS BIGINT)", "sum_v": "sum(v)",
         "max_v": "max(v)"}, keys=["k"])).df
    got = spark.read.parquet(out).select(*want.columns)
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w
    # the split bucket really merged: hour-00 'a' has n=2 across batches
    m = {(r["k"], r["granularity"], r["bucket_start"]): r["n"]
         for r in got.collect()}
    import calendar
    h0 = calendar.timegm((2024, 1, 1, 0, 0, 0))
    assert m[("a", "hour", h0)] == 2


def test_continuous_aggregate_checkpoint_restart_no_double_merge(
        spark, tmp_path):
    """With a real checkpoint, re-running the SAME source + checkpoint
    must be a no-op (offsets already committed) — pre-round-6 the
    checkpoint param was dead and a restart re-merged every batch,
    doubling counts."""
    from beam_spark.streaming import TestStream
    from beam_spark.streaming.core import ContinuousAggregate

    ts = TestStream(spark, "t timestamp, k string, v double")
    ts.add_elements([{"t": "2024-01-01 00:10:00", "k": "a", "v": 1.0}])
    ts.add_elements([{"t": "2024-01-01 00:20:00", "k": "a", "v": 2.0}])
    out = str(tmp_path / "ca")
    ckpt = str(tmp_path / "ckpt")

    def run():
        (ts.stream() | ContinuousAggregate(
            out, "t", {"hour": 3600}, {"n": "count", "s": "sum:v"},
            keys=["k"], checkpoint=ckpt))

    run()
    first = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert first
    run()                                  # restart: nothing new
    second = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert second == first                 # no double-merge

    # new data after the restart still merges exactly once
    ts.add_elements([{"t": "2024-01-01 00:40:00", "k": "a", "v": 4.0}])
    run()
    rows = {r["k"]: (r["n"], r["s"])
            for r in spark.read.parquet(out).collect()}
    assert rows["a"] == (3, 7.0)


def test_continuous_aggregate_mid_batch_crash_replay_idempotent(
        spark, tmp_path):
    """Crash AFTER the parquet overwrite but BEFORE the checkpoint
    commit replays the same micro-batch with the SAME batch_id. The
    __batch_id stamp on every written partition lets the upsert detect
    the partitions that already absorbed this batch and drop the
    batch's contribution to them — re-applying must be a no-op."""
    from beam_spark.streaming.core import ContinuousAggregate

    out = str(tmp_path / "ca")
    ca = ContinuousAggregate(out, "t", {"hour": 3600},
                             {"n": "count", "s": "sum:v"}, keys=["k"])

    def batch(rows):
        return spark.createDataFrame(
            rows, "t string, k string, v double").selectExpr(
            "CAST(t AS TIMESTAMP) AS t", "k", "v")

    b0 = batch([("2024-01-01 00:10:00", "a", 1.0)])
    b1 = batch([("2024-01-01 00:20:00", "a", 2.0),
                ("2024-01-01 01:05:00", "b", 8.0)])
    ca._upsert(b0, 0)
    ca._upsert(b1, 1)
    state = sorted(map(tuple, spark.read.parquet(out).collect()))
    ca._upsert(b1, 1)              # replay of the committed batch
    ca._upsert(b1, 1)              # and again — still a no-op
    assert sorted(map(tuple,
                      spark.read.parquet(out).collect())) == state
    rows = {r["k"]: (r["n"], r["s"])
            for r in ContinuousAggregate.read(spark, out).collect()}
    assert rows == {"a": (2, 3.0), "b": (1, 8.0)}
    assert "__batch_id" not in ContinuousAggregate.read(spark,
                                                       out).columns
    # a replay with NEW data for an applied bucket (different batch id)
    # still merges normally
    ca._upsert(batch([("2024-01-01 00:50:00", "a", 4.0)]), 2)
    rows = {r["k"]: (r["n"], r["s"])
            for r in ContinuousAggregate.read(spark, out).collect()}
    assert rows["a"] == (3, 7.0)


def test_continuous_aggregate_pair_filter_skips_colliding_sibling(
        spark, tmp_path):
    """Touched partitions are filtered by the exact (granularity,
    bucket_start) PAIR: when granularity g1 has an existing bucket
    whose bucket_start equals a g2 bucket the batch touches, the g1
    sibling's files must not be read-merged-rewritten (pre-fix the
    filter was on bucket_start alone and rewrote it)."""
    import os

    from beam_spark.streaming.core import ContinuousAggregate

    out = str(tmp_path / "ca")
    ca = ContinuousAggregate(out, "t", {"g1": 10, "g2": 20},
                             {"n": "count", "s": "sum:v"})

    def batch(epochs):
        return spark.createDataFrame(
            [(e, 1.0) for e in epochs], "e bigint, v double"
        ).selectExpr("CAST(e AS TIMESTAMP) AS t", "v")

    # epoch 25 -> (g1, 20) and (g2, 20)
    ca._upsert(batch([25]), 0)
    sib = os.path.join(out, "granularity=g1", "bucket_start=20")
    before = sorted(os.listdir(sib))
    # epoch 30 -> touches (g1, 30) and (g2, 20) — bucket_start 20
    # collides with the existing (g1, 20) partition, which this batch
    # does NOT touch
    ca._upsert(batch([30]), 1)
    assert sorted(os.listdir(sib)) == before      # files untouched
    got = {(r["granularity"], r["bucket_start"]): (r["n"], r["s"])
           for r in ContinuousAggregate.read(spark, out).collect()}
    assert got == {("g1", 20): (1, 1.0), ("g1", 30): (1, 1.0),
                   ("g2", 20): (2, 2.0)}


def test_continuous_aggregate_on_update_emits_post_merge_deltas(
        spark, tmp_path):
    """on_update is the update-mode changelog: per batch it receives
    the POST-merge rows of exactly the partitions the batch changed —
    each emission must match the table state for those buckets right
    after the batch, and a replayed (already-applied) batch must emit
    nothing."""
    from beam_spark.streaming.core import ContinuousAggregate

    out = str(tmp_path / "ca")
    emitted = []
    ca = ContinuousAggregate(
        out, "t", {"hour": 3600}, {"n": "count", "s": "sum:v"},
        keys=["k"],
        on_update=lambda df, bid: emitted.append(
            (bid, {(r["k"], r["bucket_start"]): (r["n"], r["s"])
                   for r in df.collect()})))

    def batch(rows):
        return spark.createDataFrame(
            rows, "t string, k string, v double").selectExpr(
            "CAST(t AS TIMESTAMP) AS t", "k", "v")

    ca._upsert(batch([("2024-01-01 00:10:00", "a", 1.0)]), 0)
    ca._upsert(batch([("2024-01-01 00:20:00", "a", 2.0),
                      ("2024-01-01 01:05:00", "b", 8.0)]), 1)
    h0 = 1704067200
    assert emitted == [
        (0, {("a", h0): (1, 1.0)}),
        # batch 1 emits the MERGED hour-0 row (n=2) plus the new hour-1
        (1, {("a", h0): (2, 3.0), ("b", h0 + 3600): (1, 8.0)}),
    ]
    emitted.clear()
    ca._upsert(batch([("2024-01-01 00:20:00", "a", 2.0),
                      ("2024-01-01 01:05:00", "b", 8.0)]), 1)
    assert emitted == []          # replay: table unchanged, no delta


def test_continuous_aggregate_read_gapfilled(spark, tmp_path):
    """read_gapfilled(): the maintained table surfaces as a DENSE
    per-key series for one granularity — gaps marked and filled per
    GapFill semantics; unknown granularities rejected."""
    import pytest as _pytest
    from beam_spark.streaming.core import ContinuousAggregate

    out = str(tmp_path / "ca")
    ca = ContinuousAggregate(out, "t", {"hour": 3600, "day": 86400},
                             {"n": "count", "s": "sum:v"}, keys=["k"])
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", "a", 1.0),
         ("2024-01-01 03:20:00", "a", 7.0)],
        "t string, k string, v double").selectExpr(
        "CAST(t AS TIMESTAMP) AS t", "k", "v")
    ca._upsert(df, 0)
    h0 = 1704067200
    dense = {r["bucket_start"]: (r["n"], r["s"], r["filled"]) for r in
             ca.read_gapfilled(spark, "hour", fill="locf").collect()}
    assert set(dense) == {h0, h0 + 3600, h0 + 7200, h0 + 10800}
    assert dense[h0] == (1, 1.0, False)
    assert dense[h0 + 3600] == (1, 1.0, True)      # locf-carried gap
    assert dense[h0 + 10800] == (1, 7.0, False)
    # day granularity untouched by the hour spine
    day = ca.read_gapfilled(spark, "day").collect()
    assert len(day) == 1 and day[0]["filled"] is False
    with _pytest.raises(ValueError, match="unknown granularity"):
        ca.read_gapfilled(spark, "week")


def test_continuous_aggregate_expire_drops_old_buckets(spark, tmp_path):
    """expire() is the drop-chunks retention policy: partitions whose
    window END predates now - older_than[granularity] are deleted,
    per-granularity, leaving the rest byte-identical."""
    from beam_spark.streaming.core import ContinuousAggregate

    out = str(tmp_path / "ca")
    ca = ContinuousAggregate(out, "t", {"hour": 3600, "day": 86400},
                             {"n": "count"})
    df = spark.createDataFrame(
        [("2024-01-01 05:00:00",), ("2024-01-03 05:00:00",),
         ("2024-01-05 05:00:00",)], "t string"
    ).selectExpr("CAST(t AS TIMESTAMP) AS t")
    ca._upsert(df, 0)
    import calendar
    now = calendar.timegm((2024, 1, 5, 12, 0, 0))
    # keep hours for 1 day, days for 3 days
    dropped = ca.expire(spark, {"hour": 86400, "day": 3 * 86400},
                        now=now)
    d1 = calendar.timegm((2024, 1, 1, 0, 0, 0))
    d3 = d1 + 2 * 86400
    assert sorted(dropped) == [
        ("day", d1), ("hour", d1 + 5 * 3600), ("hour", d3 + 5 * 3600)]
    left = {(r["granularity"], r["bucket_start"])
            for r in ContinuousAggregate.read(spark, out).collect()}
    assert left == {("hour", calendar.timegm((2024, 1, 5, 5, 0, 0))),
                    ("day", d3), ("day", d3 + 2 * 86400)}
    # idempotent: nothing left to drop
    assert ca.expire(spark, {"hour": 86400, "day": 3 * 86400},
                     now=now) == []


def test_continuous_aggregate_scheduled_retention(spark, tmp_path):
    """retention= runs expire() inside the upsert loop every
    retention_every batches with an EVENT-TIME now (max bucket end
    seen): old fine-granularity partitions disappear as the stream's
    event clock advances, without any external maintenance call;
    validation rejects unknown granularities and a bad cadence."""
    import calendar

    import pytest as _pytest

    from beam_spark.streaming.core import ContinuousAggregate

    out = str(tmp_path / "ca_ret")
    ca = ContinuousAggregate(
        out, "t", {"hour": 3600, "day": 86400}, {"n": "count"},
        retention={"hour": 86400}, retention_every=1)

    def batch(*ts):
        return spark.createDataFrame(
            [(t,) for t in ts], "t string").selectExpr(
            "CAST(t AS TIMESTAMP) AS t")

    ca._upsert(batch("2024-01-01 05:00:00"), 0)
    # batch 0: nothing old enough yet
    left = {(r["granularity"], r["bucket_start"])
            for r in ContinuousAggregate.read(spark, out).collect()}
    d1 = calendar.timegm((2024, 1, 1, 0, 0, 0))
    assert ("hour", d1 + 5 * 3600) in left

    # batch 1 advances the event clock 3 days: the day-1 hour bucket
    # now predates now - 1 day and is dropped in-loop; day
    # granularity has no retention entry and keeps everything
    ca._upsert(batch("2024-01-04 07:00:00"), 1)
    left = {(r["granularity"], r["bucket_start"])
            for r in ContinuousAggregate.read(spark, out).collect()}
    assert ("hour", d1 + 5 * 3600) not in left
    assert ("hour", d1 + 3 * 86400 + 7 * 3600) in left
    assert ("day", d1) in left and ("day", d1 + 3 * 86400) in left

    with _pytest.raises(ValueError, match="unknown granularities"):
        ContinuousAggregate(out, "t", {"hour": 3600}, {"n": "count"},
                            retention={"week": 1})
    with _pytest.raises(ValueError, match="retention_every"):
        ContinuousAggregate(out, "t", {"hour": 3600}, {"n": "count"},
                            retention={"hour": 1}, retention_every=0)


def test_group_into_batches_bytes_streaming_equals_batch_rule(spark):
    """Byte-budget batching on a STREAM: the state-carried cumulative
    byte count makes batch boundaries equal the batch-mode
    floor(preceding_cum/B) rule regardless of micro-batch splits —
    the residual buffer stays in state (same as count mode);
    validation: exactly one of batch_size/max_bytes."""
    import pytest as _pytest

    from beam_spark.streaming.core import (GroupIntoBatches, TestStream,
                                           WriteStreamToMemory)
    from beam_spark.pcollection import PCollection

    # values sized 6,6,0(NULL),6,6,3 bytes; B=10 -> bids 0,0,1,1,1,2:
    # batches [v1,v2], [NULL,v3,v4]; v5 (bid 2) stays buffered.
    # NULL rule on both sides: 0 bytes, stays in sequence.
    vals = ["aaaaaa", "bbbbbb", None, "cccccc", "dddddd", "eee"]
    ts = TestStream(spark, "t timestamp, k string, v string")
    # adversarial split: batch boundary mid-batch
    ts.add_elements([{"t": "2024-01-01 00:00:01", "k": "u", "v": vals[0]}])
    ts.add_elements([{"t": "2024-01-01 00:00:02", "k": "u", "v": vals[1]},
                     {"t": "2024-01-01 00:00:03", "k": "u", "v": vals[2]},
                     {"t": "2024-01-01 00:00:04", "k": "u", "v": vals[3]}])
    ts.add_elements([{"t": "2024-01-01 00:00:05", "k": "u", "v": vals[4]},
                     {"t": "2024-01-01 00:00:06", "k": "u", "v": vals[5]}])
    out = (ts.stream()
           | GroupIntoBatches("k", None, "v", max_bytes=10)
           | WriteStreamToMemory(output_mode="append"))
    s_rows = sorted((r["batch_index"], list(r["batch"]))
                    for r in out.collect())
    assert s_rows == [(0, ["aaaaaa", "bbbbbb"]),
                      (1, [None, "cccccc", "dddddd"])]

    # batch-mode parity on the same rows: identical batch_index AND
    # contents for every batch the stream has released (the stream's
    # residual bid-2 buffer is the only difference)
    bdf = spark.createDataFrame(
        [(f"2024-01-01 00:00:0{i+1}", "u", v) for i, v in enumerate(vals)],
        "t string, k string, v string").selectExpr(
        "CAST(t AS TIMESTAMP) AS t", "k", "v")
    b_out = (PCollection(bdf) | GroupIntoBatches(
        "k", None, "v", max_bytes=10, order_by=["t"])).df
    b_rows = sorted((r["batch_index"], list(r["batch"]))
                    for r in b_out.collect())
    assert b_rows == s_rows + [(2, ["eee"])]

    with _pytest.raises(ValueError, match="exactly one"):
        GroupIntoBatches("k", 10, "v", max_bytes=10)
    with _pytest.raises(ValueError, match="exactly one"):
        GroupIntoBatches("k", None, "v")


def test_group_into_batches_bytes_nan_and_arrays_match_batch(spark, tmp_path):
    """Byte sizes are computed JVM-side with batch mode's exact
    expression, so (a) a genuine double NaN counts cast('NaN')=3
    bytes in BOTH modes (the old Python vbytes counted 0 on streams),
    and (b) array-typed value columns batch without raising (the old
    ``v != v`` check blew up on numpy arrays)."""
    import math

    from beam_spark.pcollection import PCollection
    from beam_spark.streaming.core import (GroupIntoBatches, TestStream,
                                           WriteStreamToFiles,
                                           WriteStreamToMemory)

    # doubles: sizes 3 ("1.5"), 3 ("NaN"), 4 ("2.25"), 3 ("7.0"),
    # 3 ("8.0"); B=6 -> bids 0,0,1,1,2 (NULL=0-byte coverage lives in
    # the string-typed test above; a NULL double inside the emitted
    # batch array trips a memory-sink decode quirk unrelated to the
    # boundary rule)
    vals = [1.5, float("nan"), 2.25, 7.0, 8.0]
    ts = TestStream(spark, "t timestamp, k string, v double")
    ts.add_elements([{"t": f"2024-01-01 00:00:0{i+1}", "k": "u", "v": v}
                     for i, v in enumerate(vals[:2])])
    ts.add_elements([{"t": f"2024-01-01 00:00:0{i+3}", "k": "u", "v": v}
                     for i, v in enumerate(vals[2:])])
    # parquet sink, not the memory sink: Spark's memory-sink row
    # decoder crashes on a null element inside array<double> (NaN in
    # the emitted batch list crosses Arrow as null) — real sinks
    # handle it
    (ts.stream()
     | GroupIntoBatches("k", None, "v", max_bytes=6)
     | WriteStreamToFiles(str(tmp_path / "nan_out")))

    def norm(x):
        # NaN crosses the Arrow transfer as NULL inside the emitted
        # array — either form means "the NaN element" here
        return ("nan" if x is None or (isinstance(x, float)
                                       and math.isnan(x)) else x)

    s_rows = sorted(
        (r["batch_index"], [norm(v) for v in r["batch"]])
        for r in spark.read.parquet(str(tmp_path / "nan_out")).collect())
    assert s_rows == [(0, [1.5, "nan"]), (1, [2.25, 7.0])]

    bdf = spark.createDataFrame(
        [(f"2024-01-01 00:00:0{i+1}", "u", v) for i, v in enumerate(vals)],
        "t string, k string, v double").selectExpr(
        "CAST(t AS TIMESTAMP) AS t", "k", "v")
    b_out = (PCollection(bdf) | GroupIntoBatches(
        "k", None, "v", max_bytes=6, order_by=["t"])).df
    b_rows = sorted((r["batch_index"], len(r["batch"]))
                    for r in b_out.collect())
    assert b_rows == [(0, 2), (1, 2), (2, 1)]

    # array-typed values: cast(array<int> as string) = "[1, 2]" etc;
    # must not raise, boundaries must equal batch mode's
    avals = [[1, 2], [3], None, [4, 5, 6]]
    ts2 = TestStream(spark, "t timestamp, k string, v array<int>")
    ts2.add_elements([{"t": f"2024-01-01 00:00:0{i+1}", "k": "u", "v": v}
                      for i, v in enumerate(avals)])
    out2 = (ts2.stream()
            | GroupIntoBatches("k", None, "v", max_bytes=8)
            | WriteStreamToMemory(output_mode="append"))
    s2 = sorted((r["batch_index"],
                 [None if v is None else list(v) for v in r["batch"]])
                for r in out2.collect())
    bdf2 = spark.createDataFrame(
        [(f"2024-01-01 00:00:0{i+1}", "u", v) for i, v in enumerate(avals)],
        "t string, k string, v array<int>").selectExpr(
        "CAST(t AS TIMESTAMP) AS t", "k", "v")
    b2_full = sorted((r["batch_index"],
                      [None if v is None else list(v) for v in r["batch"]])
                     for r in (PCollection(bdf2) | GroupIntoBatches(
                         "k", None, "v", max_bytes=8,
                         order_by=["t"])).df.collect())
    # the stream's trailing partial batch stays in state
    assert s2 == b2_full[:len(s2)]
    assert len(s2) >= 1


def test_group_into_batches_max_buffering_duration_count(spark):
    """Beam's withMaxBufferingDuration (util.py:1936-2149): a partial
    batch flushes once the watermark passes first-buffered-element
    time + duration, instead of waiting forever for batch_size
    elements. Full batches keep the batch-mode boundary rule."""
    import pytest as _pytest

    from beam_spark.pcollection import PCollection
    from beam_spark.streaming.core import (GroupIntoBatches, TestStream,
                                           WithWatermark,
                                           WriteStreamToMemory)

    ts = TestStream(spark, "t timestamp, k string, v string")
    # batch 1: 4 elements for u -> one full batch of 3 + 1 buffered
    # (timeout armed at 00:00:04 + 5s = 00:00:09)
    ts.add_elements([{"t": f"2024-01-01 00:00:0{i}", "k": "u",
                      "v": f"v{i}"} for i in (1, 2, 3, 4)])
    # batch 2 advances the watermark to 00:00:59 (delay 1s)...
    ts.add_elements([{"t": "2024-01-01 00:01:00", "k": "w", "v": "x"}])
    # ...batch 3 runs WITH that watermark -> u's timeout fires
    ts.add_elements([{"t": "2024-01-01 00:02:00", "k": "w2", "v": "y"}])
    out = (ts.stream()
           | WithWatermark("t", "1 seconds")
           | GroupIntoBatches("k", 3, "v", max_buffering_duration=5.0)
           | WriteStreamToMemory(output_mode="append"))
    u_rows = sorted(list(r["batch"]) for r in out.collect()
                    if r["k"] == "u")
    assert u_rows == [["v1", "v2", "v3"], ["v4"]]

    # knob validation: needs an event-time column, positive duration
    with _pytest.raises(ValueError, match="event-time"):
        (ts.stream() | GroupIntoBatches(
            "k", 3, "v", max_buffering_duration=5.0))
    with _pytest.raises(ValueError, match="> 0"):
        GroupIntoBatches("k", 3, "v", max_buffering_duration=0)


def test_group_into_batches_max_buffering_duration_bytes(spark):
    """Byte mode + max_buffering_duration: the timeout flush closes
    the open batch_index early and advances the byte cursor to the
    next budget boundary, so the next element opens a FRESH
    batch_index — no two output rows share one."""
    from beam_spark.pcollection import PCollection
    from beam_spark.streaming.core import (GroupIntoBatches, TestStream,
                                           WithWatermark,
                                           WriteStreamToMemory)

    ts = TestStream(spark, "t timestamp, k string, v string")
    ts.add_elements([{"t": "2024-01-01 00:00:01", "k": "u",
                      "v": "aaaaaa"}])                       # 6 bytes, bid 0
    ts.add_elements([{"t": "2024-01-01 00:01:00", "k": "w", "v": "x"}])
    ts.add_elements([{"t": "2024-01-01 00:02:00", "k": "w2", "v": "y"}])
    # after u's flush the cursor rounds 6 -> 10; this opens bid 1
    ts.add_elements([{"t": "2024-01-01 00:03:00", "k": "u",
                      "v": "dddddd"}])
    ts.add_elements([{"t": "2024-01-01 00:04:00", "k": "w3", "v": "z"}])
    ts.add_elements([{"t": "2024-01-01 00:05:00", "k": "w4", "v": "q"}])
    out = (ts.stream()
           | WithWatermark("t", "1 seconds")
           | GroupIntoBatches("k", None, "v", max_bytes=10,
                              max_buffering_duration=5.0)
           | WriteStreamToMemory(output_mode="append"))
    u_rows = sorted((r["batch_index"], list(r["batch"]))
                    for r in out.collect() if r["k"] == "u")
    assert u_rows == [(0, ["aaaaaa"]), (1, ["dddddd"])]


def test_streaming_upsert_sink(spark, tmp_path):
    """Keyed snapshot maintenance from a changelog stream: three
    micro-batches (insert, update+insert with two same-key versions,
    delete) leave exactly the expected snapshot; old generations are
    pruned; and the marker records (batch_id, prev) so a foreachBatch
    REPLAY of the last batch — re-merged onto the predecessor
    generation, which is what the sink does when marker.batch_id
    matches — reproduces the identical snapshot (idempotent)."""
    import glob
    import json
    import os

    from beam_spark.operators.scd import MergeInto
    from beam_spark.pcollection import PCollection
    from beam_spark.streaming.core import (TestStream,
                                           read_upsert_snapshot,
                                           write_stream_upsert)

    path = str(tmp_path / "upsert")
    ts = TestStream(spark, "ts timestamp, k long, v double, op string")
    ts.add_elements([
        {"ts": "2024-01-01 00:00:01", "k": 1, "v": 10.0, "op": "U"},
        {"ts": "2024-01-01 00:00:02", "k": 2, "v": 20.0, "op": "U"}])
    ts.add_elements([
        # two versions of k=1 in ONE batch: the later ts wins
        {"ts": "2024-01-01 00:01:00", "k": 1, "v": 11.0, "op": "U"},
        {"ts": "2024-01-01 00:01:30", "k": 1, "v": 12.0, "op": "U"},
        {"ts": "2024-01-01 00:01:10", "k": 3, "v": 30.0, "op": "U"}])
    ts.add_elements([
        {"ts": "2024-01-01 00:02:00", "k": 2, "v": 0.0, "op": "D"}])

    write_stream_upsert(ts.stream(), path, keys="k", order_by="ts",
                        delete_where="op = 'D'")
    snap = {r["k"]: r["v"]
            for r in read_upsert_snapshot(spark, path).collect()}
    assert snap == {1: 12.0, 3: 30.0}          # k=2 deleted, k=1 updated

    # pruning: at most the current + predecessor generations remain
    gens = sorted(os.path.basename(d)
                  for d in glob.glob(path + "/gen=*"))
    assert len(gens) <= 2 and gens[-1] == "gen=00000002"

    # replay idempotency: the marker points the replayed batch at its
    # PREDECESSOR generation; re-merging batch 2 onto it must yield
    # the same snapshot
    with open(path + "/_CURRENT") as f:
        cur = json.load(f)
    assert cur["batch_id"] == 2 and cur["prev"] == "gen=00000001"
    prev = spark.read.parquet(os.path.join(path, cur["prev"]))
    batch2 = spark.createDataFrame(
        [("2024-01-01 00:02:00", 2, 0.0, "D")],
        "ts string, k long, v double, op string").selectExpr(
        "CAST(ts AS TIMESTAMP) AS ts", "k", "v", "op")
    replay = (PCollection(prev) | MergeInto(
        batch2.where("op = 'D'"), keys="k", when_matched="delete",
        when_not_matched=None, validate=False)).df
    assert {r["k"]: r["v"] for r in replay.collect()} == snap


def test_streaming_scoring_with_trained_models(spark):
    """Train-inside-Spark models score unbounded streams natively:
    LogisticFit's decision_column is a pure Catalyst expression, so
    attaching it to a TestStream micro-batch flow needs no special
    path; NB model/prior frames join stream-static. Here: fit on a
    separable batch, score streamed rows, check the stream's scores
    rank the positive above the negative."""
    from beam_spark.ml.logistic import LogisticFit
    from beam_spark.pcollection import PCollection

    train = spark.createDataFrame(
        [(float(x) / 4.0, x > 0) for x in range(-8, 9) if x != 0],
        "x double, y boolean")
    fit = LogisticFit("x", "y", iterations=10, lr=0.5)
    (PCollection(train) | fit)          # fit populates weights_

    ts = TestStream(spark, "id long, x double")
    ts.add_elements([{"id": 1, "x": 2.0}, {"id": 2, "x": -2.0}])
    scored = ts.stream()
    scored = scored.with_df(
        scored.df.withColumn("p", fit.decision_column()))
    pc = scored | WriteStreamToMemory(output_mode="append")
    rows = {r["id"]: r["p"] for r in pc.collect()}
    assert rows[1] > 0.5 > rows[2]


def test_continuous_aggregate_pair_cond_scales_past_jvm_stack(spark):
    """Round-13 regression: a catch-up batch touching thousands of
    (granularity, bucket) pairs must compile to a flat IN predicate —
    the per-pair OR chain overflowed the JVM stack past ~3k pairs
    (java.lang.StackOverflowError in Catalyst's left-deep recursion,
    found running examples/timeseries_rollup.py at sf0.01)."""
    import datetime

    from beam_spark.streaming.core import ContinuousAggregate

    pairs = [("hour", datetime.datetime(2024, 1, 1)
              + datetime.timedelta(hours=i)) for i in range(4000)] \
        + [("day", datetime.datetime(2024, 1, 1)
            + datetime.timedelta(days=i)) for i in range(200)]
    cond = ContinuousAggregate._pair_cond(pairs)
    df = spark.createDataFrame(
        [("hour", datetime.datetime(2024, 1, 1), 1),
         ("hour", datetime.datetime(2030, 1, 1), 2),
         ("day", datetime.datetime(2024, 1, 5), 3),
         ("week", datetime.datetime(2024, 1, 1), 4)],
        "granularity string, bucket_start timestamp, v int")
    got = {r.v for r in df.filter(cond).collect()}   # no stack overflow
    assert got == {1, 3}
