"""Structured Streaming surface (SURVEY.md §2.7, §1.3, §7 M4).

Beam -> Spark mapping implemented here:

* unbounded PCollection            -> streaming DataFrame (is_bounded=False)
* allowed_lateness                 -> ``withWatermark(ts, delay)``
  (WithWatermark). Beam's watermark is per-PCollection; Spark's is
  per-query min-across-inputs — equivalent to Beam's default
  AfterWatermark trigger in DISCARDING mode (documented divergence,
  SURVEY.md §2.7 "the honest one").
* default trigger windowed agg     -> append-mode windowed groupBy (the
  window operators from operators/window.py work unchanged on streaming
  DataFrames — same column conventions).
* Repeatedly(AfterProcessingTime)  -> update output mode + processingTime
  trigger.
* Deduplicate (TTL dedup, transforms/deduplicate.py:43-131)
                                   -> ``dropDuplicatesWithinWatermark``
* GroupIntoBatches (util.py:1936)  -> batch mode: slice chunks of
  collect_list; streaming: applyInPandasWithState with count/size caps.
* PeriodicImpulse (periodicsequence.py:193) -> rate source.
* TestStream (testing/test_stream.py) -> file-per-microbatch fixture with
  maxFilesPerTrigger=1 + processAllAvailable (deterministic batches).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from typing import Callable, Iterable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from beam_spark.pcollection import PBegin, PCollection, PTransform


class ReadRateStream(PTransform):
    """PeriodicImpulse/PeriodicSequence -> rate source (rows: timestamp,
    value)."""

    def __init__(self, rows_per_second: int = 10, label=None):
        super().__init__(label)
        self.rps = rows_per_second

    def expand(self, pbegin: PBegin) -> PCollection:
        df = (pbegin.spark.readStream.format("rate")
              .option("rowsPerSecond", self.rps).load())
        return PCollection(df, pipeline=getattr(pbegin, "pipeline", None),
                           is_bounded=False, ts_col="timestamp")


class ReadFromSocket(PTransform):
    """Unbounded text-socket source (the Pub/Sub-class adapter shape:
    reference io/gcp/pubsub.py:210 ReadFromPubSub — payload + arrival
    timestamp; attributes become upstream JSON in the payload).

    Emits (value string, ts timestamp=arrival processing time). Spark's
    socket source is dev-grade (no replay); the production analogs are
    ReadFromKafka (offsets = Beam's acked subscription) and
    ReadFileStream. The column contract is the same for all three, so a
    pipeline developed against this source swaps sources unchanged.
    """

    def __init__(self, host: str = "localhost", port: int = 9999, label=None):
        super().__init__(label)
        self.host, self.port = host, port

    def expand(self, pbegin: PBegin) -> PCollection:
        df = (pbegin.spark.readStream.format("socket")
              .option("host", self.host).option("port", self.port)
              .option("includeTimestamp", True).load())
        return PCollection(df, pipeline=getattr(pbegin, "pipeline", None),
                           is_bounded=False, ts_col="timestamp")


class ReadFileStream(PTransform):
    """Streaming directory watch (Beam MatchContinuously / Watch.growthOf,
    io/fileio.py:254): new files become new micro-batch input."""

    def __init__(self, path: str, fmt: str = "parquet", schema=None,
                 max_files_per_trigger: int | None = None, label=None, **options):
        super().__init__(label)
        self.path, self.fmt, self.schema = path, fmt, schema
        self.max_files = max_files_per_trigger
        self.options = options

    def expand(self, pbegin: PBegin) -> PCollection:
        reader = pbegin.spark.readStream.format(self.fmt).options(**self.options)
        if self.schema is not None:
            reader = reader.schema(self.schema)
        if self.max_files:
            reader = reader.option("maxFilesPerTrigger", self.max_files)
        df = reader.load(self.path)
        return PCollection(df, pipeline=getattr(pbegin, "pipeline", None),
                           is_bounded=False)


class WithWatermark(PTransform):
    """allowed_lateness (beam_runner_api.proto:1192): rows later than
    max(event time seen) - delay are dropped by stateful operators."""

    def __init__(self, ts_col: str, delay: str = "10 seconds", label=None):
        super().__init__(label)
        self.ts_col, self.delay = ts_col, delay

    def expand(self, pcoll: PCollection) -> PCollection:
        df = pcoll.df.withWatermark(self.ts_col, self.delay)
        return pcoll.with_df(df, ts_col=self.ts_col)


class Deduplicate(PTransform):
    """TTL dedup (transforms/deduplicate.py:43-131): drop repeats of the
    key columns within the watermark horizon —
    ``dropDuplicatesWithinWatermark`` is the 1:1 native operator.
    On bounded inputs falls back to plain dropDuplicates."""

    def __init__(self, *key_cols: str, label=None):
        super().__init__(label)
        self.key_cols = list(key_cols)

    def expand(self, pcoll: PCollection) -> PCollection:
        if pcoll.is_bounded:
            return pcoll.with_df(pcoll.df.dropDuplicates(self.key_cols))
        return pcoll.with_df(
            pcoll.df.dropDuplicatesWithinWatermark(self.key_cols))


class GroupIntoBatches(PTransform):
    """util.py:1936 / GroupIntoBatches.java: batch values per key with a
    max count — or a max BYTE budget (GroupIntoBatches.ofByteSize).

    Batch mode: count caps collect per key then slice into chunks
    JVM-side (one shuffle; per-group memory bounded by the group, as
    in Beam's batch expansion); byte caps assign each value the batch
    ``floor(preceding_cumulative_bytes / max_bytes)`` over a
    deterministic ``order_by`` window — a batch may exceed the budget
    by its last element, Beam's own ofByteSize contract. Streaming
    mode: applyInPandasWithState accumulating per key; the byte
    variant carries the key's cumulative byte count in state so
    streaming batch boundaries equal the batch-mode rule regardless
    of micro-batch splits. Byte size = octet_length of the value's
    string form, NULL = 0 bytes and stays in sequence (document/
    payload columns; pass binary as base64 upstream if exact wire
    bytes matter). Both the batch and streaming BYTE modes emit
    ``batch_index``; count-cap batching (``batch_size``) emits no
    batch_index in either mode.

    ``max_buffering_duration`` (seconds; Beam's
    withMaxBufferingDuration, util.py:1936-2149 /
    beam_runner_api.proto:834-845): on STREAMS, a partial batch stops
    waiting for more input once the watermark passes
    first-buffered-element-time + duration — an EVENT-TIME timeout
    (Beam uses a processing-time buffering timer; with availableNow
    triggers processing-time timers block termination, the documented
    AfterProcessingTime divergence, so the flush clock here is the
    watermark). Needs an event-time column: ``ts_col=`` or a
    watermarked input (WithWatermark threads ``pcoll.ts_col``).
    Full batches keep the exact batch-mode boundary rule; a timeout
    flush emits the open partial batch as-is, and in byte mode
    advances the byte cursor to the next budget boundary so the next
    element opens a FRESH batch_index (two rows never share one).
    Bounded inputs ignore the knob — batch mode always flushes every
    residue at the end, which is Beam's batch-runner behavior too.
    """

    def __init__(self, key_cols, batch_size: int | None, value_col: str,
                 max_bytes: int | None = None, order_by=None,
                 max_buffering_duration: float | None = None,
                 ts_col: str | None = None, label=None):
        super().__init__(label)
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.batch_size, self.value_col = batch_size, value_col
        self.max_bytes = None if max_bytes is None else int(max_bytes)
        self.order_by = ([order_by] if isinstance(order_by, str)
                         else list(order_by) if order_by else None)
        if (self.batch_size is None) == (self.max_bytes is None):
            raise ValueError(
                "exactly one of batch_size / max_bytes must be set")
        if (max_buffering_duration is not None
                and float(max_buffering_duration) <= 0):
            raise ValueError("max_buffering_duration must be > 0 seconds")
        self.max_buffering_duration = (
            None if max_buffering_duration is None
            else float(max_buffering_duration))
        self.ts_col = ts_col

    def expand(self, pcoll: PCollection) -> PCollection:
        n = self.batch_size
        if not pcoll.is_bounded:
            return self._expand_streaming(pcoll)
        if self.max_bytes is not None:
            from pyspark.sql import Window

            if not self.order_by:
                raise ValueError(
                    "max_bytes batching needs order_by for "
                    "deterministic batch boundaries")
            keys, vcol, b = self.key_cols, self.value_col, self.max_bytes
            w = Window.partitionBy(*keys).orderBy(*self.order_by)
            # NULL rule (both modes): a NULL value contributes 0 bytes
            # and stays in sequence — without the coalesce, NULL's
            # octet_length is NULL, poisoning the cumsum and collapsing
            # all NULL rows into a separate NULL-bid group (while the
            # streaming path counted len("None")=4); normalized so
            # batch and streaming boundaries agree on NULL-bearing data
            size = F.octet_length(F.coalesce(
                F.col(vcol).cast("string"), F.lit("")))
            cum_excl = (F.sum(size).over(
                w.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)) - size)
            ocols = ", ".join(self.order_by)
            out = (pcoll.df
                   .withColumn("__bid",
                               F.floor(cum_excl / F.lit(b)).cast("int"))
                   .groupBy(*keys, "__bid")
                   .agg(F.expr(
                       f"transform(sort_array(collect_list("
                       f"struct({ocols}, {vcol}))), x -> x.{vcol})")
                       .alias("batch"))
                   .withColumnRenamed("__bid", "batch_index"))
            return pcoll.with_df(out)
        grouped = (pcoll.df.groupBy(*self.key_cols)
                   .agg(F.collect_list(self.value_col).alias("__all")))
        batches = grouped.select(
            *self.key_cols,
            F.explode(F.expr(
                f"transform(sequence(0, (size(__all) - 1) div {n}), "
                f"i -> slice(__all, i * {n} + 1, {n}))")).alias("batch"))
        return pcoll.with_df(batches)

    def _expand_streaming(self, pcoll: PCollection) -> PCollection:
        import pandas as pd
        from pyspark.sql.streaming.state import GroupStateTimeout

        n = self.batch_size
        vcol = self.value_col
        keys = self.key_cols
        sample_field = pcoll.df.schema[vcol]
        key_ddl = ", ".join(
            f"{k} {pcoll.df.schema[k].dataType.simpleString()}"
            for k in keys)
        out_schema = (f"{key_ddl}, "
                      f"batch array<{sample_field.dataType.simpleString()}>")
        if self.max_bytes is not None:
            # byte mode emits batch_index (same columns as batch mode)
            return self._expand_streaming_bytes(
                pcoll,
                f"{key_ddl}, batch_index int, "
                f"batch array<{sample_field.dataType.simpleString()}>")
        state_schema = (f"buf array<{sample_field.dataType.simpleString()}>,"
                        f" first_ts bigint")
        dur_ms, tsc = self._buffering_clock(pcoll)

        def fn(key, pdfs: Iterable["pd.DataFrame"], state):
            if state.hasTimedOut:
                # max_buffering_duration expired: flush the partial
                # batch instead of waiting for batch_size elements
                buf = list(state.get[0]) if state.exists else []
                state.remove()
                if buf:
                    yield pd.DataFrame(
                        [{**dict(zip(keys, key)), "batch": buf}])
                return
            if state.exists:
                buf, first_ts = list(state.get[0]), int(state.get[1])
            else:
                buf, first_ts = [], 0
            out = []
            for pdf in pdfs:
                ts_ms = ((pdf[tsc].astype("int64")
                          // 1_000_000).tolist() if tsc
                         else [0] * len(pdf))
                for v, t in zip(pdf[vcol], ts_ms):
                    if not buf:
                        first_ts = t
                    buf.append(v.tolist() if hasattr(v, "tolist")
                               else v)
                    if len(buf) >= n:
                        out.append(buf)
                        buf = []
            # Count-cap semantics: full batches emit immediately; the
            # remainder waits in state for more input, or — with
            # max_buffering_duration — until the watermark passes
            # first-element-time + duration.
            if buf:
                state.update((buf, first_ts))
                if dur_ms is not None:
                    wm = state.getCurrentWatermarkMs()
                    state.setTimeoutTimestamp(
                        max(first_ts + dur_ms, wm + 1))
            else:
                state.remove()
            if out:
                yield pd.DataFrame(
                    [{**dict(zip(keys, key)), "batch": b} for b in out])

        out = (pcoll.df.groupBy(*keys)
               .applyInPandasWithState(
                   fn, outputStructType=out_schema,
                   stateStructType=state_schema,
                   outputMode="append",
                   timeoutConf=(GroupStateTimeout.EventTimeTimeout
                                if dur_ms is not None
                                else GroupStateTimeout.NoTimeout)))
        return pcoll.with_df(out)

    def _buffering_clock(self, pcoll: PCollection):
        """(duration_ms, ts_col) for max_buffering_duration, or
        (None, None) when the knob is off."""
        if self.max_buffering_duration is None:
            return None, None
        tsc = self.ts_col or pcoll.ts_col
        if not tsc:
            raise ValueError(
                "max_buffering_duration needs an event-time column: "
                "pass ts_col= or apply WithWatermark upstream (which "
                "threads it)")
        return int(self.max_buffering_duration * 1000), tsc

    def _expand_streaming_bytes(self, pcoll: PCollection,
                                out_schema: str) -> PCollection:
        """Byte-budget streaming batching: state carries (buffer,
        cumulative bytes ever seen for the key, cum at buffer start),
        so batch boundaries are the SAME floor(preceding_cum /
        max_bytes) rule as batch mode — independent of how rows split
        across micro-batches. Per-value byte sizes are computed
        JVM-side with the IDENTICAL expression batch mode uses
        (octet_length(coalesce(cast(v as string), ''))), so the two
        modes cannot diverge on NaN / NULL / array-typed values —
        Spark's cast, not Python's str(), decides the byte count.

        With ``max_buffering_duration``, a timeout flush emits the
        open partial batch and advances the byte cursor to the next
        budget boundary, so the next element opens a FRESH
        batch_index — two output rows never share an index."""
        import pandas as pd
        from pyspark.sql.streaming.state import GroupStateTimeout

        b = self.max_bytes
        vcol = self.value_col
        keys = self.key_cols
        sample_field = pcoll.df.schema[vcol]
        state_schema = (f"buf array<{sample_field.dataType.simpleString()}>,"
                        f" cum bigint, open_cum bigint, first_ts bigint")
        sized = pcoll.df.withColumn(
            "__vb", F.octet_length(F.coalesce(
                F.col(vcol).cast("string"), F.lit(""))).cast("long"))
        dur_ms, tsc = self._buffering_clock(pcoll)

        def fn(key, pdfs: Iterable["pd.DataFrame"], state):
            if state.hasTimedOut:
                buf = list(state.get[0]) if state.exists else []
                cum, open_cum = int(state.get[1]), int(state.get[2])
                if buf:
                    # close the open batch early; advance the cursor
                    # UNCONDITIONALLY to the next budget boundary so
                    # the next element starts a new batch_index even
                    # when the flushed batch held only zero-byte
                    # values with the cursor already on a boundary
                    cum = (cum // b + 1) * b
                    state.update(([], cum, cum, 0))
                    yield pd.DataFrame(
                        [{**dict(zip(keys, key)),
                          "batch_index": open_cum // b, "batch": buf}])
                return
            if state.exists:
                buf = list(state.get[0])
                cum, open_cum = int(state.get[1]), int(state.get[2])
                first_ts = int(state.get[3])
            else:
                buf, cum, open_cum, first_ts = [], 0, 0, 0
            bid_open = open_cum // b if buf else None
            out = []
            for pdf in pdfs:
                ts_ms = ((pdf[tsc].astype("int64")
                          // 1_000_000).tolist() if tsc
                         else [0] * len(pdf))
                for v, vb, t in zip(pdf[vcol], pdf["__vb"], ts_ms):
                    bid = cum // b
                    if buf and bid != bid_open:
                        out.append((bid_open, buf))
                        buf = []
                    if not buf:
                        bid_open = bid
                        open_cum = cum
                        first_ts = t
                    # numpy values (array<> columns arrive as ndarray)
                    # don't survive the state row's pickle round-trip
                    buf.append(v.tolist() if hasattr(v, "tolist") else v)
                    cum += int(vb)
            state.update((buf, cum, open_cum, first_ts))
            if buf and dur_ms is not None:
                wm = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(max(first_ts + dur_ms, wm + 1))
            if out:
                yield pd.DataFrame(
                    [{**dict(zip(keys, key)), "batch_index": bi,
                      "batch": bt} for bi, bt in out])

        out = (sized.groupBy(*keys)
               .applyInPandasWithState(
                   fn, outputStructType=out_schema,
                   stateStructType=state_schema,
                   outputMode="append",
                   timeoutConf=(GroupStateTimeout.EventTimeTimeout
                                if dur_ms is not None
                                else GroupStateTimeout.NoTimeout)))
        return pcoll.with_df(out)


class WriteStreamToMemory(PTransform):
    """Test sink: run all available input and return the materialized
    result as a batch DataFrame (the PAssert harness for streams)."""

    def __init__(self, query_name: str | None = None,
                 output_mode: str = "append", label=None):
        super().__init__(label)
        self.query_name = query_name or f"mem_{uuid.uuid4().hex[:8]}"
        self.output_mode = output_mode

    def expand(self, pcoll: PCollection) -> PCollection:
        q = (pcoll.df.writeStream.format("memory")
             .queryName(self.query_name)
             .outputMode(self.output_mode)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        out = pcoll.df.sparkSession.table(self.query_name)
        return PCollection(out, pipeline=pcoll.pipeline, is_bounded=True)


class WriteStreamToFiles(PTransform):
    """Streaming file sink (exactly-once via Spark's commit protocol —
    replaces Beam's WriteFiles temp/rename, fileio.py:668)."""

    def __init__(self, path: str, fmt: str = "parquet",
                 checkpoint: str | None = None, output_mode: str = "append",
                 available_now: bool = True, label=None):
        super().__init__(label)
        self.path, self.fmt = path, fmt
        self.checkpoint = checkpoint or tempfile.mkdtemp(prefix="bs_ckpt_")
        self.output_mode, self.available_now = output_mode, available_now

    def expand(self, pcoll: PCollection):
        w = (pcoll.df.writeStream.format(self.fmt)
             .option("path", self.path)
             .option("checkpointLocation", self.checkpoint)
             .outputMode(self.output_mode))
        if self.available_now:
            w = w.trigger(availableNow=True)
        q = w.start()
        if self.available_now:
            q.awaitTermination()
        return q


def foreach_batch(pcoll: PCollection, fn: Callable[[DataFrame, int], None],
                  available_now: bool = True,
                  checkpoint: str | None = None):
    """foreachBatch escape hatch (Beam's per-pane custom sink). Pass
    ``checkpoint`` for restartable sources: without it a crashed query
    restarts from scratch and re-delivers every batch to ``fn``."""
    w = pcoll.df.writeStream.foreachBatch(fn)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return w.start()


def _parse_delay(delay: str):
    import datetime
    import re

    m = re.fullmatch(r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", delay)
    if not m:
        raise ValueError(f"unparseable delay {delay!r}")
    return datetime.timedelta(**{m.group(2) + "s": int(m.group(1))})


def with_late_output(pcoll: PCollection, ts_col: str, delay: str,
                     on_time_fn: Callable[[DataFrame, int], None],
                     late_fn: Callable[[DataFrame, int], None],
                     available_now: bool = True):
    """Beam late-pane visibility for NATIVE windowed aggs (outside the
    trigger emulator). Spark's watermark silently DROPS rows older than
    max(event time) - delay before stateful aggregations; Beam instead
    marks them as late panes (beam_runner_api.proto:977-1000). This tee
    reproduces Spark's exact dropping criterion — the watermark is the
    running max event time over COMPLETED micro-batches minus ``delay``,
    updated only at batch boundaries, which is precisely when Spark
    advances it — and forks would-be-dropped rows to ``late_fn`` tagged
    with pane metadata (``pane_timing='LATE'`` plus the classifying
    ``__watermark``) instead of losing them. On-time rows go to
    ``on_time_fn`` (apply the windowed agg there per micro-batch, or
    write to the sink that feeds the downstream agg).

    Scale: driver state is ONE timestamp; per-batch work is two filters
    and one max over the batch — no extra shuffle, no per-key state.
    """
    delay_td = _parse_delay(delay)
    state: dict = {"max_ts": None}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            wm = (state["max_ts"] - delay_td
                  if state["max_ts"] is not None else None)
            if wm is None:
                on_time = batch_df
                late = batch_df.limit(0)
            else:
                # null event times go to the ON-TIME branch (a bare
                # `~(ts < wm)` would drop them from BOTH tees — NULL
                # comparisons are NULL, and a tee must never lose rows)
                is_late = F.col(ts_col).isNotNull() & (F.col(ts_col)
                                                       < F.lit(wm))
                late = batch_df.filter(is_late)
                on_time = batch_df.filter(~is_late)
            # typed even when wm is None, so late_fn sinks see a stable
            # schema from the first batch on
            late = (late.withColumn("pane_timing", F.lit("LATE"))
                    .withColumn("__watermark",
                                F.lit(wm).cast("timestamp")))
            late_fn(late, batch_id)
            on_time_fn(on_time, batch_id)
            mx = batch_df.agg(F.max(ts_col)).first()[0]
            if mx is not None and (state["max_ts"] is None
                                   or mx > state["max_ts"]):
                state["max_ts"] = mx
        finally:
            batch_df.unpersist()

    return foreach_batch(pcoll, process, available_now=available_now)


class TestStream:
    """Deterministic scripted stream (testing/test_stream.py): each
    ``add_elements`` call becomes one parquet file; with
    maxFilesPerTrigger=1 the streaming query consumes them as separate
    micro-batches in order. Watermark advancement follows event times,
    exactly like Beam's TestStream with auto-advance."""

    def __init__(self, spark: SparkSession, schema: str):
        self.spark = spark
        self.schema = schema
        self.dir = tempfile.mkdtemp(prefix="bs_teststream_")
        self._n = 0
        self._t0 = None

    # arrow types for the schema fields the scripted streams use; a
    # field outside this map falls back to the Spark write path
    _ARROW_TYPES = None

    @classmethod
    def _arrow_type(cls, dt):
        import pyarrow as pa
        from pyspark.sql import types as T

        if cls._ARROW_TYPES is None:
            cls._ARROW_TYPES = {
                T.LongType: pa.int64(), T.IntegerType: pa.int32(),
                T.ShortType: pa.int16(), T.ByteType: pa.int8(),
                T.DoubleType: pa.float64(), T.FloatType: pa.float32(),
                T.StringType: pa.string(), T.BooleanType: pa.bool_(),
                T.DateType: pa.date32(),
                T.TimestampType: pa.timestamp("us", tz="UTC"),
            }
        return cls._ARROW_TYPES.get(type(dt))

    def add_elements(self, rows: list[dict]) -> "TestStream":
        import datetime

        from pyspark.sql import types as T

        struct = T._parse_datatype_string(self.schema)
        utc = datetime.timezone.utc
        coerced = []
        for row in rows:
            r = dict(row)
            for f in struct.fields:
                v = r.get(f.name)
                if not isinstance(f.dataType, T.TimestampType):
                    continue
                if isinstance(v, str):
                    v = r[f.name] = datetime.datetime.fromisoformat(v)
                # naive datetimes are UTC instants on both write paths
                # (createDataFrame would read them in the OS time zone)
                if isinstance(v, datetime.datetime) and v.tzinfo is None:
                    r[f.name] = v.replace(tzinfo=utc)
            coerced.append(r)
        # Write the scripted file DIRECTLY with pyarrow when every
        # field maps: the previous createDataFrame + coalesce(1) +
        # parquet commit was a full Spark write job (~1.3s) per
        # scripted batch — the single largest cost of every
        # TestStream-driven test. Micro-batch ORDER is pinned by
        # strictly increasing mtimes (the file stream source orders
        # by modification time), which the sequential Spark writes
        # only provided incidentally.
        atypes = [self._arrow_type(f.dataType) for f in struct.fields]
        if all(t is not None for t in atypes):
            import os as _os
            import time as _time

            import pyarrow as pa
            import pyarrow.parquet as pq

            cols = {f.name: [r.get(f.name) for r in coerced]
                    for f in struct.fields}
            tbl = pa.Table.from_pydict(
                cols, schema=pa.schema(
                    [pa.field(f.name, t)
                     for f, t in zip(struct.fields, atypes)]))
            path = _os.path.join(self.dir, f"ts-{self._n:05d}.parquet")
            pq.write_table(tbl, path)
            if self._t0 is None:
                self._t0 = _time.time()
            mt = self._t0 + self._n
            _os.utime(path, (mt, mt))
        else:
            df = self.spark.createDataFrame(coerced, struct)
            df.coalesce(1).write.mode("append").parquet(self.dir)
        self._n += 1
        return self

    def stream(self) -> PCollection:
        df = (self.spark.readStream.schema(self.schema)
              .option("maxFilesPerTrigger", 1).parquet(self.dir))
        return PCollection(df, is_bounded=False)


class TriggeredCountPerKey(PTransform):
    """Minimal trigger emulator: ``Repeatedly(AfterCount(n))`` per key on
    the global window, DISCARDING accumulation (SURVEY §2.7 "build ONE
    generic stateful TriggerEmulator"; reference
    runners/portability/fn_api_runner/trigger_manager.py:123).

    Emits a pane row every ``n`` elements per key with Beam-style pane
    metadata (pane_index, pane timing EARLY — the global window never
    closes). Remainders stay buffered in state (fire on next inputs).
    Batch fallback: panes computed with row_number arithmetic.
    """

    def __init__(self, key_cols, n: int, value_col: str, label=None):
        super().__init__(label)
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.n, self.value_col = n, value_col

    def expand(self, pcoll: PCollection) -> PCollection:
        import pandas as pd

        n, vcol, keys = self.n, self.value_col, self.key_cols
        key_types = ", ".join(
            f"{k} {pcoll.df.schema[k].dataType.simpleString()}" for k in keys)
        out_schema = (f"{key_types}, pane_index long, pane_count long, "
                      f"pane_sum double, pane_timing string")

        if pcoll.is_bounded:
            from pyspark.sql import Window

            w = Window.partitionBy(*keys).orderBy(F.monotonically_increasing_id())
            df = (pcoll.df
                  .withColumn("__rn", F.row_number().over(w) - 1)
                  .withColumn("__pane", F.col("__rn") / n)
                  .withColumn("__pane", F.floor("__pane")))
            out = (df.groupBy(*keys, "__pane")
                   .agg(F.count("*").alias("pane_count"),
                        F.sum(vcol).cast("double").alias("pane_sum"))
                   .filter(F.col("pane_count") == n)  # full panes fired
                   .select(*keys, F.col("__pane").alias("pane_index"),
                           "pane_count", "pane_sum",
                           F.lit("EARLY").alias("pane_timing")))
            return pcoll.with_df(out)

        from pyspark.sql.streaming.state import GroupStateTimeout

        def fn(key, pdfs, state):
            if state.exists:
                buf_vals, pane_idx = list(state.get[0]), state.get[1]
            else:
                buf_vals, pane_idx = [], 0
            panes = []
            for pdf in pdfs:
                for v in pdf[vcol]:
                    buf_vals.append(float(v))
                    if len(buf_vals) >= n:
                        panes.append((pane_idx, len(buf_vals), sum(buf_vals)))
                        pane_idx += 1
                        buf_vals = []  # DISCARDING accumulation
            state.update((buf_vals, pane_idx))
            if panes:
                yield pd.DataFrame([
                    {**dict(zip(keys, key)), "pane_index": pi,
                     "pane_count": pc, "pane_sum": ps, "pane_timing": "EARLY"}
                    for pi, pc, ps in panes])

        out = (pcoll.df.groupBy(*keys)
               .applyInPandasWithState(
                   fn, outputStructType=out_schema,
                   stateStructType="buf array<double>, pane_idx long",
                   outputMode="append",
                   timeoutConf=GroupStateTimeout.NoTimeout))
        return pcoll.with_df(out)


class ContinuousAggregate(PTransform):
    """Streaming maintenance of a multi-granularity TimeRollup table —
    the continuous-aggregate pattern of a timeseries store: each
    micro-batch computes its own rollup PARTIALS (mergeable aggregates
    only) and merges them into a hive-partitioned parquet via dynamic
    partition overwrite of exactly the touched buckets.

    ``aggs``: {name: kind} with kind in {'count', 'sum:<col>',
    'min:<col>', 'max:<col>'} — restricted to MERGEABLE aggregates by
    construction (count/sum merge by +, min/max by min/max), so
    batch-at-a-time maintenance is exact regardless of how rows split
    across micro-batches. Means are a downstream sum/count division.

    Scale: per batch the work is (batch rollup) + (read of the touched
    partitions only — partition pruning on the exact (granularity,
    bucket_start) pairs the batch produced, so a colliding epoch across
    granularities never drags sibling partitions in) + (dynamic
    overwrite of those partitions). State lives in the table, not
    executor memory; a bucket's partition is rewritten only when the
    batch touches it. Micro-batches run sequentially per query, so
    read-merge-write is race-free.

    Crash-replay idempotency: every write stamps its rows with an
    internal ``__batch_id`` column. If the query dies AFTER the parquet
    overwrite but BEFORE the checkpoint commits, Structured Streaming
    replays the micro-batch — the upsert then sees partitions already
    carrying this batch_id, drops the batch's contribution to them, and
    leaves their files untouched, so counts/sums are never applied
    twice. The guard is per PARTITION (the dynamic-overwrite commit
    unit): a crash that half-moves files WITHIN one partition directory
    is indistinguishable from a completed commit on a plain filesystem
    — sub-partition atomicity needs a transactional table format.

    Result table layout: ``path`` partitioned by (granularity,
    bucket_start); read it back with ``ContinuousAggregate.read(spark,
    path)`` (plain ``spark.read.parquet(path)`` works too but exposes
    the internal ``__batch_id`` column). Each upsert leaves every
    touched partition as a SINGLE file (the write hash-repartitions on
    the partition columns), so files never accumulate per partition;
    what accumulates over a long stream is partition DIRECTORIES —
    bound them with ``expire()``, the drop-chunks retention policy of
    a timeseries store.

    ``on_update`` (update-mode emission for downstream consumers): a
    ``fn(delta_df, batch_id)`` called once per micro-batch with the
    POST-merge rows of every partition the batch changed — the exact
    upsert the table received, i.e. the changelog a downstream cache /
    dashboard / alerting query needs. Called before the parquet write;
    replayed batches whose partitions were all already applied emit
    nothing (matching the table, which also doesn't change).
    """

    BATCH_COL = "__batch_id"

    def __init__(self, path: str, ts_col: str, grains, aggs,
                 keys=(), checkpoint: str | None = None,
                 available_now: bool = True,
                 on_update=None, retention=None,
                 retention_every: int = 10, label=None):
        """``retention``: optional {granularity: age_seconds} — when
        set, ``expire()`` runs INSIDE the query loop every
        ``retention_every``-th micro-batch (micro-batches are
        sequential, so there is never a concurrent writer), with
        ``now`` = the max event time seen so far by this query —
        event-time-driven retention, deterministic under replay
        (a replayed batch sees an equal-or-smaller ``now``, and
        deleting fewer partitions is always safe)."""
        super().__init__(label)
        self.path, self.ts_col = path, ts_col
        self.grains, self.keys = dict(grains), (
            [keys] if isinstance(keys, str) else list(keys))
        self.aggs = dict(aggs)
        self.checkpoint = checkpoint or tempfile.mkdtemp(prefix="bs_ca_")
        self.available_now = available_now
        self.on_update = on_update
        self.retention = dict(retention) if retention else None
        self.retention_every = int(retention_every)
        if self.retention_every < 1:
            raise ValueError("retention_every must be >= 1")
        if self.retention:
            unknown = set(self.retention) - set(self.grains)
            if unknown:
                raise ValueError(
                    f"retention names unknown granularities {sorted(unknown)}")
        self._max_event_ts = None
        for name, kind in self.aggs.items():
            k = kind.split(":")[0]
            if k not in ("count", "sum", "min", "max"):
                raise ValueError(
                    f"{name}: {kind!r} is not a mergeable aggregate "
                    "(count/sum/min/max only — derive means downstream)")

    def _agg_exprs(self):
        exprs = {}
        for name, kind in self.aggs.items():
            if kind == "count":
                exprs[name] = "CAST(count(*) AS BIGINT)"
            else:
                k, col = kind.split(":", 1)
                exprs[name] = f"{k}({col})"
        return exprs

    def _merge_exprs(self):
        out = []
        for name, kind in self.aggs.items():
            k = kind.split(":")[0]
            fn = {"count": "sum", "sum": "sum",
                  "min": "min", "max": "max"}[k]
            out.append(F.expr(f"{fn}({name})").alias(name))
        return out

    @staticmethod
    def read(spark, path: str):
        """The maintained rollup table without internal columns."""
        return spark.read.parquet(path).drop(
            ContinuousAggregate.BATCH_COL)

    def read_gapfilled(self, spark, granularity: str, fill="null"):
        """One granularity of the maintained table as a DENSE series —
        the gap-filled continuous-aggregate view (TimescaleDB's
        real-time aggregate + time_bucket_gapfill combo): every bucket
        between each key's first and last maintained bucket appears,
        missing ones filled per ``GapFill`` semantics ('null', 'locf',
        'interp', ('const', v)). Gap rows carry ``filled = true``.

        Partition pruning applies: only the requested granularity's
        partitions are read."""
        from beam_spark.operators.group import GapFill
        from beam_spark.pcollection import PCollection as PC

        if granularity not in self.grains:
            raise ValueError(
                f"unknown granularity {granularity!r} "
                f"(have {sorted(self.grains)})")
        width = int(self.grains[granularity])
        df = (self.read(spark, self.path)
              .filter(F.col("granularity") == granularity))
        # reuse GapFill's spine/fill machinery by treating the bucket
        # as the (already-bucketed) timestamp: width-aligned epochs
        # floor onto themselves
        agg_exprs = {name: f"first({name})" for name in self.aggs}
        ts = F.timestamp_seconds(F.col("bucket_start")).alias("__ts")
        out = (PC(df.select(*self.keys, ts,
                            *[F.col(n) for n in self.aggs]))
               | GapFill("__ts", width, agg_exprs,
                         keys=self.keys, fill=fill)).df
        return out.withColumnRenamed("bucket", "bucket_start")

    @staticmethod
    def _pair_cond(pairs):
        """One partition-prunable predicate over exact (granularity,
        bucket_start) pairs. Grouped as per-granularity IN lists —
        an ``In`` expression holds its values as a FLAT child list,
        so a batch touching thousands of buckets compiles to a few
        shallow nodes (the original per-pair OR chain was left-deep
        recursion and overflowed the JVM stack past ~3k pairs —
        found running the timeseries example at sf0.01, where one
        catch-up batch touches every hourly bucket). Equality +
        IN on the two partition columns both prune statically."""
        import functools
        import operator
        from collections import defaultdict

        by_g = defaultdict(list)
        for g, b in pairs:
            by_g[g].append(b)
        return functools.reduce(operator.or_, [
            (F.col("granularity") == g)
            & F.col("bucket_start").isin(bs)
            for g, bs in by_g.items()])

    def _upsert(self, batch_df, batch_id):
        from beam_spark.operators.group import TimeRollup
        from beam_spark.pcollection import PCollection as PC

        if batch_df.isEmpty():
            return
        path, bcol = self.path, self.BATCH_COL
        group_cols = [*self.keys, "granularity", "bucket_start"]
        spark = batch_df.sparkSession
        part = (PC(batch_df) | TimeRollup(
            self.ts_col, self.grains, self._agg_exprs(),
            keys=self.keys)).df
        try:
            # filesystem-agnostic first-batch probe (os.path.exists
            # would be wrong on hdfs://, s3a://, ...). ONLY the
            # path-not-found analysis error means "first batch" —
            # a transient read failure (S3 throttle, permissions)
            # must propagate, or the dynamic overwrite below would
            # replace merged history with this batch's partials.
            existing = spark.read.parquet(path)
        except AnalysisException as ex:
            # first-batch conditions: path absent, or an existing
            # but EMPTY directory (no schema to infer — nothing to
            # lose). Anything else (corrupt files, transient fs
            # errors) must propagate.
            m = str(ex).upper()
            if ("PATH_NOT_FOUND" not in m
                    and "PATH DOES NOT EXIST" not in m
                    and "UNABLE_TO_INFER_SCHEMA" not in m):
                raise
            existing = None
        if existing is not None:
            pairs = [(r["granularity"], r["bucket_start"]) for r in
                     part.select("granularity", "bucket_start")
                     .distinct().collect()]
            touched = existing.filter(self._pair_cond(pairs))
            # replay guard: a partition whose rows already carry THIS
            # batch_id absorbed this batch before the crash — drop the
            # batch's contribution to it and leave its files alone
            # (dynamic overwrite only replaces partitions present in
            # the write)
            applied = {(r["granularity"], r["bucket_start"]) for r in
                       touched.filter(F.col(bcol) == batch_id)
                       .select("granularity", "bucket_start")
                       .distinct().collect()}
            if applied:
                todo = [p for p in pairs if p not in applied]
                if not todo:
                    return
                cond = self._pair_cond(todo)
                part, touched = part.filter(cond), touched.filter(cond)
            part = (part.unionByName(touched.drop(bcol))
                    .groupBy(*group_cols).agg(*self._merge_exprs()))
        if self.on_update is not None:
            # one materialization feeds both the changelog emission and
            # the table write (otherwise the merge re-reads existing)
            part = part.persist()
            try:
                self.on_update(part, batch_id)
                self._write(part, batch_id)
            finally:
                part.unpersist()
        else:
            self._write(part, batch_id)
        if self.retention:
            # event-time clock: the finest granularity's bucket end is
            # the tightest lower bound on the max event time this
            # batch carries (exact enough for retention horizons,
            # which are orders of magnitude above bucket widths)
            fine = min(self.grains, key=lambda g: int(self.grains[g]))
            w = int(self.grains[fine])
            hi = (part.filter(F.col("granularity") == fine)
                  .agg(F.max(F.col("bucket_start") + w).alias("m"))
                  .first()["m"])
            if hi is not None:
                self._max_event_ts = max(self._max_event_ts or 0, hi)
            if (self._max_event_ts is not None
                    and batch_id % self.retention_every == 0):
                self.expire(spark, self.retention,
                            now=self._max_event_ts)

    def _write(self, part, batch_id):
        (part.withColumn(self.BATCH_COL,
                         F.lit(batch_id).cast("bigint"))
         .repartition("granularity", "bucket_start")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("granularity", "bucket_start")
         .parquet(self.path))

    def expire(self, spark, older_than, now: int):
        """Retention policy — the drop-chunks maintenance job of a
        timeseries store: delete every bucket partition whose window
        END predates ``now - older_than[granularity]`` (all epoch
        seconds; pass the pipeline's notion of current time — wall
        clock or the max event time seen). Coarser granularities can
        keep longer horizons than fine ones, which is what bounds the
        partition-directory count over an unbounded stream.

        Deletes whole partition directories through the Hadoop
        FileSystem API (filesystem-agnostic: file://, hdfs://, s3a://).
        Safe to run from an external maintenance schedule OR inside
        the query loop (micro-batches run sequentially, so between
        batches the table has no concurrent writer) — the
        ``retention=`` constructor arg automates the in-loop variant
        every ``retention_every`` batches with an event-time ``now``.
        Returns the (granularity, bucket_start) pairs dropped."""
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        dropped = []
        for g, age in dict(older_than).items():
            width = int(self.grains[g])
            gdir = jvm.org.apache.hadoop.fs.Path(
                root, f"granularity={g}")
            if not fs.exists(gdir):
                continue
            for st in fs.listStatus(gdir):
                name = st.getPath().getName()
                if not name.startswith("bucket_start="):
                    continue
                b = int(name.split("=", 1)[1])
                if b + width <= int(now) - int(age):
                    fs.delete(st.getPath(), True)
                    dropped.append((g, b))
        return dropped

    def expand(self, pcoll: PCollection):
        return foreach_batch(pcoll, self._upsert,
                             available_now=self.available_now,
                             checkpoint=self.checkpoint)


# --------------------------------------------------------------------------
# Streaming MERGE upsert sink (keyed snapshot maintenance)
# --------------------------------------------------------------------------
def _upsert_marker(path: str) -> str:
    return os.path.join(path, "_CURRENT")


def read_upsert_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read the current snapshot maintained by write_stream_upsert
    (resolves the _CURRENT marker to its generation directory)."""
    import json

    with open(_upsert_marker(path)) as f:
        gen = json.load(f)["gen"]
    return spark.read.parquet(os.path.join(path, gen))


def write_stream_upsert(pcoll: PCollection, path: str, keys,
                        order_by="ts", delete_where: str | None = None,
                        checkpoint: str | None = None,
                        available_now: bool = True):
    """Streaming MERGE upsert sink: maintain a keyed parquet SNAPSHOT
    from a changelog stream — the streaming face of MergeInto
    (operators/scd.py) and the missing half of CdcApply (which builds
    a snapshot from a BOUNDED changelog).

    Per micro-batch: the LATEST row per key (by ``order_by`` desc,
    within the batch) MERGEs into the snapshot — update if the key
    exists, insert if not; rows matching ``delete_where`` (e.g.
    ``"op = 'D'"``) delete their key instead.

    Exactly-once under foreachBatch replays, the generation pattern:
    each batch writes a full next-generation snapshot directory
    ``gen=<batch_id>`` and atomically replaces the ``_CURRENT``
    marker (tmp + os.replace). A REPLAYED batch finds its own
    batch_id in the marker and re-reads the PREDECESSOR generation,
    so re-running a batch is idempotent instead of double-applying.
    Readers resolve the marker via :func:`read_upsert_snapshot` and
    never see a half-written generation.

    Scale: the merge is MergeInto's one full-outer key join per
    micro-batch; the snapshot rewrite is the cost of format-less
    exactly-once (a transactional table format turns it into a log
    append — that is exactly what Delta/Iceberg buy and their jars
    are absent here). Old generations are pruned to the last two.

    Returns the StreamingQuery (awaited when ``available_now``).
    """
    import glob as _glob
    import json
    import shutil

    from beam_spark.operators.scd import MergeInto

    key_list = [keys] if isinstance(keys, str) else list(keys)
    ob = [order_by] if isinstance(order_by, str) else list(order_by)
    os.makedirs(path, exist_ok=True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        spark = batch_df.sparkSession
        w = (Window.partitionBy(*key_list)
             .orderBy(*[F.col(c).desc() for c in ob]))
        latest = (batch_df
                  .withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn"))
        marker = _upsert_marker(path)
        base_gen = None
        if os.path.exists(marker):
            with open(marker) as f:
                cur = json.load(f)
            # replay: this batch already committed — rebuild FROM its
            # predecessor so the merge is idempotent
            base_gen = (cur.get("prev") if cur["batch_id"] == batch_id
                        else cur["gen"])
        if base_gen:
            base = spark.read.parquet(os.path.join(path, base_gen))
        else:
            base = spark.createDataFrame([], latest.schema)
        if delete_where is not None:
            dels = latest.where(delete_where)
            ups = latest.where(f"NOT ({delete_where}) OR "
                               f"({delete_where}) IS NULL")
        else:
            dels, ups = None, latest
        merged = (PCollection(base) | MergeInto(
            ups, keys=key_list, validate=False)).df
        if dels is not None:
            merged = (PCollection(merged) | MergeInto(
                dels, keys=key_list, when_matched="delete",
                when_not_matched=None, validate=False)).df
        gen = f"gen={batch_id:08d}"
        merged.write.mode("overwrite").parquet(os.path.join(path, gen))
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "gen": gen,
                       "prev": base_gen}, f)
        os.replace(tmp, marker)
        # prune generations older than the marker's prev
        keep = {gen, base_gen}
        for d in _glob.glob(os.path.join(path, "gen=*")):
            if os.path.basename(d) not in keep:
                shutil.rmtree(d, ignore_errors=True)

    return foreach_batch(pcoll, apply_batch,
                         available_now=available_now,
                         checkpoint=checkpoint)
