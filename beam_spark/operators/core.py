"""Element-wise operators (SURVEY.md §2.2).

Beam reference: sdks/python/apache_beam/transforms/core.py — Map (:2101),
FlatMap (:2064), Filter (:2812), Select (:3749), Partition (:3809),
Create (:4182), Impulse (:4311); transforms/util.py — WithKeys (:1907),
Keys/Values/KvSwap (:288,296,304), Distinct (:312), Reshuffle (:1839),
Regex (:2342), ToString (:2150), Reify (:2284).

Design: every operator has an EXPRESSION fast path (Column/SQL-string
arguments compile to ``select``/``filter`` so the work stays inside
whole-stage codegen) and, for Map/FlatMap/Filter, a CALLABLE slow path
(Arrow-batched ``mapInPandas``) for arbitrary Python logic. The slow path
is the analog of Beam's ParDo-over-pickled-elements and is explicitly not
the hot path at 100 TB.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beam_spark.pcollection import (PBegin, PCollection, PTransform, TS_COL,
                                    WINDOW_COL)
from beam_spark.types import schema_from_dict


def _to_schema(schema) -> T.StructType | str | None:
    if schema is None or isinstance(schema, (str, T.StructType)):
        return schema
    if isinstance(schema, dict):
        return schema_from_dict(schema)
    raise TypeError(f"bad schema spec {schema!r}")


class Create(PTransform):
    """Literal in-memory source (core.py:4182). -> spark.createDataFrame."""

    def __init__(self, values: Sequence, schema=None, label: str | None = None):
        super().__init__(label)
        self.values, self.schema = list(values), _to_schema(schema)

    def expand(self, pbegin: PBegin) -> PCollection:
        spark = pbegin.spark
        vals = self.values
        # Scalars become single-column rows, like Beam elements.
        if vals and not isinstance(vals[0], (dict, tuple, list)) and not hasattr(vals[0], "__fields__"):
            vals = [(v,) for v in vals]
            df = spark.createDataFrame(vals, self.schema or "value: string" if isinstance(self.values[0], str) else self.schema)
            if self.schema is None:
                df = df.toDF("value")
        else:
            df = spark.createDataFrame(vals, self.schema)
        pipeline = pbegin.pipeline if isinstance(pbegin, PBegin) else None
        return PCollection(df, pipeline=pipeline)


class Impulse(PTransform):
    """Single seed element (core.py:4311). -> spark.range(1)."""

    def expand(self, pbegin: PBegin) -> PCollection:
        df = pbegin.spark.range(1).select(F.lit(b"").alias("value"))
        return PCollection(df, pipeline=pbegin.pipeline)


def _map_in_pandas_rows(df: DataFrame, fn: Callable[[dict], Iterable[dict]],
                        out_schema: T.StructType | str) -> DataFrame:
    """Arrow-batched row-wise apply: Beam DoFn.process over dict-rows."""
    import pandas as pd

    names = None
    if isinstance(out_schema, T.StructType):
        names = [f.name for f in out_schema.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for row in pdf.to_dict(orient="records"):
                out.extend(fn(row))
            if out:
                yield pd.DataFrame(out, columns=names)

    return df.mapInPandas(gen, schema=out_schema)


class Map(PTransform):
    """1->1 transform (core.py:2101).

    - ``Map("expr as name", ...)`` / Column args: expression fast path.
    - ``Map(callable, output_schema=...)``: row-dict -> row-dict via
      mapInPandas (slow path).
    """

    def __init__(self, *exprs, output_schema=None, label=None, **named_exprs):
        super().__init__(label)
        self.exprs, self.named = exprs, named_exprs
        self.schema = _to_schema(output_schema)

    def expand(self, pcoll: PCollection) -> PCollection:
        if len(self.exprs) == 1 and callable(self.exprs[0]) and not isinstance(self.exprs[0], Column):
            fn = self.exprs[0]
            if self.schema is None:
                raise ValueError("Map(callable) needs output_schema=")
            out = _map_in_pandas_rows(pcoll.df, lambda r: [fn(r)], self.schema)
            return pcoll.with_df(out)
        cols = [F.expr(e) if isinstance(e, str) else e for e in self.exprs]
        cols += [(F.expr(e) if isinstance(e, str) else e).alias(n) for n, e in self.named.items()]
        return pcoll.with_df(pcoll.df.select(*cols))


class FlatMap(PTransform):
    """1->N transform (core.py:2064). Callable returns an iterable of
    row-dicts; expression form explodes an array expression."""

    def __init__(self, fn_or_expr, output_schema=None, label=None):
        super().__init__(label)
        self.fn_or_expr, self.schema = fn_or_expr, _to_schema(output_schema)

    def expand(self, pcoll: PCollection) -> PCollection:
        if callable(self.fn_or_expr) and not isinstance(self.fn_or_expr, Column):
            if self.schema is None:
                raise ValueError("FlatMap(callable) needs output_schema=")
            out = _map_in_pandas_rows(pcoll.df, self.fn_or_expr, self.schema)
            return pcoll.with_df(out)
        col = F.expr(self.fn_or_expr) if isinstance(self.fn_or_expr, str) else self.fn_or_expr
        return pcoll.with_df(pcoll.df.select(F.explode(col).alias("value")))


class Filter(PTransform):
    """Predicate filter (core.py:2812). Expression fast path or callable."""

    def __init__(self, predicate, label=None):
        super().__init__(label)
        self.predicate = predicate

    def expand(self, pcoll: PCollection) -> PCollection:
        p = self.predicate
        if callable(p) and not isinstance(p, Column):
            schema = pcoll.df.schema

            def keep(row: dict) -> Iterable[dict]:
                return [row] if p(row) else []

            return pcoll.with_df(_map_in_pandas_rows(pcoll.df, keep, schema))
        return pcoll.with_df(pcoll.df.filter(p))


class Select(PTransform):
    """Projection to a schema'd row (core.py:3749-3806)."""

    def __init__(self, *cols, label=None, **named_exprs):
        super().__init__(label)
        self.cols, self.named = cols, named_exprs

    def expand(self, pcoll: PCollection) -> PCollection:
        cols = [F.col(c) if isinstance(c, str) else c for c in self.cols]
        cols += [(F.expr(e) if isinstance(e, str) else e).alias(n) for n, e in self.named.items()]
        return pcoll.with_df(pcoll.df.select(*cols))


class Partition(PTransform):
    """Split into n PCollections (core.py:3809-3851).

    Spark has no multi-output operator; we add a partition column once,
    pin it, and hand back n filtered views (single upstream computation).
    """

    def __init__(self, partition_expr, n: int, label=None):
        super().__init__(label)
        self.partition_expr, self.n = partition_expr, n

    def expand(self, pcoll: PCollection) -> list[PCollection]:
        e = self.partition_expr
        col = F.expr(e) if isinstance(e, str) else e
        tagged = self.pin(pcoll.df.withColumn("__part", col), pcoll)
        return [pcoll.with_df(tagged.filter(F.col("__part") == i).drop("__part"))
                for i in range(self.n)]


class WithKeys(PTransform):
    """Attach a key column (util.py:1907). KV convention: 'key' column."""

    def __init__(self, key_expr, label=None):
        super().__init__(label)
        self.key_expr = key_expr

    def expand(self, pcoll: PCollection) -> PCollection:
        e = self.key_expr
        col = F.expr(e) if isinstance(e, str) else e
        return pcoll.with_df(pcoll.df.withColumn("key", col))


class Keys(PTransform):
    def __init__(self, key_col: str = "key", label=None):
        super().__init__(label)
        self.key_col = key_col

    def expand(self, pcoll: PCollection) -> PCollection:
        return pcoll.with_df(pcoll.df.select(self.key_col))


class Values(PTransform):
    def __init__(self, key_col: str = "key", label=None):
        super().__init__(label)
        self.key_col = key_col

    def expand(self, pcoll: PCollection) -> PCollection:
        keep = [c for c in pcoll.df.columns if c != self.key_col]
        return pcoll.with_df(pcoll.df.select(*keep))


class KvSwap(PTransform):
    """Swap 'key' and 'value' columns (util.py:304)."""

    def expand(self, pcoll: PCollection) -> PCollection:
        df = pcoll.df
        others = [c for c in df.columns if c not in ("key", "value")]
        return pcoll.with_df(df.select(F.col("value").alias("key"),
                                       F.col("key").alias("value"), *others))


class Distinct(PTransform):
    """Distinct per window (util.py:312): includes the window column in the
    key automatically when present."""

    def __init__(self, *cols, label=None):
        super().__init__(label)
        self.cols = list(cols)

    def expand(self, pcoll: PCollection) -> PCollection:
        if self.cols:
            cols = list(self.cols)
            if pcoll.window_col and pcoll.window_col not in cols:
                cols.append(pcoll.window_col)
            return pcoll.with_df(pcoll.df.dropDuplicates(cols))
        return pcoll.with_df(pcoll.df.distinct())


class Reshuffle(PTransform):
    """Stable repartition / fusion break (util.py:1839; URN
    beam_runner_api.proto:353). -> repartition (round-robin shuffle)."""

    def __init__(self, num_partitions: int | None = None, *keys, label=None):
        super().__init__(label)
        self.n, self.keys = num_partitions, keys

    def expand(self, pcoll: PCollection) -> PCollection:
        df = pcoll.df
        if self.keys:
            df = df.repartition(self.n, *self.keys) if self.n else df.repartition(*self.keys)
        elif self.n:
            df = df.repartition(self.n)
        else:
            df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        return pcoll.with_df(df)


def fan_out(df: DataFrame) -> DataFrame:
    """Scale-adaptive read fan-out for expression-heavy zero-shuffle
    pipelines: a single-row-group parquet file scans as ONE task at any
    core count, so a per-row expression chain after it runs
    single-threaded however many cores the session has. Round-robin
    repartition to the session's default parallelism ONLY when the scan
    is under-parallel — on a real multi-file table (scan partitions >=
    parallelism) this is a no-op, so nothing extra is shuffled at
    scale."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


class WithTimestamps(PTransform):
    """Set event time (window.py:275 TimestampedValue): materializes the
    ``__ts`` metadata column."""

    def __init__(self, ts_expr, label=None):
        super().__init__(label)
        self.ts_expr = ts_expr

    def expand(self, pcoll: PCollection) -> PCollection:
        e = self.ts_expr
        col = F.expr(e) if isinstance(e, str) else e
        df = pcoll.df.withColumn(TS_COL, col.cast("timestamp"))
        return pcoll.with_df(df, ts_col=TS_COL)


class Regex:
    """Regex family (util.py:2342) — native regexp_* functions."""

    @staticmethod
    def matches(col: str, pattern: str, out: str = "match") -> PTransform:
        @_expr_transform
        def _t(pcoll):
            df = pcoll.df.withColumn(out, F.regexp_extract(F.col(col), pattern, 0))
            return pcoll.with_df(df.filter(F.col(out) != ""))
        return _t

    @staticmethod
    def find_all(col: str, pattern: str, out: str = "matches") -> PTransform:
        @_expr_transform
        def _t(pcoll):
            return pcoll.with_df(
                pcoll.df.withColumn(out, F.expr(f"regexp_extract_all({col}, '{pattern}', 0)")))
        return _t

    @staticmethod
    def replace_all(col: str, pattern: str, replacement: str) -> PTransform:
        @_expr_transform
        def _t(pcoll):
            return pcoll.with_df(
                pcoll.df.withColumn(col, F.regexp_replace(F.col(col), pattern, replacement)))
        return _t

    @staticmethod
    def split(col: str, pattern: str, out: str = "parts") -> PTransform:
        @_expr_transform
        def _t(pcoll):
            return pcoll.with_df(pcoll.df.withColumn(out, F.split(F.col(col), pattern)))
        return _t


class ToString(PTransform):
    """Element -> text (util.py:2150): concat of all columns."""

    def __init__(self, delimiter: str = ",", label=None):
        super().__init__(label)
        self.delimiter = delimiter

    def expand(self, pcoll: PCollection) -> PCollection:
        cols = [F.col(c).cast("string") for c in pcoll.df.columns]
        return pcoll.with_df(pcoll.df.select(F.concat_ws(self.delimiter, *cols).alias("value")))


class MergeIntervals(PTransform):
    """Merge overlapping (optionally touching) [start, end] intervals
    per key into maximal islands — the gaps-and-islands primitive that
    sessionization, exact-substring span coverage and calendar
    consolidation all reduce to, exposed as a public op.

    Output: key cols + (start, end, n_merged).

    Scale: one key-partitioned sort window (running max of end over
    PRECEDING rows flags island starts; a running sum numbers them)
    plus one aggregation — two stages over the same key partitioning,
    no self-joins.
    """

    def __init__(self, start_col: str = "start", end_col: str = "end",
                 keys=(), merge_touching: bool = True, label=None):
        super().__init__(label)
        self.start_col, self.end_col = start_col, end_col
        self.keys = [keys] if isinstance(keys, str) else list(keys)
        self.merge_touching = merge_touching

    def expand(self, pcoll: PCollection) -> PCollection:
        from pyspark.sql import Window

        sc, ec, keys = self.start_col, self.end_col, self.keys
        w = (Window.partitionBy(*keys)
             .orderBy(sc, ec)
             .rowsBetween(Window.unboundedPreceding, -1))
        rmax = F.max(ec).over(w)
        gap = (F.col(sc) > rmax) if self.merge_touching \
            else (F.col(sc) >= rmax)
        flag = F.when(rmax.isNull() | gap, 1).otherwise(0)
        w2 = (Window.partitionBy(*keys).orderBy(sc, ec)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = (pcoll.df
               .withColumn("__isl", F.sum(flag).over(w2))
               .groupBy(*keys, "__isl")
               .agg(F.min(sc).alias("start"), F.max(ec).alias("end"),
                    F.count(F.lit(1)).alias("n_merged"))
               .drop("__isl"))
        return pcoll.with_df(out)


class Reify(PTransform):
    """Expose element metadata (util.py:2284) — metadata are already
    ordinary columns; this just selects them to the front."""

    def expand(self, pcoll: PCollection) -> PCollection:
        front = [c for c in (pcoll.ts_col, pcoll.window_col) if c]
        rest = [c for c in pcoll.df.columns if c not in front]
        return pcoll.with_df(pcoll.df.select(*front, *rest))


class _ExprTransform(PTransform):
    def __init__(self, fn):
        super().__init__(getattr(fn, "__name__", None))
        self._fn = fn

    def expand(self, pcoll):
        return self._fn(pcoll)


def _expr_transform(fn) -> PTransform:
    return _ExprTransform(fn)


class Flatten(PTransform):
    """UNION ALL of N PCollections (core.py:4085). Apply to a list/tuple:
    ``(pc1, pc2) | Flatten()`` -> unionByName."""

    def __init__(self, allow_missing_columns: bool = True, label=None):
        super().__init__(label)
        self.allow_missing = allow_missing_columns

    def expand(self, pcolls) -> PCollection:
        if isinstance(pcolls, PCollection):
            return pcolls
        pcolls = list(pcolls)
        df = pcolls[0].df
        for p in pcolls[1:]:
            df = df.unionByName(p.df, allowMissingColumns=self.allow_missing)
        return pcolls[0].with_df(df)


class LogElements(PTransform):
    """Debug logging (util.py:2183): passthrough tap that prints up to
    ``n`` elements PER PARTITION when the pipeline actually RUNS (on the
    executors — check executor logs on a cluster). Lazy: expand() only
    builds the plan; no job is triggered at construction time."""

    def __init__(self, n: int = 20, prefix: str = "", label=None):
        super().__init__(label)
        self.n, self.prefix = n, prefix

    def expand(self, pcoll: PCollection) -> PCollection:
        n, prefix = self.n, self.prefix

        def tap(batches):
            remaining = n
            for pdf in batches:
                if remaining > 0:
                    for rec in pdf.head(remaining).to_dict("records"):
                        print(f"{prefix}{rec}")
                    remaining -= min(remaining, len(pdf))
                yield pdf

        return pcoll.with_df(
            pcoll.df.mapInPandas(tap, schema=pcoll.df.schema))


class Tee(PTransform):
    """Side-effect branch (util.py:2576): run a consumer on the
    PCollection, return the input unchanged. Pins the input to avoid
    recomputation of the shared upstream."""

    def __init__(self, consumer: Callable, label=None):
        super().__init__(label)
        self.consumer = consumer

    def expand(self, pcoll: PCollection) -> PCollection:
        self.pin(pcoll.df, pcoll)
        self.consumer(pcoll)
        return pcoll


class WaitOn(PTransform):
    """Delay main input until signals complete (util.py:2606): forces the
    signal PCollections to materialize before the main one proceeds —
    DAG-ordering barrier."""

    def __init__(self, *signals, label=None):
        super().__init__(label)
        self.signals = signals

    def expand(self, pcoll: PCollection) -> PCollection:
        for s in self.signals:
            s.df.write.format("noop").mode("overwrite").save()
        return pcoll


class MapTuple(PTransform):
    """Map with positional unpacking (core.py:2164): fn(*row) -> dict."""

    def __init__(self, fn: Callable, output_schema, label=None):
        super().__init__(label)
        self.fn, self.schema = fn, _to_schema(output_schema)

    def expand(self, pcoll: PCollection) -> PCollection:
        fn = self.fn
        out = _map_in_pandas_rows(pcoll.df,
                                  lambda r: [fn(*r.values())], self.schema)
        return pcoll.with_df(out)


class FlatMapTuple(PTransform):
    """FlatMap with positional unpacking (core.py:2242)."""

    def __init__(self, fn: Callable, output_schema, label=None):
        super().__init__(label)
        self.fn, self.schema = fn, _to_schema(output_schema)

    def expand(self, pcoll: PCollection) -> PCollection:
        fn = self.fn
        out = _map_in_pandas_rows(pcoll.df,
                                  lambda r: fn(*r.values()), self.schema)
        return pcoll.with_df(out)


class FlattenWith(PTransform):
    """Union additional PCollections into the main one (core.py:4155)."""

    def __init__(self, *others, label=None):
        super().__init__(label)
        self.others = others

    def expand(self, pcoll: PCollection) -> PCollection:
        df = pcoll.df
        for o in self.others:
            df = df.unionByName(o.df, allowMissingColumns=True)
        return pcoll.with_df(df)
