"""ParDo / DoFn surface (SURVEY.md §2.1, §2.13).

Beam reference: DoFn core.py:597-985 (process/setup/start_bundle/
finish_bundle/teardown), ParDo core.py:1543, multi-output TaggedOutput
pvalue.py:331, exception handling / dead-letter core.py:2325-2810,
CombineFn lifecycle core.py:1061-1253, side inputs pvalue.py:480-644
(AsSingleton/AsIter/AsList/AsDict).

Spark design:
* A DoFn processes row-dicts inside Arrow-batched ``mapInPandas`` — the
  batch is the bundle: setup() runs once per python worker (process
  reuse ≈ Beam's DoFn setup), start_bundle/finish_bundle wrap each Arrow
  batch.
* Multi-output: one pass writes a ``__tag`` column, then per-tag filters
  split it — the tagged DataFrame is persisted so upstream runs once
  (Beam's multi-output fusion equivalent).
* Exception handling: try/except per element, failures routed to a DLQ
  PCollection with error string + pickled element repr — mirroring
  ``with_exception_handling`` (core.py:2325).
* Side inputs: small PCollections collected and broadcast via
  SparkContext.broadcast; accessed as plain Python values inside the
  DoFn (Beam's side-input views). For large keyed side inputs use
  join.Join(broadcast=True) instead.
* CombineFn: runs the user's accumulator protocol per key inside
  ``applyInPandas``. Built-in combiners should use operators.group
  (native Catalyst aggregation) — this adapter is the parity path for
  custom CombineFns only.

The whole module is the SLOW PATH by design: Python executes per element.
At 100 TB anything expressible as Catalyst expressions should use
operators.core instead.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from beam_spark.pcollection import PCollection, PTransform
from beam_spark.types import schema_from_dict


class TaggedOutput:
    """Multi-output marker (pvalue.py:331)."""

    def __init__(self, tag: str, value: dict):
        self.tag, self.value = tag, value


class DoFn:
    """User processing function (core.py:597).

    ``process(element)`` receives a row-dict and yields row-dicts (main
    output) or TaggedOutput. ``setup``/``teardown`` run per python worker;
    ``start_bundle``/``finish_bundle`` wrap each Arrow batch.
    """

    def setup(self) -> None: ...

    def start_bundle(self) -> None: ...

    def process(self, element: dict) -> Iterable:
        raise NotImplementedError

    def finish_bundle(self) -> Iterable:
        return ()

    def teardown(self) -> None: ...


class _FnDoFn(DoFn):
    def __init__(self, fn: Callable):
        self._fn = fn

    def process(self, element):
        out = self._fn(element)
        if out is None:
            return ()
        return out


MAIN_TAG = "__main__"


class ParDo(PTransform):
    """Per-element processing with 0..N outputs (core.py:1543).

    ``output_schema``: main-output schema (dict/StructType/DDL string).
    ``side_inputs``: dict name -> PCollection view (see AsSingleton etc.);
    materialized and broadcast, available to the DoFn as attributes.
    ``.with_outputs(tag1, ...)``: returns {tag: PCollection} incl. MAIN.
    ``.with_exception_handling()``: returns (main, dlq) pair.
    """

    def __init__(self, dofn: DoFn | Callable, output_schema, label=None,
                 side_inputs: dict | None = None):
        super().__init__(label)
        self.dofn = dofn if isinstance(dofn, DoFn) else _FnDoFn(dofn)
        self.output_schema = (schema_from_dict(output_schema)
                              if isinstance(output_schema, dict) else output_schema)
        self.side_inputs = side_inputs or {}
        self._tags: tuple[str, ...] = ()
        self._dlq = False

    def with_outputs(self, *tags: str) -> "ParDo":
        self._tags = tags
        return self

    def with_exception_handling(self) -> "ParDo":
        self._dlq = True
        return self

    # ------------------------------------------------------------------
    def expand(self, pcoll: PCollection):
        import pandas as pd

        dofn = self.dofn
        schema = self.output_schema
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        out_names = [f.name for f in schema.fields]

        # Side inputs: materialize now, ship via closure (Spark serializes
        # it once per task; sc.broadcast for very large values).
        sides = {name: view.materialize() for name, view in self.side_inputs.items()}

        multi = bool(self._tags) or self._dlq
        fields = list(schema.fields)
        if multi:
            fields = fields + [T.StructField("__tag", T.StringType()),
                               T.StructField("__error", T.StringType())]
        full_schema = T.StructType(fields)
        dlq = self._dlq

        def gen(batches: Iterator["pd.DataFrame"]):
            dofn.side_inputs = sides
            dofn.setup()
            try:
                for pdf in batches:
                    dofn.start_bundle()
                    out_rows: list[dict] = []
                    for row in pdf.to_dict(orient="records"):
                        try:
                            for item in dofn.process(row):
                                if isinstance(item, TaggedOutput):
                                    r = dict(item.value)
                                    r["__tag"] = item.tag
                                    r["__error"] = None
                                else:
                                    r = dict(item)
                                    if multi:
                                        r["__tag"] = MAIN_TAG
                                        r["__error"] = None
                                out_rows.append(r)
                        except Exception as e:  # DLQ route
                            if not dlq:
                                raise
                            out_rows.append({
                                **{n: None for n in out_names},
                                "__tag": "__error__",
                                "__error": f"{type(e).__name__}: {e} | element={row!r}"[:2000],
                            })
                    for item in dofn.finish_bundle():
                        r = dict(item.value if isinstance(item, TaggedOutput) else item)
                        if multi:
                            r.setdefault("__tag", MAIN_TAG)
                            r.setdefault("__error", None)
                        out_rows.append(r)
                    if out_rows:
                        yield pd.DataFrame(
                            out_rows,
                            columns=[f.name for f in full_schema.fields])
            finally:
                dofn.teardown()

        out_df = pcoll.df.mapInPandas(gen, schema=full_schema)
        if not multi:
            return pcoll.with_df(out_df)

        self.pin(out_df, pcoll)
        main = pcoll.with_df(
            out_df.filter(F.col("__tag") == MAIN_TAG).drop("__tag", "__error"))
        if self._dlq and not self._tags:
            dlq_pc = pcoll.with_df(
                out_df.filter(F.col("__tag") == "__error__").select("__error"))
            return main, dlq_pc
        result = {MAIN_TAG: main}
        for tag in self._tags:
            result[tag] = pcoll.with_df(
                out_df.filter(F.col("__tag") == tag).drop("__tag", "__error"))
        if self._dlq:
            result["__error__"] = pcoll.with_df(
                out_df.filter(F.col("__tag") == "__error__").select("__error"))
        return result


class BatchedDoFn(PTransform):
    """Vectorized DoFn (Beam's process_batch, batched DoFn): the user fn
    maps a pandas DataFrame to a pandas DataFrame — the Arrow fast path."""

    def __init__(self, fn: Callable, output_schema, label=None):
        super().__init__(label)
        self.fn, self.output_schema = fn, output_schema

    def expand(self, pcoll: PCollection) -> PCollection:
        fn = self.fn

        def gen(batches):
            for pdf in batches:
                out = fn(pdf)
                if out is not None and len(out):
                    yield out

        schema = self.output_schema
        if isinstance(schema, dict):
            schema = schema_from_dict(schema)
        return pcoll.with_df(pcoll.df.mapInPandas(gen, schema=schema))


# ----------------------------------------------------------------------
# Side input views (pvalue.py:480-644)
# ----------------------------------------------------------------------
class _View:
    """Side-input view base (pvalue.py:480-644).

    Views materialize to the DRIVER and ship to workers in the DoFn
    closure — Beam's model, bounded by worker memory. ``max_rows``
    fails fast when a side input is too big for that model; at scale a
    map-shaped side input belongs in ``Join(broadcast=True)`` (the
    broadcast-hash-join path), which is what SURVEY maps large side
    inputs to.
    """

    DEFAULT_MAX_ROWS = 1_000_000

    def __init__(self, pcoll: PCollection, max_rows: int | None = None):
        self.pcoll = pcoll
        self.max_rows = self.DEFAULT_MAX_ROWS if max_rows is None else max_rows

    def _bounded_collect(self) -> list:
        rows = self.pcoll.df.limit(self.max_rows + 1).collect()
        if len(rows) > self.max_rows:
            raise ValueError(
                f"{type(self).__name__} side input exceeds max_rows="
                f"{self.max_rows}; use Join(broadcast=True) for large "
                "keyed side inputs, or raise max_rows explicitly")
        return rows

    def materialize(self) -> Any:
        raise NotImplementedError


class AsSingleton(_View):
    """Exactly-one-element view (pvalue.py AsSingleton)."""

    def materialize(self):
        rows = self.pcoll.df.limit(2).collect()
        if len(rows) != 1:
            raise ValueError(f"AsSingleton needs exactly 1 element, got {len(rows)}")
        r = rows[0]
        return r[0] if len(r) == 1 else r.asDict()


class AsList(_View):
    def materialize(self):
        rows = self._bounded_collect()
        return [r[0] if len(r) == 1 else r.asDict() for r in rows]


class AsIter(AsList):
    pass


class AsDict(_View):
    """Two-column (key, value) PCollection -> dict."""

    def materialize(self):
        return {r[0]: r[1] for r in self._bounded_collect()}


class AsMultiMap(_View):
    def materialize(self):
        out: dict = {}
        for r in self._bounded_collect():
            out.setdefault(r[0], []).append(r[1])
        return out


# ----------------------------------------------------------------------
# CombineFn adapter (core.py:1061)
# ----------------------------------------------------------------------
class CombineFn:
    """User combiner with Beam's accumulator protocol."""

    def create_accumulator(self):
        raise NotImplementedError

    def add_input(self, acc, element):
        raise NotImplementedError

    def merge_accumulators(self, accs):
        raise NotImplementedError

    def extract_output(self, acc):
        raise NotImplementedError


class CombinePerKeyFn(PTransform):
    """Run a custom CombineFn per key via applyInPandas.

    The group is streamed through add_input in arrival order (Beam makes
    no order promise either). Built-in reductions belong in
    operators.group (native, partial-aggregated); this is the parity path
    for genuinely custom accumulators.
    """

    def __init__(self, key_cols, combine_fn: CombineFn, value_col: str,
                 output_schema, out_col: str = "output", label=None):
        super().__init__(label)
        self.key_cols = [key_cols] if isinstance(key_cols, str) else list(key_cols)
        self.combine_fn, self.value_col = combine_fn, value_col
        self.output_schema, self.out_col = output_schema, out_col

    def expand(self, pcoll: PCollection) -> PCollection:
        import pandas as pd

        fn, vcol, keys, out_col = (self.combine_fn, self.value_col,
                                   self.key_cols, self.out_col)
        schema = self.output_schema
        if isinstance(schema, dict):
            schema = schema_from_dict(schema)

        def apply(pdf: "pd.DataFrame") -> "pd.DataFrame":
            acc = fn.create_accumulator()
            for v in pdf[vcol]:
                acc = fn.add_input(acc, v)
            out = fn.extract_output(acc)
            row = {k: pdf[k].iloc[0] for k in keys}
            row[out_col] = out
            return pd.DataFrame([row])

        out = pcoll.df.groupBy(*keys).applyInPandas(apply, schema=schema)
        return pcoll.with_df(out)


class AsyncParDo(PTransform):
    """IO-bound per-element processing with bounded in-flight concurrency
    (reference transforms/async_dofn.py — AsyncWrapper: parallelize slow
    per-element calls, cap outstanding requests, surface failures).

    ``fn(el: dict) -> dict | None`` runs on a per-worker thread pool of
    ``max_concurrency`` threads INSIDE each Arrow batch — the Spark task
    stays single-threaded from the engine's view while slow RPCs overlap.
    Output order within a batch is preserved (futures joined in submit
    order). ``with_exception_handling()`` adds an ``__error`` column
    instead of failing the stage (the DLQ contract RunInference uses).

    Scale note: concurrency is per python worker; total in-flight =
    max_concurrency x python workers — size against the callee's rate
    limit, and prefer Enrichment (keyed caching + batching) when calls
    are keyed lookups.
    """

    def __init__(self, fn: Callable[[dict], dict | None], output_schema,
                 max_concurrency: int = 16, label=None):
        super().__init__(label)
        self.fn, self.output_schema = fn, output_schema
        self.max_concurrency = max_concurrency
        self._dlq = False

    def with_exception_handling(self) -> "AsyncParDo":
        self._dlq = True
        return self

    def expand(self, pcoll: PCollection) -> PCollection:
        import pandas as pd

        fn, width, dlq = self.fn, self.max_concurrency, self._dlq
        schema = self.output_schema
        if isinstance(schema, dict):
            schema = schema_from_dict(schema)
        if isinstance(schema, str):
            schema = T._parse_datatype_string(schema)
        if dlq:
            schema = T.StructType(list(schema.fields)
                                  + [T.StructField("__error", T.StringType())])
        out_cols = [f.name for f in schema.fields]

        def gen(batches: Iterator["pd.DataFrame"]):
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=width) as pool:
                for pdf in batches:
                    rows = pdf.to_dict(orient="records")
                    futs = [pool.submit(fn, r) for r in rows]
                    out = []
                    for f in futs:
                        try:
                            r = f.result()
                            if r is not None:
                                out.append({**r, "__error": None} if dlq else r)
                        except Exception as e:
                            if not dlq:
                                raise
                            out.append({**{c: None for c in out_cols},
                                        "__error": f"{type(e).__name__}: {e}"[:2000]})
                    if out:
                        yield pd.DataFrame(out, columns=out_cols)

        return pcoll.with_df(pcoll.df.mapInPandas(gen, schema=schema))
