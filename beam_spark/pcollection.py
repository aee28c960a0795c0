"""Core model: Pipeline / PCollection / PTransform.

Beam semantics (reference: sdks/python/apache_beam/pvalue.py:141 PCollection,
transforms/ptransform.py:339 PTransform, pipeline.py:684 Pipeline.apply) are
re-expressed on Spark:

* a ``PCollection`` is a ``DataFrame`` plus boundedness + event-time/window
  column conventions. Element metadata that Beam hides in ``WindowedValue``
  (beam_runner_api.proto:955-1005) are ordinary columns here:
  ``__ts`` (event time, TimestampType) and ``__window``
  (struct<start,end>), so Catalyst can see and optimize them.
* a ``PTransform`` is a named DataFrame->DataFrame function; ``pcoll |
  transform`` mirrors Beam's application operator (ptransform.py:599
  __ror__), and ``"Label" >> transform`` attaches a name.
* the Pipeline is just the SparkSession + lineage — Spark's logical plan IS
  the pipeline DAG, so there is no separate proto/graph layer.

Pin policy (Beam's Spark runner caches Datasets that fan out, SURVEY
§4.3; Spark only caches what it is asked to): a transform that reads a
frame more than once AFTER ``expand`` returns — its result is lazy, so
the reads happen at the caller's first action — pins it with
``PTransform.pin``. The frame is persisted, recorded on the transform
and registered with the input's pipeline, and is released by whichever
comes first: ``transform.release()``, or ``Pipeline.release_caches()``
(which also runs on exit from a ``with Pipeline()`` block). A frame
read more than once only INSIDE ``expand`` is persisted and
unpersisted there, and never pinned.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

#: Column naming conventions for element metadata (Beam's WindowedValue).
TS_COL = "__ts"
WINDOW_COL = "__window"


class Pipeline:
    """Entry point; wraps a SparkSession.

    Mirrors apache_beam.Pipeline (pipeline.py:115) but builds no object
    graph: applying transforms eagerly composes DataFrame lineage and
    Catalyst owns optimization (SURVEY.md §3.1 mapping).
    """

    def __init__(self, spark: SparkSession | None = None):
        if spark is None:
            from beam_spark.session import get_spark

            spark = get_spark()
        self.spark = spark
        #: frames pinned by transforms applied under this pipeline
        self._persisted: list = []

    def release_caches(self) -> None:
        """Unpersist every frame transforms pinned under this pipeline.
        Call once results are materialized (unpersist is a no-op on
        already-released frames, so double-release is safe)."""
        for f in self._persisted:
            f.unpersist()
        self._persisted = []

    def __or__(self, transform: "PTransform") -> "PCollection":
        return transform.expand(PBegin(self))

    def apply(self, transform: "PTransform") -> "PCollection":
        return self | transform

    # Context-manager sugar (Beam pipelines are commonly `with Pipeline() as p`).
    def __enter__(self) -> "Pipeline":
        return self

    def __exit__(self, *exc) -> None:
        self.release_caches()
        return None


class PBegin:
    """Root of a pipeline — what source transforms expand against."""

    def __init__(self, pipeline: Pipeline):
        self.pipeline = pipeline

    @property
    def spark(self) -> SparkSession:
        return self.pipeline.spark

    def __or__(self, transform: "PTransform") -> "PCollection":
        return transform.expand(self)


class PCollection:
    """A DataFrame with engine metadata.

    ``is_bounded`` mirrors beam_runner_api.proto:661-667; ``ts_col`` /
    ``window_col`` name the metadata columns if present (None otherwise).
    """

    def __init__(self, df: DataFrame, pipeline: Pipeline | None = None,
                 is_bounded: bool = True, ts_col: str | None = None,
                 window_col: str | None = None, window_fn=None):
        self.df = df
        self.pipeline = pipeline
        self.is_bounded = is_bounded
        self.ts_col = ts_col
        self.window_col = window_col
        # Pending WindowFn (e.g. merging Sessions) that grouping operators
        # apply at groupBy time; fixed windows materialize a column instead.
        self.window_fn = window_fn

    # -- application ------------------------------------------------------
    def __or__(self, transform: "PTransform") -> Any:
        return transform.expand(self)

    def apply(self, transform: "PTransform") -> Any:
        return self | transform

    # -- plumbing ---------------------------------------------------------
    def with_df(self, df: DataFrame, **overrides) -> "PCollection":
        """New PCollection with same metadata but a different DataFrame."""
        meta = dict(pipeline=self.pipeline, is_bounded=self.is_bounded,
                    ts_col=self.ts_col, window_col=self.window_col,
                    window_fn=self.window_fn)
        meta.update(overrides)
        return PCollection(df, **meta)

    @property
    def spark(self) -> SparkSession:
        if self.pipeline is not None:
            return self.pipeline.spark
        return self.df.sparkSession

    def to_dataframe(self):
        """Deferred pandas-compatible frame (SURVEY §2.11; Beam's
        ``to_dataframe``, dataframe/convert.py): delegates to
        ``pyspark.pandas`` — operations stay lazy Spark plans with pandas
        semantics (conformance sample: tests/test_pandas_api.py)."""
        return self.df.pandas_api()

    # Beam spells the capability via convert.to_dataframe; pandas-on-Spark
    # spells it pandas_api. Expose both.
    pandas_api = to_dataframe

    # -- conveniences (test/debug only; not the scale path) ---------------
    def collect(self) -> list:
        return self.df.collect()

    def count(self) -> int:
        return self.df.count()

    def show(self, n: int = 20, truncate: bool = True) -> None:
        self.df.show(n, truncate)

    def persist(self, *args) -> "PCollection":
        """Cache a multiply-consumed PCollection (SURVEY §4.3: Beam's Spark
        runner caches fan-out Datasets; Spark requires us to ask)."""
        self.df.persist(*args)
        return self

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)


class PTransform:
    """Base transform. Subclasses implement ``expand``.

    ``"Label" >> transform`` names it (Beam's __rrshift__,
    ptransform.py:599 region).
    """

    def __init__(self, label: str | None = None):
        self.label = label or type(self).__name__
        #: frames this transform pinned (see the module's pin policy)
        self._persisted: list = []

    def pin(self, frame: DataFrame,
            pcoll: PCollection | None = None) -> DataFrame:
        """Persist ``frame``, a frame the lazy result reads more than
        once, and own it until ``release()``; with ``pcoll``, also
        register it with ``pcoll``'s pipeline, if it has one."""
        frame.persist()
        self._persisted.append(frame)
        if pcoll is not None and pcoll.pipeline is not None:
            pcoll.pipeline._persisted.append(frame)
        return frame

    def release(self) -> None:
        """Unpersist every frame this transform pinned. Call once its
        result is consumed or checkpointed."""
        for f in self._persisted:
            f.unpersist()
        self._persisted = []

    def expand(self, pcoll: PCollection | PBegin) -> Any:
        raise NotImplementedError

    def __rrshift__(self, label: str) -> "PTransform":
        self.label = label
        return self

    def __ror__(self, left) -> Any:
        # Lets non-PCollection left-hand sides (tuples of PCollections for
        # Flatten/CoGroupByKey, raw DataFrames) be piped into a transform.
        return self.expand(left)

    def __repr__(self) -> str:  # pragma: no cover
        return f"<{type(self).__name__} {self.label!r}>"


class _LambdaTransform(PTransform):
    def __init__(self, fn: Callable, args: tuple, kwargs: dict, label: str | None = None):
        super().__init__(label or getattr(fn, "__name__", "LambdaTransform"))
        self._fn, self._args, self._kwargs = fn, args, kwargs

    def expand(self, pcoll):
        return self._fn(pcoll, *self._args, **self._kwargs)


def ptransform_fn(fn: Callable) -> Callable:
    """Decorator: a function (pcoll, *a, **kw) -> pcoll becomes a PTransform
    factory, mirroring apache_beam.ptransform_fn (ptransform.py:339 region)."""

    def factory(*args, **kwargs) -> PTransform:
        return _LambdaTransform(fn, args, kwargs, label=fn.__name__)

    factory.__name__ = fn.__name__
    factory.__doc__ = fn.__doc__
    return factory


def as_pcollection(obj: PCollection | DataFrame, pipeline: Pipeline | None = None) -> PCollection:
    if isinstance(obj, PCollection):
        return obj
    return PCollection(obj, pipeline=pipeline)

