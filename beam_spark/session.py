"""SparkSession factory tuned for the engine.

Defaults are chosen for scale-out correctness first (AQE on, skew-join
handling on, Arrow for the Python boundary) and are safe on ``local[*]``.
On a real cluster the same flags let AQE pick shuffle parallelism and
handle skew at runtime, which is the 100 TB-safe default.

Shuffle partitions: batch and streaming get their counts from two
settings Spark already has, and :func:`get_spark` decides both once,
when it creates the session.

* **Batch** shuffles plan with
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``: the
  caller's ``spark.sql.shuffle.partitions`` if one was passed, else 32.
  Under AQE with coalescing on (the engine default) Spark's
  ``SQLConf.numShufflePartitions`` reads this setting, and AQE
  coalesces below it at runtime. ``foreachBatch``
  bodies run with AQE on, so they plan at the batch count as well.
  :func:`batch_shuffle_partitions` reads that count for code that sizes
  a write itself.
* **Streaming state** partitions come from
  ``spark.sql.shuffle.partitions``, which becomes the number of cores
  (``defaultParallelism``) unless the caller set it. Stateful streaming
  operators run with AQE off, so nothing coalesces their exchange: every
  micro-batch runs and commits one state-store task per partition, and
  a count sized for batch data multiplies the per-batch fixed cost.

Spark records the state partition count in the checkpoint when a query
first starts. A restart with a different ``spark.sql.shuffle.partitions``
silently keeps the recorded count. At 100 TB the core count of the
driver that first starts a query is the wrong number: a cluster operator
sizes the state (``extra_conf={"spark.sql.shuffle.partitions": ...}``, or
``spark.conf.set`` before the first start) for the state the query will
hold, and a new count needs a new checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_SHUFFLE = "spark.sql.shuffle.partitions"
_INITIAL = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

# Batch shuffle parallelism when the caller sets none; AQE coalesces
# below it at runtime.
_BATCH_PARTITIONS = "32"

# Engine defaults. Anything the caller sets explicitly wins.
_ENGINE_CONFS = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones. This is what makes a fixed shuffle partition count survive a
    # 100x scale-up.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics regardless of host TZ.
    "spark.sql.session.timeZone": "UTC",
    # Keep partition input sizes bounded so a 100 TB scan parallelizes.
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "beam_spark", master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Return the live SparkSession as it is, or create one with the
    engine defaults and ``extra_conf`` applied.

    A live session is never reconfigured: the builder's
    ``getOrCreate`` would re-apply every option to it and overwrite what
    its owner set, so ``app_name``, ``master`` and ``extra_conf`` only
    shape a new session."""
    # The session the builder's getOrCreate would return, not the
    # calling thread's active one (a foreachBatch body's, or one made
    # by newSession()).
    live = SparkSession._instantiatedSession
    if live is not None and live._sc._jsc is not None:
        return live
    conf = {**_ENGINE_CONFS, **(extra_conf or {})}
    conf.setdefault(_INITIAL, conf.get(_SHUFFLE, _BATCH_PARTITIONS))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if _SHUFFLE not in conf:
        spark.conf.set(_SHUFFLE, str(spark.sparkContext.defaultParallelism))
    return spark


def batch_shuffle_partitions(spark: SparkSession) -> int:
    """The partition count a batch shuffle on ``spark`` plans with
    (Spark's own ``SQLConf.numShufflePartitions``), for writes that pin
    their own file count."""
    return spark._jsparkSession.sessionState().conf().numShufflePartitions()
