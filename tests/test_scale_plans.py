"""Plan-level scale behaviors: AQE skew-join split, scan parallelism
scaling with maxPartitionBytes, bucketed-join exchange reuse lives in
test_io. These assert the 100 TB story on small data by reading the
physical plans Spark actually executes (SCALE.md)."""

import re
from contextlib import contextmanager

from pyspark.sql import functions as F

_SHUFFLE = "spark.sql.shuffle.partitions"
_INITIAL = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"


@contextmanager
def _scoped_conf(spark, confs: dict):
    """Set ``confs`` on the shared session and restore them on exit."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """A 90%-one-key join under AQE ends with SortMergeJoin(skew=true)
    and an `AQEShuffleRead skewed` — the runtime re-plan that replaces
    hand-salting for all but pathological single-key skew (salted_join
    covers that case)."""
    with _scoped_conf(spark, {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "65536",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
            _SHUFFLE: "8"}):
        left = spark.range(400_000).select(
            F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"))
        right = spark.range(2_000_000).select(
            (F.col("id") % 2000).alias("k"), F.lit("r").alias("rv"))
        j = left.join(right, on="k").select(F.sum(F.length("pad")).alias("s"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan, plan[:800]
        assert "AQEShuffleRead skewed" in plan


def test_state_and_batch_partitions_come_from_their_own_settings(
        spark, tmp_path):
    """The split ``session.get_spark`` relies on: a stateful stream's
    state operator runs with AQE off and takes spark.sql.shuffle.partitions,
    while a batch shuffle on the same session plans at AQE's
    initialPartitionNum. A Spark upgrade that changes either rule must
    fail here."""
    from beam_spark.session import batch_shuffle_partitions

    src = str(tmp_path / "src")
    spark.range(20).selectExpr("id % 3 AS k", "id").write.parquet(src)
    with _scoped_conf(spark, {
            "spark.sql.adaptive.enabled": "true",
            "spark.sql.adaptive.coalescePartitions.enabled": "true",
            _SHUFFLE: "3", _INITIAL: "5"}):
        q = (spark.readStream.schema("k long, id long").parquet(src)
             .groupBy("k").count()
             .writeStream.format("memory").queryName("bs_state_parts")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
        spark.catalog.dropTempView("bs_state_parts")
        state = [op.numShufflePartitions
                 for p in q.recentProgress for op in p.stateOperators]
        assert state and set(state) == {3}, state

        batch = spark.range(20).groupBy((F.col("id") % 3).alias("k")).count()
        plan = batch._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"hashpartitioning\([^()]*, 5\)", plan), plan
        assert batch_shuffle_partitions(spark) == 5


def test_live_session_settings_survive_bare_pipeline(spark):
    """``Pipeline()`` and a second ``get_spark()`` use the live session
    as it is: the engine defaults never overwrite what its owner set."""
    from beam_spark.pcollection import Pipeline
    from beam_spark.session import get_spark

    with _scoped_conf(spark, {_SHUFFLE: "7", _INITIAL: "9"}):
        live = Pipeline().spark
        get_spark(extra_conf={_SHUFFLE: "32"})
        assert live.conf.get(_SHUFFLE) == "7"
        assert live.conf.get(_INITIAL) == "9"
        assert spark.conf.get(_SHUFFLE) == "7"


def test_scan_parallelism_scales_with_max_partition_bytes(spark, tmp_path):
    """files.maxPartitionBytes controls scan task count: halving it on
    the same input at least doubles input partitions — the knob that
    turns a 100 TB read into ~800k tasks instead of 32."""
    p = str(tmp_path / "scan")
    spark.range(400_000).select(
        "id", F.concat(F.lit("y" * 128), F.col("id").cast("string")).alias("pad")) \
        .coalesce(1).write.mode("overwrite").parquet(p)

    old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        wide = spark.read.parquet(p).rdd.getNumPartitions()
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 * 1024 * 1024))
        narrow = spark.read.parquet(p).rdd.getNumPartitions()
    finally:
        if old:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert narrow > wide, (narrow, wide)


def test_gate_suite_plans_keep_pushdown_and_broadcast(spark):
    """Folding components into tagged-union suites must not lose the
    per-member physical properties: parquet filter pushdown + column
    pruning in the agg suite, broadcast hash joins for dims in the join
    suite."""
    from beam_spark import gates as g

    sf = "/root/testdata/sf0.001"
    agg_plan = (g.queries()["q_tpch_agg_suite"](spark, sf)
                ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [" in agg_plan
    # q6's scan must not read all 16 lineitem columns
    assert "l_shipdate" in agg_plan
    join_plan = (g.queries()["q_tpch_join_suite"](spark, sf)
                 ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in join_plan


def test_flagship_q1_scan_prunes_columns(spark):
    """q1 projects 7 of lineitem's columns; the parquet ReadSchema must
    be pruned accordingly (not the full row)."""
    from beam_spark import gates as g

    plan = (g.queries()["q1_pricing_summary"](spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString())
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, "no FileScan in plan"
    cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
    assert len(cols) <= 8, cols
    assert "l_comment" not in cols


def test_pii_redact_zero_shuffle(spark, sf_dir):
    """PiiRedact is a pure projection: no Exchange in the plan."""
    from beam_spark.operators.text import PiiRedact
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (PCollection(df) | PiiRedact()).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_hash_sample_zero_shuffle_and_pruned(spark, sf_dir):
    """HashSample is a map-side filter: no Exchange, and column pruning
    still reaches the scan (only the columns the query needs)."""
    from beam_spark.operators.combiners import HashSample
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", "'d' || CAST(doc_id % 3 AS STRING) AS domain")
    out = (PCollection(df)
           | HashSample("domain", {"d0": 0.5}, id_col="doc_id")).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "text" not in plan.split("ReadSchema")[-1][:200]  # pruned


def test_simhash_zero_shuffle(spark, sf_dir):
    """SimHash's vote aggregation is one projection — the whole
    fingerprint computation is a map-side scan (SCALE.md)."""
    from beam_spark.operators.dedupe import SimHash
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (PCollection(df) | SimHash()).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_avro_read_is_file_parallel_mapinpandas(spark, sf_dir, tmp_path):
    """The pure-python Avro read plans as binaryFile scan ->
    MapInPandas (Arrow-batched decode), no shuffle before consumption."""
    from beam_spark.pcollection import PCollection, Pipeline
    from beam_spark.sources.avro import ReadFromAvroFile, WriteToAvroFile

    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out_dir = str(tmp_path / "nation_avro")
    (PCollection(src.repartition(2)) | WriteToAvroFile(out_dir)).df.collect()
    back = (Pipeline(spark) | ReadFromAvroFile(out_dir + "/*.avro")).df
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_nexmark10_sharded_write_one_file_per_destination(spark, sf_dir):
    """The sharded-log write pre-groups rows by destination with a
    PINNED shuffle partition count, so each hive partition dir holds
    exactly one data file (tasks x destinations files otherwise — the
    small-files explosion), and task-commit count stays bounded by
    shuffle.partitions instead of growing with the destination count
    (AQE's size-based split of repartition(cols) produced one
    near-empty task commit per destination in round 4: 67s -> 2.6s)."""
    import glob
    import os

    from beam_spark.queries import queries

    queries()["q_nexmark10_sharded_log"](spark, sf_dir).count()
    base = os.path.join("/tmp", "beam_spark_nexmark10",
                        os.path.basename(sf_dir.rstrip("/")))
    files = glob.glob(base + "/**/*.parquet", recursive=True)
    per_dir = {}
    for f in files:
        d = os.path.dirname(f)
        per_dir[d] = per_dir.get(d, 0) + 1
    assert per_dir, "no files written"
    assert max(per_dir.values()) == 1, {
        d: n for d, n in per_dir.items() if n > 1}


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The benchmark n-gram set joins BROADCAST (corpus-side exploded
    shingles never shuffle before the join) and the whole plan is
    expression-only — no Python stages."""
    from beam_spark.operators.dedupe import Decontaminate
    from beam_spark.pcollection import PCollection

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter("doc_id < 20").select("text")
    out = (PCollection(docs) | Decontaminate(bench, n=3)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_line_dedup_is_expression_only(spark, sf_dir):
    """LineDedup = two keyed shuffles (line rank, doc regroup), zero
    Python."""
    from beam_spark.operators.dedupe import LineDedup
    from beam_spark.pcollection import PCollection

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (PCollection(docs) | LineDedup()).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan


def test_normalize_and_split_zero_shuffle(spark, sf_dir):
    """NormalizeText and SplitByHash are map-side projections: no
    Exchange; SplitByHash still lets column pruning reach the scan."""
    from beam_spark.operators.combiners import SplitByHash
    from beam_spark.operators.text import NormalizeText
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = (PCollection(df) | NormalizeText(strip_punct=True)).df
    plan = norm._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    split = (PCollection(df)
             | SplitByHash({"train": 0.9, "val": 0.1}, "doc_id")
             ).df.select("doc_id", "split")
    plan = split._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "text" not in plan.split("ReadSchema")[-1][:200]  # pruned


def test_exact_substr_hashes_before_shuffle(spark, sf_dir):
    """ExactSubstrSpans with hash_grams=True: the gram column entering
    the count/join exchanges is the xxhash64 LONG, not the k-token
    string — the shuffle moves 8-byte keys."""
    from beam_spark.operators.dedupe import ExactSubstrSpans
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (PCollection(df) | ExactSubstrSpans(k=8)).df
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in optimized
    # the gram string (concat_ws) is computed below every Exchange:
    # no Exchange operator's output column list carries a concat_ws
    for frag in re.findall(r"Exchange [^\n]*", optimized):
        assert "concat_ws" not in frag


def test_curriculum_buckets_no_window_no_data_shuffle(spark, sf_dir):
    """CurriculumBuckets default plan: NO Window operator anywhere (the
    round-5 partitionless-ntile collapse is gone) and the data path is
    scan -> broadcast-nest-loop -> project. The only SinglePartition
    exchange is the 1-row boundaries aggregate; the full dataset never
    re-shuffles."""
    from beam_spark.operators.quality import CurriculumBuckets
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = (PCollection(df)
           | CurriculumBuckets("value", id_col="event_id",
                               n_buckets=8)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan     # 1-row bounds frame
    # the lone SinglePartition exchange is the tiny bounds agg
    assert plan.count("Exchange SinglePartition") <= 1
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Exchange rangepartitioning") == 0


def test_profile_columns_default_avoids_expand(spark, sf_dir):
    """ProfileColumns default (HLL++ distincts) plans as ONE
    partial+final aggregation — no Expand multi-distinct row
    replication; exact mode is the opt-in that pays Expand."""
    from beam_spark.operators.quality import ProfileColumns
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus"]
    approx = (PCollection(df) | ProfileColumns(cols)).df
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan

    exact = (PCollection(df)
             | ProfileColumns(cols, approx_distinct=False)).df
    plan = exact._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan  # the documented cost of exactness


def test_rollup_and_time_rollup_are_single_scan(spark, sf_dir):
    """GroupByRollup/TimeRollup plan as ONE scan + Expand +
    HashAggregate — N aggregation levels never re-read the fact table
    (the UNION-of-groupBys alternative scans once per level)."""
    from beam_spark.operators.group import GroupByRollup, TimeRollup
    from beam_spark.pcollection import PCollection

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = (PCollection(li) | GroupByRollup(
        ["l_returnflag", "l_linestatus"], {"n": "count(*)"},
        kind="cube")).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tr = (PCollection(ev) | TimeRollup(
        "ts", {"hour": 3600, "day": 86400}, {"n": "count(*)"},
        keys=["event_type"])).df
    plan = tr._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1

    # the uuid temp views both transforms route through are dropped
    # once the plan is resolved — long-lived sessions applying these
    # repeatedly must not accumulate catalog entries
    leaked = [v.name for v in spark.catalog.listTables()
              if v.name.startswith(("__gsets_", "__trollup_"))]
    assert leaked == []
    # the results still evaluate after the drop (plan holds the data)
    assert tr.count() > 0
    (PCollection(li) | GroupByRollup(
        ["l_returnflag", "l_linestatus"], {"n": "count(*)"},
        kind="sets",
        sets=[("l_returnflag", "l_linestatus"),
              ("l_returnflag",)])).df.count()
    leaked = [v.name for v in spark.catalog.listTables()
              if v.name.startswith(("__gsets_", "__trollup_"))]
    assert leaked == []


def test_url_normalize_zero_shuffle(spark, sf_dir):
    """UrlNormalize is a pure projection (try_parse_url + array
    functions): no Exchange anywhere in the plan."""
    from beam_spark.operators.text import UrlNormalize
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", "'https://ex' || CAST(doc_id % 7 AS STRING)"
        " || '.com/a?b=1' AS url")
    out = (PCollection(df) | UrlNormalize()).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_char_entropy_zero_shuffle(spark, sf_dir):
    """char_entropy is a JVM expression chain: no Exchange, no
    Python (BatchEvalPython/ArrowEval) in the plan."""
    from pyspark.sql import functions as F

    from beam_spark.operators.text import char_entropy

    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = df.select("doc_id", char_entropy("text").alias("e"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_misra_gries_shuffle_is_summary_sized(spark, sf_dir):
    """MisraGries: the only Exchange in the plan sits ABOVE the
    mapInPandas prune — what shuffles is the <= k-per-partition
    summary, never the raw rows."""
    from beam_spark.operators.stats import MisraGries
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "CAST(doc_id % 50 AS STRING) AS item")
    out = (PCollection(df) | MisraGries("item", k=10)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one aggregation exchange, and the python stage is below it
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.index("MapInPandas") > plan.index(
        "Exchange hashpartitioning")  # physical plans print top-down:
    # a LARGER index means the MapInPandas is DEEPER (executes first)


def test_edit_distance_prefix_filter_no_cartesian(spark, sf_dir):
    """EditDistanceJoin's default prefix path plans the candidate
    stage as an equijoin on (gram, occ) — no CartesianProduct or
    BroadcastNestedLoopJoin outside the bounded short-string pass."""
    from beam_spark.operators.dedupe import EditDistanceJoin
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/part.parquet").selectExpr(
        "p_partkey AS doc_id", "p_name AS text")
    out = (PCollection(df) | EditDistanceJoin(k=2)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the short path's length-windowed cross pass is the ONLY
    # nested-loop member; the gram path must contribute none
    assert plan.count("CartesianProduct") + plan.count(
        "BroadcastNestedLoopJoin") <= 1


def test_cdc_apply_single_exchange(spark, sf_dir):
    """CdcApply is one key-partitioned window + filter: exactly one
    Exchange, no join against history anywhere."""
    from beam_spark.operators.scd import CdcApply
    from beam_spark.pcollection import PCollection

    df = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
        "o_custkey AS id", "o_orderdate AS ts", "o_orderkey AS seq",
        "'U' AS op", "o_totalprice AS price")
    out = (PCollection(df) | CdcApply(key="id",
                                      order_by=["ts", "seq"])).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_association_rules_broadcast_marginals(spark, sf_dir):
    """AssociationRules' marginal joins broadcast (explicit hints —
    more may auto-broadcast at tiny SF, so assert AT LEAST the hinted
    ones), the 1-row n_baskets total is the ONLY nested-loop join,
    and the pair aggregation runs as HashAggregates."""
    from beam_spark.operators.analytics import AssociationRules
    from beam_spark.pcollection import PCollection

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
        "l_orderkey", "l_partkey % 40 AS item")
    out = (PCollection(li) | AssociationRules(
        "item", basket_keys="l_orderkey", min_support=5)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastExchange") >= 3, plan[:1200]
    assert plan.count("BroadcastNestedLoopJoin") == 1  # 1-row total
    assert "HashAggregate" in plan


def test_zorder_key_zero_shuffle_after_broadcast_stats(spark, sf_dir):
    """ZOrderKey is one broadcast min/max aggregate + a pure
    projection: no hash-partitioned exchange anywhere in the plan (the
    write-side range partition is the caller's move)."""
    from beam_spark.operators.scd import ZOrderKey
    from beam_spark.pcollection import PCollection

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = (PCollection(li) | ZOrderKey(
        ["l_partkey", "l_suppkey"], bits=8)).df.select("zorder_key")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastExchange" in plan


def test_pmi_totals_are_broadcast(spark, sf_dir):
    """PmiCollocations' two grand totals ride broadcast cross joins;
    the unigram-count joins stay keyed (no corpus-sized broadcast)."""
    from beam_spark.operators.text import PmiCollocations
    from beam_spark.pcollection import PCollection

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (PCollection(docs) | PmiCollocations("text", min_count=5)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 2  # the 1-row totals


def test_write_zordered_file_locality(spark, sf_dir, tmp_path):
    """The layout pay-off, measured: after write_zordered on
    (l_partkey, l_suppkey), each output FILE covers a narrow slice of
    BOTH columns — mean per-file l_partkey span under half the global
    span (a hash-shuffled naive write gives ~full span per file), so
    min/max file stats can prune scans filtering on either column."""
    import glob as _glob

    from pyspark.sql import functions as F

    from beam_spark.operators.scd import write_zordered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def mean_span(path):
        spans = []
        for f in _glob.glob(f"{path}/part-*.parquet"):
            mn, mx = (spark.read.parquet(f)
                      .agg(F.min("l_partkey"), F.max("l_partkey"))
                      .first())
            spans.append(mx - mn)
        assert len(spans) >= 4
        return sum(spans) / len(spans)

    naive = str(tmp_path / "naive")
    li.repartition(16).write.mode("overwrite").parquet(naive)
    out = str(tmp_path / "zw")
    write_zordered(li, out, ["l_partkey", "l_suppkey"], bits=8,
                   partitions=16)
    # a hash-shuffled write gives ~the full key span in EVERY file;
    # the z-ordered layout's per-file span must be meaningfully
    # narrower (2-D square split 16 ways: expect well under 3/4)
    assert mean_span(out) < 0.75 * mean_span(naive), (
        mean_span(out), mean_span(naive))
    # schema round-trip: the key column is dropped
    assert "__zk" not in spark.read.parquet(out).columns

    import pytest as pt

    with pt.raises(ValueError, match="curve"):
        write_zordered(li, out, ["l_partkey", "l_suppkey"],
                       curve="peano")


def test_write_zordered_rank_double_locality(spark, sf_dir, tmp_path):
    """Rank-scaled layout write on DOUBLE columns, measured: after
    write_zordered(scale='rank') on (l_extendedprice, l_discount),
    each output file covers a narrow slice of l_extendedprice — mean
    per-file span under 3/4 of a naive hash write's (the same
    locality contract the integer min-max test pins, now for the
    double columns only rank scaling can cluster)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from beam_spark.operators.scd import write_zordered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    def mean_span(path):
        spans = []
        for f in _glob.glob(f"{path}/part-*.parquet"):
            mn, mx = (spark.read.parquet(f)
                      .agg(F.min("l_extendedprice"),
                           F.max("l_extendedprice"))
                      .first())
            spans.append(mx - mn)
        assert len(spans) >= 4
        return sum(spans) / len(spans)

    naive = str(tmp_path / "naive")
    li.repartition(16).write.mode("overwrite").parquet(naive)
    out = str(tmp_path / "zwr")
    write_zordered(li, out, ["l_extendedprice", "l_discount"], bits=8,
                   partitions=16, scale="rank")
    assert mean_span(out) < 0.75 * mean_span(naive), (
        mean_span(out), mean_span(naive))
    assert "__zk" not in spark.read.parquet(out).columns


def test_merge_into_single_join(spark, sf_dir):
    """MergeInto compiles to exactly ONE join (the NULL-safe full
    outer) — no per-clause re-joins; the clause logic is pure
    projection."""
    from beam_spark.operators.scd import MergeInto
    from beam_spark.pcollection import PCollection

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    src = cust.selectExpr("c_custkey * 2 AS c_custkey",
                          "c_acctbal + 100 AS c_acctbal")
    out = (PCollection(cust) | MergeInto(
        src, keys="c_custkey", validate=False)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") \
        + plan.count("BroadcastHashJoin") == 1


def test_kmv_overlap_take_ordered_not_global_sort(spark, sf_dir):
    """KmvOverlap's k-minima come from TakeOrderedAndProject (top-k
    merge), never a global Sort+Exchange over the distinct-hash
    frame."""
    from beam_spark.operators.stats import KmvOverlap
    from beam_spark.pcollection import PCollection

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = (PCollection(ev.filter("event_type = 'view'"))
           | KmvOverlap(ev.filter("event_type = 'purchase'"),
                        "user_id", k=64)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the only Sorts allowed are inside SMJ (none expected here);
    # no global (singlePartition) sort-exchange for the minima
    assert plan.count("TakeOrderedAndProject") == 3


def test_silhouette_no_pairwise_join(spark, sf_dir):
    """SilhouetteScore never builds a pairwise join: no cartesian /
    nested-loop product of the vector frame with itself — the only
    aggregation is the (cluster, dim)-keyed cell reduction."""
    from beam_spark.operators.similarity import SilhouetteScore
    from beam_spark.pcollection import PCollection
    from pyspark.sql import functions as F

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .where("embedding IS NOT NULL")
           .select("vec_id", "embedding",
                   (F.col("vec_id") % 4).alias("cluster")))
    out = (PCollection(emb) | SilhouetteScore()).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan       # scoring is projection-only


def test_linear_fit_single_partial_agg_pair(spark, sf_dir):
    """LinearFit is one map-side-combinable aggregation: exactly one
    shuffle (the keyed exchange between partial and final
    HashAggregate) and no join/window in the plan."""
    from beam_spark.operators.stats import LinearFit
    from beam_spark.pcollection import PCollection

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = (PCollection(li)
           | LinearFit("l_quantity", "l_extendedprice",
                       keys="l_returnflag")).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan[:1200]
    assert "Join" not in plan
    assert "Window" not in plan


def test_ttest_and_kanonymity_single_pass(spark, sf_dir):
    """TwoSampleTTest and KAnonymity(report) are pure aggregation
    trees: no joins, no windows; t-test has exactly one keyed
    exchange, k-anonymity two (class agg -> global 1-row agg)."""
    from beam_spark.operators.quality import KAnonymity, TwoSampleTTest
    from beam_spark.pcollection import PCollection

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").where(
        "l_returnflag IN ('A', 'R')")
    t = (PCollection(li)
         | TwoSampleTTest("l_extendedprice", "l_returnflag", "A",
                          keys="l_linestatus")).df
    tplan = t._jdf.queryExecution().executedPlan().toString()
    assert tplan.count("Exchange") == 1 and "Join" not in tplan
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = (PCollection(c)
         | KAnonymity(["c_nationkey", "c_mktsegment"],
                      sensitive="c_acctbal", k=10)).df
    kplan = k._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in kplan and "Window" not in kplan


def test_target_encode_broadcasts_category_frame(spark, sf_dir):
    """TargetEncode joins the vocabulary-bounded per-category frame
    back by BROADCAST — the raw frame is never shuffled."""
    from beam_spark.ml.transforms import TargetEncode
    from beam_spark.pcollection import PCollection

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = (PCollection(li)
           | TargetEncode("l_returnflag", "l_quantity",
                          cast_to="decimal(9,2)")).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan
    assert "SortMergeJoin" not in plan


def test_mannwhitney_windows_distinct_value_frame_only(spark, sf_dir):
    """MannWhitneyU's rank window runs over the distinct-value count
    frame (post-aggregation), never the raw rows: the Window's child
    contains the (keys, value) HashAggregate."""
    from beam_spark.operators.quality import MannWhitneyU
    from beam_spark.pcollection import PCollection

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        "event_type IN ('purchase', 'view')")
    out = (PCollection(ev)
           | MannWhitneyU("value", "event_type", "purchase")).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    w = plan.find("Window")
    assert w != -1
    assert "HashAggregate" in plan[w:], "window must sit above the " \
        "distinct-value aggregation, not the raw scan"


def test_covariance_shuffles_summary_cells_not_rows(spark, sf_dir):
    """CovarianceMatrix's only exchanges carry per-batch summary rows
    (posexploded d^2 cells), not data rows: the plan has no join of
    the raw frame with itself and no window."""
    from beam_spark.operators.similarity import CovarianceMatrix
    from beam_spark.pcollection import PCollection
    from pyspark.sql import functions as F

    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select(F.expr("transform(embedding, x -> CAST(x AS "
                          "DOUBLE))").alias("embedding")))
    out = (PCollection(emb) | CovarianceMatrix()).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan       # cell joins are tiny -> broadcast
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or \
        "mapInPandas" in plan.lower()


def test_cep_batch_plan_one_shuffle_batched_python(spark, sf_dir):
    """Round-13 CEP rewrite plan pin: the batch path is ONE
    key-repartition exchange + an in-partition sort + mapInPandas —
    no per-group applyInPandas (FlatMapGroupsInPandas) and no second
    exchange."""
    from beam_spark.operators.cep import MatchRecognize, vectorized
    from beam_spark.pcollection import PCollection

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = (PCollection(ev) | MatchRecognize(
        partition_by="user_id", order_by=["ts", "event_id"],
        pattern=[("V", "+"), ("P", "1")],
        defines={"V": vectorized(lambda p: p["event_type"] == "view"),
                 "P": vectorized(
                     lambda p: p["event_type"] == "purchase")},
        measures={"n_views": lambda m: sum(1 for s, _ in m
                                           if s == "V")},
        output_schema="user_id long, n_views long")).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan
    assert plan.count("Exchange") == 1          # the key repartition


def test_dbscan_plan_single_pair_join_no_cartesian(spark, sf_dir):
    """Grid DBSCAN's pair stage is ONE equi-join on cell keys —
    never a cartesian/broadcast-nested-loop product."""
    from beam_spark.operators.similarity import DbscanClusters
    from beam_spark.pcollection import PCollection

    cust = (spark.read.parquet(f"{sf_dir}/customer.parquet")
            .selectExpr("c_custkey AS id",
                        "CAST(c_acctbal AS DOUBLE) / 1000 AS x",
                        "CAST(c_nationkey AS DOUBLE) AS y"))
    out = (PCollection(cust)
           | DbscanClusters(["x", "y"], eps=0.25, min_pts=3)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_feature_hasher_zero_shuffle(spark, sf_dir):
    """The hashing trick is a pure projection: no Exchange in the
    plan."""
    from beam_spark.ml.transforms import FeatureHasher
    from beam_spark.pcollection import PCollection

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .selectExpr("doc_id", "lang",
                        "CAST(n_chars % 10 AS BIGINT) AS bucket"))
    out = (PCollection(docs)
           | FeatureHasher(["lang", "bucket"], n_features=16)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_ddsketch_plan_no_raw_row_window(spark, sf_dir):
    """DDSketch windows run over the BUCKET frame (post-groupBy), not
    the raw rows: the scan side of the plan has exactly one
    aggregate pair before any Window."""
    from beam_spark.operators.stats import DdSketchQuantiles
    from beam_spark.pcollection import PCollection

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = (PCollection(ev)
           | DdSketchQuantiles("value", keys="event_type")).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # the window's child chain contains a HashAggregate (bucket
    # histogram) — a Window directly over the FileScan would mean
    # per-row sorting of the raw frame
    w_ix = plan.index("Window")
    assert "HashAggregate" in plan[w_ix:]


# ---------------------------------------------------------------------------
# round-14 family plan pins (VERDICT r14 #4): the zero-shuffle /
# bounded-collect claims measured in SCALE.md, pinned against plan
# regressions the same way the r12/r13 families are.
# ---------------------------------------------------------------------------

def test_ams_f2_summary_sized_shuffles_partial_agg(spark, sf_dir):
    """AmsF2Sketch never shuffles raw rows: the r15 frequency-first
    rewrite (the md5 sign is a pure function of (cell, value), so
    Z_j = sum_v f_v * s_j(v) — identical integer cells, k x fewer
    hashes) makes exactly THREE exchanges — the (keys, value)
    frequency pass, the (keys, cell) sum, the keys-level estimate —
    each behind a map-side partial HashAggregate (6 HashAggregates),
    and the explode(k) sits AFTER the frequency aggregation so the
    k-fold blowup applies to distinct-value cells, not rows."""
    from beam_spark.operators.stats import AmsF2Sketch
    from beam_spark.pcollection import PCollection

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = (PCollection(ev)
           | AmsF2Sketch("event_type", counters=16, keys="user_id")).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 3, plan[:1200]
    assert plan.count("HashAggregate") == 6, plan[:1200]
    # explode(k) must consume the aggregated frequency frame (its
    # child chain contains the first HashAggregate), never the scan
    gen = plan.index("Generate explode")
    assert "HashAggregate" in plan[gen:], plan[:1200]


def test_leakage_safe_split_zero_shuffle(spark, sf_dir):
    """LeakageSafeSplit is a pure group-hash projection: no Exchange —
    the property that makes it free at 100 TB (and keeps duplicates
    from straddling splits without any grouping shuffle)."""
    from beam_spark.operators.combiners import LeakageSafeSplit
    from beam_spark.pcollection import PCollection

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = (PCollection(docs)
           | LeakageSafeSplit("source",
                              {"train": 0.8, "val": 0.1, "test": 0.1})).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1200]


def test_iforest_scoring_zero_shuffle_jvm_only(spark, sf_dir):
    """IsolationForest SCORING is a when-tree projection: after the
    bounded fit collects (T x 2^D node stats, constructor-capped), the
    scored frame plans with zero Exchange and zero Python eval nodes —
    scoring 100 TB is one codegen pass over the scan."""
    from beam_spark.ml.iforest import IsolationForest
    from beam_spark.pcollection import PCollection

    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .selectExpr("event_id", "CAST(value AS DOUBLE) AS value",
                      "CAST(user_id % 97 AS DOUBLE) AS u"))
    out = (PCollection(ev)
           | IsolationForest(["value", "u"], id_col="event_id",
                             trees=2, depth=3)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1200]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_containment_pairs_shingle_equijoin_envelope(spark, sf_dir):
    """ContainmentPairs rides the same shingle-join envelope as the
    jaccard verifier: candidates come from an equi-join on shingle
    keys — never a cartesian / broadcast-nested-loop all-pairs
    product."""
    from beam_spark.operators.dedupe import ContainmentPairs
    from beam_spark.pcollection import PCollection

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where("doc_id % 2 = 0"))
    out = (PCollection(docs) | ContainmentPairs(threshold=0.5)).df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin")
            + plan.count("ShuffledHashJoin")) >= 1, plan[:1200]


def test_multi_consumer_operators_plan_linear(spark, sf_dir):
    """Operators whose intermediate frames feed several downstream
    branches (both legs of a self-join, per-level pruning, multiple
    reaggregations) materialize that frame once with an eager
    localCheckpoint — otherwise each reference replays the WHOLE
    upstream tree and the copies compound multiplicatively
    (TriangleCount's plan reached 242 Exchange nodes for a ~10-node
    ideal before r15). These bounds prove the plans stay LINEAR: a
    reintroduced replay immediately multiplies the Exchange count."""
    from beam_spark.operators.analytics import FrequentItemsets
    from beam_spark.operators.graph import LinkPrediction, TriangleCount
    from beam_spark.operators.quality import (ColumnDependence,
                                              MutualInformationRank)
    from beam_spark.pcollection import PCollection

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edges = orders.selectExpr("o_custkey AS src", "o_orderkey % 200 AS dst")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    tri = (PCollection(edges) | TriangleCount()).df
    assert n_exchanges(tri) <= 16, "TriangleCount plan no longer linear"

    lp = (PCollection(edges.where("src % 7 = 0"))
          | LinkPrediction(min_common=2, max_neighbor_degree=64)).df
    assert n_exchanges(lp) <= 16, "LinkPrediction plan no longer linear"

    li = orders.selectExpr("o_orderkey AS b", "o_custkey % 20 AS item")
    fi = (PCollection(li)
          | FrequentItemsets("item", basket_keys="b", min_support=3,
                             max_size=3)).df
    assert n_exchanges(fi) <= 20, "FrequentItemsets plan no longer linear"

    mi = (PCollection(docs.selectExpr(
        "lang", "source", "CAST(n_chars % 10 AS STRING) AS bucket"))
        | MutualInformationRank(["source", "bucket"], "lang")).df
    assert n_exchanges(mi) <= 16, "MutualInformationRank no longer linear"

    cd = (PCollection(docs.selectExpr("lang", "source"))
          | ColumnDependence("source", "lang")).df
    # three entropy paths + chi2 windows + their broadcasts read the
    # ONE checkpointed joint frame: ~19 post-collapse vs ~40 before
    assert n_exchanges(cd) <= 24, "ColumnDependence plan no longer linear"
